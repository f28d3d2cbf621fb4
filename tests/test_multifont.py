"""Multi-font support: the engine's analogue of the reference's per-font
trained databases + HOCON configs (Accuracy.java trains one DB per font;
six font test classes). SparkGridWide is a geometrically distinct face —
every trained ratio differs from SparkGrid — exercising that the trainer,
broadcast model, NN scoring, mergence gates and space insertion are all
driven by the trained tables, not by constants."""

import numpy as np
import pytest

from newocr_spark.artifacts import get_model
from newocr_spark.font.glyphs import DEFAULT_FACE, wide_face
from newocr_spark.font.render import RAW_STRING, render_text_png
from newocr_spark.kernel.scan import scan_image_bytes


@pytest.fixture(scope="module")
def wide_model():
    return get_model("SparkGridWide")


@pytest.fixture(scope="module")
def narrow_model():
    return get_model("SparkGrid")


MERGE_HEAVY = 'i j ; ! ? % = : " W W'


@pytest.mark.parametrize("scale", [1, 2, 3])
def test_wide_self_scan_exact(wide_model, scale):
    for text in (RAW_STRING, MERGE_HEAVY, "Hello, World! 42"):
        png = render_text_png([text], scale, face=wide_face())
        got = scan_image_bytes(png, wide_model)
        assert got == text.rstrip(), f"scale {scale}: {got!r}"


def test_trained_geometry_differs(wide_model, narrow_model):
    sw, sn = wide_model.row(" ", 0), narrow_model.row(" ", 0)
    assert wide_model.avg_width[sw] > 1.3 * narrow_model.avg_width[sn]
    assert wide_model.avg_height[sw] == narrow_model.avg_height[sn]
    aw, an = wide_model.row("A", 0), narrow_model.row("A", 0)
    w_ratio = wide_model.avg_width[aw] / wide_model.avg_height[aw]
    n_ratio = narrow_model.avg_width[an] / narrow_model.avg_height[an]
    assert w_ratio == pytest.approx(1.5 * n_ratio)  # 'A' is even-width: exact
    # x-gap-based metadata shrinks by the stretch (ratio = height / x-dist)
    assert wide_model.meta["apostropheRatio"] == pytest.approx(
        narrow_model.meta["apostropheRatio"] / 1.5
    )
    # custom trailing-space ratio (gap / height) grows with the stretch
    assert wide_model.custom_spaces["`"] > 1.3 * narrow_model.custom_spaces["`"]
    # y-axis merge distances are width-invariant (vertical geometry shared)
    for name in ("distancei", "colonDistance", "equalsDistance"):
        assert wide_model.meta[name] == pytest.approx(narrow_model.meta[name])


def test_wrong_model_changes_spacing(wide_model, narrow_model):
    """Scanning wide-rendered text with the narrow model mis-spaces: the
    narrow space ratio is 2/3 of the wide one, so a two-space gap counts
    as three (2 * 1.5 rounds up) — demonstrating output depends on the
    per-font trained tables. (A single space survives: 1.5 has fractional
    part < the 0.8 rounding threshold, OCRScan.java:233-238.)"""
    text = "W  W"
    png = render_text_png([text], 2, face=wide_face())
    right = scan_image_bytes(png, wide_model)
    wrong = scan_image_bytes(png, narrow_model)
    assert right == text
    assert wrong != text


def test_wide_training_deterministic():
    from newocr_spark.font.train import train_font

    a = train_font(face=wide_face())
    b = train_font(face=wide_face())
    assert a.letters == b.letters
    assert np.array_equal(a.segments, b.segments)
    assert a.meta == b.meta


@pytest.fixture(scope="module")
def serif_model():
    return get_model("SparkGridSerif")


@pytest.mark.parametrize("scale", [1, 2, 3, 5])
def test_serif_self_scan_exact(serif_model, scale):
    from newocr_spark.font.glyphs import serif_face

    for text in (RAW_STRING, MERGE_HEAVY, "Hello, World! 42"):
        png = render_text_png([text], scale, face=serif_face())
        got = scan_image_bytes(png, serif_model)
        assert got == text.rstrip(), f"scale {scale}: {got!r}"


def test_serif_every_distance_ratio_shifts(serif_model, narrow_model, wide_model):
    """The serif face has different glyph TOPOLOGY (stroke widths, dot
    sizes, piece gaps) — every trained mergence distance and spacing ratio
    must differ from BOTH other faces, so each merge gate runs at a new
    operating point (VERDICT r2 #1: two faces sharing topology under-stress
    the gates)."""
    names = (
        "distancei", "distancej", "colonDistance", "semicolonDistance",
        "equalsDistance", "distanceQuestion", "distanceExclamation",
        "apostropheRatio",
    )
    for name in names:
        for other in (narrow_model, wide_model):
            assert abs(serif_model.meta[name] - other.meta[name]) > 0.02, (
                name, serif_model.meta[name], other.meta[name]
            )
    # exact designed values (scale-invariant by integer-kron rendering)
    assert serif_model.meta["distancei"] == pytest.approx(0.2)
    assert serif_model.meta["colonDistance"] == pytest.approx(2.0)
    assert serif_model.meta["equalsDistance"] == pytest.approx(4 / 3)
    assert serif_model.meta["semicolonDistance"] == pytest.approx(4 / 6)
    assert serif_model.meta["distanceExclamation"] == pytest.approx(3 / 11)
    assert serif_model.meta["apostropheRatio"] == pytest.approx(2.0)
    # space geometry: 10/16 vs 7/16 (narrow) vs 10.5/16-ish (wide)
    s = serif_model.row(" ", 0)
    ratio = serif_model.avg_width[s] / serif_model.avg_height[s]
    assert ratio == pytest.approx(0.625)
    # custom trailing-space ratio for the backtick
    assert serif_model.custom_spaces["`"] == pytest.approx(0.6)


def test_serif_dot_topology_differs(serif_model, narrow_model):
    """Serif dots are flat 3x2 (ratio 1.5) vs SparkGrid's square 3x3."""
    for dot in ((".", 0), ("i", 0), (":", 0)):
        srow, nrow = serif_model.row(*dot), narrow_model.row(*dot)
        assert serif_model.avg_height[srow] * 1.4 < narrow_model.avg_height[nrow] * 1.0 or (
            serif_model.avg_width[srow] / serif_model.avg_height[srow]
            != pytest.approx(
                narrow_model.avg_width[nrow] / narrow_model.avg_height[nrow]
            )
        )
    # stroke thickness: serif pipe is 3 wide, SparkGrid pipe is 2 wide
    sp, np_ = serif_model.row("|", 0), narrow_model.row("|", 0)
    assert serif_model.avg_width[sp] / serif_model.avg_height[sp] == pytest.approx(
        1.5 * narrow_model.avg_width[np_] / narrow_model.avg_height[np_]
    )


def test_serif_wrong_model_misreads(serif_model, narrow_model):
    """Scanning serif-rendered text with the SparkGrid model must NOT
    reproduce it — output depends on the per-font trained tables."""
    from newocr_spark.font.glyphs import serif_face

    text = "i j : = W  W"
    png = render_text_png([text], 2, face=serif_face())
    assert scan_image_bytes(png, serif_model) == text
    assert scan_image_bytes(png, narrow_model) != text


def test_serif_training_deterministic():
    from newocr_spark.font.glyphs import serif_face
    from newocr_spark.font.train import train_font

    a = train_font(face=serif_face())
    b = train_font(face=serif_face())
    assert a.letters == b.letters
    assert np.array_equal(a.segments, b.segments)
    assert a.meta == b.meta


def test_serif_committed_model_matches_trainer(serif_model):
    """The committed parquet artifact must be bit-identical to a fresh
    training run (artifacts.py contract)."""
    from newocr_spark.font.glyphs import serif_face
    from newocr_spark.font.train import train_font

    fresh = train_font(face=serif_face())
    assert fresh.letters == serif_model.letters
    assert np.array_equal(fresh.segments, serif_model.segments)
    assert fresh.meta == serif_model.meta
    assert fresh.custom_spaces == serif_model.custom_spaces


def test_default_face_unchanged(narrow_model):
    """Adding faces must not disturb the default font's goldens."""
    png = render_text_png(["Hello, World! 42"], 2)
    assert scan_image_bytes(png, narrow_model) == "Hello, World! 42"
    assert wide_face().glyphs["A"].shape[1] == DEFAULT_FACE.glyphs["A"].shape[1] * 3 // 2


# ---------------------------------------------------------------------------
# SparkGridWideSerif — fourth face: the serif glyph set under the proven
# 1.5x horizontal stretch, completing a 2x2 narrow/wide x sans/serif metric
# grid (the engine's analogue of the reference certifying six metrically
# distinct fonts, fonts/Accuracy.java:34-77). Every X-based trained ratio
# occupies a fourth corner of the metric space; the Y-axis merge windows
# inherit the serif operating points.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def wideserif_model():
    return get_model("SparkGridWideSerif")


@pytest.mark.parametrize("scale", [1, 2, 3, 5])
def test_wideserif_self_scan_exact(wideserif_model, scale):
    from newocr_spark.font.glyphs import wide_serif_face

    for text in (RAW_STRING, MERGE_HEAVY, "Hello, World! 42"):
        png = render_text_png([text], scale, face=wide_serif_face())
        got = scan_image_bytes(png, wideserif_model)
        assert got == text.rstrip(), f"scale {scale}: {got!r}"


def test_wideserif_fourth_metric_corner(
    wideserif_model, serif_model, narrow_model, wide_model
):
    """X-based ratios must differ from ALL three other faces (fourth
    operating point for the apostrophe gate and space insertion); Y-axis
    merge distances are shared with the serif parent (X-stretch never
    moves a row), exactly as SparkGridWide shares them with SparkGrid."""
    ws = wideserif_model
    assert ws.meta["apostropheRatio"] == pytest.approx(1.5)
    for other in (serif_model, narrow_model, wide_model):
        assert abs(ws.meta["apostropheRatio"] - other.meta["apostropheRatio"]) > 0.1
    # space aspect: a fourth distinct value (0.875 vs 0.437 / 0.656 / 0.625)
    row = ws.row(" ", 0)
    aspect = ws.avg_width[row] / ws.avg_height[row]
    assert aspect == pytest.approx(0.875)
    for other in (serif_model, narrow_model, wide_model):
        o = other.row(" ", 0)
        assert abs(aspect - other.avg_width[o] / other.avg_height[o]) > 0.03
    # Y-axis distances inherited from the serif parent, distinct from narrow
    for name in ("distancei", "colonDistance", "equalsDistance",
                 "distanceQuestion"):
        assert ws.meta[name] == pytest.approx(serif_model.meta[name])
        assert abs(ws.meta[name] - narrow_model.meta[name]) > 0.02
    # every glyph is exactly the serif glyph under even-column duplication:
    # width w -> w + ceil(w/2) (exactly 1.5x only for even w), height fixed
    from newocr_spark.font.glyphs import serif_face, wide_serif_face

    for ch in ("A", "W", "|", "g"):
        s_g = serif_face().glyphs[ch]
        ws_g = wide_serif_face().glyphs[ch]
        h, w = s_g.shape
        assert ws_g.shape == (h, w + (w + 1) // 2)
    a_ws, a_s = ws.row("A", 0), serif_model.row("A", 0)
    w = serif_face().glyphs["A"].shape[1]
    assert ws.avg_width[a_ws] == pytest.approx(
        serif_model.avg_width[a_s] * (w + (w + 1) // 2) / w
    )
    assert ws.avg_height[a_ws] == pytest.approx(serif_model.avg_height[a_s])


def test_wideserif_wrong_model_misreads(wideserif_model, serif_model):
    """The stretch changes spacing/aspect enough that the serif parent's
    trained tables cannot reproduce wide-serif renders."""
    from newocr_spark.font.glyphs import wide_serif_face

    text = "i j : = W  W"
    png = render_text_png([text], 2, face=wide_serif_face())
    assert scan_image_bytes(png, wideserif_model) == text
    assert scan_image_bytes(png, serif_model) != text


def test_wideserif_committed_model_matches_trainer(wideserif_model):
    from newocr_spark.font.glyphs import wide_serif_face
    from newocr_spark.font.train import train_font

    fresh = train_font(face=wide_serif_face())
    assert fresh.letters == wideserif_model.letters
    assert np.array_equal(fresh.segments, wideserif_model.segments)
    assert fresh.meta == wideserif_model.meta
    assert fresh.custom_spaces == wideserif_model.custom_spaces


# ---------------------------------------------------------------------------
# SparkGridTall / SparkGridTallSerif — fifth and sixth faces: the Y-axis
# duals of the wide faces, completing a {base, wide(1.5x X), tall(1.5x Y)}
# x {sans, serif} grid of SIX certified faces — exact parity with the
# reference's six certified fonts (test/fonts/Font*.java via
# fonts/Accuracy.java:34-77). The tall faces exercise the face-parametric
# cell_height/line_gap surface: every absolute Y-distance merge window
# scales 1.5x, and odd-row-duplication parity shifts most Y-ratios.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def tall_model():
    return get_model("SparkGridTall")


@pytest.fixture(scope="module")
def tallserif_model():
    return get_model("SparkGridTallSerif")


@pytest.mark.parametrize("scale", [1, 2, 3, 5])
def test_tall_self_scan_exact(tall_model, scale):
    from newocr_spark.font.glyphs import tall_face

    for text in (RAW_STRING, MERGE_HEAVY, "Hello, World! 42"):
        png = render_text_png([text], scale, face=tall_face())
        got = scan_image_bytes(png, tall_model)
        assert got == text.rstrip(), f"scale {scale}: {got!r}"


@pytest.mark.parametrize("scale", [1, 2, 3, 5])
def test_tallserif_self_scan_exact(tallserif_model, scale):
    from newocr_spark.font.glyphs import tall_serif_face

    for text in (RAW_STRING, MERGE_HEAVY, "Hello, World! 42"):
        png = render_text_png([text], scale, face=tall_serif_face())
        got = scan_image_bytes(png, tallserif_model)
        assert got == text.rstrip(), f"scale {scale}: {got!r}"


def test_tall_multiline_cross_line_windows(tall_model, tallserif_model):
    """Multi-line renders exercise the cross-line merge windows the
    face-parametric line_gap was derived for (glyphs.py tall derivation):
    dots at cell floor vs vlines at next-line top must NOT merge."""
    from newocr_spark.font.glyphs import tall_face, tall_serif_face

    # note: no ' !' pairs with a narrow left glyph — the '!'-floor space
    # quirk (OCRScan.java:217, kernel/spacing.py) drops that space on
    # EVERY face, base included; that quirk is pinned by
    # test_property.py::test_space_before_bang_floor_reference_quirk, not here.
    lines = ['i. j! l:', '| i j |', 'x= y? "q"']
    for face, model in ((tall_face(), tall_model),
                        (tall_serif_face(), tallserif_model)):
        png = render_text_png(lines, 2, face=face)
        assert scan_image_bytes(png, model) == "\n".join(lines)


def test_tall_fifth_metric_corner(tall_model, narrow_model, serif_model,
                                  tallserif_model):
    """The tall faces are the exact duals of the wide ones: X-ratios are
    inherited from the parent, Y-windows scale 1.5x, and the trained
    Y-RATIOS shift wherever odd-row duplication rounds gap and height
    differently (measured values pinned from the derivation in
    glyphs.py)."""
    t, ts = tall_model, tallserif_model
    # pinned trained metadata — must match the hand derivation exactly
    assert t.meta["colonDistance"] == pytest.approx(0.8)
    assert t.meta["semicolonDistance"] == pytest.approx(0.5)
    assert t.meta["distancei"] == pytest.approx(3 / 14)
    assert t.meta["distanceExclamation"] == pytest.approx(3 / 16)
    assert t.meta["apostropheRatio"] == pytest.approx(3.5)
    assert ts.meta["distanceExclamation"] == pytest.approx(5 / 16)
    assert ts.meta["equalsDistance"] == pytest.approx(1.2)
    assert ts.meta["apostropheRatio"] == pytest.approx(3.0)
    # apostrophe gate: a fifth and sixth distinct operating point
    seen = {2.5, 5 / 3, 2.0, 1.5}  # narrow / wide / serif / wideserif
    for m in (t, ts):
        for other in seen:
            assert abs(m.meta["apostropheRatio"] - other) > 0.1
    # aspect ratios all shrink 1.5x vs the parent (the NN sizeRatio
    # penalty input): 'A' is full-cell-height in both parents
    for m, parent in ((t, narrow_model), (ts, serif_model)):
        r, p = m.row("A", 0), parent.row("A", 0)
        assert m.avg_height[r] == pytest.approx(parent.avg_height[p] * 1.5)
        assert m.avg_width[r] == pytest.approx(parent.avg_width[p])
    # every glyph is the parent glyph under odd-row duplication:
    # canvas height 16 -> 24, width fixed
    from newocr_spark.font.glyphs import (
        serif_face, tall_face, tall_serif_face,
    )

    for ch in ("A", "W", "|", "g"):
        assert tall_face().glyphs[ch].shape == (
            24, DEFAULT_FACE.glyphs[ch].shape[1])
        assert tall_serif_face().glyphs[ch].shape == (
            24, serif_face().glyphs[ch].shape[1])
    # face-parametric layout metrics actually differ
    assert tall_face().cell_height == 24 and tall_face().line_gap == 9
    assert tall_serif_face().line_gap == 11
    assert DEFAULT_FACE.cell_height == 16 and DEFAULT_FACE.line_gap == 6


def test_tall_wrong_model_misreads(tall_model, narrow_model):
    """The stretch changes heights/aspect enough that the base parent's
    trained tables cannot reproduce tall renders."""
    from newocr_spark.font.glyphs import tall_face

    text = "i j : = W  W"
    png = render_text_png([text], 2, face=tall_face())
    assert scan_image_bytes(png, tall_model) == text
    assert scan_image_bytes(png, narrow_model) != text


def test_tall_training_deterministic_and_committed(tall_model, tallserif_model):
    from newocr_spark.font.glyphs import tall_face, tall_serif_face
    from newocr_spark.font.train import train_font

    for face, committed in ((tall_face(), tall_model),
                            (tall_serif_face(), tallserif_model)):
        fresh = train_font(face=face)
        assert fresh.letters == committed.letters
        assert np.array_equal(fresh.segments, committed.segments)
        assert fresh.meta == committed.meta
        assert fresh.custom_spaces == committed.custom_spaces
