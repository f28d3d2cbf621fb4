"""Operator unit tests (FIXTURES.md §7) — the reference has none of these
(SURVEY §5); hand-checked expectations per operator."""

import numpy as np
import pytest

from newocr_spark.codecs.png import decode_png, encode_png
from newocr_spark.kernel.ccl import connected_components
from newocr_spark.kernel import scan
from newocr_spark.kernel.features import N_FEATURES, featurize, featurize_many
from newocr_spark.kernel.grid import binarize, remove_leading_spaces
from newocr_spark.kernel.lines import line_bounds
from newocr_spark.kernel.spacing import space_round
from newocr_spark.model import FontModel


def g(rows):
    return np.array([[c == "#" for c in row] for row in rows], dtype=bool)


# ---------------- PNG codec ----------------

def test_png_roundtrip_gray():
    rng = np.random.RandomState(42)
    img = rng.randint(0, 256, size=(33, 57), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


def test_png_roundtrip_rgb():
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(21, 13, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


# ---------------- binarization (F1) ----------------

def test_binarize_threshold():
    # (R+G+B)/3 < 191.25 → black (OCRUtils.java:188-195)
    img = np.array([[[191, 191, 191], [192, 192, 192]]], dtype=np.uint8)
    assert binarize(img).tolist() == [[True, False]]


def test_binarize_gray():
    img = np.array([[0, 191, 192, 255]], dtype=np.uint8)
    assert binarize(img).tolist() == [[True, True, False, False]]


# ---------------- leading spaces (F4) ----------------

def test_remove_leading_spaces():
    assert remove_leading_spaces("  ab\n   cd") == "ab\n cd"
    assert remove_leading_spaces("ab\n  cd") == "ab\n  cd"


# ---------------- CCL (G2/G3) ----------------

def test_ccl_simple_components():
    comps = connected_components(g([
        "##..#",
        "##..#",
        ".....",
        "#....",
    ]))
    assert len(comps) == 3
    # discovery order: raster order of first pixel
    assert (comps[0].x, comps[0].y, comps[0].width, comps[0].height) == (0, 0, 2, 2)
    assert (comps[1].x, comps[1].y) == (4, 0)
    assert (comps[2].x, comps[2].y) == (0, 3)


def test_ccl_eight_connectivity():
    # diagonal touch joins (SearchImage.scanFrom checks all 8 neighbours)
    comps = connected_components(g([
        "#..",
        ".#.",
        "..#",
    ]))
    assert len(comps) == 1
    assert comps[0].pixel_count == 3


def test_ccl_u_shape_union():
    # two arms joined at the bottom — run-based union-find must merge
    comps = connected_components(g([
        "#.#",
        "#.#",
        "###",
    ]))
    assert len(comps) == 1
    assert (comps[0].width, comps[0].height) == (3, 3)



def test_ccl_sequence_contract():
    """Each component's grid holds only its own pixels, even where another
    component sits inside its bbox; the result is a sized, indexable,
    iterable sequence of components."""
    ring = g([
        "#####",
        "#...#",
        "#.#.#",
        "#...#",
        "#####",
    ])
    nested = g([
        "######",
        "#.....",
        "#.###.",
        "#.#...",
    ])
    for grid, want in (
        (ring, [
            (0, 0, 5, 5, 16, ["#####", "#...#", "#...#", "#...#", "#####"]),
            (2, 2, 1, 1, 1, ["#"]),
        ]),
        (nested, [
            (0, 0, 6, 4, 9, ["######", "#.....", "#.....", "#....."]),
            (2, 2, 3, 2, 4, ["###", "#.."]),
        ]),
    ):
        comps = connected_components(grid)
        assert len(comps) == len(want)
        assert [c.x for c in comps] == [comps[i].x for i in range(len(comps))]
        assert comps[-1].x == comps[len(comps) - 1].x
        with pytest.raises(IndexError):
            comps[len(comps)]
        for c, (x, y, w, h, n, rows) in zip(comps, want):
            assert (c.x, c.y, c.width, c.height, c.pixel_count) == (x, y, w, h, n)
            assert c.grid.dtype == bool
            assert c.grid.tolist() == g(rows).tolist()

# ---------------- 17-seg featurization (G5) ----------------

def test_featurize_full_block():
    # fully-filled 6x6: every segment 100%
    v = featurize(np.ones((6, 6), dtype=bool))
    assert np.allclose(v, 1.0)


def test_featurize_empty_segment_is_one():
    # 1-row glyph: top half has 0 rows → its 4 diagonal pairs are (0,0) → 1.0
    # (SearchCharacter.java:103: total == 0 → 1)
    v = featurize(g(["##"]))
    assert np.allclose(v[:4], 1.0)


def test_featurize_half_fill_grid():
    # left half black, right half white, 6x6: 3x3 grid: left col 1.0,
    # middle col 1.0 (cols 2-3: col2 black... verify exact integer splits)
    grid = np.zeros((6, 6), dtype=bool)
    grid[:, :3] = True
    v = featurize(grid)
    # thirds: cols [0,2),[2,4),[4,6) → fills 1.0, 0.5, 0.0 per row band
    assert np.allclose(v[8:], [1.0, 0.5, 0.0] * 3)


def test_featurize_diagonal_flags():
    """The reference's quadrant diagonal flags are [False, True, True, True]
    (short-circuited counter, SearchCharacter.java:86) — regression-pin the
    exact 8 diagonal values of an asymmetric glyph."""
    grid = g([
        "##......",
        "##......",
        "##......",
        "##......",
        "########",
        "########",
        "........",
        "........",
    ])
    v = featurize(grid)
    # hand-derived with the reference algorithm
    q = grid[:4, :4]
    assert q.sum() == 8
    expected_first = _diag_ref(q, increasing=False)
    assert v[0] == pytest.approx(expected_first[0])
    assert v[1] == pytest.approx(expected_first[1])
    tr = _diag_ref(grid[:4, 4:], increasing=True)
    assert v[2] == pytest.approx(tr[0])
    bl = _diag_ref(grid[4:, :4], increasing=True)  # NOT False — the quirk
    assert v[4] == pytest.approx(bl[0])
    assert v[5] == pytest.approx(bl[1])


def _diag_ref(section, increasing):
    """Literal transcription of SegmentationUtils.getDiagonal for the test."""
    h, w = section.shape
    slope = h / w
    top_true = top_size = bottom_true = bottom_size = 0
    for x in range(w):
        y_pos = int(h - slope * x) if increasing else int(slope * x)
        for y in range(h):
            if y < y_pos:
                bottom_true += bool(section[y, x])
                bottom_size += 1
            else:
                top_true += bool(section[y, x])
                top_size += 1
    t = 1.0 if top_size == 0 else top_true / top_size
    b = 1.0 if bottom_size == 0 else bottom_true / bottom_size
    return t, b



def test_featurize_many_matches_featurize():
    """The shape-batched path equals one-glyph featurize bit for bit over a
    batch mixing shapes, and an empty batch is (0, 17)."""
    rng = np.random.RandomState(3)
    grids = [
        g(["#"]), g(["."]), g(["####"]), g(["#", "#", "#"]),
        np.zeros((5, 7), dtype=bool), np.ones((5, 7), dtype=bool),
        np.zeros((1, 6), dtype=bool), np.ones((9, 1), dtype=bool),
    ]
    grids += [rng.rand(h, w) < 0.5 for h, w in [(5, 7), (2, 9), (5, 7), (13, 4), (2, 9)]]
    got = featurize_many(grids)
    want = np.stack([featurize(x) for x in grids])
    assert got.shape == (len(grids), N_FEATURES)
    assert np.array_equal(got.view(np.int64), want.view(np.int64))
    ref = np.array([_featurize_ref(x) for x in grids])
    assert np.array_equal(got.view(np.int64), ref.view(np.int64))
    assert featurize_many([]).shape == (0, N_FEATURES)


def _featurize_ref(grid):
    """Loop transcription of SearchCharacter.applySections for the test:
    4 quadrants x diagonal halves, then the 3 x 3 integer-split grid."""
    h, w = grid.shape
    th, tw = h // 2, w // 2
    out = []
    for rows, cols, inc in ((slice(0, th), slice(0, tw), False), (slice(0, th), slice(tw, w), True),
                            (slice(th, h), slice(0, tw), True), (slice(th, h), slice(tw, w), True)):
        q = grid[rows, cols]
        out.extend(_diag_ref(q, inc) if q.size else (1.0, 1.0))
    row_cuts = (0, h // 3, h - h // 3, h)
    col_cuts = (0, w // 3, w - w // 3, w)
    for r in range(3):
        for c in range(3):
            cell = grid[row_cuts[r]:row_cuts[r + 1], col_cuts[c]:col_cuts[c + 1]]
            out.append(1.0 if cell.size == 0 else int(cell.sum()) / cell.size)
    return out

# ---------------- line bounds (G1) ----------------

def test_line_bounds_basic():
    pop = [False, True, True, True, False, False, True, True, False]
    assert line_bounds(pop) == [(1, 4), (6, 8)]


def test_line_bounds_trailing_run_dropped():
    # reference quirk: a run still open at the image edge is never flushed
    pop = [False, True, True]
    assert line_bounds(pop) == []


def test_line_bounds_underscore_merge():
    # pass 2: below line merges when belowHeight/currentHeight <= 0.5
    pop = [True] * 10 + [False] * 2 + [True] * 4 + [False]
    # heights 10 and 4 → 0.4 <= 0.5 → merged
    assert line_bounds(pop) == [(0, 16)]


def test_line_bounds_no_merge_above_half():
    pop = [True] * 10 + [False] * 2 + [True] * 6 + [False]
    # 6/10 = 0.6 > 0.5 → two lines
    assert line_bounds(pop) == [(0, 10), (12, 18)]


# ---------------- spacing (O3) ----------------

def test_space_round_boundary():
    # floor + 1 iff fractional part > 0.8 (OCRScan.java:233-238)
    assert space_round(0.79) == 0
    assert space_round(0.81) == 1
    assert space_round(1.5) == 1
    assert space_round(2.85) == 3


# ---------------- NN rank and glyph cache (J1) ----------------

def _tie_model() -> FontModel:
    """Six rows over two segment vectors (all 0 / all 1) with one aspect
    ratio, so glyphs score many rows equally."""
    letters = [("b", 0), ("a", 1), ("c", 0), ("a", 0), ("b", 1), ("!", 0)]
    segments = np.zeros((len(letters), N_FEATURES))
    segments[[2, 4]] = 1.0
    ones = np.ones(len(letters))
    return FontModel(
        font="ties", letters=letters, segments=segments,
        avg_width=10 * ones, avg_height=10 * ones,
        min_center=0 * ones, max_center=0 * ones,
        meta={}, custom_spaces={}, font_size_ratios={},
    )


def test_rank_candidates_tie_order():
    """Equal scores rank by (letter, modifier), as a per-row lexsort does."""
    model = _tie_model()
    feats = np.array([np.zeros(N_FEATURES), np.ones(N_FEATURES), np.full(N_FEATURES, 0.5),
                      np.full(N_FEATURES, 0.5)])
    ratios = np.array([1.0, 1.0, 1.0, 2.0])
    got = scan._rank_candidates(model, feats, ratios)
    scores = ((feats[:, None, :] - model.segments[None]) ** 2).sum(axis=-1)
    scores += model.ratio_weights[None] * (model.trained_ratios[None] - ratios[:, None]) ** 2
    letter_codes = np.array([ord(l) for l, _m in model.letters])
    mods = np.array([m for _l, m in model.letters])
    want = np.stack([np.lexsort((mods, letter_codes, scores[i])) for i in range(len(feats))])
    assert got.dtype == np.int16
    assert np.array_equal(got, want)
    assert got[2].tolist() == [5, 3, 1, 0, 4, 2]  # all six tie: ! a/0 a/1 b/0 b/1 c/0


def test_glyph_cache_stays_within_byte_budget(monkeypatch):
    """Distinct glyphs past the budget evict old entries; the accounted
    bytes (packed key bitmap + order) never exceed the budget."""
    model = _tie_model()
    budget = 600
    monkeypatch.setattr(scan, "_CAND_CACHE_BYTES", budget)
    scan._CAND_CACHE.clear()
    try:
        inserted = 0
        for start in (1, 41, 81):
            bars = np.zeros((80, 130), dtype=bool)
            for i in range(40):  # one bar per row pair: 40 distinct bitmaps
                bars[2 * i, : start + i] = True
            comps = connected_components(bars)
            orders = scan._candidates_for(comps, model)
            assert len(orders) == len(comps) == 40
            inserted += len(comps)
            accounted = sum(len(k[2]) + v.nbytes for k, v in scan._CAND_CACHE.items())
            assert scan._CAND_CACHE.nbytes == accounted <= budget
        assert 0 < len(scan._CAND_CACHE) < inserted
    finally:
        scan._CAND_CACHE.clear()
