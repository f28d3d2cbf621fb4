"""Full recognition kernel: bool grid → recognized text lines.

This is the UDF-local core (SURVEY §3.1 steps 3-10). Up to the NN rank
it works on whole-image arrays: components come back columnar (bbox
arrays plus one grid stack per glyph shape), are featurized one shape
stack at a time and ranked in one matrix expression. ``ImageLetter``
objects are built only at line assignment — from there on (mergence,
spacing) the code is small Python per letter, the granularity at which
the reference is imperative. Pipeline:

  line_bounds (G1) → connected_components (G2/G3) → featurize (G5)
  → line assignment, consume-on-match (J2/X1, OCRScan.java:142-166)
  → vectorized NN vs the broadcast font model (J1, OCRActions.java:197-269)
  → mergence rules (M1-M6) → space insertion (O3, OCRScan.java:189-238)
  → assembly (O1/O2/O4).

The NN hot loop is one (n_glyphs, N_trained) matrix expression instead of
the reference's per-character hash-map loop (OCRActions.java:199-210), and
glyph bitmaps memoize their candidate ranking in a worker-local LRU
bounded in bytes (a font glyph cache: identical bitmaps recur constantly
in rendered corpora, and the ranking is a pure function of bitmap +
broadcast model).

Deterministic deviation (documented): the reference sorts NN candidates
with equal scores in hash-map iteration order and runs merge rules over
ConcurrentHashMap iteration order — both nondeterministic in Java. We
tie-break candidates by (letter, modifier) and iterate letters in reading
order (line insertion order, then x), which is deterministic and matches
the reference wherever the reference itself is well-defined.
"""

from __future__ import annotations

from collections import OrderedDict

import numpy as np

from ..model import FontModel
from .ccl import Glyphs, connected_components
from .features import featurize_many
from .grid import binarize, rows_populated
from .lines import line_bounds
from .mergence import run_mergence
from .spacing import insert_spaces


class ImageLetter:
    """A matched glyph (character/ImageLetter.java). NN candidates are held
    lazily as a row-index array into the broadcast model; setNextClosest
    (ImageLetter.java:203-205) advances the pointer."""

    __slots__ = (
        "letter", "mod", "x", "y", "width", "height",
        "avg_w", "avg_h", "ratio", "min_center", "max_center",
        "amount_of_merges", "merged_pieces", "center_offset",
        "_cands", "_cand_pos", "_model",
    )

    def __init__(self, letter, mod, x, y, width, height, avg_w, avg_h,
                 ratio, min_center=0.0, max_center=0.0):
        self.letter = letter
        self.mod = mod
        self.x = x
        self.y = y
        self.width = width
        self.height = height
        self.avg_w = avg_w
        self.avg_h = avg_h
        self.ratio = ratio
        self.min_center = min_center
        self.max_center = max_center
        self.amount_of_merges = 0
        # pieces merged into this letter: [(letter, mod, height)] incl. self
        self.merged_pieces: list[tuple[str, int, int]] | None = None
        self.center_offset = 0.0
        self._cands = None       # np int array of model rows, best-first
        self._cand_pos = 0       # current head position in _cands
        self._model: FontModel | None = None

    def attach_candidates(self, cands: np.ndarray, model: FontModel) -> None:
        self._cands = cands
        self._cand_pos = 0
        self._model = model

    def has_next_closest(self) -> bool:
        return self._cands is not None and self._cand_pos + 1 < len(self._cands)

    def set_next_closest(self) -> None:
        """Adopt the next-best NN candidate's identity/averages."""
        self._cand_pos += 1
        j = int(self._cands[self._cand_pos])
        m = self._model
        self.letter, self.mod = m.letters[j]
        self.avg_w = float(m.avg_width[j])
        self.avg_h = float(m.avg_height[j])

    def merge(self, other: "ImageLetter") -> None:
        """CoordinateCharacter.merge (:30-77). Union bboxes; note the
        reference quirk: merged width/height lose the +1 used at
        construction (:67-68) — replicated."""
        if self.merged_pieces is None:
            self.merged_pieces = [(self.letter, self.mod, self.height)]
        if other.merged_pieces is not None:
            self.merged_pieces.extend(other.merged_pieces)
        else:
            self.merged_pieces.append((other.letter, other.mod, other.height))
        self.amount_of_merges += 1
        min_x = min(self.x, other.x)
        max_x = max(self.x + self.width - 1, other.x + other.width - 1)
        min_y = min(self.y, other.y)
        max_y = max(self.y + self.height - 1, other.y + other.height - 1)
        self.x, self.y = min_x, min_y
        self.width = max_x - min_x
        self.height = max_y - min_y

    def overlaps_x(self, other: "ImageLetter") -> bool:
        """Character.isOverlappingX (character/Character.java:150-156)."""
        return (self.x + self.width > other.x) and (other.x + other.width > self.x)

    def overlaps_y(self, other: "ImageLetter") -> bool:
        return (self.y + self.height > other.y) and (other.y + other.height > self.y)

    def __repr__(self) -> str:  # pragma: no cover
        return f"<{self.letter!r}/{self.mod} @({self.x},{self.y}) {self.width}x{self.height}>"


class _GlyphCache(OrderedDict):
    """LRU of glyph key → candidate order. ``nbytes`` counts each entry's
    packed key bitmap plus its order array; inserting past
    ``_CAND_CACHE_BYTES`` evicts the least recently used entries."""

    nbytes = 0

    def put(self, key: tuple, order: np.ndarray) -> None:
        old = self.pop(key, None)
        if old is not None:
            self.nbytes -= len(key[2]) + old.nbytes
        self[key] = order
        self.nbytes += len(key[2]) + order.nbytes
        while self.nbytes > _CAND_CACHE_BYTES:
            k, v = self.popitem(last=False)
            self.nbytes -= len(k[2]) + v.nbytes

    def clear(self) -> None:
        super().clear()
        self.nbytes = 0


# worker-local glyph cache: (model id, glyph shape, packed bitmap) →
# candidate order. A scale-4 glyph costs ~350 B (a ~140 B packed key and a
# 2 B-per-model-row order), so the budget holds ~100k glyphs per worker.
_CAND_CACHE_BYTES = 32 << 20
_CAND_CACHE = _GlyphCache()


def _rank_candidates(model: FontModel, feats: np.ndarray, ratios: np.ndarray) -> np.ndarray:
    """Vectorized NN ranking for a batch of glyphs → (g, N) int16 orders.

    score = sum((g - t)^2 over 17 segments)            (OCRUtils.java:90-99)
          + weight(letter) * (trained_ratio - glyph_ratio)^2
                                                       (OCRActions.java:248-258)
    Ties break by (letter, modifier) for determinism: the model rows are
    permuted into that order once, and one stable sort by score keeps it
    among equal scores.
    """
    T = model.segments
    seg_d = ((feats[:, None, :] - T[None, :, :]) ** 2).sum(axis=-1)
    tr = np.nan_to_num(model.trained_ratios, nan=0.0)
    scores = seg_d + model.ratio_weights[None, :] * (tr[None, :] - ratios[:, None]) ** 2
    letter_codes = np.array([ord(lm[0]) for lm in model.letters])
    mods = np.array([lm[1] for lm in model.letters])
    tie_order = np.lexsort((mods, letter_codes))
    ranked = np.argsort(scores[:, tie_order], axis=1, kind="stable")
    return tie_order[ranked].astype(np.int16)


def _candidates_for(glyphs: Glyphs, model: FontModel) -> list[np.ndarray]:
    """Candidate order per glyph, via the worker-local glyph cache."""
    mid = id(model.segments)
    keys: list = [None] * len(glyphs)
    for idx, stack in glyphs.stacks:
        shape = stack.shape[1:]
        packed = np.packbits(stack.reshape(len(idx), -1), axis=1)
        size = packed.shape[1]
        flat = packed.tobytes()
        for j, i in enumerate(idx.tolist()):
            keys[i] = (mid, shape, flat[j * size : (j + 1) * size])
    out: list = [None] * len(glyphs)
    miss_idx = []
    for i, key in enumerate(keys):
        hit = _CAND_CACHE.get(key)
        if hit is not None:
            _CAND_CACHE.move_to_end(key)
            out[i] = hit
        else:
            miss_idx.append(i)
    if miss_idx:
        feats = featurize_many([glyphs.grid(i) for i in miss_idx])
        ratios = glyphs.width[miss_idx] / glyphs.height[miss_idx]
        orders = _rank_candidates(model, feats, ratios)
        for i, order in zip(miss_idx, orders):
            order = order.copy()  # a row of its own, not a view pinning the batch
            out[i] = order
            _CAND_CACHE.put(keys[i], order)
    return out


def scan_grid(grid: np.ndarray, model: FontModel) -> list[tuple[int, list[ImageLetter]]]:
    """bool grid → [(line_y, [ImageLetter sorted by x])] (OCRScan.scanImage)."""
    # G1 — line bounds on the uncut grid
    bounds = line_bounds(
        rows_populated(grid), model.config.max_percent_diff_to_merge
    )
    # G2/G3/G5 — components in discovery order, featurized + ranked
    glyphs = connected_components(grid)
    cands = _candidates_for(glyphs, model)

    # J2 — line assignment: lines sorted by rounded center; each remaining
    # glyph whose vertical center falls in-bounds is consumed in discovery
    # order (OCRScan.java:142-166)
    line_entries = sorted(
        ((top, bottom, int(np.floor((bottom - top) / 2.0 + top + 0.5)))
         for top, bottom in bounds),
        key=lambda e: e[2],
    )
    centers = glyphs.y + glyphs.height / 2.0
    free = np.ones(len(glyphs), dtype=bool)
    xs, ys = glyphs.x.tolist(), glyphs.y.tolist()
    widths, heights = glyphs.width.tolist(), glyphs.height.tolist()
    sorted_lines: list[tuple[int, list[ImageLetter]]] = []
    for top, bottom, center_y in line_entries:
        inside = free & (top <= centers) & (centers <= bottom)
        if not inside.any():
            continue
        free &= ~inside
        matched: list[ImageLetter] = []
        for ci in np.flatnonzero(inside).tolist():
            order = cands[ci]
            head = int(order[0])
            letter, mod = model.letters[head]
            x, y, w, h = xs[ci], ys[ci], widths[ci], heights[ci]
            il = ImageLetter(
                letter, mod, x, y, w, h,
                float(model.avg_width[head]), float(model.avg_height[head]),
                w / h,
                float(model.min_center[head]), float(model.max_center[head]),
            )
            il.center_offset = (y + h / 2.0) - y
            il.attach_candidates(order, model)
            matched.append(il)
        matched.sort(key=lambda l: l.x)
        sorted_lines.append((center_y, matched))

    # M1-M6 — mergence (mutates lines in place, may drop emptied lines)
    sorted_lines = run_mergence(sorted_lines, model)

    # O3 — spaces, per line, based on the line's max glyph height
    for _y, line in sorted_lines:
        if line:
            font_size = max(l.height for l in line)
            line.extend(insert_spaces(line, font_size, model))

    # O1/O2 — final ordering
    out: list[tuple[int, list[ImageLetter]]] = []
    for y, line in sorted(sorted_lines, key=lambda e: e[0]):
        out.append((y, sorted(line, key=lambda l: l.x)))
    return out


def render_text(lines: list[tuple[int, list[ImageLetter]]]) -> str:
    """O4: DefaultScannedImage.getPrettyString (:35-47)."""
    return "\n".join("".join(l.letter for l in line) for _y, line in lines)


def scan_image_bytes(png: bytes, model: FontModel) -> str:
    """Convenience: PNG bytes → recognized text."""
    from ..codecs.png import decode_png

    return render_text(scan_grid(binarize(decode_png(png)), model))


__all__ = ["ImageLetter", "scan_grid", "render_text", "scan_image_bytes"]
