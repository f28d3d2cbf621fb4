"""17-segment glyph featurization (SURVEY §2c: G5).

Faithful numpy re-expression of SearchCharacter.applySections/analyzeSlices
(character/SearchCharacter.java:82-107) and SegmentationUtils
(utils/SegmentationUtils.java:27-202):

  * 8 values: the glyph split into 2x2 quadrants (top-half→vertical-half,
    order TL, TR, BL, BR), each quadrant split diagonally into (top, bottom)
    fill fractions. Quirk replicated deliberately: the reference's
    ``index.get() == 1 || index.getAndIncrement() == 2`` short-circuits, so
    the diagonal slope flag is increasing=[False, True, True, True] for the
    four quadrants — NOT alternating (SearchCharacter.java:86).
  * 9 values: 3x3 grid fill fractions; third sizes use the reference's
    integer split: first = len/3, middle = len - 2*(len/3)
    (SegmentationUtils.java:52-53, 112-113).
  * empty segment (total == 0) → 1.0 (SearchCharacter.java:103).

Halves use topHeight = h/2 (bottom gets the remainder) and
leftWidth = w/2 (right gets the remainder) (SegmentationUtils.java:28-29, 80-81).

All segment cuts depend only on the glyph's shape, so a batch is
featurized one shape at a time: the glyphs of one (h, w) form a
``(k, h, w)`` stack and every segment count is one reduction over it.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

N_FEATURES = 17

# quadrant order TL, TR, BL, BR; reference slope flags (see module docstring)
_DIAG_INCREASING = (False, True, True, True)


@lru_cache(maxsize=1024)
def _bottom_mask(h: int, w: int, increasing: bool) -> np.ndarray:
    """The 'bottom' side of SegmentationUtils.getDiagonal for an h x w section.

    For each column x: y_pos = int(slope*x) (or int(h - slope*x) if
    increasing); rows y < y_pos count as 'bottom', the rest as 'top'
    (SegmentationUtils.java:154-202).
    """
    if h == 0 or w == 0:
        return np.zeros((h, w), dtype=bool)
    slope = h / w
    y = slope * np.arange(w, dtype=np.float64)
    if increasing:
        y = h - y
    y_pos = y.astype(np.int64)  # Java (int) cast truncation; values are >= 0 here
    mask = np.arange(h, dtype=np.int64)[:, None] < y_pos[None, :]
    mask.flags.writeable = False  # one cached array serves every caller
    return mask


def _pct(true: np.ndarray, size: int) -> np.ndarray:
    return np.ones(len(true)) if size == 0 else true / size


def _featurize_stack(stack: np.ndarray) -> np.ndarray:
    """(k, h, w) bool stack of same-shape glyphs → (k, 17) float64."""
    k, h, w = stack.shape
    out = np.empty((k, N_FEATURES), dtype=np.float64)

    # --- 8 diagonal-split quadrant values ---
    top_h = h // 2
    left_w = w // 2
    quadrants = (
        (slice(0, top_h), slice(0, left_w)), (slice(0, top_h), slice(left_w, w)),
        (slice(top_h, h), slice(0, left_w)), (slice(top_h, h), slice(left_w, w)),
    )
    col = 0
    for (rs, cs), inc in zip(quadrants, _DIAG_INCREASING):
        q = stack[:, rs, cs]
        bottom = _bottom_mask(q.shape[1], q.shape[2], inc)
        bottom_true = (q & bottom).sum(axis=(1, 2))
        bottom_size = int(bottom.sum())
        out[:, col] = _pct(q.sum(axis=(1, 2)) - bottom_true, bottom.size - bottom_size)
        out[:, col + 1] = _pct(bottom_true, bottom_size)
        col += 2

    # --- 9 grid values: horizontal thirds × vertical thirds ---
    th = h // 3
    mh = h - 2 * th
    tw = w // 3
    mw = w - 2 * tw
    row_cuts = (0, th, th + mh, h)
    col_cuts = (0, tw, tw + mw, w)
    for r in range(3):
        for c in range(3):
            block = stack[:, row_cuts[r] : row_cuts[r + 1], col_cuts[c] : col_cuts[c + 1]]
            out[:, col] = _pct(block.sum(axis=(1, 2)), block.shape[1] * block.shape[2])
            col += 1
    return out


def featurize_many(grids) -> np.ndarray:
    """Featurize a batch of glyph grids of any shapes → (n, 17) float64,
    row i for ``grids[i]``."""
    by_shape: dict[tuple[int, int], list[int]] = {}
    for i, g in enumerate(grids):
        by_shape.setdefault(g.shape, []).append(i)
    out = np.empty((len(grids), N_FEATURES), dtype=np.float64)
    for idx in by_shape.values():
        stack = np.stack([grids[i] for i in idx]).astype(bool, copy=False)
        out[idx] = _featurize_stack(stack)
    return out


def featurize(grid: np.ndarray) -> np.ndarray:
    """bool glyph grid → float64[17] segment percentages."""
    return featurize_many([np.asarray(grid)])[0]
