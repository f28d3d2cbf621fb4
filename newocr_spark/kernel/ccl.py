"""Connected-component labelling (SURVEY §2c: G2/G3).

The reference raster-scans the grid and BFS flood-fills with 8-connectivity
from each black pixel, destructively clearing visited pixels
(recognition/OCRActions.java:63-82, detection/SearchImage.java:42-115).
The observable contract is: the set of 8-connected components, each with its
bounding box and cropped pixel grid, discovered in raster order of each
component's first-encountered pixel.

We reproduce that contract with run-based two-pass labelling: horizontal
runs are found with one 1-D pass over the flattened, zero-padded rows,
then union-find joins runs of adjacent rows whose column intervals touch
within ±1 (8-connectivity). This is O(runs α(runs)) — no scipy in this env.

The result is columnar (``Glyphs``): bbox and pixel-count arrays, and the
cropped grids stored as one ``(k, h, w)`` bool stack per glyph shape. The
stacks are filled at run granularity — each run writes a +1 at its start
and a -1 past its end into one int8 buffer, and one cumulative sum turns
the marks into pixels — so no Python work is done per component.
``Component`` objects are built only when a caller indexes or iterates.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


@dataclass
class Component:
    """One glyph blob: bbox + cropped grid (SearchCharacter.java:39-77)."""

    x: int
    y: int
    width: int
    height: int
    grid: np.ndarray  # (height, width) bool, cropped
    pixel_count: int = 0
    # carried through training (font/train.py)
    extras: dict = field(default_factory=dict)


class Glyphs:
    """The components of one grid, columnar and in discovery order.

    ``x``/``y``/``width``/``height``/``pixel_count`` are int64 arrays over
    the components. ``stacks`` holds one ``(indices, grid_stack)`` pair per
    distinct (height, width): ``grid_stack[j]`` is the cropped grid of
    component ``indices[j]``, indices ascending. As a sequence it yields
    ``Component`` views built on demand.
    """

    __slots__ = ("x", "y", "width", "height", "pixel_count", "stacks", "_stack_of", "_slot_of")

    def __init__(self, x, y, width, height, pixel_count, stacks) -> None:
        self.x = x
        self.y = y
        self.width = width
        self.height = height
        self.pixel_count = pixel_count
        self.stacks = stacks
        self._stack_of = np.empty(len(x), dtype=np.int64)
        self._slot_of = np.empty(len(x), dtype=np.int64)
        for s, (idx, _stack) in enumerate(stacks):
            self._stack_of[idx] = s
            self._slot_of[idx] = np.arange(len(idx))

    def __len__(self) -> int:
        return len(self.x)

    def grid(self, i: int) -> np.ndarray:
        """The cropped (height, width) grid of component ``i`` (a view)."""
        return self.stacks[self._stack_of[i]][1][self._slot_of[i]]

    def __getitem__(self, i: int) -> Component:
        i = range(len(self))[i]
        return Component(
            x=int(self.x[i]), y=int(self.y[i]),
            width=int(self.width[i]), height=int(self.height[i]),
            grid=self.grid(i), pixel_count=int(self.pixel_count[i]),
        )

    def __iter__(self):
        return (self[i] for i in range(len(self)))


def _empty_glyphs() -> Glyphs:
    e = np.empty(0, dtype=np.int64)
    return Glyphs(e, e, e, e, e, [])


def _runs_per_row(grid: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized horizontal run extraction.

    Returns (row_idx, start_col, end_col_exclusive) arrays over all runs,
    ordered by (row, start). Each row is padded with a False column on
    both sides, so over the flattened rows no run crosses a row boundary
    and the value changes alternate: a run starts at every other change
    and ends at the one after it.
    """
    h, w = grid.shape
    width = w + 2
    padded = np.zeros((h, width), dtype=bool)
    padded[:, 1:-1] = grid
    flat = padded.ravel()
    edges = np.flatnonzero(flat[1:] != flat[:-1])  # start, end, start, end, …
    starts, ends = edges[0::2], edges[1::2]
    rows = starts // width
    base = rows * width
    return rows, starts - base, ends - base


def _union_pairs(rows: np.ndarray, starts: np.ndarray,
                 ends: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized 8-conn overlap pairs between runs of adjacent rows.

    Runs within a row are sorted and disjoint, so for a run [sb, eb) in row
    r+1, the overlapping runs of row r form the contiguous index range
    [searchsorted(ends_r, sb), searchsorted(starts_r, eb, 'right')).
    Per-row searches collapse into two GLOBAL searchsorted calls on
    composite row-major keys (row*K + col, K > any col): every row's key
    block is disjoint and internally sorted, so a probe keyed to row r-1
    lands inside that row's segment automatically — no Python loop over
    rows, no per-row slicing.
    """
    n = len(rows)
    if n == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e
    K = np.int64(int(ends.max()) + 2)
    start_keys = rows.astype(np.int64) * K + starts
    end_keys = rows.astype(np.int64) * K + ends
    prev = (rows.astype(np.int64) - 1) * K
    # overlap in row above: runs a with ea >= sb AND sa <= eb — half-open
    # runs touching at a column (ea == sb / sa == eb) are diagonal
    # neighbours, which 8-connectivity joins
    lo = np.searchsorted(end_keys, prev + starts, side="left")
    hi = np.searchsorted(start_keys, prev + ends, side="right")
    # empty previous row → lo/hi land on the same segment boundary → 0
    counts = np.maximum(hi - lo, 0)
    total = int(counts.sum())
    if total == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e
    b_idx = np.repeat(np.arange(n, dtype=np.int64), counts)
    csum = np.cumsum(counts) - counts
    a_idx = np.arange(total, dtype=np.int64) - np.repeat(csum, counts) + np.repeat(lo, counts)
    return a_idx, b_idx


def _min_labels(n: int, pair_a: np.ndarray, pair_b: np.ndarray) -> np.ndarray:
    """Vectorized union-find over n runs joined by the (a, b) pairs →
    each run's component label, the component's minimum run index.

    Each round hooks the larger root of every still-split pair onto the
    smaller one, then pointer-jumps until every run points at its root.
    Labels only ever point to smaller indices, so the root left in each
    component is its minimum. Pairs already joined drop out.
    """
    labels = np.arange(n, dtype=np.int64)
    while len(pair_a):
        la, lb = labels[pair_a], labels[pair_b]
        split = la != lb
        pair_a, pair_b, la, lb = pair_a[split], pair_b[split], la[split], lb[split]
        np.minimum.at(labels, np.maximum(la, lb), np.minimum(la, lb))
        while True:
            jumped = labels[labels]
            if np.array_equal(jumped, labels):
                break
            labels = jumped
    return labels


def _shape_stacks(rows, starts, ends, comp_of_run, x0, y0, height, width):
    """Cropped grids of all components, one (k, h, w) bool stack per shape.

    Components are laid out shape by shape (discovery order within a
    shape), each as h rows of w + 1 int8 cells. A run marks +1 at its first
    column and -1 one past its last; the spare column takes the -1 of a run
    that reaches the right edge, so every row's marks sum to zero and one
    cumulative sum over the whole buffer fills every run at once.
    """
    shape_key = height * (int(width.max()) + 1) + width
    by_shape = np.argsort(shape_key, kind="stable")  # discovery order per shape
    cells = height[by_shape] * (width[by_shape] + 1)
    offset = np.empty(len(height), dtype=np.int64)
    offset[by_shape] = np.cumsum(cells) - cells
    marks = np.zeros(int(cells.sum()), dtype=np.int8)
    row_at = offset[comp_of_run] + (rows - y0[comp_of_run]) * (width[comp_of_run] + 1)
    left = x0[comp_of_run]
    marks[row_at + starts - left] = 1
    marks[row_at + ends - left] = -1
    filled = np.cumsum(marks, dtype=np.int8) > 0

    cuts = np.flatnonzero(np.diff(shape_key[by_shape])) + 1
    stacks = []
    for idx in np.split(by_shape, cuts):
        h, w = int(height[idx[0]]), int(width[idx[0]])
        at = int(offset[idx[0]])
        block = filled[at : at + len(idx) * h * (w + 1)]
        stacks.append((idx, block.reshape(len(idx), h, w + 1)[:, :, :w]))
    return stacks


def connected_components(grid: np.ndarray) -> Glyphs:
    """8-connected components of a bool grid, in reference discovery order."""
    if grid.size == 0:
        return _empty_glyphs()
    rows, starts, ends = _runs_per_row(grid)
    n_runs = len(rows)
    if n_runs == 0:
        return _empty_glyphs()

    labels = _min_labels(n_runs, *_union_pairs(rows, starts, ends))

    # root → discovery index, in (row, start) order of first run: the root
    # IS the component's first run index (minimum), so roots in ascending
    # run order are in raster discovery order
    is_root = labels == np.arange(n_runs)
    first_seen = np.flatnonzero(is_root)
    comp_of_run = (np.cumsum(is_root) - 1)[labels]

    n_comp = len(first_seen)
    min_x = np.full(n_comp, np.iinfo(np.int64).max, dtype=np.int64)
    max_x = np.full(n_comp, -1, dtype=np.int64)
    max_y = np.full(n_comp, -1, dtype=np.int64)
    counts = np.zeros(n_comp, dtype=np.int64)
    np.minimum.at(min_x, comp_of_run, starts)
    np.maximum.at(max_x, comp_of_run, ends - 1)
    np.maximum.at(max_y, comp_of_run, rows)
    np.add.at(counts, comp_of_run, ends - starts)
    min_y = rows[first_seen]  # a component's first run is on its top row
    height = max_y - min_y + 1
    width = max_x - min_x + 1

    stacks = _shape_stacks(rows, starts, ends, comp_of_run, min_x, min_y, height, width)
    return Glyphs(min_x, min_y, width, height, counts, stacks)
