"""Layout-box geometry and recursive XY-cut reading order.

The reference's deep tier delegates reading-order resolution to
MinerU's layout models (reference accurate/service.py:66-117, consumed
page-by-page at :160-167). Our from-scratch analogue resolves reading
order over explicit layout boxes with the classic recursive X-Y cut
(Nagy & Seth 1984): split the region set at full-height vertical gaps
first (left→right — this yields column-major reading order for
multi-column layouts; a full-width header blocks any full-height
vertical gap, so it is still peeled off first by the fallback
horizontal cut), else at full-width horizontal gaps (top→bottom),
recurse; leaves fall back to (y0, x0, stream order).

Pure integer geometry — results are exact, so the oracle and the
vectorized engine share this module (allowed: SURVEY §7.7.4, all
compared values are strings/ints).

Box encoding (FIXTURES.md §1): a `box` span's text is
``"x0,y0,x1,y1,region_kind"`` with int coordinates and region_kind in
{text, table, figure, formula}.
"""

from __future__ import annotations

import functools
from typing import Sequence


def parse_box(text: str) -> tuple[int, int, int, int, str]:
    """Decode a box span's text. Raises ValueError on malformed input
    (callers route such docs to the error channel, never crash the job
    — reference accurate/service.py:240-246 returns an error dict)."""
    x0, y0, x1, y1, kind = text.split(",")
    return int(x0), int(y0), int(x1), int(y1), kind


def _split_by_gaps(
    order: list[int], boxes: Sequence[tuple[int, int, int, int]], axis: int
) -> list[list[int]]:
    """Partition region indices at strictly-positive gaps in the
    projection of their boxes onto `axis` (0=x, 1=y). Returns groups
    ordered by coordinate; a single group means no gap."""
    lo, hi = (0, 2) if axis == 0 else (1, 3)
    idx = sorted(order, key=lambda i: (boxes[i][lo], boxes[i][hi], i))
    groups: list[list[int]] = []
    cur: list[int] = []
    cur_end = None
    for i in idx:
        s, e = boxes[i][lo], boxes[i][hi]
        if cur_end is None or s < cur_end:  # overlap or touch-with-overlap
            cur.append(i)
            cur_end = e if cur_end is None else max(cur_end, e)
        elif s == cur_end:  # touching intervals: no strictly-positive gap
            cur.append(i)
            cur_end = max(cur_end, e)
        else:
            groups.append(cur)
            cur = [i]
            cur_end = e
    if cur:
        groups.append(cur)
    return groups


def xycut(boxes: Sequence[tuple[int, int, int, int]]) -> list[int]:
    """Return indices of `boxes` in XY-cut reading order.

    Deterministic: ties and non-separable clusters order by
    (y0, x0, input index).

    Two layers of optimization (the cut dominated the tier-2 kernel
    profile): memoization per box configuration (pure function of the
    geometry; real corpora reuse a handful of layout templates), and —
    for cache misses — an O(n log n + n·depth) recursion that sorts
    each axis ONCE up front and carries both sorted orders through the
    recursion (gap groups are contiguous slices of a sorted order, so
    no re-sorting per level; membership filtering keeps the sibling
    axis sorted).
    """
    return list(_xycut_cached(tuple(map(tuple, boxes))))


def _split_sorted(idx_sorted, lo, hi):
    """Partition an already lo-sorted index list at strictly-positive
    gaps of its [lo, hi] intervals (touching intervals merge) —
    identical grouping to sorting by (lo, hi, i) then sweeping."""
    groups: list[list[int]] = []
    cur: list[int] = []
    cur_end = None
    for i in idx_sorted:
        s, e = lo[i], hi[i]
        if cur_end is None or s <= cur_end:
            cur.append(i)
            if cur_end is None or e > cur_end:
                cur_end = e
        else:
            groups.append(cur)
            cur = [i]
            cur_end = e
    if cur:
        groups.append(cur)
    return groups


@functools.lru_cache(maxsize=8192)
def _xycut_cached(boxes: tuple) -> tuple:
    n = len(boxes)
    if n <= 1:
        return tuple(range(n))
    x0 = [b[0] for b in boxes]
    y0 = [b[1] for b in boxes]
    x1 = [b[2] for b in boxes]
    y1 = [b[3] for b in boxes]
    by_x = sorted(range(n), key=lambda i: (x0[i], x1[i], i))
    by_y = sorted(range(n), key=lambda i: (y0[i], y1[i], i))
    out: list[int] = []

    def rec(bx: list[int], by: list[int]) -> None:
        if len(bx) <= 1:
            out.extend(bx)
            return
        # vertical cuts (x-gaps) first -> column-major reading order
        groups = _split_sorted(bx, x0, x1)
        if len(groups) > 1:
            for g in groups:
                gs = set(g)
                rec(g, [i for i in by if i in gs])
            return
        # no full-height x-gap: peel only the TOPMOST y-gap and re-try
        # the x-cut on the remainder, so a full-width header does not
        # force row-major interleaving of the columns below it
        groups = _split_sorted(by, y0, y1)
        if len(groups) > 1:
            top = groups[0]
            rest = [i for g in groups[1:] for i in g]
            ts = set(top)
            rec([i for i in bx if i in ts], top)
            rs = set(rest)
            rec([i for i in bx if i in rs], rest)
            return
        out.extend(sorted(bx, key=lambda i: (y0[i], x0[i], i)))

    rec(by_x, by_y)
    return tuple(out)
