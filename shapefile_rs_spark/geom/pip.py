"""Vectorized even-odd ray-cast point-in-polygon.

Semantics: a multi-ring shapefile polygon contains a point iff a ray from the
point crosses the union of all its rings an odd number of times (outer minus
holes) — the batch equivalent of the reference example's
``geo::Contains`` nested loop (examples/geotype-example/src/main.rs:15-36)
with the ring-grouping rule of src/record/polygon.rs:606-640.  Boundary points
are excluded (geo's ``contains`` is interior-only); callers that need boundary
inclusiveness must buffer upstream.

All arrays are float64; no per-point Python.
"""

from __future__ import annotations

from typing import List, Sequence

import numpy as np


def crossings_matrix(px: np.ndarray, py: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """Ray-cast crossing counts of N points against (E, 4) edge rows
    ``(x1, y1, x2, y2)`` (:func:`ring_edges`).

    Returns an int array (N,) of crossings of the +x ray with the edges.
    Vectorized over points × edges (N×E temporary — callers batch).
    """
    x1, y1, x2, y2 = (edges[:, i][None, :] for i in range(4))
    pxc = px[:, None]
    pyc = py[:, None]
    straddle = (y1 > pyc) != (y2 > pyc)
    # x of the edge↔ray intersection; guarded: where straddle is False the
    # division may be 0/0 — mask it out before comparing.
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1) * (pyc - y1) / (y2 - y1) + x1
    cross = straddle & (pxc < xint)
    return cross.sum(axis=1)


def points_in_rings(
    px: np.ndarray, py: np.ndarray, rings: Sequence[np.ndarray]
) -> np.ndarray:
    """Even-odd test of N points against the union of ``rings`` (one polygon
    = its outer ring(s) + hole rings). Returns bool (N,)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    total = np.zeros(len(px), dtype=np.int64)
    for ring in rings:
        if len(ring) < 2:
            continue
        total += crossings_matrix(px, py, ring_edges([ring]))
    return (total % 2) == 1


def ring_edges(rings: Sequence[np.ndarray]) -> np.ndarray:
    """Every edge of every ring as (E, 4) float64 rows ``(x1, y1, x2, y2)``
    — the operands :func:`crossings_matrix` reads, in the same orientation."""
    rings = [np.asarray(r, dtype=np.float64) for r in rings if len(r) >= 2]
    if not rings:
        return np.empty((0, 4), dtype=np.float64)
    return np.concatenate([np.hstack([r[:-1], r[1:]]) for r in rings])


# a straddling edge's crossing abscissa ((x2-x1)*(lat-y1))/(y2-y1)+x1 rounds
# past max(x1, x2) by under 4·ε·(|x1|+|x2|); the 360° term also absorbs
# cell_id's rounding of a lon next to a cell's west border
_REACH_SLACK = 8.0 * np.finfo(np.float64).eps


def cell_edges(
    edges: np.ndarray, lo: np.ndarray, hi: np.ndarray, band: np.ndarray, x0: np.ndarray
) -> tuple:
    """The ring edges each cell's even-odd test needs.

    Cell c lies in the closed latitude band ``[lo[band[c]], hi[band[c]]]``
    (``lo`` and ``hi`` non-decreasing) and every point that lands in it has
    ``lon >= x0[c]`` (``-inf`` where
    :func:`shapefile_rs_spark.cells.cell_id` clamps).  It keeps the edges
    whose y-range meets its band and whose east end reaches ``x0[c]``: an
    edge outside the band cannot straddle the latitude of a point in the
    cell, and the +x ray of a point east of an edge cannot cross it.  Both
    trims are exact, so the even-odd count over a cell's
    edges equals the count over all edges for every point in the cell.

    Returns ``(counts, idx)``: cell c's edges are
    ``edges[idx[start_c : start_c + counts[c]]]``, cells in order.  Work and
    memory scale with the (band, edge) pairs kept, never band × edge."""
    lo = np.asarray(lo, dtype=np.float64)
    hi = np.asarray(hi, dtype=np.float64)
    band = np.asarray(band, dtype=np.int64)
    x0 = np.asarray(x0, dtype=np.float64)
    x1, y1, x2, y2 = edges.T
    # each edge meets the contiguous band range [first, last)
    first = np.searchsorted(hi, np.minimum(y1, y2), side="left")
    last = np.searchsorted(lo, np.maximum(y1, y2), side="right")
    span = np.maximum(last - first, 0)
    e = np.repeat(np.arange(len(edges)), span)
    b = np.repeat(first, span) + _ragged_arange(span)
    reach = np.maximum(x1, x2) + _REACH_SLACK * (np.abs(x1) + np.abs(x2) + 360.0)
    # rank every -reach and -x0 together, so (band, rank) is one int key:
    # sorted pairs put each band's edges farthest-east first, and a cell's
    # edges are the prefix of its band whose -reach <= -x0
    vals, inv = np.unique(np.concatenate([-reach[e], -x0]), return_inverse=True)
    R, m = len(vals) + 1, len(e)
    key = b * R + inv[:m]
    order = np.argsort(key, kind="stable")
    key, e = key[order], e[order]
    start = np.searchsorted(key, band * R, side="left")
    counts = np.searchsorted(key, band * R + inv[m:], side="right") - start
    return counts, e[np.repeat(start, counts) + _ragged_arange(counts)]


def _ragged_arange(counts: np.ndarray) -> np.ndarray:
    """``concatenate([arange(c) for c in counts])`` without the loop."""
    counts = np.asarray(counts, dtype=np.int64)
    return np.arange(counts.sum()) - np.repeat(np.cumsum(counts) - counts, counts)


def rings_bbox(rings: Sequence[np.ndarray]) -> tuple:
    xs = np.concatenate([r[:, 0] for r in rings])
    ys = np.concatenate([r[:, 1] for r in rings])
    return float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())


def points_in_polygon_wkb(px: np.ndarray, py: np.ndarray, wkb: bytes) -> np.ndarray:
    """Convenience: PIP against a (Multi)Polygon WKB blob, with a vectorized
    bbox pre-filter so far-away points never hit the ray-cast."""
    from .wkb import wkb_rings

    rings = wkb_rings(wkb)
    xmin, ymin, xmax, ymax = rings_bbox(rings)
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    candidate = (px >= xmin) & (px <= xmax) & (py >= ymin) & (py <= ymax)
    out = np.zeros(len(px), dtype=bool)
    if candidate.any():
        idx = np.nonzero(candidate)[0]
        out[idx] = points_in_rings(px[idx], py[idx], rings)
    return out


def nested_loop_pip_oracle(
    points_xy: np.ndarray, polygons: List[List[np.ndarray]]
) -> List[tuple]:
    """O(N·M) oracle mirroring examples/geotype-example/src/main.rs:15-36:
    emits (point_idx, polygon_idx) for every contained pair. Test-only."""
    out = []
    px = points_xy[:, 0]
    py = points_xy[:, 1]
    for j, rings in enumerate(polygons):
        inside = points_in_rings(px, py, rings)
        for i in np.nonzero(inside)[0]:
            out.append((int(i), j))
    return out
