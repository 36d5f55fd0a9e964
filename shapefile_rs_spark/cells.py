"""Hierarchical spatial cell index (H3/S2-style, pure numpy).

The sandbox has no h3/s2 bindings, so the engine ships its own discrete
global grid: an equirectangular quadtree ("quadcell") with Morton-coded cell
ids — the same contract H3/S2 provide (point→cell at a resolution, parent/
children, k-ring neighborhoods, polygon covering) with radically simpler
math.  Resolution r splits the world into 2^r × 2^r cells (lon ∈ [-180,180],
lat ∈ [-90,90]); r ≤ 30 keeps ids in 60 bits + 5 resolution bits = 65… so we
cap r ≤ 29 to stay inside a signed 64-bit Spark LongType.

cell_id layout (LongType-safe): bits 58..62 = resolution (5 bits),
bits 0..57 = Morton(ix, iy).  All functions are vectorized over numpy arrays
and are the kernels inside pandas UDFs (no per-row Python, per input_hint).
"""

from __future__ import annotations

from typing import Iterable, List, Tuple

import numpy as np

MAX_RES = 29
_RES_SHIFT = 58


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 29 bits of v so there is a zero bit between each."""
    v = v.astype(np.uint64)
    v &= np.uint64(0x1FFFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def lonlat_to_ixiy(lon: np.ndarray, lat: np.ndarray, res: int) -> Tuple[np.ndarray, np.ndarray]:
    n = np.int64(1) << np.int64(res)
    fx = (np.asarray(lon, dtype=np.float64) + 180.0) / 360.0
    fy = (np.asarray(lat, dtype=np.float64) + 90.0) / 180.0
    ix = np.clip(np.floor(fx * n).astype(np.int64), 0, int(n) - 1)
    iy = np.clip(np.floor(fy * n).astype(np.int64), 0, int(n) - 1)
    return ix, iy


def encode_ixiy(ix: np.ndarray, iy: np.ndarray, res: int) -> np.ndarray:
    morton = _part1by1(np.asarray(ix)) | (_part1by1(np.asarray(iy)) << np.uint64(1))
    cell = (np.uint64(res) << np.uint64(_RES_SHIFT)) | morton
    return cell.astype(np.int64)


def cell_id(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Point → cell id at resolution ``res`` (vectorized)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be 0..{MAX_RES}")
    ix, iy = lonlat_to_ixiy(lon, lat, res)
    return encode_ixiy(ix, iy, res)


def decode_cell(cell: np.ndarray) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell → (res, ix, iy) arrays."""
    c = np.asarray(cell, dtype=np.uint64)
    res = (c >> np.uint64(_RES_SHIFT)).astype(np.int64)
    morton = c & ((np.uint64(1) << np.uint64(_RES_SHIFT)) - np.uint64(1))
    ix = _compact1by1(morton).astype(np.int64)
    iy = _compact1by1(morton >> np.uint64(1)).astype(np.int64)
    return res, ix, iy


def cell_bounds(cell: int) -> Tuple[float, float, float, float]:
    """(lon_min, lat_min, lon_max, lat_max) of one cell."""
    res, ix, iy = decode_cell(np.array([cell]))
    n = float(1 << int(res[0]))
    w, h = 360.0 / n, 180.0 / n
    lon0 = -180.0 + ix[0] * w
    lat0 = -90.0 + iy[0] * h
    return float(lon0), float(lat0), float(lon0 + w), float(lat0 + h)


def cell_parent(cell: np.ndarray, parent_res: int) -> np.ndarray:
    res, ix, iy = decode_cell(cell)
    shift = res - parent_res
    if np.any(shift < 0):
        raise ValueError("parent_res coarser than cell res required")
    return encode_ixiy(ix >> shift, iy >> shift, parent_res)


def k_ring(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (the H3 k-ring analog).
    x wraps around the antimeridian; y clamps at the poles."""
    res, ix, iy = decode_cell(np.array([cell]))
    r = int(res[0])
    n = np.int64(1) << np.int64(r)
    dx = np.arange(-k, k + 1, dtype=np.int64)
    dy = np.arange(-k, k + 1, dtype=np.int64)
    gx, gy = np.meshgrid((ix[0] + dx) % n, iy[0] + dy)
    keep = (gy >= 0) & (gy < n)
    return np.unique(encode_ixiy(gx[keep], gy[keep], r))


def cover_bbox(
    xmin: float, ymin: float, xmax: float, ymax: float, res: int
) -> np.ndarray:
    """All cells at ``res`` whose bounds intersect the bbox (closed).

    ``xmin > xmax`` means the bbox straddles the antimeridian (the k_ring
    wrap convention): the x range wraps modulo the grid width."""
    ix0, iy0 = lonlat_to_ixiy(np.array([xmin]), np.array([ymin]), res)
    ix1, iy1 = lonlat_to_ixiy(np.array([xmax]), np.array([ymax]), res)
    n = np.int64(1) << np.int64(res)
    if xmin > xmax:  # antimeridian wrap: ix0..n-1 then 0..ix1
        span = (ix1[0] - ix0[0]) % n + 1
        if span == 1 and ix0[0] == ix1[0]:
            # both endpoints land in the SAME column yet the range wraps:
            # the excluded gap is sub-cell, so every column intersects
            span = n
        xs = (ix0[0] + np.arange(span, dtype=np.int64)) % n
    else:
        xs = np.arange(ix0[0], ix1[0] + 1, dtype=np.int64)
    ys = np.arange(iy0[0], iy1[0] + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return encode_ixiy(gx.ravel(), gy.ravel(), res)


def adaptive_cover_res(
    xmin: float, ymin: float, xmax: float, ymax: float, max_cells: int = 256, max_res: int = MAX_RES
) -> int:
    """Finest resolution whose bbox covering stays ≤ max_cells (polygon
    covering sets bounded so the build side of the cell join stays small)."""
    for res in range(max_res, -1, -1):
        n = 1 << res
        nx = int((xmax + 180.0) / 360.0 * n) - int((xmin + 180.0) / 360.0 * n) + 1
        ny = int((ymax + 90.0) / 180.0 * n) - int((ymin + 90.0) / 180.0 * n) + 1
        if nx * ny <= max_cells:
            return res
    return 0


def classify_cover(
    rings, res: int, pad_frac: float = 1e-9, max_pairs: int = 4_000_000
) -> Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """TRUE polygon covering at ``res`` (X1 as SURVEYed): bbox cell range ∩
    per-cell boundary/interior tests.  Returns
    ``(cells, full, n_edges, edges)``:

    * cells NOT touched by the polygon at all are DROPPED (bbox false
      positives stop scaling with polygon size);
    * ``full[i]`` ⇔ cell i lies ENTIRELY in the polygon interior — a point
      landing there is contained with no ray-cast needed, exact because
      the cell is connected and boundary-free, so containment is constant
      across it and the cell center's even-odd status decides it;
    * the rest are BOUNDARY cells.  Each carries the ring edges whose
      y-range meets its latitude band (the cell's row padded by
      ``pad_frac``) and whose east end reaches the cell's padded west
      border: ``edges`` is an (M, 4) float64 array of ``(x1, y1, x2, y2)``
      rows, cell i's ``n_edges[i]`` rows following cell i-1's; full cells
      carry none.  A point in the cell can cross no other edge with its +x
      ray, so the even-odd count over a cell's edges equals the count over
      the whole ring set (:func:`geom.pip.cell_edges`).

    :func:`cell_id` clamps points beyond the grid into its first/last rows
    and columns, so those cells' rects (SAT) and bands (edges) are
    open-ended outward: a clamped point sees every edge it could cross,
    and a border cell is never FULL.

    Boundary detection is a vectorized segment-vs-rect SAT over every ring
    edge × every covering cell (rect padded by ``pad_frac`` of the cell
    size so ties/ulp-grazings conservatively classify BOUNDARY, never
    FULL).  Edge blocks are chunked to ``max_pairs`` pairs so the E×C
    temporaries stay allocator-friendly on this host.

    Semantics preserved: composed with the even-odd refine this reproduces
    the reference contains() truth (examples/geotype-example/src/main.rs:
    15-36) — interior-only, holes via even-odd over the full ring set.
    """
    from .geom.pip import cell_edges, points_in_rings, ring_edges, rings_bbox

    rings = [np.asarray(r, dtype=np.float64) for r in rings if len(r) >= 2]
    if not rings:
        # all rings degenerate (<2 points): zero-area polygon contains
        # nothing under even-odd — empty covering, no crash (the bbox-only
        # covering this replaced also completed on such records)
        return (
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=bool),
            np.empty(0, dtype=np.int64),
            np.empty((0, 4), dtype=np.float64),
        )
    xmin, ymin, xmax, ymax = rings_bbox(rings)
    ix0, iy0 = lonlat_to_ixiy(np.array([xmin]), np.array([ymin]), res)
    ix1, iy1 = lonlat_to_ixiy(np.array([xmax]), np.array([ymax]), res)
    xs = np.arange(ix0[0], ix1[0] + 1, dtype=np.int64)
    ys = np.arange(iy0[0], iy1[0] + 1, dtype=np.int64)
    n = float(1 << res)
    w, h = 360.0 / n, 180.0 / n
    gx, gy = np.meshgrid(xs, ys)
    gx, gy = gx.ravel(), gy.ravel()  # row-major: one grid row after another
    C = len(gx)
    rx0 = -180.0 + gx * w
    ry0 = -90.0 + gy * h
    pad_x, pad_y = w * pad_frac, h * pad_frac
    px0 = np.where(gx == 0, -np.inf, rx0 - pad_x)
    py0 = np.where(gy == 0, -np.inf, ry0 - pad_y)
    px1 = np.where(gx == n - 1, np.inf, rx0 + w + pad_x)
    py1 = np.where(gy == n - 1, np.inf, ry0 + h + pad_y)

    E = ring_edges(rings)
    x1, y1, x2, y2 = E.T
    boundary = np.zeros(C, dtype=bool)
    step = max(1, max_pairs // max(C, 1))
    for s in range(0, len(x1), step):
        a1, b1 = x1[s : s + step, None], y1[s : s + step, None]
        a2, b2 = x2[s : s + step, None], y2[s : s + step, None]
        ovl = (
            (np.maximum(a1, a2) >= px0)
            & (np.minimum(a1, a2) <= px1)
            & (np.maximum(b1, b2) >= py0)
            & (np.minimum(b1, b2) <= py1)
        )
        dx, dy = a2 - a1, b2 - b1
        # open-ended border rects make some products inf-inf / 0*inf = NaN:
        # NaN compares False, so `same` is False and the cell stays BOUNDARY
        with np.errstate(invalid="ignore"):
            s00 = dx * (py0 - b1) - dy * (px0 - a1)
            s01 = dx * (py1 - b1) - dy * (px0 - a1)
            s10 = dx * (py0 - b1) - dy * (px1 - a1)
            s11 = dx * (py1 - b1) - dy * (px1 - a1)
        same = ((s00 > 0) & (s01 > 0) & (s10 > 0) & (s11 > 0)) | (
            (s00 < 0) & (s01 < 0) & (s10 < 0) & (s11 < 0)
        )
        boundary |= (ovl & ~same).any(axis=0)

    center_in = points_in_rings(rx0 + w / 2.0, ry0 + h / 2.0, rings)
    keep = boundary | center_in
    full = center_in & ~boundary

    # each boundary cell's edges: its grid row's band, trimmed to the edges
    # reaching its padded west border
    bnd = boundary[keep]
    cnt, idx = cell_edges(
        E, py0[:: len(xs)], py1[:: len(xs)], (gy - iy0[0])[keep][bnd], px0[keep][bnd]
    )
    n_edges = np.zeros(len(bnd), dtype=np.int64)
    n_edges[bnd] = cnt
    edges = E[idx]
    return encode_ixiy(gx[keep], gy[keep], res), full[keep], n_edges, edges


def cover_polygon_bbox(wkb_blob: bytes, res: int) -> np.ndarray:
    """Covering cells of a polygon's bbox at ``res`` — a superset of the
    cells the polygon touches; the PIP refine stage removes false positives."""
    from .geom.pip import rings_bbox
    from .geom.wkb import wkb_rings

    xmin, ymin, xmax, ymax = rings_bbox(wkb_rings(wkb_blob))
    return cover_bbox(xmin, ymin, xmax, ymax, res)


# --------------------------------------------------------------------------
# Catalyst twins: the same cell math as JVM column expressions, so the
# point-side hot path stays inside whole-stage codegen (no Python at all).
# Bit-parity with the numpy kernels is pinned by tests/test_geom_cells.py.
# --------------------------------------------------------------------------

_SPREAD_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread_col(c):
    """Column twin of :func:`_part1by1` (long col, low 29 bits)."""
    from pyspark.sql import functions as F

    c = c.bitwiseAND(F.lit(0x1FFFFFFF))
    for shift, mask in _SPREAD_MASKS:
        c = c.bitwiseOR(F.shiftleft(c, shift)).bitwiseAND(F.lit(mask))
    return c


def cell_id_col(lon, lat, res: int):
    """Column twin of :func:`cell_id` — point → cell id at a fixed res."""
    from pyspark.sql import functions as F

    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be 0..{MAX_RES}")
    n = 1 << res
    ix = (
        F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n))))
    ).cast("long")
    iy = (
        F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(n))))
    ).cast("long")
    return (
        F.lit(res << _RES_SHIFT)
        .bitwiseOR(_spread_col(ix))
        .bitwiseOR(F.shiftleft(_spread_col(iy), 1))
    )


# --------------------------------------------------------------------------
# web-mercator-style z/x/y raster tiles (R1 operator)
# --------------------------------------------------------------------------


def tile_xy(lon: np.ndarray, lat: np.ndarray, z: int) -> Tuple[np.ndarray, np.ndarray]:
    """Equirectangular z/x/y tile ids (x: 2^z across lon, y: 2^z across lat,
    y=0 at lat=+90 like slippy tiles). Matches the SQL oracle expression
    ``floor((lon+180)/360 * 2^z)`` / ``floor((90-lat)/180 * 2^z)``."""
    n = np.int64(1) << np.int64(z)
    tx = np.clip(np.floor((np.asarray(lon) + 180.0) / 360.0 * n).astype(np.int64), 0, int(n) - 1)
    ty = np.clip(np.floor((90.0 - np.asarray(lat)) / 180.0 * n).astype(np.int64), 0, int(n) - 1)
    return tx, ty
