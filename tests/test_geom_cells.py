"""Unit tests: ring semantics, WKB conversion, ray-cast PIP, cell index."""

import numpy as np
import pytest

from shapefile_rs_spark import cells as C
from shapefile_rs_spark import fixtures as FX
from shapefile_rs_spark.geom import pip as P
from shapefile_rs_spark.geom import rings as R
from shapefile_rs_spark.geom import wkb as W
from shapefile_rs_spark.shapelib.shptypes import OrphanedInnerRing


def test_ring_orientation_sign_convention():
    """CW ⇒ outer, CCW ⇒ inner (src/record/mod.rs:133-145 convention)."""
    ccw = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]])
    cw = ccw[::-1].copy()
    assert R.ring_role(cw) == R.OUTER
    assert R.ring_role(ccw) == R.INNER


def test_close_and_reorder():
    open_ccw = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0]])
    ring = R.close_and_reorder(open_ccw, R.OUTER)
    assert R.is_closed(ring)
    assert R.ring_role(ring) == R.OUTER


def test_group_rings_orphan():
    inner = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]])
    with pytest.raises(OrphanedInnerRing):
        R.group_rings([inner], [R.INNER], strict=True)
    groups = R.group_rings([inner], [R.INNER], strict=False)
    assert len(groups) == 1


def test_polygon_wkb_groups_rings():
    rec = FX.fx_polygon_hole()[0]
    blob = W.shape_to_wkb(rec)
    gtype, polys = W.parse_wkb(blob)
    assert gtype == W.WKB_MULTIPOLYGON
    assert len(polys) == 1 and len(polys[0]) == 2  # outer + hole


def test_polyline_wkb():
    rec = FX.fx_line()[0]
    gtype, parts = W.parse_wkb(W.shape_to_wkb(rec))
    assert gtype == W.WKB_MULTILINESTRING
    assert len(parts) == 2 and parts[0].shape == (5, 2)


def test_multipatch_wkb_ring_patches_only():
    rec = FX.fx_multipatch()[0]  # TriangleStrip/Fan -> unsupported
    with pytest.raises(Exception):
        W.shape_to_wkb(rec)


def test_pip_hole_semantics():
    rec = FX.fx_join_polygons()[0][0]  # square with hole
    blob = W.shape_to_wkb(rec)
    px = np.array([2.0, 5.0, 8.0, 11.0])
    py = np.array([2.0, 5.0, 9.0, 5.0])
    inside = P.points_in_polygon_wkb(px, py, blob)
    assert inside.tolist() == [True, False, True, False]


def test_join_fixture_golden():
    polys, _ = FX.fx_join_polygons()
    pts, _ = FX.fx_join_points()
    rings_per_poly = [W.wkb_rings(W.shape_to_wkb(p)) for p in polys]
    xy = np.vstack([p.xy for p in pts])
    pairs = P.nested_loop_pip_oracle(xy, rings_per_poly)
    got = sorted((i + 1, j + 1) for i, j in pairs)
    assert got == FX.JOIN_GOLDEN


def test_cell_roundtrip():
    rng = np.random.default_rng(42)
    lon = rng.uniform(-180, 180, 1000)
    lat = rng.uniform(-90, 90, 1000)
    for res in (0, 5, 12, 29):
        cid = C.cell_id(lon, lat, res)
        r, ix, iy = C.decode_cell(cid)
        assert (r == res).all()
        ix2, iy2 = C.lonlat_to_ixiy(lon, lat, res)
        assert (ix == ix2).all() and (iy == iy2).all()
        # cell bounds contain the point
        b = C.cell_bounds(int(cid[0]))
        assert b[0] <= lon[0] <= b[2] and b[1] <= lat[0] <= b[3]


def test_cell_parent_consistency():
    lon = np.array([12.34]); lat = np.array([45.67])
    fine = C.cell_id(lon, lat, 20)
    coarse = C.cell_id(lon, lat, 10)
    assert C.cell_parent(fine, 10)[0] == coarse[0]


def test_k_ring():
    cid = int(C.cell_id(np.array([0.0]), np.array([0.0]), 10)[0])
    ring0 = C.k_ring(cid, 0)
    assert ring0.tolist() == [cid]
    ring1 = C.k_ring(cid, 1)
    assert len(ring1) == 9
    ring2 = C.k_ring(cid, 2)
    assert len(ring2) == 25
    assert set(ring1.tolist()) <= set(ring2.tolist())


def test_k_ring_pole_clamp_and_wrap():
    top = int(C.cell_id(np.array([179.9]), np.array([89.9]), 4)[0])
    ring = C.k_ring(top, 1)
    assert len(ring) == 6  # 3x3 minus the 3 above the pole, x wraps


def test_cover_bbox():
    cover = C.cover_bbox(-1.0, -1.0, 1.0, 1.0, 8)
    assert len(cover) >= 4
    # every covering cell's bounds intersect the bbox
    for cid in cover.tolist():
        x0, y0, x1, y1 = C.cell_bounds(cid)
        assert x1 >= -1.0 and x0 <= 1.0 and y1 >= -1.0 and y0 <= 1.0


def test_adaptive_cover_res_bounds_cells():
    res = C.adaptive_cover_res(0.0, 0.0, 10.0, 10.0, max_cells=64)
    cover = C.cover_bbox(0.0, 0.0, 10.0, 10.0, res)
    assert len(cover) <= 64
    finer = C.cover_bbox(0.0, 0.0, 10.0, 10.0, res + 1)
    assert len(finer) > 64


def test_tile_xy_matches_sql_formula():
    lon = np.array([-180.0, 0.0, 179.99])
    lat = np.array([90.0, 0.0, -89.99])
    tx, ty = C.tile_xy(lon, lat, 3)
    n = 8
    exp_tx = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1)
    exp_ty = np.clip(np.floor((90.0 - lat) / 180.0 * n), 0, n - 1)
    assert tx.tolist() == exp_tx.astype(int).tolist()
    assert ty.tolist() == exp_ty.astype(int).tolist()


def test_classify_cover_exact_partition():
    """classify_cover's three-way split is exact: FULL cells are entirely
    interior (dense sampling), dropped bbox cells contain no interior point,
    and boundary cells are exactly where ring edges pass — each carrying
    the edges that decide its points."""
    import numpy as np
    from shapefile_rs_spark.geom.pip import crossings_matrix, points_in_rings, rings_bbox

    t = np.linspace(0, 2 * np.pi, 48, endpoint=False)
    outer = np.column_stack([(9 + 2 * np.sin(4 * t)) * np.cos(t) + 15,
                             (9 + 2 * np.sin(4 * t)) * np.sin(t) + 5])
    outer = np.vstack([outer, outer[0]])
    th = np.linspace(0, 2 * np.pi, 16, endpoint=False)
    hole = np.vstack([np.column_stack([2 * np.cos(th) + 15, 2 * np.sin(th) + 5])])
    hole = np.vstack([hole, hole[0]])
    rings = [outer, hole]

    res = 9
    cells, full, n_edges, edges = C.classify_cover(rings, res)
    assert full.sum() > 0 and (~full).sum() > 0
    # full cells carry no edges; boundary cells carry their band's edges
    assert (n_edges[full] == 0).all() and (n_edges[~full] > 0).all()
    assert n_edges.sum() == len(edges)
    # the west trim: along a grid row, cells farther east keep fewer edges
    _, ix, iy = C.decode_cell(cells)
    drops = 0
    for row in np.unique(iy):
        sel = (iy == row) & ~full
        cnt = n_edges[sel][np.argsort(ix[sel])]
        assert (np.diff(cnt) <= 0).all()
        drops += int(cnt[0] > cnt[-1])
    assert drops > 0
    start = np.cumsum(n_edges) - n_edges
    kept = set(int(c) for c in cells)
    for i, (cell, f) in enumerate(zip(cells, full)):
        x0, y0, x1, y1 = C.cell_bounds(int(cell))
        gx, gy = np.meshgrid(np.linspace(x0 + 1e-9, x1 - 1e-9, 8),
                             np.linspace(y0 + 1e-9, y1 - 1e-9, 8))
        ins = points_in_rings(gx.ravel(), gy.ravel(), rings)
        if f:
            assert ins.all()  # FULL ⇒ every sampled point inside
            continue
        # a boundary cell's own edges decide every point that lands in it,
        # its borders and one ulp either side included
        xs = np.concatenate([gx.ravel(), np.nextafter(x0, -np.inf), x0, np.nextafter(x0, np.inf),
                             np.full(3, (x0 + x1) / 2)], axis=None)
        ys = np.concatenate([gy.ravel(), np.full(3, (y0 + y1) / 2),
                             np.nextafter(y0, -np.inf), y0, np.nextafter(y1, -np.inf)], axis=None)
        home = C.cell_id(xs, ys, res) == cell
        own = crossings_matrix(xs, ys, edges[start[i] : start[i] + n_edges[i]]) % 2 == 1
        assert (own == points_in_rings(xs, ys, rings))[home].all()
    for cell in (int(c) for c in C.cover_bbox(*rings_bbox(rings), res)):
        if cell in kept:
            continue
        x0, y0, x1, y1 = C.cell_bounds(cell)
        gx, gy = np.meshgrid(np.linspace(x0 + 1e-9, x1 - 1e-9, 8),
                             np.linspace(y0 + 1e-9, y1 - 1e-9, 8))
        assert not points_in_rings(gx.ravel(), gy.ravel(), rings).any()


def test_cover_bbox_antimeridian_wrap():
    """xmin > xmax wraps the x range across the antimeridian (the k_ring
    convention) instead of producing an empty/creeping covering."""
    import numpy as np

    res = 6
    wrap = C.cover_bbox(175.0, -5.0, -175.0, 5.0, res)
    east = C.cover_bbox(175.0, -5.0, 179.999999, 5.0, res)
    west = C.cover_bbox(-180.0, -5.0, -175.0, 5.0, res)
    assert set(wrap.tolist()) == set(east.tolist()) | set(west.tolist())
    assert len(wrap) > 0
    # ordinary bboxes unchanged
    plain = C.cover_bbox(-1.0, -1.0, 1.0, 1.0, res)
    assert len(plain) == len(set(plain.tolist()))


def test_cover_bbox_wrap_same_column_covers_ring():
    """A wrapped bbox whose endpoints land in the SAME cell column spans
    (almost) the whole ring — the covering must include every column, not
    collapse to one."""
    import numpy as np

    from shapefile_rs_spark import cells as C

    res = 6
    n = 1 << res
    cells = C.cover_bbox(10.0, -5.0, 9.0, 5.0, res)  # gap inside one column
    _, ix, iy = C.decode_cell(np.asarray(cells, dtype=np.int64))
    assert len(set(ix.tolist())) == n
    # normal wrap (distinct columns) unchanged
    cells2 = C.cover_bbox(170.0, -5.0, -170.0, 5.0, res)
    _, ix2, _ = C.decode_cell(np.asarray(cells2, dtype=np.int64))
    assert 0 < len(set(ix2.tolist())) < n


def test_classify_cover_degenerate_rings_empty():
    """All-degenerate rings (<2 points) → empty covering, no crash (the
    bbox covering this replaced completed on such records too)."""
    import numpy as np

    from shapefile_rs_spark import cells as C

    cells, full, n_edges, edges = C.classify_cover([np.array([[1.0, 2.0]])], res=6)
    assert len(cells) == 0 and len(full) == 0 and len(n_edges) == 0 and len(edges) == 0
