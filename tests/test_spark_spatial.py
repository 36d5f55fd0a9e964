"""Spark-path tests: shapefile source/sink, page table, PIP join vs oracle."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from shapefile_rs_spark import fixtures as FX
from shapefile_rs_spark.operators.spatial_join import point_in_polygon_join
from shapefile_rs_spark.pages import extract_text, geotag_pages, lonlat_numpy, pages_from_documents
from shapefile_rs_spark.sources.shapefile_source import read_shapefiles, shapes_with_typed_attrs


def test_read_shapefiles_source(spark, join_fixture_dir):
    shapes = read_shapefiles(spark, join_fixture_dir)
    rows = shapes.orderBy("source_file", "record_number").collect()
    assert len(rows) == 9  # 7 points + 2 polygons
    by_file = {}
    for r in rows:
        by_file.setdefault(r.source_file.rsplit("/", 1)[-1], []).append(r)
    assert len(by_file["points"]) == 7
    assert len(by_file["polygons"]) == 2
    pt1 = by_file["points"][0]
    assert (pt1.xmin, pt1.ymin) == (2.0, 2.0) and pt1.shape_type == 1
    poly1 = by_file["polygons"][0]
    assert poly1.num_parts == 2 and poly1.wkb is not None
    # typed attrs
    typed = shapes_with_typed_attrs(shapes, {"id": "bigint", "Type": "string"})
    tr = [r for r in typed.collect() if r.source_file.endswith("polygons")]
    assert sorted((r.id, r.Type) for r in tr) == [(1, "square-with-hole"), (2, "triangle")]


def test_pages_text_byte_identity(spark, sf_dir):
    """extract_text(html) must equal the source text byte-for-byte — the
    input_hint invariant."""
    pages = pages_from_documents(spark, sf_dir)
    bad = pages.filter(extract_text(F.col("html")) != F.col("text")).count()
    assert bad == 0
    n = pages.count()
    assert n > 0
    # url uniqueness
    assert pages.select("url").distinct().count() == n


def test_geotag_extraction_bit_exact(spark, sf_dir):
    """Parsed lat/lon must equal the SQL-arithmetic derivation bit-for-bit."""
    pages = geotag_pages(pages_from_documents(spark, sf_dir))
    pdf = pages.select("doc_id", "lat", "lon").toPandas()
    exp_lon, exp_lat = lonlat_numpy(pdf["doc_id"].to_numpy())
    assert np.array_equal(pdf["lon"].to_numpy(), exp_lon)
    assert np.array_equal(pdf["lat"].to_numpy(), exp_lat)


@pytest.mark.parametrize("mode", ["broadcast", "shuffle", "salted"])
def test_pip_join_matches_nested_loop_oracle(spark, sf_dir, join_fixture_dir, mode):
    from shapefile_rs_spark.geom.pip import nested_loop_pip_oracle
    from shapefile_rs_spark.geom.wkb import shape_to_wkb, wkb_rings

    pages = geotag_pages(pages_from_documents(spark, sf_dir)).select("doc_id", "lon", "lat")
    shapes = read_shapefiles(spark, join_fixture_dir)
    polygons = (
        shapes_with_typed_attrs(shapes, {"id": "bigint"})
        .filter(F.col("source_file").endswith("polygons"))
        .select(F.col("id").alias("polygon_id"), "wkb")
    )
    kwargs = {}
    if mode == "shuffle":
        kwargs = {"broadcast_polygons": False}
    elif mode == "salted":
        kwargs = {"broadcast_polygons": False, "salt_factor": 4, "hot_cell_threshold": 10}
    result = point_in_polygon_join(
        pages, polygons, point_cols=["doc_id"], polygon_cols=["polygon_id"], **kwargs
    )
    got = sorted((r.doc_id, r.polygon_id) for r in result.collect())

    # oracle: O(N·M) nested loop in numpy
    pdf = pages.toPandas()
    polys, _ = FX.fx_join_polygons()
    rings_per_poly = [wkb_rings(shape_to_wkb(p)) for p in polys]
    xy = np.column_stack([pdf["lon"], pdf["lat"]])
    pairs = nested_loop_pip_oracle(xy, rings_per_poly)
    expected = sorted((int(pdf["doc_id"].iloc[i]), j + 1) for i, j in pairs)
    assert got == expected
    assert len(got) > 0  # fixture actually exercises the join


def test_shapefile_sink_roundtrip(spark, join_fixture_dir, tmp_path):
    from shapefile_rs_spark.sources.shapefile_sink import write_shapefiles

    shapes = read_shapefiles(spark, join_fixture_dir).filter(
        F.col("source_file").endswith("polygons")
    )
    out = write_shapefiles(
        shapes.withColumn("output_stem", F.lit("roundtrip")),
        str(tmp_path),
    )
    assert len(out) == 1
    back = read_shapefiles(spark, str(tmp_path))
    rows = back.orderBy("record_number").collect()
    orig = shapes.orderBy("record_number").collect()
    assert len(rows) == len(orig) == 2
    for a, b in zip(rows, orig):
        assert a.wkb == b.wkb and a.num_points == b.num_points


def test_cell_id_col_matches_numpy_kernel(spark):
    """The Catalyst Morton twin must be bit-identical to the numpy kernel
    (cells.cell_id_col vs cells.cell_id) across resolutions and edges."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from shapefile_rs_spark import cells as C

    rng = np.random.default_rng(7)
    lon = np.concatenate(
        [rng.uniform(-180, 180, 5000), [-180.0, 180.0, 0.0, -179.9999999, 179.9999999]]
    )
    lat = np.concatenate(
        [rng.uniform(-90, 90, 5000), [-90.0, 90.0, 0.0, 89.9999999, -89.9999999]]
    )
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    for res in (0, 6, 8, 29):
        got = np.array(
            [r[0] for r in df.select(C.cell_id_col(F.col("lon"), F.col("lat"), res)).collect()]
        )
        assert (got == C.cell_id(lon, lat, res)).all()


def test_with_cells_multi_level_union(spark):
    """Multi-resolution indexing (union-of-levels) yields one row per
    (point, level) with the right per-level ids."""
    import pandas as pd
    from pyspark.sql import functions as F

    from shapefile_rs_spark import cells as C
    from shapefile_rs_spark.operators.spatial_join import with_cells

    pts = spark.createDataFrame(pd.DataFrame({"lon": [1.0, 50.0], "lat": [2.0, -10.0]}))
    out = with_cells(pts, [4, 8]).collect()
    assert len(out) == 4
    for r in out:
        import numpy as np

        want = C.cell_id(np.array([r["lon"]]), np.array([r["lat"]]), r["cell_res"])[0]
        assert r["cell_id"] == want


def test_typed_scan_mismatch_fails(spark, join_fixture_dir):
    """EP2 typed-scan parity: reading a polygon file as POINT must raise
    MismatchShapeType inside the task (reference src/record/mod.rs:55-68)."""
    import pytest
    from pyspark.errors import PythonException

    from shapefile_rs_spark.shapelib.shptypes import POINT, POLYGON
    from shapefile_rs_spark.sources.shapefile_source import read_shapefiles

    ok = read_shapefiles(spark, join_fixture_dir, pattern="points", expected_type=POINT)
    assert ok.count() == 7
    bad = read_shapefiles(spark, join_fixture_dir, pattern="polygons", expected_type=POINT)
    with pytest.raises(Exception) as exc:
        bad.count()
    assert "MismatchShapeType" in str(exc.value)


def test_salting_bounds_hot_cells(spark, sf_dir):
    """W1: with salting active, no single (cell, salt) key holds more than
    ~1/salt_factor of a hot cell's rows (the reducer-bound guarantee)."""
    from pyspark.sql import functions as F

    from shapefile_rs_spark.operators.spatial_join import with_cells
    from shapefile_rs_spark.pages import geotag_pages, pages_from_documents

    pts = with_cells(
        geotag_pages(pages_from_documents(spark, sf_dir)).select("doc_id", "lon", "lat"),
        [8],
    )
    salt_factor = 8
    hot_threshold = 20
    hot = (
        pts.groupBy("cell_res", "cell_id")
        .count()
        .filter(F.col("count") >= hot_threshold)
        .select("cell_res", "cell_id", F.col("count").alias("cell_rows"))
    )
    assert hot.count() > 0  # the generator plants hot clusters
    salted = (
        pts.join(F.broadcast(hot), ["cell_res", "cell_id"])
        .withColumn("_salt", F.pmod(F.xxhash64("lon", "lat"), F.lit(salt_factor)))
        .groupBy("cell_res", "cell_id", "_salt", "cell_rows")
        .count()
    )
    # every salted shard must be well under the whole hot cell (bound with
    # slack for hash imbalance on small cells)
    bad = salted.filter(F.col("count") > (F.col("cell_rows") * 3) / salt_factor)
    assert bad.count() == 0


def test_source_error_surface(spark, tmp_path):
    """Reference error parity (tests/read_tests.rs:803-845 analogs):
    OrphanedInnerRing propagates from the default-mode source, MissingDbf
    under require_dbf, MissingIndexFile from random access without .shx."""
    from pyspark.errors import PythonException

    from shapefile_rs_spark.shapelib.shp import read_nth_shape, write_shp
    from shapefile_rs_spark.shapelib.shptypes import MissingIndexFile

    d = tmp_path / "bad"
    d.mkdir()
    shp, shx = write_shp(FX.fx_polygon())  # inner-before-outer record
    (d / "orphan.shp").write_bytes(shp)
    (d / "orphan.shx").write_bytes(shx)

    with pytest.raises(PythonException, match="OrphanedInnerRing"):
        read_shapefiles(spark, str(d)).collect()
    # scan-everything mode nulls the wkb instead
    rows = read_shapefiles(spark, str(d), on_invalid="null").collect()
    assert len(rows) == 1 and rows[0].wkb is None

    with pytest.raises(PythonException, match="MissingDbf"):
        read_shapefiles(spark, str(d), on_invalid="null", require_dbf=True).collect()

    with pytest.raises(MissingIndexFile):
        read_nth_shape(shp, None, 0)


def test_sink_zm_multipatch_null_and_cpg(spark, tmp_path):
    """Sink parity: Z/M export with ring normalization, NullShape
    pass-through, and .cpg emission honoring GBK on re-read
    (src/writer.rs:97-145; src/reader.rs:664-684)."""
    import numpy as np

    from shapefile_rs_spark.geom import rings as R
    from shapefile_rs_spark.geom.wkb import multipolygon_wkb, point_wkb, parse_wkb
    from shapefile_rs_spark.shapelib.dbf import DbfField
    from shapefile_rs_spark.sources.shapefile_sink import write_shapefiles

    # GIS-convention CCW + unclosed outer ring: the write side must close
    # and reorder so the file re-reads with an OUTER first ring
    ccw_open = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], float)
    rows = [
        ("pz", 1, 15, multipolygon_wkb([[ccw_open]]), [1.0, 2.0, 3.0, 4.0], None, "聚合"),
        ("pz", 2, None, None, None, None, "空"),
    ]

    def gen(batches):
        import pandas as pd

        if sum(len(b) for b in batches):
            yield pd.DataFrame(
                rows, columns=["stem", "record_number", "shape_type", "wkb", "z", "m", "名称"]
            )

    inp = spark.range(0, 1, 1, 1).mapInPandas(
        gen,
        schema="stem string, record_number int, shape_type int, wkb binary,"
        " z array<double>, m array<double>, `名称` string",
    )
    out = tmp_path / "sunk"
    write_shapefiles(
        inp,
        str(out),
        stem_col="stem",
        shape_type_col="shape_type",
        z_col="z",
        m_col="m",
        dbf_fields=[DbfField("名称", "C", 20, 0)],
        attr_cols=["名称"],
        encoding="cp936",
        crs_wkt='GEOGCS["WGS 84"]',
    )
    assert (out / "pz.cpg").read_text() == "936"
    assert (out / "pz.prj").read_text() == 'GEOGCS["WGS 84"]'

    got = read_shapefiles(spark, str(out)).orderBy("record_number").collect()
    assert [r.shape_type for r in got] == [15, 0]
    assert got[0].crs_wkt == 'GEOGCS["WGS 84"]'  # .prj honored on re-read
    r1 = got[0]
    assert r1.num_points == 5  # closed on write
    # first ring classifies OUTER after normalization
    _, payload = parse_wkb(bytes(r1.wkb))
    assert R.ring_role(payload[0][0]) == R.OUTER
    # z followed the reversed/closed ring: same multiset, closing dup added
    assert sorted(r1.z) == [1.0, 1.0, 2.0, 3.0, 4.0]
    # GBK attrs honored via the emitted .cpg
    import json

    assert json.loads(r1.attrs_json)["名称"] == "聚合"
    assert got[1].wkb is None and got[1].num_points == 0


def test_salted_join_sampled_census_same_rows(spark, sf_dir):
    """A sampled hot-cell census changes only WHICH cells get salted
    (physical layout) — the join's output row set is invariant."""
    from shapefile_rs_spark import demo
    from shapefile_rs_spark.operators.spatial_join import point_in_polygon_join
    from shapefile_rs_spark.pages import geotag_pages, pages_from_documents

    pages = geotag_pages(pages_from_documents(spark, sf_dir)).select(
        "doc_id", "lon", "lat"
    )
    kwargs = dict(
        point_cols=["doc_id"],
        polygon_cols=["polygon_id"],
        broadcast_polygons=False,
        salt_factor=4,
        hot_cell_threshold=10,
    )
    full = {
        (r["doc_id"], r["polygon_id"])
        for r in point_in_polygon_join(
            pages, demo.oracle_polygons_df(spark), **kwargs
        ).collect()
    }
    sampled = {
        (r["doc_id"], r["polygon_id"])
        for r in point_in_polygon_join(
            pages, demo.oracle_polygons_df(spark), census_sample=0.3, **kwargs
        ).collect()
    }
    assert sampled == full and len(full) > 0


def test_polygon_stats_goldens(spark):
    """Shoelace area subtracts holes; perimeter sums all rings."""
    from shapefile_rs_spark import demo
    from shapefile_rs_spark.operators.geostats import polygon_stats

    rows = {
        r["polygon_id"]: r
        for r in polygon_stats(demo.oracle_polygons_df(spark)).collect()
    }
    assert rows[1]["n_rings"] == 2 and rows[1]["n_outer"] == 1
    assert abs(rows[1]["area"] - 96.16) < 1e-9  # 10.01^2 - 2.01^2
    assert abs(rows[1]["perimeter"] - 48.08) < 1e-9
    assert rows[2]["n_rings"] == 1
    assert abs(rows[2]["area"] - 50.0) < 1e-9


def test_tile_pyramid_parent_sums(spark, sf_dir):
    """Every parent tile's count equals the sum of its (up to 4) children;
    every level totals the full row count."""
    from shapefile_rs_spark.operators.tiles import assign_tiles, tile_pyramid
    from shapefile_rs_spark.pages import geotag_pages, pages_from_documents

    pages = geotag_pages(pages_from_documents(spark, sf_dir))
    pyr = tile_pyramid(assign_tiles(pages, z=5), from_z=5, to_z=2).collect()
    total = pages.count()
    by_level = {}
    for r in pyr:
        by_level.setdefault(r["tile_z"], {})[(r["tile_x"], r["tile_y"])] = r["n"]
    assert set(by_level) == {2, 3, 4, 5}
    for z in by_level:
        assert sum(by_level[z].values()) == total
    for z in (5, 4, 3):
        for (x, y), n in by_level[z].items():
            parent = by_level[z - 1][(x >> 1, y >> 1)]
            assert parent >= n  # child never exceeds its parent


def test_simplify_polylines_dp(spark):
    """Douglas-Peucker: near-collinear vertices drop at loose tolerance,
    survive at tight tolerance; endpoints always kept."""
    import numpy as np

    from shapefile_rs_spark.geom.wkb import multilinestring_wkb, parse_wkb
    from shapefile_rs_spark.operators.geostats import simplify_polylines

    # zig line: (0,0)->(5,0.1)->(10,0)->(15,5) ; middle dev 0.1
    line = np.array([[0, 0], [5, 0.1], [10, 0], [15, 5]], float)
    df = spark.createDataFrame(
        [(1, bytearray(multilinestring_wkb([line])))], "line_id bigint, wkb binary"
    )
    loose = simplify_polylines(df, tolerance=0.5).collect()[0]
    assert (loose["n_vertices_in"], loose["n_vertices_out"]) == (4, 3)
    _, parts = parse_wkb(bytes(loose["wkb"]))
    assert np.allclose(parts[0][[0, -1]], line[[0, -1]])  # endpoints kept
    tight = simplify_polylines(df, tolerance=0.01).collect()[0]
    assert tight["n_vertices_out"] == 4


def test_convex_hull_per_group(spark):
    """applyInPandas hull: square + interior points -> 4-vertex hull of
    area 100; hull ring is CW (shapefile OUTER convention)."""
    from shapefile_rs_spark.geom import rings as R
    from shapefile_rs_spark.geom.wkb import parse_wkb
    from shapefile_rs_spark.operators.geostats import convex_hull_per_group

    rows = [("a", x, y) for x in (0.0, 10.0) for y in (0.0, 10.0)]
    rows += [("a", 5.0, 5.0), ("a", 2.0, 7.0)]  # interior
    rows += [("b", 0.0, 0.0), ("b", 1.0, 1.0)]  # degenerate 2-point group
    df = spark.createDataFrame(rows, "g string, lon double, lat double")
    out = {r["g"]: r for r in convex_hull_per_group(df, ["g"]).collect()}
    assert out["a"]["n_hull_vertices"] == 4
    assert abs(out["a"]["hull_area"] - 100.0) < 1e-9
    _, payload = parse_wkb(bytes(out["a"]["wkb"]))
    assert R.ring_role(payload[0][0]) == R.OUTER
    assert out["b"]["hull_area"] == 0.0


def test_interior_cells_bypass_refine_udf(spark):
    """Fully-interior covering cells skip the ray-cast: they carry no edges
    (``_edges`` empty) and ``cell_full`` alone admits their candidates;
    boundary cells carry their band's edges.  Exactness pinned against the
    nested-loop oracle on a polygon big enough to have interior cells."""
    import numpy as np
    from shapefile_rs_spark import cells as C
    from shapefile_rs_spark.geom.pip import nested_loop_pip_oracle
    from shapefile_rs_spark.geom.wkb import multipolygon_wkb
    from shapefile_rs_spark.operators.spatial_join import (
        point_in_polygon_join,
        polygon_covering,
    )

    ring = np.array(
        [[0.0, 0.0], [30.0, 0.0], [30.0, 20.0], [0.0, 20.0], [0.0, 0.0]]
    )
    wkb = multipolygon_wkb([[ring]])
    res = 8  # cell ~1.4° → plenty of interior cells inside a 30×20 box
    cells, full, _, _ = C.classify_cover([ring], res)
    assert full.sum() > 0

    rng = np.random.default_rng(5)
    pts = rng.uniform([-5, -5], [35, 25], size=(400, 2))
    pts_df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "point_id bigint, lon double, lat double",
    )
    poly_df = spark.createDataFrame([(1, bytearray(wkb))], "polygon_id bigint, wkb binary")
    got = {
        (r["point_id"], r["polygon_id"])
        for r in point_in_polygon_join(
            pts_df,
            poly_df,
            point_cols=["point_id"],
            polygon_cols=["polygon_id"],
            fixed_res=res,
        ).collect()
    }
    want = {(i, j + 1) for i, j in nested_loop_pip_oracle(pts, [[ring]])}
    assert got == want and len(want) > 100

    # the bypass contract itself: full cells carry empty _edges, boundary
    # cells a non-empty band, and the Spark covering is classify_cover's
    cov = polygon_covering(poly_df, fixed_res=res).collect()
    assert {r["cell_id"]: r["cell_full"] for r in cov} == dict(
        zip(cells.tolist(), full.tolist())
    )
    assert all((len(r["_edges"]) == 0) == r["cell_full"] for r in cov)


def test_refine_predicate_bit_identical_to_numpy(spark):
    """The in-JVM even-odd refine gives exactly geom.pip.points_in_rings'
    booleans — directly over every ring edge, and through the join, where
    each candidate sees only its covering cell's band edges — on points on
    cell borders and one ulp either side, on vertices, on horizontal edges
    (ANSI on: a division by zero would raise), inside holes and
    multi-polygon parts, beyond ±90° in the clamped grid rows, and NaN —
    and tile_polygon_assignment's tile centers likewise."""
    import numpy as np
    import pyarrow as pa

    from shapefile_rs_spark import cells as C
    from shapefile_rs_spark.geom.pip import points_in_rings, ring_edges, rings_bbox
    from shapefile_rs_spark.geom.wkb import multipolygon_wkb, wkb_rings
    from shapefile_rs_spark.operators.spatial_join import (
        edge_list_array,
        point_in_polygon_join,
        refine_col,
    )
    from shapefile_rs_spark.operators.tiles import tile_polygon_assignment

    def closed(xy):
        xy = np.asarray(xy, dtype=np.float64)
        return np.vstack([xy, xy[:1]])

    sq = closed([[-0.005, -0.005], [10.005, -0.005], [10.005, 10.005], [-0.005, 10.005]])
    hole = closed([[3.995, 3.995], [6.005, 3.995], [6.005, 6.005], [3.995, 6.005]])
    tri = closed([[20.005, 0.005], [30.005, 5.005], [20.005, 10.005]])
    north = closed([[-40.0, 80.0], [40.0, 80.0], [40.0, 100.0], [0.0, 92.0], [-40.0, 100.0]])
    south = closed([[100.0, -80.0], [140.0, -80.0], [140.0, -100.0], [100.0, -100.0]])
    polys = [[[sq, hole], [tri]], [[north]], [[south]], [[closed([[0.1, 0.1], [0.2, 0.3], [0.3, 0.1]])]]]
    blobs = [bytes(multipolygon_wkb(p)) for p in polys]
    rings = [wkb_rings(b) for b in blobs]

    rng = np.random.default_rng(17)
    up = lambda v: np.nextafter(v, np.inf)  # noqa: E731
    dn = lambda v: np.nextafter(v, -np.inf)  # noqa: E731
    lons, lats = [], []

    def add(x, y):
        x, y = np.broadcast_arrays(np.asarray(x, np.float64), np.asarray(y, np.float64))
        lons.append(x.ravel())
        lats.append(y.ravel())

    for rs in rings:
        xmin, ymin, xmax, ymax = rings_bbox(rs)
        V = np.vstack(rs)
        for fx in (lambda v: v, up, dn):  # vertices and one ulp around them
            for fy in (lambda v: v, up, dn):
                add(fx(V[:, 0]), fy(V[:, 1]))
        for res in sorted({3, C.adaptive_cover_res(xmin, ymin, xmax, ymax, 256, 12)}):
            n = 1 << res
            ky = np.arange(np.floor((ymin + 90) / 180 * n), np.ceil((ymax + 90) / 180 * n) + 1)
            kx = np.arange(np.floor((xmin + 180) / 360 * n), np.ceil((xmax + 180) / 360 * n) + 1)
            by, bx = -90.0 + ky * (180.0 / n), -180.0 + kx * (360.0 / n)
            for f in (lambda v: v, up, dn):  # cell borders and one ulp around
                add(rng.uniform(xmin, xmax, len(by)), f(by))
                add(f(bx), rng.uniform(ymin, ymax, len(bx)))
        add(rng.uniform(xmin - 1, xmax + 1, 1500), rng.uniform(ymin - 1, ymax + 1, 1500))
        E = ring_edges(rs)
        flat = E[E[:, 1] == E[:, 3]]  # points ON horizontal edges' lines
        for x1, y, x2, _ in flat:
            add(np.linspace(min(x1, x2) - 1, max(x1, x2) + 1, 41), y)
    add([0.0, 20.0, 30.0, 0.0, 120.0, 120.0], [95.0, 95.0, 99.0, 123.0, -95.0, -130.0])
    add([np.nan, 5.0, np.nan, 20.0], [5.0, np.nan, np.nan, 95.0])
    px, py = np.concatenate(lons), np.concatenate(lats)
    want = np.stack([points_in_rings(px, py, rs) for rs in rings], axis=1)
    assert want.any(axis=0).all() and (~want).any(axis=0).all()
    assert np.isnan(px).any() and (py > 90).any() and (py < -90).any()

    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        pts = spark.createDataFrame(  # Arrow keeps NaN a NaN (pandas would null it)
            pa.table({"point_id": np.arange(len(px)), "lon": px, "lat": py})
        )
        E_all = [ring_edges(rs) for rs in rings]
        all_edges = spark.createDataFrame(
            pa.table(
                {
                    "polygon_id": np.arange(len(rings)),
                    "_edges": edge_list_array(
                        np.array([len(e) for e in E_all]), np.concatenate(E_all)
                    ),
                }
            )
        )
        direct = np.zeros_like(want)
        for r in (
            pts.crossJoin(F.broadcast(all_edges))
            .filter(refine_col(F.col("lon"), F.col("lat"), F.col("_edges")))
            .select("point_id", "polygon_id")
            .collect()
        ):
            direct[r[0], r[1]] = True
        assert (direct == want).all()

        poly_df = spark.createDataFrame(
            pa.table({"polygon_id": np.arange(len(blobs)), "wkb": pa.array(blobs, pa.binary())})
        )
        for kw in ({}, {"fixed_res": 3}, {"broadcast_polygons": False}):
            joined = np.zeros_like(want)
            for r in point_in_polygon_join(
                pts, poly_df, point_cols=["point_id"], polygon_cols=["polygon_id"], **kw
            ).collect():
                joined[r[0], r[1]] = True
            assert (joined == want).all(), kw

        # tile centers are points too: each polygon-tile row decides its
        # center over the edges polygon_tiles gave it
        z = 7
        n = 1 << z
        tx, ty = (g.ravel() for g in np.meshgrid(np.arange(n), np.arange(n)))
        clon = (tx + 0.5) / n * 360.0 - 180.0
        clat = 90.0 - (ty + 0.5) / n * 180.0
        want_t = {
            (i, int(x), int(y))
            for i, rs in enumerate(rings)
            for x, y in zip(*(v[points_in_rings(clon, clat, rs)] for v in (tx, ty)))
        }
        got_t = {
            tuple(r)
            for r in tile_polygon_assignment(poly_df, z)
            .select("polygon_id", "tile_x", "tile_y")
            .collect()
        }
        assert got_t == want_t and len(want_t) > 50
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_memo_attrs_through_source(spark, tmp_path):
    """A stem with a .dbt sidecar surfaces memo text in attrs_json; the
    same stem without the sidecar reads the field as null (dbase-crate
    memo surface, src/lib.rs:60)."""
    import json

    from shapefile_rs_spark import fixtures as FX
    from shapefile_rs_spark.shapelib.dbf import DbfField, write_dbf, write_dbt
    from shapefile_rs_spark.shapelib.shp import write_shp

    shp, shx = write_shp(FX.fx_point())
    memos = ["parcel notes: corner lot", "see survey 1878"]
    dbt, blocks = write_dbt(memos[:1])
    fields = [DbfField("ID", "N", 4, 0), DbfField("NOTE", "M", 10, 0)]
    dbf = write_dbf(fields, [{"ID": 7, "NOTE": blocks[0]}])
    for ext, blob in (("shp", shp), ("shx", shx), ("dbf", dbf), ("dbt", dbt)):
        (tmp_path / f"memo.{ext}").write_bytes(blob)
    (tmp_path / "bare.shp").write_bytes(shp)
    (tmp_path / "bare.shx").write_bytes(shx)
    (tmp_path / "bare.dbf").write_bytes(dbf)

    rows = {
        r.source_file.rsplit("/", 1)[-1]: json.loads(r.attrs_json)
        for r in read_shapefiles(spark, str(tmp_path)).collect()
    }
    assert rows["memo"] == {"ID": 7, "NOTE": memos[0]}
    assert rows["bare"] == {"ID": 7, "NOTE": None}


def test_strip_fan_multipatch_dataframe_roundtrip(spark, tmp_path):
    """TriangleStrip/Fan multipatch — whose geometry WKB cannot express
    (defined-unsupported, src/record/multipatch.rs:359-402) — round-trips
    DataFrame-level via the raw-geometry columns (writer contract
    src/writer.rs:97-145)."""
    import numpy as np
    import pandas as pd

    from shapefile_rs_spark.shapelib.shp import ShapeRec, write_shp
    from shapefile_rs_spark.shapelib.shptypes import MULTIPATCH
    from shapefile_rs_spark.sources.shapefile_sink import write_shapefiles

    xy = np.array(
        [[0, 0], [0, 2], [2, 0], [2, 2], [4, 0], [4, 2],
         [10, 0], [8, 2], [9, 3], [11, 3], [12, 2]], dtype=float
    )
    rec = ShapeRec(
        MULTIPATCH, xy,
        z=np.arange(1.0, 12.0), m=np.full(11, 2.0),
        parts=np.array([0, 6], dtype=np.int32),
        patch_types=np.array([0, 1], dtype=np.int32),  # STRIP, FAN
    )
    shp, shx = write_shp([rec])
    src = tmp_path / "src"
    src.mkdir()
    (src / "strip.shp").write_bytes(shp)
    (src / "strip.shx").write_bytes(shx)

    shapes = read_shapefiles(spark, str(src), raw_geometry=True)
    row = shapes.collect()[0]
    assert row.wkb is None  # strip/fan cannot ride WKB
    assert list(row.patch_types) == [0, 1] and list(row.parts) == [0, 6]

    out = tmp_path / "out"
    write_shapefiles(
        shapes.withColumn("output_stem", F.lit("rt")),
        str(out),
        shape_type_col="shape_type",
        z_col="z",
        m_col="m",
        xy_col="xy",
        parts_col="parts",
        patch_types_col="patch_types",
    )
    assert (out / "rt.shp").read_bytes() == shp  # byte-identical re-write

    back = read_shapefiles(spark, str(out), raw_geometry=True).collect()[0]
    assert list(back.patch_types) == [0, 1]
    assert np.asarray(back.xy).tolist() == xy.reshape(-1).tolist()
    assert list(back.z) == list(np.arange(1.0, 12.0))


def test_read_shapefile_headers(spark, join_fixture_dir):
    """Per-file header metadata rows (Header public API, src/header.rs:42-73)
    without decoding records: shape_type + file length + 8-value bbox."""
    from shapefile_rs_spark.shapelib.shp import read_header
    from shapefile_rs_spark.sources.shapefile_source import read_shapefile_headers

    hdrs = {
        r.source_file.rsplit("/", 1)[-1]: r
        for r in read_shapefile_headers(spark, join_fixture_dir).collect()
    }
    assert set(hdrs) == {"points", "polygons"}
    import os

    for stem, row in hdrs.items():
        with open(os.path.join(join_fixture_dir, stem + ".shp"), "rb") as fh:
            h = read_header(fh.read())
        assert row.shape_type == h.shape_type
        assert row.file_length_words == h.file_length_words
        assert (row.xmin, row.ymin, row.xmax, row.ymax) == h.bbox[:4]
        assert (row.zmin, row.zmax, row.mmin, row.mmax) == h.bbox[4:]


def test_memo_roundtrip_through_sink(spark, tmp_path):
    """DataFrame-level memo round trip: a text column written as an 'M'
    field resolves through the sink-emitted .dbt sidecar and reads back as
    the same text in attrs_json (dbase-crate memo surface, src/lib.rs:60;
    version byte 0x83 advertises the sidecar)."""
    import json

    from shapefile_rs_spark.geom.wkb import point_wkb
    from shapefile_rs_spark.shapelib.dbf import DbfField
    from shapefile_rs_spark.sources.shapefile_sink import write_shapefiles

    df = spark.createDataFrame(
        [
            ("m", 1, bytearray(point_wkb(1.0, 2.0)), "first parcel memo", 7),
            ("m", 2, bytearray(point_wkb(3.0, 4.0)), None, 8),
            ("m", 3, bytearray(point_wkb(5.0, 6.0)), "third memo " * 60, 9),
        ],
        "output_stem string, record_number int, wkb binary, NOTE string, ID int",
    )
    write_shapefiles(
        df,
        str(tmp_path),
        dbf_fields=[DbfField("ID", "N", 4, 0), DbfField("NOTE", "M", 10, 0)],
        attr_cols=["ID", "NOTE"],
    )
    assert (tmp_path / "m.dbt").exists()
    assert (tmp_path / "m.dbf").read_bytes()[0] == 0x83
    back = {
        r.record_number: json.loads(r.attrs_json)
        for r in read_shapefiles(spark, str(tmp_path)).collect()
    }
    assert back[1] == {"ID": 7, "NOTE": "first parcel memo"}
    assert back[2] == {"ID": 8, "NOTE": None}
    assert back[3]["NOTE"] == "third memo " * 60


def test_pip_join_carries_polygon_wkb_intact(spark):
    """polygon_cols carrying the wkb column must survive the interior-cell
    refine bypass un-nulled (the bypass feeds the UDF a TEMP column)."""
    from shapefile_rs_spark import demo
    from shapefile_rs_spark.operators.spatial_join import point_in_polygon_join

    polys = demo.oracle_polygons_df(spark)
    pts = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") % 100) * 0.1).alias("lon"),
        ((F.col("id") % 50) * 0.2).alias("lat"),
    )
    out = point_in_polygon_join(
        pts, polys,
        point_cols=["doc_id"],
        polygon_cols=["polygon_id", "wkb"],
    )
    rows = out.collect()
    assert rows, "grid must intersect the demo polygons"
    assert all(r.wkb is not None for r in rows)
