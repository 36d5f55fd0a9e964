"""Point-in-polygon spatial join — the engine's flagship operator (J1).

Replaces the reference's O(N·M) nested loop
(examples/geotype-example/src/main.rs:15-36) with the standard scalable
spatial-join decomposition:

1. **cover**: every polygon → its covering cells (adaptive resolution so the
   covering stays ≤ ``max_cover_cells``), CLASSIFIED by a vectorized
   segment-vs-rect SAT + center ray-cast (:func:`..cells.classify_cover`):
   cells outside the polygon are dropped (bbox false positives no longer
   scale with polygon size), fully-INTERIOR cells are flagged so their
   candidates skip the refine entirely, and each BOUNDARY cell carries in
   ``_edges`` the ring edges a point in it can cross: those whose y-range
   meets its latitude band and whose east end reaches its west border;
2. **index**: every point → its cell at each covering resolution level (≤3
   levels in practice — one `explode` of a tiny array, not a blow-up);
3. **cell-equi join** on (res, cell_id) — broadcast when the covering side is
   small (the common case: polygons ≪ points), shuffled hash/SMJ chosen by
   Catalyst+AQE otherwise, with optional explicit hot-cell salting;
4. **refine**: one Catalyst predicate, ``cell_full OR`` an odd count of
   the candidate's ray crossings with its covering row's ``_edges``
   (:func:`refine_col`) — the even-odd rule of src/record/polygon.rs:
   606-640 + src/record/mod.rs:133-145 with the numpy ray-cast's IEEE
   operand tree, so it stays in the JVM (no Arrow/Python boundary, no wkb
   re-join) and is bit-identical to :func:`..geom.pip.points_in_rings`.

Scale notes (100 TB story): the point side is never shuffled in the
broadcast path — cells are computed map-side and the join is a broadcast
hash join, so cost is one scan of the pages table.  In the shuffle path both
sides partition by (res, cell_id); hot cells (dense urban clusters) are
salted: point rows get a per-row salt, covering rows are replicated
``salt_factor`` times — bounding any single reducer at 1/salt_factor of the
hot cell.  AQE skew-join stays on as backstop.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .. import cells as C

EDGES_TYPE = "array<struct<x1:double,y1:double,x2:double,y2:double>>"


def edge_list_array(n_edges: np.ndarray, edges: np.ndarray):
    """Ragged (counts, (M, 4) edge rows) → the Arrow twin of
    :data:`EDGES_TYPE`: one list of ``(x1, y1, x2, y2)`` structs per row."""
    import pyarrow as pa

    offsets = np.zeros(len(n_edges) + 1, dtype=np.int32)
    np.cumsum(n_edges, out=offsets[1:])
    structs = pa.StructArray.from_arrays(
        [pa.array(edges[:, i]) for i in range(4)], names=["x1", "y1", "x2", "y2"]
    )
    return pa.ListArray.from_arrays(pa.array(offsets), structs)


def _cover_table(
    polys, id_cols: List[str], wkb_col: str, fixed_res, max_cover_cells: int, max_res: int
):
    """Arrow polygons (id_cols + wkb) → the covering as an Arrow table:
    (id_cols..., cell_id, cell_res, cell_full, _edges), one row per
    classified covering cell (:func:`..cells.classify_cover`)."""
    import pyarrow as pa

    from ..geom.pip import rings_bbox
    from ..geom.wkb import wkb_rings

    # one Python step per polygon (WKB parse is inherently per-blob); the
    # per-CELL expansion is numpy repeat/concat and Arrow take, never rows
    parts, res_v = [], []
    for blob in polys.column(wkb_col).to_pylist():
        rings = wkb_rings(blob)
        res = (
            fixed_res
            if fixed_res is not None
            else C.adaptive_cover_res(*rings_bbox(rings), max_cover_cells, max_res)
        )
        parts.append(C.classify_cover(rings, res))
        res_v.append(res)
    counts = np.array([len(p[0]) for p in parts], dtype=np.int64)

    def cat(i, empty):
        return np.concatenate([p[i] for p in parts]) if parts else empty

    rep = np.repeat(np.arange(len(parts)), counts)
    out = {c: polys.column(c).take(pa.array(rep)) for c in id_cols}
    out["cell_id"] = pa.array(cat(0, np.empty(0, dtype=np.int64)))
    out["cell_res"] = pa.array(np.repeat(np.asarray(res_v, dtype=np.int32), counts))
    out["cell_full"] = pa.array(cat(1, np.empty(0, dtype=bool)))
    out["_edges"] = edge_list_array(
        cat(2, np.empty(0, dtype=np.int64)), cat(3, np.empty((0, 4)))
    )
    return pa.table(out)


def polygon_covering(
    polygons: DataFrame,
    wkb_col: str = "wkb",
    id_cols: Optional[List[str]] = None,
    max_cover_cells: int = 256,
    max_res: int = 12,
    fixed_res: Optional[int] = None,
) -> DataFrame:
    """polygons → (id_cols..., cell_id, cell_res, cell_full, _edges): one
    row per covering cell, CLASSIFIED (X1 as SURVEYed): cells outside the
    polygon are dropped at the source; ``cell_full`` marks cells entirely
    in the interior; boundary cells carry in ``_edges`` the ring edges a
    point in the cell can cross, all the exact refine needs
    (:func:`refine_col`).

    Per-polygon adaptive resolution (finest res whose bbox covering is ≤
    ``max_cover_cells``) keeps giant polygons from exploding while small
    polygons stay selective.
    """
    id_cols = id_cols or [c for c in polygons.columns if c != wkb_col]
    schema = ", ".join(
        [f"`{c}` {polygons.schema[c].dataType.simpleString()}" for c in id_cols]
        + ["cell_id bigint", "cell_res int", "cell_full boolean", f"_edges {EDGES_TYPE}"]
    )

    def cover(batches):
        for batch in batches:
            yield from _cover_table(
                batch, id_cols, wkb_col, fixed_res, max_cover_cells, max_res
            ).to_batches()

    return polygons.select(*id_cols, wkb_col).mapInArrow(cover, schema=schema)


def refine_col(lon, lat, edges):
    """Exact even-odd test as ONE Catalyst expression: odd crossings of the
    +x ray from (lon, lat) with the ``edges`` array (:data:`EDGES_TYPE`).

    The same IEEE operand tree as :func:`..geom.pip.crossings_matrix`, so
    results are bit-identical to the numpy ray-cast.  The straddle test is
    the left operand of AND: a horizontal edge (y1 = y2) never straddles,
    so its division by zero is never evaluated (ANSI mode would raise)."""
    crossings = F.filter(
        edges,
        lambda e: ((e.y1 > lat) != (e.y2 > lat))
        & (lon < (e.x2 - e.x1) * (lat - e.y1) / (e.y2 - e.y1) + e.x1),
    )
    return F.size(crossings) % 2 == 1


def with_cells(
    points: DataFrame,
    res_levels: List[int],
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """points → + (cell_id, cell_res), exploded over the resolution levels
    present in the covering (multi-res equi-join trick).

    Cell ids are computed with pure Catalyst bit arithmetic
    (:func:`shapefile_rs_spark.cells.cell_id_col`) — the point side of the
    join never leaves whole-stage codegen.  Multi-level indexing is a UNION
    of per-level projections, NOT explode+CASE: a CASE over a generator
    output knocks the cell expression out of codegen (measured 20×
    slower), while the union keeps every branch a plain codegen'd map.
    The common case is a single level (no union at all); coverings produce
    ≤3 levels, and at 100 TB the extra source scans stay proportional to
    the number of levels actually present."""
    levels = sorted(set(int(r) for r in res_levels))
    lon, lat = F.col(lon_col), F.col(lat_col)
    parts = [
        points.withColumn("cell_res", F.lit(r)).withColumn(
            "cell_id", C.cell_id_col(lon, lat, r)
        )
        for r in levels
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@F.pandas_udf(StructType([StructField("ix", LongType()), StructField("iy", LongType())]))
def cell_ixiy(cell: pd.Series) -> pd.DataFrame:
    """cell_id → (ix, iy) grid coordinates (vectorized Morton decode)."""
    _, ix, iy = C.decode_cell(cell.to_numpy(dtype=np.int64))
    return pd.DataFrame({"ix": ix, "iy": iy})


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    point_cols: Optional[List[str]] = None,
    polygon_cols: Optional[List[str]] = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
    wkb_col: str = "wkb",
    polygon_key: str = "polygon_id",
    max_cover_cells: int = 256,
    max_res: int = 12,
    fixed_res: Optional[int] = None,
    broadcast_polygons: Optional[bool] = None,
    salt_factor: int = 0,
    hot_cell_threshold: int = 100_000,
    small_poly_threshold: int = 100_000,
    pre_indexed: bool = False,
    census_sample: Optional[float] = None,
) -> DataFrame:
    """Emit one row per (point, containing polygon) — the Q1 join.

    ``broadcast_polygons=None`` auto-selects: counts the polygon side (cheap,
    it is the small side) and broadcasts under ``small_poly_threshold``
    polygons — the explicit two-phase broadcast/sort-merge selection the
    north_star demands.  In the broadcast phase the covering is computed
    DRIVER-side with the numpy kernels (no Spark stage at all — the polygon
    side is by definition collectible) and shipped as an Arrow local
    relation, so the whole join is one codegen'd scan of the point side plus
    the refine predicate.  ``salt_factor>0`` activates explicit hot-cell
    salting for the shuffle path: point rows in hot cells get
    ``pmod(hash, salt_factor)`` appended to the key; covering rows for hot
    cells are replicated across all salts.

    Every path refines with :func:`refine_col` over the edges each covering
    row carries — no Python worker, and the polygon side is re-joined only
    when ``polygon_cols`` asks for columns beyond ``polygon_key``.

    ``pre_indexed=True`` declares that ``points`` already carries
    ``cell_res``/``cell_id`` at every covering resolution (use with
    ``fixed_res`` so the levels are known up front) — lets a checkpointed
    cell-index stage feed the join without recomputing cells.
    """
    point_cols = point_cols or [c for c in points.columns]
    polygon_cols = polygon_cols or [polygon_key]
    spark = points.sparkSession
    cover_args = dict(
        id_cols=[polygon_key],
        wkb_col=wkb_col,
        fixed_res=fixed_res,
        max_cover_cells=max_cover_cells,
        max_res=max_res,
    )

    if broadcast_polygons is None:
        broadcast_polygons = polygons.count() <= small_poly_threshold

    if broadcast_polygons:
        # an Arrow table plans as a LocalTableScan: no RDD, no Python worker
        cover_tbl = _cover_table(polygons.select(polygon_key, wkb_col).toArrow(), **cover_args)
        covering = spark.createDataFrame(cover_tbl)
        res_levels = np.unique(cover_tbl.column("cell_res").to_numpy()).tolist()
    else:
        covering = polygon_covering(polygons, **cover_args).persist()
        if fixed_res is not None:
            res_levels = [fixed_res]
        else:
            res_levels = [
                r["cell_res"] for r in covering.select("cell_res").distinct().collect()
            ]

    if pre_indexed:
        if "cell_id" not in points.columns or "cell_res" not in points.columns:
            raise ValueError("pre_indexed points need cell_id/cell_res columns")
        pts = points
    else:
        pts = with_cells(points, res_levels, lon_col=lon_col, lat_col=lat_col)

    if broadcast_polygons:
        candidates = pts.join(
            F.broadcast(covering),
            on=["cell_res", "cell_id"],
            how="inner",
        )
    elif salt_factor > 1:
        # explicit hot-cell salting (W1): census point cells, salt the hot
        # ones.  ``census_sample`` makes hot-cell DETECTION a cheap sampled
        # pass (threshold scaled by the fraction) — at 100 TB a full census
        # is an extra all-rows shuffle just to find the handful of hot
        # cells; which cells are salted affects only physical distribution,
        # never the join's output rows.
        census_src = pts if census_sample is None else pts.sample(census_sample, seed=7)
        eff_threshold = (
            hot_cell_threshold
            if census_sample is None
            else max(1, int(hot_cell_threshold * census_sample))
        )
        hot = (
            census_src.groupBy("cell_res", "cell_id")
            .count()
            .filter(F.col("count") >= eff_threshold)
            .select("cell_res", "cell_id", F.lit(True).alias("_hot"))
        )
        pts_s = (
            pts.join(F.broadcast(hot), ["cell_res", "cell_id"], "left")
            .withColumn(
                "_salt",
                F.when(
                    F.col("_hot"),
                    F.pmod(F.xxhash64(F.col(lon_col), F.col(lat_col)), F.lit(salt_factor)),
                ).otherwise(F.lit(0)),
            )
            .drop("_hot")
        )
        cov_s = (
            covering.join(F.broadcast(hot), ["cell_res", "cell_id"], "left")
            .withColumn(
                "_salt",
                F.explode(
                    F.when(
                        F.col("_hot"),
                        F.sequence(F.lit(0), F.lit(salt_factor - 1)),
                    ).otherwise(F.array(F.lit(0)))
                ),
            )
            .drop("_hot")
        )
        candidates = pts_s.join(cov_s, on=["cell_res", "cell_id", "_salt"], how="inner").drop("_salt")
    else:
        candidates = pts.join(covering, on=["cell_res", "cell_id"], how="inner")

    # interior-cell bypass: a candidate in a fully-interior cell is contained
    # by construction (its _edges are empty); boundary-cell candidates run
    # the even-odd test over their cell's edges
    refined = candidates.filter(
        F.col("cell_full") | refine_col(F.col(lon_col), F.col(lat_col), F.col("_edges"))
    )
    extra = [c for c in polygon_cols if c != polygon_key and c not in point_cols]
    if extra:
        poly_extra = polygons.select(polygon_key, *dict.fromkeys(extra))
        refined = refined.join(
            F.broadcast(poly_extra) if broadcast_polygons else poly_extra,
            on=polygon_key,
            how="inner",
        )
    keep = [c for c in point_cols if c not in ("cell_id", "cell_res", "cell_full")] + [
        c for c in polygon_cols if c not in point_cols
    ]
    return refined.select(*dict.fromkeys(keep))
