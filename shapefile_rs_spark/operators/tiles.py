"""Raster-tile ↔ vector operators (R1).

Tiles are equirectangular z/x/y (slippy-style: x across lon, y from +90 lat
down).  Tile assignment of points is pure Catalyst arithmetic — stays inside
whole-stage codegen, no Python in the hot path.  Tile↔polygon assignment
reuses the PIP refine predicate with tile centers as the point side: each
polygon-tile row carries its band's ring edges, so no polygon re-join and
no Python worker decides containment.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .spatial_join import EDGES_TYPE, edge_list_array, refine_col


def tile_x_col(lon, z: int):
    n = 1 << z
    return F.least(
        F.lit(n - 1),
        F.greatest(F.lit(0), F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))),
    ).cast("long")


def tile_y_col(lat, z: int):
    n = 1 << z
    return F.least(
        F.lit(n - 1),
        F.greatest(F.lit(0), F.floor((F.lit(90.0) - lat) / F.lit(180.0) * F.lit(float(n)))),
    ).cast("long")


def assign_tiles(points: DataFrame, z: int, lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """+ (tile_z, tile_x, tile_y) — JVM-side expressions only."""
    return (
        points.withColumn("tile_z", F.lit(z))
        .withColumn("tile_x", tile_x_col(F.col(lon_col), z))
        .withColumn("tile_y", tile_y_col(F.col(lat_col), z))
    )


def tile_aggregate(
    points: DataFrame, z: int, lon_col: str = "lon", lat_col: str = "lat", aggs: Optional[list] = None
) -> DataFrame:
    """Per-tile rollup (partial+final aggregation handled by Catalyst)."""
    aggs = aggs or [F.count(F.lit(1)).alias("n_pages")]
    return assign_tiles(points, z, lon_col, lat_col).groupBy("tile_z", "tile_x", "tile_y").agg(*aggs)


def polygon_tiles(
    polygons: DataFrame, z: int, wkb_col: str = "wkb", id_cols: Optional[List[str]] = None
) -> DataFrame:
    """Explode each polygon into the z/x/y tiles its bbox covers.  Each tile
    row carries in ``_edges`` the ring edges whose y-range meets the tile
    row's latitude band and whose east end reaches the tile's west border
    (both padded like :func:`..cells.classify_cover`) — all the even-odd
    test of a point in that tile needs (:func:`refine_col`)."""
    id_cols = id_cols or [c for c in polygons.columns if c != wkb_col]
    schema = ", ".join(
        [f"`{c}` {polygons.schema[c].dataType.simpleString()}" for c in id_cols]
        + ["tile_z int", "tile_x bigint", "tile_y bigint", f"_edges {EDGES_TYPE}"]
    )
    n = 1 << z
    tw, th = 360.0 / n, 180.0 / n
    pad_x, pad_y = tw * 1e-9, th * 1e-9

    def cover(batches):
        import pyarrow as pa

        from ..geom.pip import cell_edges, ring_edges, rings_bbox
        from ..geom.wkb import wkb_rings

        for batch in batches:
            # WKB parse per polygon; the tile-rectangle and edge expansion
            # is numpy repeat/tile, not nested Python loops
            rep, tx, ty, n_e, edges = [], [], [], [], []
            for i, blob in enumerate(batch.column(wkb_col).to_pylist()):
                rings = wkb_rings(blob)
                xmin, ymin, xmax, ymax = np.asarray(rings_bbox(rings), dtype=np.float64)
                tx0 = int(np.clip(np.floor((xmin + 180.0) / 360.0 * n), 0, n - 1))
                tx1 = int(np.clip(np.floor((xmax + 180.0) / 360.0 * n), 0, n - 1))
                ty0 = int(np.clip(np.floor((90.0 - ymax) / 180.0 * n), 0, n - 1))
                ty1 = int(np.clip(np.floor((90.0 - ymin) / 180.0 * n), 0, n - 1))
                # x-major, y inner; band b is tile row ty1 - b (latitude
                # ascending), and each tile keeps the edges reaching its
                # padded west border
                nx, ny = tx1 - tx0 + 1, ty1 - ty0 + 1
                x = np.repeat(np.arange(tx0, tx1 + 1, dtype=np.int64), ny)
                y = np.tile(np.arange(ty0, ty1 + 1, dtype=np.int64), nx)
                rows = np.arange(ty1, ty0 - 1, -1)
                E = ring_edges(rings)
                cnt, idx = cell_edges(
                    E,
                    90.0 - (rows + 1) * th - pad_y,
                    90.0 - rows * th + pad_y,
                    ty1 - y,
                    np.where(x == 0, -np.inf, -180.0 + x * tw - pad_x),
                )
                rep.append(np.full(nx * ny, i, dtype=np.int64))
                tx.append(x)
                ty.append(y)
                n_e.append(cnt)
                edges.append(E[idx])
            if not rep:
                continue
            out = {c: batch.column(c).take(pa.array(np.concatenate(rep))) for c in id_cols}
            tx_v = np.concatenate(tx)
            out["tile_z"] = pa.array(np.full(len(tx_v), z, dtype=np.int32))
            out["tile_x"] = pa.array(tx_v)
            out["tile_y"] = pa.array(np.concatenate(ty))
            out["_edges"] = edge_list_array(np.concatenate(n_e), np.concatenate(edges))
            yield pa.RecordBatch.from_pydict(out)

    return polygons.select(*id_cols, wkb_col).mapInArrow(cover, schema=schema)


def tile_polygon_assignment(
    polygons: DataFrame,
    z: int,
    wkb_col: str = "wkb",
    polygon_key: str = "polygon_id",
    center_rule: bool = True,
) -> DataFrame:
    """(tile_z, tile_x, tile_y, polygon_id): tiles whose CENTER lies inside
    the polygon (center_rule) — deterministic, oracle-expressible assignment,
    decided in the JVM by the even-odd predicate over each tile row's band
    edges.  Without center_rule, returns the bbox covering (superset)."""
    tiles = polygon_tiles(polygons, z, wkb_col=wkb_col, id_cols=[polygon_key])
    if not center_rule:
        return tiles.drop("_edges")
    n = float(1 << z)
    clon = (F.col("tile_x") + F.lit(0.5)) / F.lit(n) * F.lit(360.0) - F.lit(180.0)
    clat = F.lit(90.0) - (F.col("tile_y") + F.lit(0.5)) / F.lit(n) * F.lit(180.0)
    inside = tiles.filter(refine_col(clon, clat, F.col("_edges")))
    return inside.select(polygon_key, "tile_z", "tile_x", "tile_y")


def tile_pyramid(
    assignments: DataFrame,
    from_z: int,
    to_z: int,
    count_col: str = "n",
) -> DataFrame:
    """Zoom-pyramid rollup: per-tile counts at every level to_z..from_z.

    Hierarchical: level z-1 aggregates level z's ALREADY-AGGREGATED rows
    (4:1 parent arithmetic, ``x >> 1``), so the base table is scanned once
    and the whole pyramid costs ~4/3 of the base aggregation — the
    standard tile-server precompute shape.  Counts are summed as BIGINT
    (ANSI mode: overflow is loud, and tile counts fit comfortably).
    """
    assert from_z >= to_z
    cur = (
        assignments.groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias(count_col))
        .withColumn("tile_z", F.lit(from_z))
    )
    levels = [cur]
    for z in range(from_z - 1, to_z - 1, -1):
        cur = (
            cur.groupBy(
                F.shiftright("tile_x", 1).alias("tile_x"),
                F.shiftright("tile_y", 1).alias("tile_y"),
            )
            .agg(F.sum(count_col).cast("bigint").alias(count_col))
            .withColumn("tile_z", F.lit(z))
        )
        levels.append(cur)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.select("tile_z", "tile_x", "tile_y", count_col)
