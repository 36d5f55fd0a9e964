"""Streaming spatial pipeline: a stream of pages joined against a static
polygon dim (stream-static broadcast join), geotagged and tile-counted
incrementally.

The logical plan is the batch engine applied to a streaming DataFrame:
geotag_pages, then the broadcast phase of point_in_polygon_join itself
(driver-side covering, cell-equi join, the in-JVM even-odd refine), then
the tile columns — Catalyst plans the stream-static join as a broadcast
hash join per micro-batch, so the batch plan's properties (no stream
shuffle before the aggregate, codegen'd parse, no Python worker) carry
over.  availableNow replay over a static directory reproduces the batch
result exactly (pinned by tests).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.spatial_join import point_in_polygon_join
from ..operators.tiles import tile_x_col, tile_y_col
from ..pages import geotag_pages


def read_page_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """Parquet file-source stream of page rows (input_hint schema or any
    superset carrying ``html``)."""
    schema = spark.read.parquet(input_path).schema
    if os.path.isfile(input_path):
        d = tempfile.mkdtemp(prefix="pgstream_")
        os.symlink(input_path, os.path.join(d, os.path.basename(input_path)))
        input_path = d
    return spark.readStream.schema(schema).parquet(input_path)


def stream_pip_tiles(pages_stream: DataFrame, polygons: DataFrame, z: int = 6) -> DataFrame:
    """stream(pages) ⋈ static(polygons) → per-(polygon, tile) page counts.

    The polygon side (static, small) goes through the broadcast phase of
    :func:`point_in_polygon_join`; the stream side is geotagged and
    cell-indexed map-side; the only stateful operator is the final
    aggregation."""
    tagged = geotag_pages(pages_stream).select("url", "lon", "lat")
    inside = point_in_polygon_join(
        tagged,
        polygons,
        point_cols=["url", "lon", "lat"],
        polygon_cols=["polygon_id"],
        broadcast_polygons=True,
    )
    return (
        inside.withColumn("tile_x", tile_x_col(F.col("lon"), z))
        .withColumn("tile_y", tile_y_col(F.col("lat"), z))
        .groupBy("polygon_id", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )
