"""End-to-end flagship job: pages → geotag → cell index → PIP join → tiles.

Every stage commits through :class:`CheckpointedPipeline` (Iceberg-style
snapshot + per-partition lineage rows); a killed run resumes from the last
committed stage without recomputation.  Ships as a plain spark-submit job::

    cd /root/repo && zip -qr /tmp/engine.zip shapefile_rs_spark
    spark-submit --py-files /tmp/engine.zip jobs/run_pipeline.py \
        --sf-dir /root/testdata/sf0.01 --out /tmp/pipeline_run \
        [--rows 10000000] [--tile-z 6] [--salt 0]

On a cluster, drop ``--master local[*]`` defaults and submit with the usual
``--num-executors N``; nothing in the job is local-mode specific (stage data
is parquet under --out, which would be an Iceberg warehouse path in
production — see lineage.py for the adapter contract).

Prints one JSON line: per-stage rows/wall-times, lineage summary, and
pages/sec for the compute stages.  A stage's ``partitions`` is the number
of parquet files its write produced (one lineage row per writer task's
``part-NNNNN`` file), not the partition count of a later read.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def build_args(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--out", required=True, help="checkpoint/output root")
    p.add_argument("--rows", type=int, default=0,
                   help="synthesize N pages instead of reading documents")
    p.add_argument("--tile-z", type=int, default=6)
    p.add_argument("--salt", type=int, default=0, help="hot-cell salt factor (0=auto broadcast)")
    p.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    return p.parse_args(argv)


def run(spark, args) -> dict:
    from shapefile_rs_spark import demo
    from shapefile_rs_spark.lineage import CheckpointedPipeline
    from shapefile_rs_spark.operators.spatial_join import point_in_polygon_join, with_cells
    from shapefile_rs_spark.operators.tiles import tile_aggregate
    from shapefile_rs_spark.pages import geotag_pages, pages_from_documents, synth_pages_from_ids

    pipe = CheckpointedPipeline(spark, args.out)
    t_all = time.time()
    already_done = [
        s for s in ("pages", "indexed", "pip", "tiles") if pipe.completed(s)
    ]

    def stage_pages():
        if args.rows:
            ids = spark.range(0, args.rows, 1, args.cpus * 4).withColumnRenamed("id", "page_id")
            pages = synth_pages_from_ids(ids)
        else:
            pages = pages_from_documents(spark, args.sf_dir)
        return geotag_pages(pages).select("url", "doc_id", "lon", "lat")

    pages = pipe.run_stage("pages", stage_pages)

    # cell index, partitioned by cell so the downstream join co-locates;
    # the pip stage consumes THIS output (pre_indexed + fixed_res), so the
    # checkpoint is on the join's critical path, not a dead side write
    indexed = pipe.run_stage(
        "indexed", lambda: with_cells(pages, [8]).repartition(F.col("cell_id"))
    )

    polygons = demo.oracle_polygons_df(spark)

    def stage_pip():
        return point_in_polygon_join(
            indexed,
            polygons,
            point_cols=["url", "doc_id", "lon", "lat"],
            polygon_cols=["polygon_id"],
            fixed_res=8,
            pre_indexed=True,
            broadcast_polygons=None if args.salt == 0 else False,
            salt_factor=args.salt,
        )

    pip = pipe.run_stage("pip", stage_pip)

    tiles = pipe.run_stage(
        "tiles",
        lambda: tile_aggregate(
            pip,
            z=args.tile_z,
            aggs=[
                F.count(F.lit(1)).alias("n_pages"),
                F.count_distinct("polygon_id").alias("n_polygons"),
            ],
        ),
    )

    lineage = pipe.lineage()
    by_stage = {}
    for r in lineage:
        s = by_stage.setdefault(r["stage"], {"rows": 0, "partitions": 0, "wall_ms": r["wall_ms"]})
        s["rows"] += r["output_rows"]
        s["partitions"] += 1
    n_pages = by_stage.get("pages", {}).get("rows", 0)
    compute_ms = sum(s["wall_ms"] for s in by_stage.values())
    return {
        "stages": by_stage,
        "joined_rows": by_stage.get("pip", {}).get("rows"),
        "tile_rows": by_stage.get("tiles", {}).get("rows"),
        "pages": n_pages,
        "pages_per_sec": round(n_pages / (compute_ms / 1000.0), 1) if compute_ms else None,
        "wall_sec": round(time.time() - t_all, 3),
        "resumed_stages": already_done,
    }


def main():
    args = build_args()
    from shapefile_rs_spark.session import get_spark

    spark = get_spark(app_name="run_pipeline", master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(run(spark, args)))
    spark.stop()


if __name__ == "__main__":
    main()
