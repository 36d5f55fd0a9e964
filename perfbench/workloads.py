"""The four seeded workloads: input generation, output checks computed
without Spark, the measured op set, and the traced layer ladder.

Each workload owns a work directory.  ``generate`` writes every input from
the seed, ``expect`` computes the expected outputs with numpy and the
engine's driver-side kernels (no Spark), ``iteration`` runs the workload's
ops once through the engine's public functions and checks each output, and
``layers`` (traced runs only) times the layer prefixes and codecs.

An op is one public-function call plus the action that materializes it; an
exception or a failed output check makes it a failed op.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

TILE_Z = 6


class OpResult:
    __slots__ = ("name", "seconds", "error")

    def __init__(self, name, seconds, error=None):
        self.name = name
        self.seconds = seconds
        self.error = error


def _write_parquet(path, table, row_group_size=None):
    import pyarrow.parquet as pq

    pq.write_table(table, path, row_group_size=row_group_size)


def _distinct_ids(rng, n: int) -> np.ndarray:
    """n distinct int64 page ids below 2^40 in random order."""
    ids = np.unique(rng.integers(0, 1 << 40, size=int(n * 1.01) + 16, dtype=np.int64))
    rng.shuffle(ids)
    return ids[:n]


def _demo_rings():
    """Rings of the demo polygons straight from their ShapeRecs (no WKB)."""
    from shapefile_rs_spark import demo

    out = []
    for rec in demo.oracle_polygon_recs():
        out.append([rec.xy[s:e] for s, e in rec.part_slices()])
    return out


def _pip_numpy(lon, lat, chunk=200_000):
    """polygon id (1-based) → bool mask of the points strictly inside."""
    from shapefile_rs_spark.geom.pip import points_in_rings

    masks = {}
    for pid, rings in enumerate(_demo_rings(), start=1):
        parts = [
            points_in_rings(lon[s : s + chunk], lat[s : s + chunk], rings)
            for s in range(0, len(lon), chunk)
        ]
        masks[pid] = np.concatenate(parts) if parts else np.zeros(0, bool)
    return masks


def _expected_tiles(ids: np.ndarray) -> dict:
    """(tile_x, tile_y) → (n_pages, n_polygons) of the flagship pipeline,
    from pages.lonlat_numpy → geom.pip.points_in_rings → cells.tile_xy."""
    from shapefile_rs_spark.cells import tile_xy
    from shapefile_rs_spark.pages import lonlat_numpy

    lon, lat = lonlat_numpy(ids)
    txs, tys, pids = [], [], []
    for pid, inside in _pip_numpy(lon, lat).items():
        tx, ty = tile_xy(lon[inside], lat[inside], TILE_Z)
        txs.append(tx)
        tys.append(ty)
        pids.append(np.full(len(tx), pid, dtype=np.int64))
    tx, ty, pid = np.concatenate(txs), np.concatenate(tys), np.concatenate(pids)
    tile = (tx << TILE_Z) | ty  # tile_x, tile_y < 2^TILE_Z
    keys, n_pages = np.unique(tile, return_counts=True)
    n_polys = np.unique(np.unique(tile * 4 + pid) // 4, return_counts=True)[1]
    return {
        (int(k >> TILE_Z), int(k & ((1 << TILE_Z) - 1))): (int(n), int(p))
        for k, n, p in zip(keys, n_pages, n_polys)
    }


def _tile_rows(rows) -> dict:
    return {(r["tile_x"], r["tile_y"]): (r["n_pages"], r["n_polygons"]) for r in rows}


def _diff_dicts(got: dict, want: dict, what: str):
    if got == want:
        return None
    missing = [k for k in want if k not in got]
    extra = [k for k in got if k not in want]
    wrong = [k for k in want if k in got and got[k] != want[k]]
    return (
        f"{what}: {len(missing)} missing, {len(extra)} extra, {len(wrong)} wrong "
        f"(e.g. {(missing + extra + wrong)[:2]})"
    )


def _tile_agg(joined):
    from pyspark.sql import functions as F

    from shapefile_rs_spark.operators.tiles import tile_aggregate

    return tile_aggregate(
        joined,
        z=TILE_Z,
        aggs=[
            F.count(F.lit(1)).alias("n_pages"),
            F.count_distinct("polygon_id").alias("n_polygons"),
        ],
    )


def _broadcast_levels():
    """Cell resolutions the broadcast PIP path covers the demo polygons at
    (its default max_cover_cells/max_res), so the traced ladder can index
    points exactly as the join does."""
    from shapefile_rs_spark import cells as C
    from shapefile_rs_spark.geom.pip import rings_bbox

    return sorted({C.adaptive_cover_res(*rings_bbox(r)) for r in _demo_rings()})


class Workload:
    name = ""
    sizes: dict = {}
    # the workload classes whose per-layer metrics this workload reports
    parts: tuple = ()

    def __init__(self, work_dir: str, seed: int, size: str = "full"):
        self.work = work_dir
        self.seed = seed
        self.size = size
        self.n = self.sizes[size]
        os.makedirs(work_dir, exist_ok=True)

    @property
    def rows(self) -> int:
        """Input rows one iteration processes."""
        raise NotImplementedError

    def generate(self) -> None:
        raise NotImplementedError

    def expect(self) -> None:
        raise NotImplementedError

    def iteration(self, spark, tr) -> list:
        raise NotImplementedError

    def layers(self, spark, tr) -> dict:
        """Traced-run extras: layer prefixes and codec timings.  Returns
        named spans/values that :func:`per_layer` turns into metrics."""
        return {}

    def corrupt_expected(self) -> None:
        """Change one expected row (smoke test: the checks must bite)."""
        raise NotImplementedError

    @staticmethod
    def _op(name, fn, check):
        """Run one op and its check; exceptions become failed ops."""
        t0 = time.time()
        try:
            out = fn()
        except Exception as exc:  # noqa: BLE001 — a failed op is data
            import traceback

            traceback.print_exc()
            return OpResult(name, time.time() - t0, f"{type(exc).__name__}: {exc}")
        dt = time.time() - t0
        try:
            err = check(out)
        except Exception as exc:  # noqa: BLE001
            err = f"check raised {type(exc).__name__}: {exc}"
        return OpResult(name, dt, err)


# -- geo_tiles ------------------------------------------------------------------


class GeoTiles(Workload):
    """Read-only flagship: ids (multi-file parquet) → synth → geotag →
    broadcast PIP vs the demo polygons → tile aggregate."""

    name = "geo_tiles"
    parts = ("geo_tiles",)
    sizes = {"full": 1_000_000, "tiny": 4_000}
    files = 8

    @property
    def rows(self):
        return self.n

    def generate(self):
        import pyarrow as pa

        self.ids = _distinct_ids(np.random.default_rng(self.seed), self.n)
        self.ids_dir = os.path.join(self.work, "ids")
        os.makedirs(self.ids_dir, exist_ok=True)
        for i in range(self.files):
            _write_parquet(
                os.path.join(self.ids_dir, f"part-{i:03d}.parquet"),
                pa.table({"page_id": self.ids[i :: self.files]}),
            )

    def expect(self):
        self.want_tiles = _expected_tiles(self.ids)
        self.want_pairs = sum(v[0] for v in self.want_tiles.values())

    def corrupt_expected(self):
        k = sorted(self.want_tiles)[0]
        n, p = self.want_tiles[k]
        self.want_tiles[k] = (n + 1, p)

    def _joined(self, spark, tr, ids):
        from shapefile_rs_spark import demo
        from shapefile_rs_spark.operators.spatial_join import point_in_polygon_join
        from shapefile_rs_spark.pages import geotag_pages, synth_pages_from_ids

        with tr.span("pages.synth", "pages"):
            pages = synth_pages_from_ids(ids)
        with tr.span("pages.geotag", "pages"):
            pages = geotag_pages(pages)
        with tr.span("spatial_join.call", "spatial_join"):
            return point_in_polygon_join(
                pages.select("doc_id", "lon", "lat"),
                demo.oracle_polygons_df(spark),
                point_cols=["doc_id", "lon", "lat"],
                polygon_cols=["polygon_id"],
                broadcast_polygons=True,
            )

    def iteration(self, spark, tr):
        def run():
            with tr.span("geo_tiles", "op"):
                joined = self._joined(spark, tr, spark.read.parquet(self.ids_dir))
                with tr.span("tiles.aggregate", "tiles"):
                    rows = _tile_agg(joined).collect()
                    tr.count(rows_in=self.n, tiles_out=len(rows))
                    return rows

        res = self._op(
            "geo_tiles", run, lambda rows: _diff_dicts(_tile_rows(rows), self.want_tiles, "tiles")
        )
        return [res]

    def layers(self, spark, tr):
        return {"ladder": _flagship_ladder(spark, tr, self.ids_dir, full=True)}


def _flagship_ladder(spark, tr, ids_dir: str, full: bool) -> dict:
    """Time the flagship as prefixes materialized into a noop sink:
    scan → synth → geotag → cell index → PIP → tile aggregate.  A layer's
    time is the difference between successive prefixes."""
    from shapefile_rs_spark import demo
    from shapefile_rs_spark.operators.spatial_join import point_in_polygon_join, with_cells
    from shapefile_rs_spark.pages import geotag_pages, synth_pages_from_ids

    def ids():
        return spark.read.parquet(ids_dir)

    def pages():
        return geotag_pages(synth_pages_from_ids(ids())).select("doc_id", "lon", "lat")

    def joined():
        return point_in_polygon_join(
            pages(),
            demo.oracle_polygons_df(spark),
            point_cols=["doc_id", "lon", "lat"],
            polygon_cols=["polygon_id"],
            broadcast_polygons=True,
        )

    steps = [
        ("scan", ids),
        ("synth", lambda: synth_pages_from_ids(ids())),
        ("geotag", pages),
    ]
    if full:
        steps += [
            ("cells", lambda: with_cells(pages(), _broadcast_levels())),
            ("pip", joined),
            ("tiles", lambda: _tile_agg(joined())),
        ]
    out = {}
    for name, build in steps:
        with tr.span(f"ladder.{name}", "ladder") as sp:
            build().write.format("noop").mode("overwrite").save()
        out[name] = sp
    return out


# -- knn_skew -------------------------------------------------------------------


class KnnSkew(Workload):
    """Point table with a fifth of the points in three hot clusters:
    knn_join with a big query side, then the salted shuffle PIP join."""

    name = "knn_skew"
    parts = ("knn_skew",)
    sizes = {"full": (80_000, 3_000), "tiny": (6_000, 600)}
    hot_share = 0.2
    k = 8
    salt = 4
    sample = 64  # queries whose top-k is checked by brute force

    @property
    def rows(self):
        return self.n[0] + self.n[1]

    def _lonlat(self, rng, n):
        """Exactly a fifth of the rows split evenly over the three hot
        clusters (σ = 0.01°), the rest uniform over lon [0, 40), lat [0, 20),
        in random order: per-cluster counts do not vary with the seed."""
        from shapefile_rs_spark.pages import HOT_CENTERS

        lon = rng.uniform(0.0, 40.0, n)
        lat = rng.uniform(0.0, 20.0, n)
        n_hot = int(n * self.hot_share)
        centre = np.arange(n_hot) % len(HOT_CENTERS)
        c = np.asarray(HOT_CENTERS)[centre]
        lon[:n_hot] = c[:, 0] + rng.normal(0.0, 0.01, n_hot)
        lat[:n_hot] = c[:, 1] + rng.normal(0.0, 0.01, n_hot)
        order = rng.permutation(n)
        return lon[order], lat[order]

    def generate(self):
        import pyarrow as pa

        rng = np.random.default_rng(self.seed)
        n_pts, n_q = self.n
        self.pid = _distinct_ids(rng, n_pts)
        self.plon, self.plat = self._lonlat(rng, n_pts)
        self.qid = np.arange(n_q, dtype=np.int64)
        self.qlon, self.qlat = self._lonlat(rng, n_q)
        self.points_dir = os.path.join(self.work, "points")
        self.queries_dir = os.path.join(self.work, "queries")
        for d, table in (
            (self.points_dir, pa.table({"point_id": self.pid, "lon": self.plon, "lat": self.plat})),
            (
                self.queries_dir,
                pa.table({"query_id": self.qid, "q_lon": self.qlon, "q_lat": self.qlat}),
            ),
        ):
            os.makedirs(d, exist_ok=True)
            step = -(-len(table) // 4)
            for i in range(4):
                _write_parquet(os.path.join(d, f"part-{i}.parquet"), table.slice(i * step, step))
        self.sample_q = np.sort(
            np.random.default_rng(self.seed + 1).choice(n_q, size=self.sample, replace=False)
        )
        # hot cells hold ~n/15 points each, a uniform cell ~n/800
        self.hot_threshold = max(20, n_pts // 80)

    def expect(self):
        # brute force with the engine's operand tree and (dist2, point_id)
        # tie-break, for a seeded sample of queries
        self.want_knn = {}
        for q in self.sample_q:
            dlon = self.plon - self.qlon[q]
            dlat = self.plat - self.qlat[q]
            d2 = dlon * dlon + dlat * dlat
            # every point at or below the k-th smallest distance, then the
            # exact (dist2, point_id) order among them
            near = np.nonzero(d2 <= np.partition(d2, self.k - 1)[self.k - 1])[0]
            order = near[np.lexsort((self.pid[near], d2[near]))][: self.k]
            self.want_knn[int(q)] = [
                (int(self.pid[i]), float(d2[i]), r + 1) for r, i in enumerate(order)
            ]
        self.want_pip = {
            pid: int(m.sum()) for pid, m in _pip_numpy(self.plon, self.plat).items() if m.any()
        }

    def corrupt_expected(self):
        q = sorted(self.want_knn)[0]
        pid, d2, r = self.want_knn[q][0]
        self.want_knn[q][0] = (pid + 1, d2, r)

    def iteration(self, spark, tr):
        from pyspark.sql import functions as F

        from shapefile_rs_spark import demo
        from shapefile_rs_spark.operators.knn import knn_join
        from shapefile_rs_spark.operators.spatial_join import point_in_polygon_join

        points = spark.read.parquet(self.points_dir)
        queries = spark.read.parquet(self.queries_dir)
        sample = [int(q) for q in self.sample_q]

        def knn():
            with tr.span("knn.call", "knn"):
                res = knn_join(points, queries, k=self.k)
            with tr.span("knn.exec", "knn"):
                total = res.count()
                rows = res.filter(F.col("query_id").isin(sample)).collect()
                tr.count(queries_in=len(self.qid), rows_out=total)
            return total, rows

        def check_knn(out):
            total, rows = out
            if total != len(self.qid) * self.k:
                return f"knn rows {total} != {len(self.qid) * self.k}"
            got = {}
            for r in rows:
                got.setdefault(int(r["query_id"]), []).append(
                    (int(r["point_id"]), float(r["dist2"]), int(r["rank"]))
                )
            got = {q: sorted(v, key=lambda t: t[2]) for q, v in got.items()}
            return _diff_dicts(got, self.want_knn, "knn top-k")

        def pip():
            with tr.span("spatial_join.call", "spatial_join"):
                joined = point_in_polygon_join(
                    points,
                    demo.oracle_polygons_df(spark),
                    point_cols=["point_id", "lon", "lat"],
                    polygon_cols=["polygon_id"],
                    broadcast_polygons=False,
                    salt_factor=self.salt,
                    hot_cell_threshold=self.hot_threshold,
                )
            with tr.span("spatial_join.exec", "spatial_join"):
                rows = joined.groupBy("polygon_id").count().collect()
                tr.count(points_in=len(self.pid), pairs_out=sum(r["count"] for r in rows))
                return rows

        def check_pip(rows):
            got = {int(r["polygon_id"]): int(r["count"]) for r in rows}
            return _diff_dicts(got, self.want_pip, "salted pip counts")

        with tr.span("knn_skew", "op"):
            r1 = self._op("knn_join", knn, check_knn)
            r2 = self._op("pip_salted", pip, check_pip)
        return [r1, r2]


# -- checkpoint_resume -------------------------------------------------------

STAGES = ("pages", "indexed", "pip", "tiles")


class CheckpointResume(Workload):
    """The flagship stages through CheckpointedPipeline.run_stage into a
    fresh root (as jobs/run_pipeline.run does), then a resume pass over the
    committed root.  Ids come from ONE single-row-group parquet file."""

    name = "checkpoint_resume"
    parts = ("checkpoint_resume",)
    sizes = {"full": 100_000, "tiny": 3_000}

    @property
    def rows(self):
        return self.n

    def generate(self):
        import pyarrow as pa

        self.ids = _distinct_ids(np.random.default_rng(self.seed), self.n)
        self.ids_file = os.path.join(self.work, "ids.parquet")
        _write_parquet(self.ids_file, pa.table({"page_id": self.ids}), row_group_size=self.n)
        self.roots = 0

    def expect(self):
        self.want_tiles = _expected_tiles(self.ids)
        pairs = sum(v[0] for v in self.want_tiles.values())
        self.want_stage_rows = {
            "pages": self.n,
            "indexed": self.n,
            "pip": pairs,
            "tiles": len(self.want_tiles),
        }

    def corrupt_expected(self):
        self.want_stage_rows["pip"] += 1

    def _stages(self, spark, tr, pipe, tag):
        from pyspark.sql import functions as F

        from shapefile_rs_spark import demo
        from shapefile_rs_spark.operators.spatial_join import point_in_polygon_join, with_cells
        from shapefile_rs_spark.pages import geotag_pages, synth_pages_from_ids

        def run(stage, build):
            with tr.span(f"lineage.{tag}.{stage}", "lineage"):
                return pipe.run_stage(stage, build)

        pages = run(
            "pages",
            lambda: geotag_pages(synth_pages_from_ids(spark.read.parquet(self.ids_file))).select(
                "url", "doc_id", "lon", "lat"
            ),
        )
        indexed = run("indexed", lambda: with_cells(pages, [8]).repartition(F.col("cell_id")))
        pip = run(
            "pip",
            lambda: point_in_polygon_join(
                indexed,
                demo.oracle_polygons_df(spark),
                point_cols=["url", "doc_id", "lon", "lat"],
                polygon_cols=["polygon_id"],
                fixed_res=8,
                pre_indexed=True,
            ),
        )
        tiles = run("tiles", lambda: _tile_agg(pip))
        with tr.span(f"lineage.{tag}.collect", "lineage"):
            return tiles.collect()

    def _check_lineage(self, pipe):
        got = {s: 0 for s in STAGES}
        for r in pipe.lineage():
            got[r["stage"]] += r["output_rows"]
        with open(pipe.manifest_path) as fh:
            stages = json.load(fh)["stages"]
        manifest = {s: stages[s]["rows"] for s in STAGES}
        if manifest != got:
            return f"lineage sums {got} != manifest rows {manifest}"
        return _diff_dicts(got, self.want_stage_rows, "stage rows")

    def iteration(self, spark, tr):
        from shapefile_rs_spark.lineage import CheckpointedPipeline

        self.roots += 1
        root = os.path.join(self.work, f"root-{self.roots}")
        first = {}

        def pipeline():
            pipe = CheckpointedPipeline(spark, root)
            first["tiles"] = _tile_rows(self._stages(spark, tr, pipe, "run"))
            return pipe

        def check_pipeline(pipe):
            return _diff_dicts(first["tiles"], self.want_tiles, "tiles") or self._check_lineage(
                pipe
            )

        def resume():
            with tr.span("lineage.resume", "lineage"):
                pipe = CheckpointedPipeline(spark, root)
                return pipe, _tile_rows(self._stages(spark, tr, pipe, "resume"))

        def check_resume(out):
            pipe, tiles = out
            if tiles != first.get("tiles"):
                return "resumed tiles differ from the first pass"
            return _diff_dicts(tiles, self.want_tiles, "resumed tiles") or self._check_lineage(
                pipe
            )

        with tr.span("checkpoint_resume", "op"):
            r1 = self._op("pipeline", pipeline, check_pipeline)
            r2 = self._op("resume", resume, check_resume)
        shutil.rmtree(root, ignore_errors=True)
        return [r1, r2]

    def layers(self, spark, tr):
        return {"ladder": _flagship_ladder(spark, tr, self.ids_file, full=False)}


# -- shapefile_roundtrip -----------------------------------------------------

DBF_SPEC = (("NAME", "C", 16, 0, "string"), ("ID", "N", 10, 0, "bigint"), ("VAL", "N", 12, 3, "double"))


class ShapefileRoundtrip(Workload):
    """Seeded .shp/.shx/.dbf triplets of the polygon, polyline and point
    families: read_shapefiles → write_shapefiles; the output files must be
    byte-identical to the inputs."""

    name = "shapefile_roundtrip"
    parts = ("shapefile_roundtrip",)
    # (stems per family, records per stem)
    sizes = {"full": (3, 800), "tiny": (1, 40)}
    families = ("polygon", "polyline", "point")

    @property
    def rows(self):
        stems, recs = self.n
        return stems * recs * len(self.families)

    def _record(self, rng, family):
        from shapefile_rs_spark.geom import rings as R
        from shapefile_rs_spark.shapelib.shp import ShapeRec
        from shapefile_rs_spark.shapelib.shptypes import POINT, POLYGON, POLYLINE

        cx, cy = rng.uniform(-170, 170), rng.uniform(-80, 80)
        if family == "point":
            return ShapeRec(POINT, np.array([[cx, cy]]))
        if family == "polyline":
            n_parts = int(rng.integers(1, 4))
            parts = [
                np.cumsum(rng.normal(0, 0.05, (int(rng.integers(2, 24)), 2)), axis=0) + (cx, cy)
                for _ in range(n_parts)
            ]
            starts = np.cumsum([0] + [len(p) for p in parts[:-1]])
            return ShapeRec(POLYLINE, np.vstack(parts), parts=starts)
        # polygon: 1-2 polygons, each an outer ring with an optional hole
        rings = []
        for j in range(int(rng.integers(1, 3))):
            n = int(rng.integers(4, 20))
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            ox, oy = cx + 3.0 * j, cy
            r_out = rng.uniform(0.5, 1.0, n)
            outer = np.column_stack([ox + r_out * np.cos(ang), oy + r_out * np.sin(ang)])
            rings.append(R.close_and_reorder(outer, R.OUTER))
            if rng.random() < 0.5:
                hole = np.column_stack([ox + 0.2 * np.cos(ang), oy + 0.2 * np.sin(ang)])
                rings.append(R.close_and_reorder(hole, R.INNER))
        starts = np.cumsum([0] + [len(r) for r in rings[:-1]])
        return ShapeRec(POLYGON, np.vstack(rings), parts=starts)

    def generate(self):
        from shapefile_rs_spark.shapelib.dbf import DbfField, write_dbf
        from shapefile_rs_spark.shapelib.shp import write_shp

        rng = np.random.default_rng(self.seed)
        stems, n_recs = self.n
        self.fields = [DbfField(n, t, w, d) for n, t, w, d, _ in DBF_SPEC]
        self.in_dir = os.path.join(self.work, "in")
        os.makedirs(self.in_dir, exist_ok=True)
        self.records = {}
        self.want_files = {}
        for fam in self.families:
            for s in range(stems):
                stem = f"{fam}_{s:02d}"
                recs = [self._record(rng, fam) for _ in range(n_recs)]
                rows = [
                    {
                        "NAME": f"{fam[:4]}-{s}-{i}",
                        "ID": int(rng.integers(0, 10**9)),
                        "VAL": int(rng.integers(-10**7, 10**7)) / 1000.0,
                    }
                    for i in range(n_recs)
                ]
                shp, shx = write_shp(recs)
                files = {"shp": shp, "shx": shx, "dbf": write_dbf(self.fields, rows)}
                for ext, data in files.items():
                    with open(os.path.join(self.in_dir, f"{stem}.{ext}"), "wb") as fh:
                        fh.write(data)
                    self.want_files[f"{stem}.{ext}"] = data
                self.records[stem] = recs
        self.outs = 0

    def expect(self):
        # the expected outputs ARE the seeded input files (byte identity)
        self.in_mb = sum(len(v) for k, v in self.want_files.items() if k.endswith(".shp")) / 1e6

    def corrupt_expected(self):
        k = sorted(self.want_files)[0]
        b = bytearray(self.want_files[k])
        b[-1] ^= 0xFF
        self.want_files[k] = bytes(b)

    def _shapes(self, spark):
        from pyspark.sql import functions as F

        from shapefile_rs_spark.sources.shapefile_source import (
            read_shapefiles,
            shapes_with_typed_attrs,
        )

        shapes = read_shapefiles(spark, self.in_dir)
        typed = shapes_with_typed_attrs(shapes, {n: t for n, _, _, _, t in DBF_SPEC})
        return typed.withColumn("output_stem", F.regexp_extract("source_file", r"([^/]+)$", 1))

    def _check_files(self, out_dir):
        got = {}
        for name in os.listdir(out_dir):
            with open(os.path.join(out_dir, name), "rb") as fh:
                got[name] = fh.read()
        if got == self.want_files:
            return None
        bad = sorted(
            set(got) ^ set(self.want_files)
            | {k for k in got if k in self.want_files and got[k] != self.want_files[k]}
        )
        return f"{len(bad)} output files differ from the inputs (e.g. {bad[:3]})"

    def iteration(self, spark, tr):
        from shapefile_rs_spark.sources.shapefile_sink import write_shapefiles

        self.outs += 1
        out_dir = os.path.join(self.work, f"out-{self.outs}")

        def run():
            with tr.span("shapefile_roundtrip", "op"):
                with tr.span("sources.read", "sources"):
                    shapes = self._shapes(spark)
                with tr.span("sources.write", "sources"):
                    paths = write_shapefiles(
                        shapes,
                        out_dir,
                        dbf_fields=self.fields,
                        attr_cols=[n for n, *_ in DBF_SPEC],
                    )
                    tr.count(records_in=self.rows, files_out=len(paths))
                    return paths

        res = self._op("roundtrip", run, lambda _paths: self._check_files(out_dir))
        shutil.rmtree(out_dir, ignore_errors=True)
        return [res]

    def layers(self, spark, tr):
        from shapefile_rs_spark.geom.wkb import (
            multilinestrings_wkb_bulk,
            points_wkb_bulk,
            shape_to_wkb,
        )
        from shapefile_rs_spark.shapelib.shp import bulk_to_records, read_shp_bulk, write_shp

        with tr.span("ladder.read", "ladder") as read_sp:
            self._shapes(spark).write.format("noop").mode("overwrite").save()

        stems = sorted(self.records)
        t0 = time.perf_counter()
        bulks = {
            s: read_shp_bulk(self.want_files[f"{s}.shp"], self.want_files[f"{s}.shx"])
            for s in stems
        }
        decode_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        encoded = [write_shp(self.records[s]) for s in stems]
        encode_s = time.perf_counter() - t0
        out_mb = sum(len(shp) for shp, _ in encoded) / 1e6

        t0 = time.perf_counter()
        for s, b in bulks.items():
            if s.startswith("point"):
                points_wkb_bulk(b.xy)
            elif s.startswith("polyline"):
                multilinestrings_wkb_bulk(b.xy, b.point_offsets, b.parts, b.part_offsets)
        wkb_s = time.perf_counter() - t0
        recs = {s: bulk_to_records(b)[0] for s, b in bulks.items() if s.startswith("polygon")}
        t0 = time.perf_counter()
        for rs in recs.values():
            for r in rs:
                shape_to_wkb(r)
        wkb_s += time.perf_counter() - t0
        return {
            "read_span": read_sp,
            "decode_mb_per_s": self.in_mb / decode_s,
            "encode_mb_per_s": out_mb / encode_s,
            "wkb_s": wkb_s,
        }


# -- checkpoint_shapefile -----------------------------------------------------


class CheckpointShapefile(Workload):
    """The two persisted-data paths in one workload: checkpoint_resume's
    pipeline + resume pass, then shapefile_roundtrip's read → write.  They
    share a workload because every run pays a fresh JVM plus a warm-up
    iteration (16-30 s), so each extra workload is expensive to measure."""

    name = "checkpoint_shapefile"
    parts = CheckpointResume.parts + ShapefileRoundtrip.parts
    sizes = {"full": "full", "tiny": "tiny"}

    def __init__(self, work_dir: str, seed: int, size: str = "full"):
        super().__init__(work_dir, seed, size)
        self.ckpt = CheckpointResume(os.path.join(work_dir, "ckpt"), seed, size)
        self.shp = ShapefileRoundtrip(os.path.join(work_dir, "shp"), seed, size)

    @property
    def rows(self):
        return self.ckpt.rows + self.shp.rows

    def generate(self):
        self.ckpt.generate()
        self.shp.generate()

    def expect(self):
        self.ckpt.expect()
        self.shp.expect()

    def corrupt_expected(self):
        self.ckpt.corrupt_expected()
        self.shp.corrupt_expected()

    def iteration(self, spark, tr):
        return self.ckpt.iteration(spark, tr) + self.shp.iteration(spark, tr)

    def layers(self, spark, tr):
        return {**self.ckpt.layers(spark, tr), **self.shp.layers(spark, tr)}


WORKLOADS = {w.name: w for w in (GeoTiles, KnnSkew, CheckpointShapefile)}
