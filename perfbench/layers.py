"""Per-layer metrics of a traced run, named ``<layer>.<metric>`` after the
engine's modules.  Every metric is printed for every workload; a layer the
workload does not exercise reads 0.  README.md maps each metric to the
end-to-end metric it should move.

Sources: span wall times (the benchmark's own spans around calls into each
layer), differences between successive layer prefixes (the traced ladder),
and the Spark event log cut by job group (one group per span).
"""

from __future__ import annotations

import statistics

PER_LAYER = (
    "pages.synth_s", "pages.geotag_s", "pages.scan_tasks",
    "cells.index_s",
    "spatial_join.call_s", "spatial_join.refine_s", "spatial_join.candidates",
    "spatial_join.keep_ratio", "spatial_join.python_worker_s", "spatial_join.shuffle_mb",
    "spatial_join.longest_task_s",
    "tiles.aggregate_s",
    "knn.call_s", "knn.exec_s", "knn.jobs", "knn.shuffle_mb", "knn.longest_task_s",
    "knn.task_skew", "knn.python_worker_s",
    "lineage.stage_pages_s", "lineage.stage_indexed_s", "lineage.stage_pip_s",
    "lineage.stage_tiles_s", "lineage.commit_s", "lineage.bytes_written_mb", "lineage.resume_s",
    "sources.read_s", "sources.write_s", "sources.python_worker_s",
    "shapelib.decode_mb_per_s", "shapelib.encode_mb_per_s",
    "geom.wkb_s",
    "spark.jobs_per_op", "spark.driver_idle_share", "spark.spill_mb",
    "trace.overhead_share",
)

CANDIDATES = "ArrowEvalPython/number of output rows"


def _med(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class _Profiles:
    """Event-log profiles of spans, cached by span id."""

    def __init__(self, tracer, evlog):
        self.tracer = tracer
        self.evlog = evlog
        self.cache = {}

    def of(self, *spans) -> dict:
        key = tuple(s.span_id for s in spans)
        if key not in self.cache:
            groups = set()
            for s in spans:
                groups |= self.tracer.subtree_ids(s.span_id)
            self.cache[key] = self.evlog.profile(
                groups, min(s.start for s in spans), max(s.end for s in spans)
            )
        return self.cache[key]


def _named(tracer, name):
    return [s for s in tracer.spans if s.name == name]


def _ladder(m, prof, ladder):
    """Layer times from successive prefixes of the flagship ladder."""
    t = {k: sp.seconds for k, sp in ladder.items()}
    m["pages.synth_s"] = t["synth"] - t["scan"]
    m["pages.geotag_s"] = t["geotag"] - t["synth"]
    m["pages.scan_tasks"] = prof.of(ladder["scan"])["tasks"]
    if "pip" in ladder:
        pip, cells = prof.of(ladder["pip"]), prof.of(ladder["cells"])
        m["cells.index_s"] = t["cells"] - t["geotag"]
        m["spatial_join.refine_s"] = t["pip"] - t["cells"]
        m["tiles.aggregate_s"] = t["tiles"] - t["pip"]
        m["spatial_join.candidates"] = pip["node_metrics"].get(CANDIDATES, 0.0)
        m["spatial_join.python_worker_s"] = pip["python_worker_s"] - cells["python_worker_s"]
        m["spatial_join.shuffle_mb"] = pip["shuffle_write_mb"] - cells["shuffle_write_mb"]
        m["spatial_join.longest_task_s"] = pip["longest_task_s"]


def per_layer(wl, tracer, evlog, extras, ops):
    """Returns (metrics, {span_id: profile}) for the traced run."""
    prof = _Profiles(tracer, evlog)
    m = {name: 0.0 for name in PER_LAYER}
    op_spans = [s for s in tracer.spans if s.layer == "op"]
    traced_ops = [r for _, traced, r in ops if traced]

    for s in op_spans:
        prof.of(s)
    m["spark.jobs_per_op"] = sum(prof.of(s)["jobs"] for s in op_spans) / max(len(traced_ops), 1)
    m["spark.driver_idle_share"] = _med(prof.of(s)["driver_idle_share"] for s in op_spans)
    m["spark.spill_mb"] = _med(prof.of(s)["spill_mb"] for s in op_spans)

    if "geo_tiles" in wl.parts:
        _ladder(m, prof, extras["ladder"])
        m["spatial_join.call_s"] = _med(s.seconds for s in _named(tracer, "spatial_join.call"))
        if m["spatial_join.candidates"]:
            m["spatial_join.keep_ratio"] = wl.want_pairs / m["spatial_join.candidates"]

    if "knn_skew" in wl.parts:
        calls, execs = _named(tracer, "knn.call"), _named(tracer, "knn.exec")
        knn = [prof.of(c, e) for c, e in zip(calls, execs)]
        m["knn.call_s"] = _med(s.seconds for s in calls)
        m["knn.exec_s"] = _med(s.seconds for s in execs)
        m["knn.jobs"] = _med(p["jobs"] for p in knn)
        m["knn.shuffle_mb"] = _med(p["shuffle_write_mb"] for p in knn)
        m["knn.longest_task_s"] = _med(p["longest_task_s"] for p in knn)
        m["knn.task_skew"] = _med(
            p["longest_task_s"] / p["median_task_s"] for p in knn if p["median_task_s"]
        )
        m["knn.python_worker_s"] = _med(p["python_worker_s"] for p in knn)
        calls = _named(tracer, "spatial_join.call")
        execs = _named(tracer, "spatial_join.exec")
        pip = [prof.of(c, e) for c, e in zip(calls, execs)]
        m["spatial_join.call_s"] = _med(s.seconds for s in calls)
        m["spatial_join.refine_s"] = _med(s.seconds for s in execs)
        m["spatial_join.candidates"] = _med(p["node_metrics"].get(CANDIDATES, 0.0) for p in pip)
        if m["spatial_join.candidates"]:
            m["spatial_join.keep_ratio"] = sum(wl.want_pip.values()) / m["spatial_join.candidates"]
        m["spatial_join.python_worker_s"] = _med(p["python_worker_s"] for p in pip)
        m["spatial_join.shuffle_mb"] = _med(p["shuffle_write_mb"] for p in pip)
        m["spatial_join.longest_task_s"] = _med(p["longest_task_s"] for p in pip)

    if "checkpoint_resume" in wl.parts:
        _ladder(m, prof, extras["ladder"])
        commit, written = [], []
        for trace_id in sorted({s.trace_id for s in op_spans}):
            stages = [
                s for s in tracer.spans
                if s.trace_id == trace_id and s.name.startswith("lineage.run.")
                and not s.name.endswith(".collect")
            ]
            if not stages:
                continue
            commit.append(
                sum(s.seconds - evlog.write_job_seconds(tracer.subtree_ids(s.span_id))
                    for s in stages)
            )
            written.append(sum(prof.of(s)["bytes_written_mb"] for s in stages))
        for stage in ("pages", "indexed", "pip", "tiles"):
            m[f"lineage.stage_{stage}_s"] = _med(
                s.seconds for s in _named(tracer, f"lineage.run.{stage}")
            )
        m["lineage.commit_s"] = _med(commit)
        m["lineage.bytes_written_mb"] = _med(written)
        m["lineage.resume_s"] = _med(s.seconds for s in _named(tracer, "lineage.resume"))

    if "shapefile_roundtrip" in wl.parts:
        read_s = extras["read_span"].seconds
        m["sources.read_s"] = read_s
        m["sources.write_s"] = _med(s.seconds for s in _named(tracer, "sources.write")) - read_s
        m["sources.python_worker_s"] = _med(
            prof.of(s)["python_worker_s"] for s in _named(tracer, "shapefile_roundtrip")
        )
        m["shapelib.decode_mb_per_s"] = extras["decode_mb_per_s"]
        m["shapelib.encode_mb_per_s"] = extras["encode_mb_per_s"]
        m["geom.wkb_s"] = extras["wkb_s"]

    profiles = {sid: p for key, p in prof.cache.items() if len(key) == 1 for sid in key}
    return m, profiles
