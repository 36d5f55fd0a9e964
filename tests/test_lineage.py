"""Checkpoint/lineage/resume tests: kill-and-resume, no recompute, deltas."""

import json
import os

import pytest
from pyspark.sql import functions as F

from shapefile_rs_spark.lineage import CheckpointedPipeline


def test_stage_commit_and_lineage(spark, tmp_path):
    pipe = CheckpointedPipeline(spark, str(tmp_path))
    df = pipe.run_stage("numbers", lambda: spark.range(1000).withColumn("v", F.col("id") * 2))
    assert df.count() == 1000
    assert pipe.completed("numbers")
    rows = pipe.lineage("numbers")
    assert sum(r["output_rows"] for r in rows) == 1000
    assert all(set(r) == {"stage", "partition_id", "output_rows", "wall_ms"} for r in rows)
    manifest = json.load(open(os.path.join(str(tmp_path), "_manifest.json")))
    assert manifest["stages"]["numbers"]["rows"] == 1000
    assert len(manifest["snapshots"]) == 1


def test_resume_skips_recompute(spark, tmp_path):
    pipe = CheckpointedPipeline(spark, str(tmp_path))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10)

    pipe.run_stage("s1", build)
    assert calls["n"] == 1
    # fresh pipeline object = fresh process resuming from the manifest
    pipe2 = CheckpointedPipeline(spark, str(tmp_path))
    df = pipe2.run_stage("s1", build)
    assert calls["n"] == 1  # not recomputed
    assert df.count() == 10


def test_killed_stage_leaves_no_commit(spark, tmp_path):
    pipe = CheckpointedPipeline(spark, str(tmp_path))

    def explode():
        raise RuntimeError("simulated mid-stage kill")

    with pytest.raises(RuntimeError):
        pipe.run_stage("dead", explode)
    assert not pipe.completed("dead")
    # resume with a working builder succeeds
    df = pipe.run_stage("dead", lambda: spark.range(5))
    assert df.count() == 5


def test_kill_inside_commit_window_restarts_clean(spark, tmp_path, monkeypatch):
    """Kill INSIDE run_stage's atomicity window — after the staging parquet
    write, before the manifest commit (the writer-finalize contract,
    reference src/writer.rs:190-228 finalize-on-Drop analog).  The stage
    must restart cleanly: not completed, recompute succeeds, exactly one
    snapshot lands, and no staging path ever appears in a snapshot's file
    manifest."""
    root = str(tmp_path)
    pipe = CheckpointedPipeline(spark, root)
    pipe.run_stage("base", lambda: spark.range(50))

    real_commit = CheckpointedPipeline._commit

    def dying_commit(self, *a, **kw):
        raise RuntimeError("simulated kill before manifest commit")

    monkeypatch.setattr(CheckpointedPipeline, "_commit", dying_commit)
    with pytest.raises(RuntimeError):
        pipe.run_stage("mid", lambda: spark.range(7))
    monkeypatch.setattr(CheckpointedPipeline, "_commit", real_commit)

    # fresh process resuming from the manifest: the half-written stage is
    # invisible (completed() reads the manifest, which never saw it)
    pipe2 = CheckpointedPipeline(spark, root)
    assert not pipe2.completed("mid")
    assert pipe2.completed("base")  # earlier commits untouched
    df = pipe2.run_stage("mid", lambda: spark.range(7))
    assert df.count() == 7
    snaps = pipe2.snapshots("mid")
    assert len(snaps) == 1
    for s in pipe2.snapshots():
        assert s["files"], "snapshot without a file manifest"
        assert all(".staging." not in f for f in s["files"])
        assert all(os.path.exists(f) for f in s["files"])


def test_staging_orphan_cleaned_on_restart(spark, tmp_path):
    """A crash between the staging write and the data-dir rename leaves a
    data.staging.<uuid> sibling.  It must never enter a snapshot, and the
    restart's orphan GC must remove it rather than accreting dead stage
    copies on disk."""
    root = str(tmp_path)
    pipe = CheckpointedPipeline(spark, root)
    stage_dir = os.path.join(root, "stages", "s")
    orphan = os.path.join(stage_dir, "data.staging.deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as fh:
        fh.write(b"junk")

    df = pipe.run_stage("s", lambda: spark.range(9))
    assert df.count() == 9
    assert not os.path.exists(orphan)
    (snap,) = pipe.snapshots("s")
    assert all(".staging." not in f for f in snap["files"])
    # the committed data reads back exactly the 9 rows — the orphan's junk
    # never contaminated the stage
    assert pipe.read_snapshot("s").count() == 9


def test_delta_orphan_cleaned_on_append(spark, tmp_path):
    """append_delta's staging twin of the run_stage GC: a crash between
    the delta staging write and the file moves leaves data.delta.<uuid> —
    a COMPLETED stage never reaches run_stage's cleanup (early return), so
    the append path must collect its own orphans."""
    root = str(tmp_path)
    pipe = CheckpointedPipeline(spark, root)
    df = spark.range(10).withColumn("k", F.col("id"))
    pipe.run_stage("s", lambda: df)
    orphan = os.path.join(root, "stages", "s", "data.delta.deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as fh:
        fh.write(b"junk")

    out = pipe.append_delta("s", spark.range(10, 15).withColumn("k", F.col("id")), ["id"])
    assert out.count() == 15
    assert not os.path.exists(orphan)
    for s in pipe.snapshots("s"):
        assert all(".delta." not in os.path.basename(os.path.dirname(f)) for f in s["files"])


def test_delta_midmove_crash_adopts_completed_staging(spark, tmp_path):
    """A kill MID file-move leaves a COMPLETED staging dir (_SUCCESS
    present) with half its files moved.  A retry — even with a DIFFERENT
    batch — must publish the WHOLE interrupted batch, not delete the
    unmoved half (which would silently commit a torn append)."""
    import glob
    import shutil as _sh

    root = str(tmp_path)
    pipe = CheckpointedPipeline(spark, root)
    pipe.run_stage("s", lambda: spark.range(10))
    data_dir = pipe.stage_path("s")

    # a real completed delta write (ids 10..14, two files), then simulate
    # the crash: one file moved in, one left behind in staging
    orphan = data_dir + ".delta.deadbeef"
    spark.range(10, 15).repartition(2).write.parquet(orphan)
    parts = sorted(glob.glob(os.path.join(orphan, "*.parquet")))
    assert len(parts) >= 2 and os.path.exists(os.path.join(orphan, "_SUCCESS"))
    _sh.move(parts[0], os.path.join(data_dir, "delta-moved-" + os.path.basename(parts[0])))

    # retry with a DIFFERENT batch from a fresh process
    out = CheckpointedPipeline(spark, root).append_delta("s", spark.range(15, 20), ["id"])
    assert not os.path.exists(orphan)
    assert out.count() == 20
    assert {r["id"] for r in out.collect()} == set(range(20))  # no torn 10..14
    assert CheckpointedPipeline(spark, root).read_snapshot("s").count() == 20


def test_delta_postmove_crash_reconciles_manifest(spark, tmp_path, monkeypatch):
    """The OTHER append_delta crash window: killed AFTER the delta files
    moved into the data dir but BEFORE the commit.  The retry's anti-join
    sees the rows already on disk (empty delta) and would skip the commit
    forever — the entry reconcile must first re-commit the directory so
    the manifest lists every on-disk file and read_snapshot sees all
    rows (the time-travel invariant)."""
    root = str(tmp_path)
    pipe = CheckpointedPipeline(spark, root)
    pipe.run_stage("s", lambda: spark.range(10))

    real_commit = CheckpointedPipeline._commit

    def dying_commit(self, *a, **kw):
        raise RuntimeError("kill after file moves, before commit")

    monkeypatch.setattr(CheckpointedPipeline, "_commit", dying_commit)
    with pytest.raises(RuntimeError):
        pipe.append_delta("s", spark.range(10, 15), ["id"])
    monkeypatch.setattr(CheckpointedPipeline, "_commit", real_commit)

    # retry the SAME batch from a fresh process: the rows are on disk but
    # unlisted — reconcile must commit them, and no duplicates may appear
    pipe2 = CheckpointedPipeline(spark, root)
    out = pipe2.append_delta("s", spark.range(10, 15), ["id"])
    assert out.count() == 15
    assert out.select("id").distinct().count() == 15
    assert pipe2.read_snapshot("s").count() == 15  # manifest lists the moved files
    assert pipe2._load()["stages"]["s"]["rows"] == 15


def test_incr_neardup_reads_committed_sig_stage_without_corpus(spark, sf_dir, tmp_path):
    """The recrawl contract end-to-end: (1) the corpus signature stage
    commits once; (2) a resumed pipeline loads it WITHOUT invoking the
    build (the no-recompute guarantee — the build fn here raises if
    called); (3) minhash_lsh_join(corpus_sigs=...) scores a new batch
    with the corpus TEXT structurally absent from the call, and its
    output is row-identical to the recompute path (signatures are
    deterministic)."""
    from shapefile_rs_spark.operators.dedup import (
        minhash_lsh_join,
        minhash_signatures,
        release_sig_caches,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 5 != 0)
        .limit(200)
    )
    new = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.concat(F.col("text"), F.lit(" sfx")).alias("text"))
        .filter(F.col("doc_id") % 5 != 0)
        .limit(40)
    )
    pipe = CheckpointedPipeline(spark, str(tmp_path))
    pipe.run_stage("sigs", lambda: minhash_signatures(docs, id_col="doc_id"))

    def must_not_run():
        raise AssertionError("corpus signatures were recomputed on resume")

    # fresh pipeline object = fresh process; the committed stage loads,
    # the builder is never called
    sigs = CheckpointedPipeline(spark, str(tmp_path)).run_stage("sigs", must_not_run)

    staged = minhash_lsh_join(new, corpus_sigs=sigs, id_col="doc_id")
    direct = minhash_lsh_join(new, docs, id_col="doc_id")
    got = sorted(tuple(r) for r in staged.collect())
    want = sorted(tuple(r) for r in direct.collect())
    assert got == want and len(got) > 0
    release_sig_caches(staged)
    release_sig_caches(direct)
    # exactly one of corpus/corpus_sigs: both or neither is a usage bug
    with pytest.raises(ValueError):
        minhash_lsh_join(new, docs, corpus_sigs=sigs)
    with pytest.raises(ValueError):
        minhash_lsh_join(new)
    # corpus_bands without corpus_sigs has nothing to score against
    with pytest.raises(ValueError, match="corpus_sigs"):
        minhash_lsh_join(new, docs, corpus_bands=sigs)


def test_incr_neardup_committed_band_stage_skips_rebanding(spark, sf_dir, tmp_path):
    """VERDICT r5 item 4: with the corpus BAND stage committed next to the
    signature stage, a recrawl batch (1) resumes both stages without
    invoking either builder, (2) produces rows identical to the re-banding
    path (banding is deterministic), and (3) holds NO corpus-side banding
    compute in its plan — exactly one Generate/explode (the batch's own
    banding) and the corpus contributes only pre-committed parquet
    scans."""
    from shapefile_rs_spark.operators.dedup import (
        minhash_band_rows,
        minhash_lsh_join,
        minhash_signatures,
        release_sig_caches,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 5 != 0)
        .limit(200)
    )
    new = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.concat(F.col("text"), F.lit(" sfx")).alias("text"))
        .filter(F.col("doc_id") % 5 != 0)
        .limit(40)
    )
    pipe = CheckpointedPipeline(spark, str(tmp_path))
    sigs0 = pipe.run_stage("sigs", lambda: minhash_signatures(docs, id_col="doc_id"))
    pipe.run_stage("bands", lambda: minhash_band_rows(sigs0))

    def must_not_run():
        raise AssertionError("committed stage recomputed on resume")

    fresh = CheckpointedPipeline(spark, str(tmp_path))
    sigs = fresh.run_stage("sigs", must_not_run)
    bands = fresh.run_stage("bands", must_not_run)

    staged = minhash_lsh_join(new, corpus_sigs=sigs, corpus_bands=bands, id_col="doc_id")
    rebanded = minhash_lsh_join(new, corpus_sigs=sigs, id_col="doc_id")
    got = sorted(tuple(r) for r in staged.collect())
    want = sorted(tuple(r) for r in rebanded.collect())
    assert got == want and len(got) > 0
    # the staged plan bands only the NEW side; the re-banding plan holds a
    # second corpus-side explode.  Counted on the OPTIMIZED LOGICAL plan —
    # the physical string duplicates broadcast subtrees, so the same
    # explode can print twice there.
    plan_staged = staged._jdf.queryExecution().optimizedPlan().toString()
    plan_rebanded = rebanded._jdf.queryExecution().optimizedPlan().toString()
    assert plan_staged.count("Generate explode") == 1
    assert plan_rebanded.count("Generate explode") == 2
    # and the pre-banded parquet actually reaches the executors
    phys = staged._jdf.queryExecution().executedPlan().toString()
    assert "band_key" in phys and phys.count("FileScan parquet [_id") >= 2
    release_sig_caches(staged)
    release_sig_caches(rebanded)


def test_multi_stage_pipeline_resume_midway(spark, tmp_path):
    root = str(tmp_path)
    pipe = CheckpointedPipeline(spark, root)
    pipe.run_stage("a", lambda: spark.range(100))
    a = pipe.run_stage("a", lambda: (_ for _ in ()).throw(AssertionError))
    with pytest.raises(ZeroDivisionError):
        pipe.run_stage("b", lambda: 1 / 0)
    # second run: stage a loads from checkpoint, stage b computes
    pipe2 = CheckpointedPipeline(spark, root)
    a2 = pipe2.run_stage("a", lambda: (_ for _ in ()).throw(AssertionError))
    b = pipe2.run_stage("b", lambda: a2.withColumn("sq", F.col("id") * F.col("id")))
    assert b.count() == 100
    snaps = json.load(open(os.path.join(root, "_manifest.json")))["snapshots"]
    assert len(snaps) == 2
    assert snaps[1]["parent_id"] == snaps[0]["snapshot_id"]


def test_append_delta_anti_join(spark, tmp_path):
    pipe = CheckpointedPipeline(spark, str(tmp_path))
    pipe.run_stage("urls", lambda: spark.range(10).select(F.col("id").alias("url_id")))
    merged = pipe.append_delta(
        "urls", spark.range(5, 15).select(F.col("id").alias("url_id")), key_cols=["url_id"]
    )
    assert merged.count() == 15  # 10 existing + 5 genuinely new
    assert merged.select("url_id").distinct().count() == 15
    # idempotent: re-appending the same batch adds nothing
    again = pipe.append_delta(
        "urls", spark.range(5, 15).select(F.col("id").alias("url_id")), key_cols=["url_id"]
    )
    assert again.count() == 15


def test_time_travel_reads_snapshot_file_subset(spark, tmp_path):
    """Appends add files; reading an earlier snapshot sees only the files
    its manifest listed — rows appended later are invisible."""
    from shapefile_rs_spark.lineage import CheckpointedPipeline

    pipe = CheckpointedPipeline(spark, str(tmp_path / "tt"))
    pipe.run_stage("docs", lambda: spark.range(10).withColumnRenamed("id", "k"))
    s1 = pipe.snapshots("docs")[-1]["snapshot_id"]
    pipe.append_delta("docs", spark.range(10, 15).withColumnRenamed("id", "k"), ["k"])
    s2 = pipe.snapshots("docs")[-1]["snapshot_id"]
    assert s1 != s2

    assert pipe.read_snapshot("docs", s1).count() == 10
    assert pipe.read_snapshot("docs", s2).count() == 15
    assert pipe.read_snapshot("docs").count() == 15  # latest by default
    assert sorted(r["k"] for r in pipe.read_snapshot("docs", s1).collect()) == list(range(10))
    import pytest as _pt

    with _pt.raises(KeyError):
        pipe.read_snapshot("docs", "nope")


def test_read_snapshot_legacy_and_overwritten_manifests(spark, tmp_path):
    """Snapshots without a files list (legacy manifests) and snapshots whose
    files a later rerun deleted both fail with a DESCRIPTIVE error, not a
    KeyError / Spark missing-file crash (ADVICE r2)."""
    pipe = CheckpointedPipeline(spark, str(tmp_path))
    pipe.run_stage("s", lambda: spark.range(10))
    # simulate a legacy manifest entry: strip the files list
    with open(pipe.manifest_path) as fh:
        manifest = json.load(fh)
    legacy = dict(manifest["snapshots"][0])
    legacy.pop("files", None)
    legacy["snapshot_id"] = "legacy0"
    manifest["snapshots"].insert(0, legacy)
    with open(pipe.manifest_path, "w") as fh:
        json.dump(manifest, fh)
    with pytest.raises(ValueError, match="predates file-level manifests"):
        pipe.read_snapshot("s", "legacy0")
    # a stage recompute overwrites the stage's data files: the pre-recompute
    # snapshot must now fail descriptively at read time
    old_snap = pipe.snapshots("s")[-1]["snapshot_id"]
    manifest = json.load(open(pipe.manifest_path))
    del manifest["stages"]["s"]  # force run_stage to recompute+overwrite
    json.dump(manifest, open(pipe.manifest_path, "w"))
    pipe.run_stage("s", lambda: spark.range(5))
    with pytest.raises(ValueError, match="missing file"):
        pipe.read_snapshot("s", old_snap)
    assert pipe.read_snapshot("s").count() == 5


def _group_jobs(spark, group, fn):
    """Run ``fn`` under job group ``group``; return its result and the ids
    of every Spark job it launched (listener bus drained first, so a job
    that started is always counted)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_commit_resume_and_snapshot_read_are_job_free(spark, tmp_path):
    """Committing a stage launches only its write; lineage comes from the
    written footers (no read-back, no group-count), and reopening a
    committed stage — resume or time travel — launches no job at all
    before an action (the manifest schema replaces inference)."""
    root = str(tmp_path)
    pipe = CheckpointedPipeline(spark, root)
    _, jobs = _group_jobs(
        spark, "lineage-commit", lambda: pipe.run_stage("n", lambda: spark.range(0, 1000, 1, 4))
    )
    assert len(jobs) == 1, f"run_stage launched {len(jobs)} jobs, want only the write"

    def must_not_run():
        raise AssertionError("committed stage recomputed on resume")

    resumed, jobs = _group_jobs(
        spark,
        "lineage-resume",
        lambda: CheckpointedPipeline(spark, root).run_stage("n", must_not_run),
    )
    assert jobs == []
    snap, jobs = _group_jobs(spark, "lineage-snapshot", lambda: pipe.read_snapshot("n"))
    assert jobs == []
    assert resumed.count() == snap.count() == 1000


def test_lineage_from_footers_is_exact(spark, tmp_path):
    """Lineage rows are the writer tasks' footer row counts: four range
    partitions give partition ids 0..3 with 250 rows each, summing to the
    manifest rows.  An all-empty stage commits zero rows and reopens with
    its schema."""
    pipe = CheckpointedPipeline(spark, str(tmp_path))
    pipe.run_stage("n", lambda: spark.range(0, 1000, 1, 4))
    rows = pipe.lineage("n")
    assert [(r["partition_id"], r["output_rows"]) for r in rows] == [(p, 250) for p in range(4)]
    entry = pipe._load()["stages"]["n"]
    assert entry["rows"] == sum(r["output_rows"] for r in rows) == 1000
    assert entry["partitions"] == 4

    empty = spark.range(0, 1000, 1, 4).withColumn("v", F.col("id") * 2).filter("id < 0")
    pipe.run_stage("empty", lambda: empty)
    assert pipe._load()["stages"]["empty"]["rows"] == 0
    assert sum(r["output_rows"] for r in pipe.lineage("empty")) == 0
    reopened = CheckpointedPipeline(spark, str(tmp_path)).read_stage("empty")
    assert reopened.columns == ["id", "v"] and reopened.count() == 0


def test_read_stage_schema_matches_inference(spark, tmp_path):
    """The manifest schema opens a stage with exactly the schema parquet
    inference would give — nested, decimal, timestamp_ntz and a
    non-nullable column included — and a legacy manifest without a
    schema key still opens (by inference)."""
    df = spark.range(0, 10, 1, 2).select(
        F.col("id"),
        F.array(F.struct(F.col("id").alias("a"), F.lit("x").alias("b"))).alias("arr"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.col("id").cast("decimal(12,3)").alias("dec"),
        F.lit("2024-01-02 03:04:05").cast("timestamp_ntz").alias("ts"),
    )
    assert not df.schema["id"].nullable  # the frame really has a non-nullable column
    root = str(tmp_path)
    pipe = CheckpointedPipeline(spark, root)
    pipe.run_stage("wide", lambda: df)
    inferred = spark.read.parquet(pipe.stage_path("wide"))
    got = pipe.read_stage("wide")
    assert got.schema == inferred.schema
    assert sorted(got.collect()) == sorted(inferred.collect())

    with open(pipe.manifest_path) as fh:
        manifest = json.load(fh)
    del manifest["stages"]["wide"]["schema"]
    with open(pipe.manifest_path, "w") as fh:
        json.dump(manifest, fh)
    legacy = CheckpointedPipeline(spark, root).read_stage("wide")
    assert legacy.schema == inferred.schema and legacy.count() == 10


def test_append_delta_rejects_mismatched_schema(spark, tmp_path):
    """A batch whose column names or types differ from the committed
    stage schema fails loudly instead of being read back wrong;
    nullability alone is not a mismatch."""
    pipe = CheckpointedPipeline(spark, str(tmp_path))
    pipe.run_stage("s", lambda: spark.range(10).withColumn("v", F.col("id").cast("string")))
    retyped = spark.range(10, 15).withColumn("v", F.col("id").cast("int"))
    with pytest.raises(ValueError, match="do not match"):
        pipe.append_delta("s", retyped, ["id"])
    renamed = spark.range(10, 15).withColumn("w", F.col("id").cast("string"))
    with pytest.raises(ValueError, match="do not match"):
        pipe.append_delta("s", renamed, ["id"])
    assert pipe.read_stage("s").count() == 10
    assert len(pipe.snapshots("s")) == 1
    # id nullable here, non-nullable in the stage: still the same columns
    nullable = spark.range(10, 15).select(
        F.when(F.col("id") >= 0, F.col("id")).alias("id"), F.col("id").cast("string").alias("v")
    )
    assert nullable.schema["id"].nullable
    out = pipe.append_delta("s", nullable, ["id"])
    assert out.count() == 15
    assert pipe._load()["stages"]["s"]["rows"] == 15
