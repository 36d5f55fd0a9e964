"""Checkpoint / per-partition lineage / resume (C1, SURVEY §2.3).

Iceberg-style snapshot semantics emulated over Parquet + JSON manifests (no
Iceberg runtime jar in the sandbox; the adapter surface — snapshot log,
atomic commit, stage data paths — matches what an Iceberg catalog provides,
so a real catalog drops in by reimplementing ``_commit``/``_load``).

Layout under ``root``::

    _manifest.json                 # snapshot log: append-only list of commits,
                                   #   plus one entry per stage (path, rows,
                                   #   partitions, wall_ms, schema)
    stages/<stage>/data/*.parquet  # committed stage output
    stages/<stage>/lineage.json    # per-partition rows:
                                   #   (stage, partition_id, output_rows, wall_ms)

Commit protocol: stage data is written to a staging dir and moved into
place; lineage comes from the written files' parquet footers (row count per
file, summed per writer task's ``part-NNNNN`` number — no read-back pass),
then the manifest is atomically replaced (POSIX rename) — a killed job never
exposes a half-written stage, and a rerun resumes from the last manifest
(completed stages load from their committed parquet; nothing is
recomputed).  The stage entry records the stage schema (``df.schema`` as
JSON), so :meth:`CheckpointedPipeline.read_stage` opens committed data
without a schema-inference job.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from typing import Callable, Dict, List, Optional

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.types import StructType

_PART = re.compile(r"part-(\d+)")


def _footer_rows(files: List[str]) -> Dict[str, int]:
    """Row count of each parquet file, read from its footer on the driver."""
    return {f: pq.read_metadata(f).num_rows for f in files}


def _columns(schema: StructType) -> List[tuple]:
    """``(name, type)`` per column; a type's simple string carries no
    nullability, and parquet reads resolve columns by name, not position."""
    return sorted((f.name, f.dataType.simpleString()) for f in schema.fields)


class CheckpointedPipeline:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "stages"), exist_ok=True)
        self.manifest_path = os.path.join(root, "_manifest.json")

    # -- manifest -----------------------------------------------------------

    def _load(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as fh:
                return json.load(fh)
        return {"snapshots": [], "stages": {}}

    def _commit(self, stage: str, entry: dict, files: Optional[List[str]] = None) -> None:
        manifest = self._load()
        snapshot = {
            "snapshot_id": uuid.uuid4().hex,
            "parent_id": manifest["snapshots"][-1]["snapshot_id"] if manifest["snapshots"] else None,
            "ts": time.time(),
            "stage": stage,
            # Iceberg-style file manifest: the exact data files this
            # snapshot comprises — the basis of time travel (appends only
            # ADD files, so older snapshots read an older file subset)
            "files": sorted(files or []),
        }
        manifest["snapshots"].append(snapshot)
        manifest["stages"][stage] = {**entry, "snapshot_id": snapshot["snapshot_id"]}
        tmp = self.manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1)
        os.replace(tmp, self.manifest_path)  # atomic commit

    def _stage_files(self, stage: str) -> List[str]:
        data_dir = self.stage_path(stage)
        out: List[str] = []
        for base, _, names in os.walk(data_dir):
            out.extend(os.path.join(base, n) for n in names if n.endswith(".parquet"))
        return out

    def read_snapshot(self, stage: str, snapshot_id: Optional[str] = None) -> DataFrame:
        """Time travel: read the stage AS OF ``snapshot_id`` (default: its
        latest snapshot) — exactly the files that snapshot's manifest
        lists, so appends made later are invisible.

        Note: recomputing a stage (:meth:`run_stage` on a non-committed
        stage) REPLACES the stage's data files, so snapshots recorded before
        the recompute can no longer be read (their manifests list files that
        are gone) — time travel spans appends, not overwrites."""
        manifest = self._load()
        snaps = [s for s in manifest["snapshots"] if s["stage"] == stage]
        if snapshot_id is not None:
            snaps = [s for s in snaps if s["snapshot_id"] == snapshot_id]
        if not snaps:
            raise KeyError(f"no snapshot for stage {stage!r} (id={snapshot_id!r})")
        files = snaps[-1].get("files")
        if not files:
            raise ValueError(
                f"snapshot {snaps[-1].get('snapshot_id')!r} of stage {stage!r} "
                "predates file-level manifests (or was recorded empty) — "
                "cannot time travel to it"
            )
        missing = [f for f in files if not os.path.exists(f)]
        if missing:
            raise ValueError(
                f"snapshot {snaps[-1].get('snapshot_id')!r} of stage {stage!r} "
                f"lists {len(missing)} missing file(s) (a later rerun/overwrite "
                f"removed them), e.g. {missing[0]!r}"
            )
        return self._reader(manifest, stage).parquet(*files)

    def _reader(self, manifest: dict, stage: str) -> DataFrameReader:
        """A parquet reader carrying the stage's manifest schema; stages
        committed before the manifest recorded schemas fall back to
        inference."""
        schema = manifest["stages"].get(stage, {}).get("schema")
        reader = self.spark.read
        return reader.schema(StructType.fromJson(schema)) if schema else reader

    def read_stage(self, stage: str) -> DataFrame:
        """Open a committed stage: one root path read with the manifest's
        schema, so no schema-inference job and no parallel-listing job."""
        manifest = self._load()
        if stage not in manifest["stages"]:
            raise KeyError(f"stage {stage!r} is not committed")
        return self._reader(manifest, stage).parquet(self.stage_path(stage))

    def snapshots(self, stage: Optional[str] = None) -> List[dict]:
        return [
            s
            for s in self._load()["snapshots"]
            if stage is None or s["stage"] == stage
        ]

    def completed(self, stage: str) -> bool:
        return stage in self._load()["stages"]

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.root, "stages", stage, "data")

    def lineage(self, stage: Optional[str] = None) -> List[dict]:
        rows: List[dict] = []
        for name in self._load()["stages"]:
            if stage and name != stage:
                continue
            p = os.path.join(self.root, "stages", name, "lineage.json")
            if os.path.exists(p):
                with open(p) as fh:
                    rows.extend(json.load(fh))
        return rows

    # -- stage execution ----------------------------------------------------

    def run_stage(self, stage: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Compute-or-load a stage.  On compute: write parquet, record
        per-partition lineage from the written files' footers, commit
        atomically.  On resume: read the committed parquet without
        recomputation."""
        if self.completed(stage):
            return self.read_stage(stage)

        data_dir = self.stage_path(stage)
        # crash-orphan GC (Iceberg's orphan-file cleanup analog): a job
        # killed inside the staging-write→manifest-commit window leaves a
        # data.staging.<uuid> sibling behind.  It can never leak into a
        # snapshot (_stage_files walks the committed data dir only), but a
        # restart must not accrete dead copies of the stage on disk.
        # Single-writer assumption, same as the manifest replace itself.
        stage_dir = os.path.dirname(data_dir)
        if os.path.isdir(stage_dir):
            base = os.path.basename(data_dir)
            for name in os.listdir(stage_dir):
                if name.startswith(base + ".staging."):
                    shutil.rmtree(os.path.join(stage_dir, name), ignore_errors=True)

        t0 = time.time()
        df = build()
        staging = data_dir + f".staging.{uuid.uuid4().hex}"
        df.write.mode("overwrite").parquet(staging)
        wall_ms = int((time.time() - t0) * 1000)

        os.makedirs(os.path.dirname(data_dir), exist_ok=True)
        if os.path.exists(data_dir):
            shutil.rmtree(data_dir)
        os.replace(staging, data_dir)
        files = self._stage_files(stage)
        # one writer task writes part-NNNNN files (several only under
        # maxRecordsPerFile); its partition's rows are their footer sum
        per_part: Dict[int, int] = {}
        for f, n in _footer_rows(files).items():
            pid = int(_PART.search(os.path.basename(f)).group(1))
            per_part[pid] = per_part.get(pid, 0) + n
        lineage_rows = [
            {"stage": stage, "partition_id": pid, "output_rows": n, "wall_ms": wall_ms}
            for pid, n in sorted(per_part.items())
        ]
        with open(os.path.join(self.root, "stages", stage, "lineage.json"), "w") as fh:
            json.dump(lineage_rows, fh, indent=1)
        self._commit(
            stage,
            {
                "path": data_dir,
                "rows": sum(per_part.values()),
                "partitions": len(lineage_rows),
                "wall_ms": wall_ms,
                "schema": df.schema.jsonValue(),
            },
            files=files,
        )
        return self.read_stage(stage)

    def append_delta(
        self,
        stage: str,
        new_df: DataFrame,
        key_cols: List[str],
    ) -> DataFrame:
        """Incremental append: anti-join the new batch's keys against the
        committed stage (resume-delta = ``left_anti`` on lineage keys,
        SURVEY §2.2 set-ops row) and commit only the unseen rows as a new
        snapshot of the same stage.

        Crash safety (single-writer, like the manifest replace itself):
        a retry after ANY kill — even with a DIFFERENT batch — never
        publishes a torn append.  A delta staging dir whose write
        completed (``_SUCCESS`` present) is ADOPTED whole during GC: its
        unmoved files move into the data dir, so a kill mid-move leaves
        the FULL anti-joined batch on disk for the reconcile commit
        below, never half of it.  An incomplete write (no ``_SUCCESS``)
        is deleted."""
        if not self.completed(stage):
            return self.run_stage(stage, lambda: new_df)
        # delta-orphan GC, the append-path twin of run_stage's staging GC:
        # a job killed between the delta staging write and the file moves
        # leaves data.delta.<uuid> behind, and a completed stage never
        # reaches run_stage's cleanup (it early-returns) — collect here.
        data_dir = self.stage_path(stage)
        stage_dir = os.path.dirname(data_dir)
        base = os.path.basename(data_dir)
        for name in os.listdir(stage_dir):
            if name.startswith(base + ".delta."):
                orphan = os.path.join(stage_dir, name)
                if os.path.exists(os.path.join(orphan, "_SUCCESS")):
                    # completed write → the batch was a valid anti-joined
                    # delta; finish its interrupted move so the reconcile
                    # commit publishes the whole batch (deleting instead
                    # would tear a half-moved append)
                    for fname in os.listdir(orphan):
                        if fname.endswith(".parquet"):
                            os.replace(
                                os.path.join(orphan, fname),
                                os.path.join(
                                    data_dir, f"delta-{uuid.uuid4().hex}-{fname}"
                                ),
                            )
                shutil.rmtree(orphan, ignore_errors=True)
        # crash-RECONCILE for the post-move window: a kill AFTER the file
        # moves but BEFORE the commit leaves data files in the stage dir
        # that no snapshot lists — and the retry's empty-delta early
        # return below would skip the commit forever (the rows are
        # already on disk, so the anti-join finds nothing new).  Re-commit
        # the directory as a recovery snapshot first, so the manifest and
        # the directory agree before any delta math.
        manifest = self._load()
        listed: set = set()
        for snap in reversed(manifest["snapshots"]):
            if snap["stage"] == stage:
                listed = set(snap.get("files") or [])
                break
        on_disk = set(self._stage_files(stage))
        if on_disk - listed:
            self._commit(
                stage,
                {
                    **manifest["stages"][stage],
                    "rows": sum(_footer_rows(list(on_disk)).values()),
                    # rows were recounted from the footers but the writing job's
                    # partitioning is gone — recording the PREVIOUS entry's
                    # count here would be stale (the delta files were
                    # added); unknown is the only honest value
                    "partitions": None,
                    "wall_ms": 0,  # recovery commit, no compute of its own
                },
                files=sorted(on_disk),
            )
        existing = self.read_stage(stage)
        if _columns(new_df.schema) != _columns(existing.schema):
            # parquet resolves columns by name against the stage schema, so
            # a mismatched delta would otherwise be read back silently wrong
            raise ValueError(
                f"append_delta to stage {stage!r}: batch columns "
                f"{new_df.schema.simpleString()} do not match the committed "
                f"{existing.schema.simpleString()}"
            )
        delta = new_df.join(existing.select(*key_cols), on=key_cols, how="left_anti")
        if delta.isEmpty():
            return existing
        t0 = time.time()
        staging = data_dir + f".delta.{uuid.uuid4().hex}"
        delta.write.mode("overwrite").parquet(staging)
        parts = [os.path.join(staging, f) for f in os.listdir(staging) if f.endswith(".parquet")]
        n_new = sum(_footer_rows(parts).values())
        # append the delta files into the stage dir (Iceberg: new manifest
        # referencing old + new data files; here: move files in, re-commit)
        for f in parts:
            os.replace(f, os.path.join(data_dir, f"delta-{uuid.uuid4().hex}-{os.path.basename(f)}"))
        shutil.rmtree(staging)
        prev = self._load()["stages"][stage]
        self._commit(
            stage,
            {**prev, "rows": prev["rows"] + n_new, "wall_ms": int((time.time() - t0) * 1000)},
            files=self._stage_files(stage),
        )
        return self.read_stage(stage)
