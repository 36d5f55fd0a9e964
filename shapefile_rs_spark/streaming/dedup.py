"""Streaming exact dedup — the ingestion-time twin of
:func:`operators.dedup.exact_dedup`.

A training-data landing zone re-receives the same page from recrawls and
mirror sites; deduping AT INGEST keeps every downstream stage (quality,
minhash, tokenize) from paying for copies.  Content identity is the md5 of
the text (16 bytes of state per distinct doc, independent of doc size).

Two state regimes:

* ``ts_col`` given — ``dropDuplicatesWithinWatermark``: state for a digest
  is dropped once the watermark passes it, so state size is bounded by the
  duplicate-arrival horizon (recrawl window), not corpus size.  This is
  the 100 TB mode.
* ``ts_col=None`` — plain ``dropDuplicates``: exact global dedup with
  unbounded state; only for bounded replays/backfills (availableNow over a
  finite directory), where it matches the batch operator exactly.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_stream(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: Optional[str] = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """First-seen row per distinct ``text_col`` content (md5 identity)."""
    hashed = docs.withColumn("_text_md5", F.md5(F.col(text_col).cast("binary")))
    if ts_col:
        hashed = hashed.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        return (
            hashed.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["_text_md5"])
            .drop("_text_md5")
        )
    return hashed.dropDuplicates(["_text_md5"]).drop("_text_md5")


def maintain_signature_stage(
    docs_stream: DataFrame,
    pipeline_root: str,
    checkpoint_dir: str,
    stage: str = "sigs",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 12,
    bands: int | None = None,
    query_name: str = "sig_stage_maintenance",
):
    """Keep the COMMITTED corpus MinHash signature stage fresh as recrawl
    batches land: each micro-batch computes its docs' signatures
    (:func:`..operators.dedup.minhash_signatures`) and appends only the
    UNSEEN ids to the lineage stage via ``append_delta``'s keyed
    anti-join.  The stage the incremental near-dup join reads
    (``minhash_lsh_join(corpus_sigs=...)``) therefore tracks ingestion —
    no periodic full re-hash of the corpus ever runs.

    Exactly-once EFFECT under at-least-once delivery: a replayed batch's
    ids already exist in the stage, so the anti-join appends nothing
    (the same property the batch jobs rely on for kill/resume), and each
    append is an atomic manifest commit — a kill mid-append leaves either
    the old snapshot or the complete new one (``_SUCCESS``-complete
    staging dirs are adopted whole on retry).  Single-writer: one
    maintenance query per stage root, the lineage contract.

    Runs with ``trigger(availableNow=True)`` and BLOCKS until the
    backlog drains — the bounded-replay regime every streaming surface
    in this module is tested under; a production deployment would swap
    the trigger for a processing-time one.  Returns the committed stage
    frame.

    ``bands`` (optional) additionally maintains the committed BAND stage
    next to the signature stage: each batch's ``(_id, band, band_key)``
    rows append through the same keyed anti-join, so
    ``minhash_lsh_join(corpus_sigs=..., corpus_bands=...)`` never
    re-bands the corpus (its one remaining per-batch O(N) map work).
    Both stages advance in the SAME foreachBatch call, so a replayed
    batch is idempotent on both; the band stage's name carries the
    band-aware fingerprint (a banding edit or ``bands`` change restarts
    it without touching the signature stage).  With ``bands`` set the
    return value is the PAIR ``(sig_frame, band_frame)``."""
    from ..lineage import CheckpointedPipeline
    from ..operators.dedup import (
        minhash_algo_fingerprint,
        minhash_band_rows,
        minhash_signatures,
    )

    # the stage name carries the algorithm fingerprint + params — the
    # committed-stage cache-key rule (see minhash_algo_fingerprint): a
    # param change or signature-spelling edit starts a FRESH stage
    # instead of silently mixing incompatible signatures in one stage
    band_stage = (
        f"{stage}-bands-k{k}h{num_hashes}b{bands}-"
        f"{minhash_algo_fingerprint(k, num_hashes, bands)}"
        if bands is not None
        else None
    )
    stage = f"{stage}-k{k}h{num_hashes}-{minhash_algo_fingerprint(k, num_hashes)}"

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        pipe = CheckpointedPipeline(batch_df.sparkSession, pipeline_root)
        sigs = minhash_signatures(
            batch_df.select(id_col, text_col), id_col, text_col, k, num_hashes
        ).localCheckpoint(eager=True) if band_stage else minhash_signatures(
            batch_df.select(id_col, text_col), id_col, text_col, k, num_hashes
        )
        # intra-batch dedup: append_delta's anti-join filters only against
        # the COMMITTED stage, so the same id landing twice in ONE
        # micro-batch (two mirrors in the same drain) would commit twice
        # without this; for identical replays any copy is the same row
        pipe.append_delta(stage, sigs.dropDuplicates(["_id"]), ["_id"])
        if band_stage:
            # banded rows derive from the SAME materialized signatures
            # (localCheckpoint above: two consumers, one signature compute
            # — the self-join re-run rule from CLAUDE.md), keyed per
            # (_id, band) so replays append nothing
            pipe.append_delta(
                band_stage,
                minhash_band_rows(
                    sigs.dropDuplicates(["_id"]), num_hashes, bands
                ),
                ["_id", "band"],
            )

    q = (
        docs_stream.writeStream.foreachBatch(_append)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    pipe = CheckpointedPipeline(docs_stream.sparkSession, pipeline_root)
    if not pipe.completed(stage):
        return None  # zero non-empty batches and no prior stage
    sig_frame = pipe.read_stage(stage)
    if band_stage:
        return sig_frame, pipe.read_stage(band_stage)
    return sig_frame


def maintain_para_registry(
    docs_stream: DataFrame,
    pipeline_root: str,
    checkpoint_dir: str,
    stage: str = "paras",
    text_col: str = "text",
    sep: str = "\n",
    min_len: int = 1,
    query_name: str = "para_registry_maintenance",
):
    """Keep the COMMITTED paragraph registry fresh as recrawl batches
    land — the :func:`maintain_signature_stage` pattern for
    :func:`..operators.dedup.para_dedup_incremental`: each micro-batch's
    distinct eligible paragraphs (:func:`..operators.dedup.para_registry`
    — already intra-batch distinct) append through ``append_delta``'s
    keyed anti-join on ``para``, so only paragraphs the corpus has never
    kept commit, replayed batches append nothing, and the registry the
    incremental dedup joins against tracks ingestion without any
    periodic full re-explode of the corpus.

    The anti-join key IS the registry semantic: committed content wins
    unconditionally, which is exactly para_dedup_incremental's rule, so
    registry(corpus) ∪ maintained batches == registry(corpus ∪ batches)
    (the operator-level pytest pin carries over).  Stage name carries
    (min_len, sep) so a parameter change starts a fresh stage instead of
    mixing incompatible paragraph grains.  Runs availableNow and blocks
    until the backlog drains (the bounded-replay test regime); returns
    the committed registry frame, or None when no batch ever landed."""
    import hashlib

    from ..lineage import CheckpointedPipeline
    from ..operators.dedup import para_registry

    stage = f"{stage}-m{min_len}-{hashlib.md5(sep.encode()).hexdigest()[:8]}"

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        pipe = CheckpointedPipeline(batch_df.sparkSession, pipeline_root)
        pipe.append_delta(
            stage,
            para_registry(
                batch_df, text_col=text_col, sep=sep, min_len=min_len
            ),
            ["para"],
        )

    q = (
        docs_stream.writeStream.foreachBatch(_append)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    pipe = CheckpointedPipeline(docs_stream.sparkSession, pipeline_root)
    if not pipe.completed(stage):
        return None  # zero non-empty batches and no prior stage
    return pipe.read_stage(stage)


def maintain_line_registry(
    docs_stream: DataFrame,
    pipeline_root: str,
    checkpoint_dir: str,
    stage: str = "lines",
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_len: int = 1,
    query_name: str = "line_registry_maintenance",
):
    """Keep the COMMITTED line-frequency registry fresh as recrawl
    batches land — the :func:`maintain_para_registry` pattern for
    :func:`..operators.dedup.line_prune_incremental`, at DOC grain: each
    micro-batch's distinct eligible ``(line, doc)`` pairs
    (:func:`..operators.dedup.line_doc_pairs`) append through
    ``append_delta``'s keyed anti-join on BOTH columns, so a replayed —
    or even re-SENT — batch appends nothing and the registry stays
    content-idempotent with no doc-id disjointness contract (the batch
    operator's sum-merged ``delta`` needs that contract; committed pairs
    do not, because a pair either exists or it doesn't).

    The registry the incremental prune joins against is the pair stage
    aggregated per line — one count shuffle over pair-sized state at
    read time, the price of exactly-once counting under at-least-once
    delivery.  Stage name carries (min_len, sep) so a parameter change
    starts a fresh stage.  Runs availableNow and blocks until the
    backlog drains; returns the aggregated ``(line, n_docs)`` registry
    frame, or None when no batch ever landed."""
    import hashlib

    from ..lineage import CheckpointedPipeline
    from ..operators.dedup import line_doc_pairs

    stage = f"{stage}-m{min_len}-{hashlib.md5(sep.encode()).hexdigest()[:8]}"

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        pipe = CheckpointedPipeline(batch_df.sparkSession, pipeline_root)
        pipe.append_delta(
            stage,
            line_doc_pairs(
                batch_df, id_col=id_col, text_col=text_col, sep=sep, min_len=min_len
            ),
            ["line", "_id"],
        )

    q = (
        docs_stream.writeStream.foreachBatch(_append)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    pipe = CheckpointedPipeline(docs_stream.sparkSession, pipeline_root)
    if not pipe.completed(stage):
        return None  # zero non-empty batches and no prior stage
    return (
        pipe.read_stage(stage)
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def maintain_dsir_registry(
    docs_stream: DataFrame,
    pipeline_root: str,
    checkpoint_dir: str,
    target_pred,
    stage: str = "dsir",
    n_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_name: str = "dsir_registry_maintenance",
):
    """Keep the COMMITTED DSIR stats registry fresh as recrawl batches
    land — the :func:`maintain_line_registry` pattern for
    :func:`..operators.curation.dsir_weights_incremental`, at DOC grain:
    each micro-batch's per-(doc, bucket) counts
    (:func:`..operators.curation.dsir_doc_bucket_counts`) append through
    ``append_delta``'s keyed anti-join on ``(_id, f)``, so a replayed or
    re-SENT batch appends nothing and the registry stays
    content-idempotent without any doc-id disjointness contract (the
    batch operator's sum-merged ``delta`` needs that contract; committed
    per-doc rows do not).

    The registry the incremental weighting collects is the pair stage
    aggregated per bucket — a B-row frame after one count shuffle over
    doc×bucket-sized state, the price of exactly-once counting under
    at-least-once delivery.  Stage name carries n_buckets so a bucket
    change starts a fresh stage instead of mixing incompatible feature
    spaces.  Runs availableNow and blocks until the backlog drains;
    returns the aggregated ``(f, t, q)`` registry frame, or None when no
    batch ever landed."""
    from ..lineage import CheckpointedPipeline
    from ..operators.curation import dsir_doc_bucket_counts

    stage = f"{stage}-b{n_buckets}"

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        pipe = CheckpointedPipeline(batch_df.sparkSession, pipeline_root)
        pipe.append_delta(
            stage,
            dsir_doc_bucket_counts(
                batch_df, target_pred, n_buckets, id_col=id_col, text_col=text_col
            ),
            ["_id", "f"],
        )

    q = (
        docs_stream.writeStream.foreachBatch(_append)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    pipe = CheckpointedPipeline(docs_stream.sparkSession, pipeline_root)
    if not pipe.completed(stage):
        return None  # zero non-empty batches and no prior stage
    return (
        pipe.read_stage(stage)
        .groupBy("f")
        .agg(F.sum("t").alias("t"), F.sum("q").alias("q"))
    )


def maintain_lm_registry(
    docs_stream: DataFrame,
    pipeline_root: str,
    checkpoint_dir: str,
    uni_stage: str = "lm_uni",
    big_stage: str = "lm_big",
    id_col: str = "doc_id",
    text_col: str = "text",
    query_name: str = "lm_registry_maintenance",
):
    """Keep the COMMITTED LM count registry fresh as recrawl batches land
    — the :func:`maintain_dsir_registry` pattern for
    :func:`..operators.lm.lm_score_incremental`, at DOC grain and in TWO
    halves: each micro-batch appends its per-doc unigram rows
    (:func:`..operators.lm.lm_doc_unigram_counts`, anti-join key
    ``(_id, w)``) and bigram rows
    (:func:`..operators.lm.lm_doc_bigram_counts`, key
    ``(_id, w1, w2)``), so a replayed or re-SENT batch appends nothing
    to either half and the registry stays content-idempotent without a
    doc-id disjointness contract (the batch operator's sum-merged deltas
    need that contract; committed per-doc rows do not).

    The registries :func:`..operators.lm.lm_score_incremental` consumes
    are the two pair stages aggregated per token / token pair —
    vocabulary-sized frames after one count shuffle over doc×vocab
    state, the price of exactly-once counting under at-least-once
    delivery.  Runs availableNow and blocks until the backlog drains;
    returns ``(uni_reg, big_reg)`` or None when no batch ever landed.
    """
    from ..lineage import CheckpointedPipeline
    from ..operators.lm import lm_doc_bigram_counts, lm_doc_unigram_counts

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        pipe = CheckpointedPipeline(batch_df.sparkSession, pipeline_root)
        pipe.append_delta(
            uni_stage,
            lm_doc_unigram_counts(batch_df, id_col=id_col, text_col=text_col),
            ["_id", "w"],
        )
        pipe.append_delta(
            big_stage,
            lm_doc_bigram_counts(batch_df, id_col=id_col, text_col=text_col),
            ["_id", "w1", "w2"],
        )

    q = (
        docs_stream.writeStream.foreachBatch(_append)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    pipe = CheckpointedPipeline(docs_stream.sparkSession, pipeline_root)
    if not (pipe.completed(uni_stage) and pipe.completed(big_stage)):
        return None  # zero non-empty batches and no prior stages
    uni = (
        pipe.read_stage(uni_stage)
        .groupBy("w")
        .agg(F.sum("c").alias("c_uni"))
    )
    big = (
        pipe.read_stage(big_stage)
        .groupBy("w1", "w2")
        .agg(F.sum("c").alias("c_big"))
    )
    return uni, big
