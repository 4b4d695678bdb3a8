"""Continuous corpus ingestion with incremental dedup — the streaming
composition a training-data pipeline actually runs: document batches
arrive over time, and each batch is deduplicated BOTH within itself and
against everything already accepted, earliest-wins.

Built from verified batch pieces re-expressed over Structured Streaming:
q45's normalized-text fingerprint (exact dedup key), a within-batch
earliest-wins collapse, and a left-anti join against the accumulated
fingerprint index, driven by ``foreachBatch`` with batch_id-stamped
output directories so a replayed micro-batch overwrites itself instead
of double-appending (the same idempotency contract as
windows.run_foreach_batch_upsert).

Scale shape: the fingerprint index carries TWO fixed-width-ish columns
(fp, doc_id) — at 100 TB of corpus it is the md5 set, orders of
magnitude smaller than the text. The per-batch anti-join shuffles the
small arriving batch against the index on fp; at production scale the
index is written bucketed by fp so the join co-locates without
reshuffling the index, with a bloom-filter pre-pass (q61b's machinery)
to discard the overwhelmingly-novel majority before the join — both are
layout choices on this module's output directories, not logic changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_modular_encryption_spark.functions.text import normalized


def fingerprinted(docs: DataFrame) -> DataFrame:
    """Attach q45's exact-dedup key: md5 over the normalized text."""
    return docs.withColumn("fp", F.md5(normalized("text")))


def _batch_earliest(batch: DataFrame) -> DataFrame:
    """Within-batch earliest-wins: lowest doc_id per fingerprint."""
    w = Window.partitionBy("fp").orderBy(F.asc("doc_id"))
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def incremental_dedup_ingest(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    max_files_per_trigger: int = 1,
    fail_after_sink=None,
) -> None:
    """Run the ingest stream to completion over the files currently in
    ``source_dir`` (documents-shaped parquet), writing accepted documents
    under ``{work_dir}/corpus`` and the fingerprint index under
    ``{work_dir}/index``. Re-invoking with the same ``work_dir`` resumes
    from the checkpoint: already-processed files are skipped, replayed
    in-flight batches overwrite their own batch directory.

    ``max_files_per_trigger=1`` makes arrival order the batch order —
    the deterministic contract the dedup semantics (and the tests) pin:
    a document is accepted iff its fingerprint never appeared in an
    earlier batch nor on an earlier doc_id within its own batch.

    ``fail_after_sink`` is TEST-ONLY fault injection: called with the
    batch_id after both sink writes and before foreachBatch returns
    (i.e. before the checkpoint commits the offset) — raising there
    simulates a crash at the worst possible point, outputs on disk but
    the batch uncommitted, which forces a replay on restart.
    """
    corpus_dir = f"{work_dir}/corpus"
    index_dir = f"{work_dir}/index"
    schema = spark.read.parquet(source_dir).schema

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = _batch_earliest(fingerprinted(batch_df))
        # anti-join against the index as of the PREVIOUS batch — listing
        # happens here, inside the sequential foreachBatch, and MUST
        # exclude this batch's own batch_id directory: after a crash
        # between the sink writes and the checkpoint commit, the REPLAYED
        # batch finds its own fingerprints from the failed attempt on
        # disk, and an unfiltered index read would anti-join every one of
        # its documents away, overwriting the batch directory as empty
        # (silent data loss — caught by the round-10 failure-injection
        # test, tests/test_streaming.py::
        # test_incremental_dedup_ingest_crash_replay).
        prior = (
            [
                os.path.join(index_dir, d)
                for d in sorted(os.listdir(index_dir))
                if d.startswith("batch_id=") and d != f"batch_id={batch_id}"
            ]
            if os.path.isdir(index_dir)
            else []
        )
        prior = [
            p
            for p in prior
            if any(f.endswith(".parquet") for f in os.listdir(p))
        ]
        if prior:
            seen = (
                spark.read.option("basePath", index_dir)
                .parquet(*prior)
                .select("fp")
            )
            batch = batch.join(seen, "fp", "left_anti")
        # one deterministic pass feeds both sinks: materialize the
        # survivors once, then write text and index from the same rows
        batch = batch.persist()
        try:
            batch.write.mode("overwrite").parquet(
                f"{corpus_dir}/batch_id={batch_id}"
            )
            batch.select("fp", "doc_id").write.mode("overwrite").parquet(
                f"{index_dir}/batch_id={batch_id}"
            )
        finally:
            batch.unpersist()
        if fail_after_sink is not None:
            fail_after_sink(batch_id)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    q = (
        stream.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", f"{work_dir}/checkpoint")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def read_accepted(spark: SparkSession, work_dir: str) -> DataFrame:
    """The accepted (deduplicated) corpus across all processed batches."""
    return spark.read.parquet(f"{work_dir}/corpus")


def encrypted_stream_ingest(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    policy,
    kms_url: str | None = None,
    max_files_per_trigger: int = 1,
    checkpoint_dir: str | None = None,
    fail_after_sink=None,
) -> None:
    """Continuous ENCRYPTED ingestion: micro-batches land directly as
    PME-encrypted parquet — plaintext never touches the sink, so the
    at-rest guarantee holds from the first byte of the first batch (the
    reference's write path, made continuous).

    Composition of two verified pieces: Structured Streaming's
    ``foreachBatch`` (sequential, replay-on-failure) and the Arrow PME
    writer ``write_encrypted`` (per-partition executor-side encryption,
    sources/encrypted.py). Each batch writes its own
    ``batch_id=N`` directory and a REPLAYED batch rewrites that directory
    from scratch before re-encrypting — the same overwrite-own-directory
    idempotency contract as :func:`incremental_dedup_ingest` (AES-GCM
    uses random IVs, so replayed ciphertext differs byte-wise while the
    plaintext content is identical; idempotency is at the row level,
    which is the level the readers see). A batch with no rows leaves an
    empty directory. The reader of the lake is one
    ``sources.encrypted.read_encrypted(spark, out_dir, ...)`` scan over
    every batch directory (it skips the default ``_checkpoint/``).

    Scale shape: encryption cost is per-partition and embarrassingly
    parallel; KMS load is one wrap per file x key-id per batch (double
    wrapping), independent of row volume. Resuming from the checkpoint
    skips already-ingested files."""
    import shutil

    from parquet_modular_encryption_spark.sources.encrypted import write_encrypted

    schema = spark.read.parquet(source_dir).schema

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        sub = f"{out_dir}/batch_id={batch_id}"
        shutil.rmtree(sub, ignore_errors=True)
        write_encrypted(batch_df, sub, policy, kms_url=kms_url)
        # test-only fault injection (see incremental_dedup_ingest): crash
        # with ciphertext on disk but the offset uncommitted
        if fail_after_sink is not None:
            fail_after_sink(batch_id)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    q = (
        stream.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", checkpoint_dir or f"{out_dir}/_checkpoint")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
