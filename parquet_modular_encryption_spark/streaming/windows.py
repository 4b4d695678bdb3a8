"""Structured Streaming operators over the events stream.

The batch twins of these operators live in operators/events.py (where the
DuckDB oracle can check them); here the same semantics run as unbounded
streams: tumbling/sliding/session windows, event-time watermarks with
late-data drop, and keyed streaming deduplication.

Scale notes: streaming state (window partials, dedup keys, open sessions)
lives in the executor state store keyed by (window/key), sharded by
``spark.sql.shuffle.partitions``. Watermarks bound state size — without
them tumbling aggs and dedup grow unboundedly at 100 TB/day. The file
source here is a stand-in for Kafka; the operator graph is identical.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_modular_encryption_spark.functions.numeric import DEC

def stream_events(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The events table as an unbounded stream, with ``ts`` normalized to
    ``TimestampType`` regardless of the on-disk encoding.

    The streaming file source requires a declared schema, but the driver
    has shipped events.parquet with different ts encodings across rounds
    (TIMESTAMP(NANOS)-as-BIGINT via the legacy conf, then timestamp[us]/
    NTZ), so probe the actual schema with a cheap batch metadata read and
    declare THAT — then route through the same ``normalize_event_ts`` the
    batch loader uses.

    ``sf_dir`` may be a testdata sf directory (only its events.parquet is
    streamed — a bare directory glob would pull in the other nine tables
    as all-null rows) or a directory of event files from test fixtures.
    """
    from parquet_modular_encryption_spark.sources.datasets import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    restrict = _has_events_file(sf_dir)
    probe = spark.read
    if restrict:
        probe = probe.option("pathGlobFilter", "events.parquet")
    try:
        schema = probe.parquet(sf_dir).schema  # metadata-only: no scan
    except AnalysisException as exc:
        # Only the empty/not-yet-populated case falls back (a stream may
        # legitimately start before its source directory has data):
        # declare the current driver events encoding, and
        # normalize_event_ts adapts if later-arriving files differ.
        # Everything else (missing path, permissions, corrupt footer)
        # propagates — a silent fallback would mask a real read failure
        # and could pin a ts type that mismatches the actual files.
        cond = getattr(exc, "getCondition", lambda: "")() or ""
        if not (
            "UNABLE_TO_INFER_SCHEMA" in cond or "unable to infer schema" in str(exc).lower()
        ):
            raise
        from pyspark.sql.types import StructType

        schema = StructType.fromDDL(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
    reader = spark.readStream.schema(schema)
    if restrict:
        # the streaming file source only accepts directories, so restrict
        # to the events table by glob instead of path
        reader = reader.option("pathGlobFilter", "events.parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_event_ts(reader.parquet(sf_dir))


def _has_events_file(sf_dir: str) -> bool:
    import os

    return os.path.exists(os.path.join(sf_dir, "events.parquet"))


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str | None = None
) -> DataFrame:
    """Tumbling-window count/sum per event_type. With a watermark, append
    mode emits each window once, when it can no longer receive late data."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).alias("sum_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "sum_value")
    )


def sliding_counts(
    events: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "n_events")
    )


def session_aggregate(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Native streaming sessionization: session_window merges events within
    ``gap`` of each other per user — the streaming twin of q32_sessionize's
    gaps-and-islands batch form."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming keyed dedup: first event per (user_id, event_type) wins;
    the watermark bounds the dedup state (keys older than it are evicted —
    the unbounded-state hazard at scale)."""
    return events.withWatermark("ts", watermark).dropDuplicates(
        ["user_id", "event_type"]
    )


def dedup_stream_within_watermark(
    events: DataFrame, delay: str = "30 minutes"
) -> DataFrame:
    """Streaming dedup with BOUNDED retention (Spark 3.5+
    ``dropDuplicatesWithinWatermark``): duplicates arriving within the
    watermark delay of the first-seen event are suppressed, and the key's
    state is GUARANTEED evicted once the watermark passes it — so a
    re-occurrence beyond the horizon is emitted again. This is the
    contract a 100 TB ingest wants: exactly-once within the dedup
    horizon with state bounded by keys-per-horizon, versus
    ``dropDuplicates`` (:func:`dedup_stream`) whose state is
    keys-ever-seen and whose watermark eviction silently turns "first
    wins forever" into the same bounded semantics without saying so."""
    return events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Drive a streaming DataFrame to completion against a memory sink
    (test/bench harness): process everything available, then stop."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.table(name)


def click_purchase_join(
    events: DataFrame,
    events2: DataFrame,
    attribution_window: str = "2 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to the same user's
    click within the preceding ``attribution_window`` (ad-attribution shape).

    Both sides carry watermarks plus a time-range join condition — the two
    requirements Structured Streaming imposes so it can bound the join
    state buffers and GC rows that can no longer match. State is keyed by
    user_id (the equi-join key), sharded across shuffle partitions; at
    scale the range width directly sets state size, so it is the knob to
    tune, not the watermark alone.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events2.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"interval {attribution_window}")),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        "purchase_ts",
        "click_ts",
        "amount",
    )


def run_foreach_batch_upsert(
    df: DataFrame, out_dir: str, key_cols: list[str]
) -> None:
    """Drive a streaming aggregate into a parquet directory via
    foreachBatch with last-write-wins upsert semantics.

    foreachBatch is the general-purpose streaming sink: each micro-batch
    arrives as a batch DataFrame plus a monotonically increasing batch_id.
    Writing the batch to a batch_id-stamped subdirectory makes replays
    idempotent (a restarted query re-emits the same batch_id and simply
    overwrites its own directory), and the read side resolves the latest
    value per key — the same log-compaction contract a Delta/Iceberg MERGE
    provides, built from plain parquet.
    """

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    q = (
        df.writeStream.outputMode("update")
        .foreachBatch(per_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def read_upsert_dir(spark: SparkSession, out_dir: str, key_cols: list[str]) -> DataFrame:
    """Resolve the foreachBatch log: latest batch wins per key."""
    from pyspark.sql import Window

    log = spark.read.parquet(out_dir)
    w = Window.partitionBy(*key_cols).orderBy(F.desc("batch_id"))
    return (
        log.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "batch_id", "__batch_id")
    )


def stream_static_enrich(
    events_stream: DataFrame, dim: DataFrame, on: str = "event_type"
) -> DataFrame:
    """Stream-static join: every micro-batch joins against a bounded batch
    dimension. Unlike stream-stream joins this is STATELESS — no
    watermark, no join-state store — because the static side is fully
    available at each trigger; Spark re-plans it per micro-batch (so a
    dimension refresh is picked up on the next trigger). The explicit
    broadcast keeps the stream side shuffle-free: at 100 TB/day of
    events, shuffling the stream to co-locate with a small dimension
    would dominate the pipeline; shipping the dimension to the stream
    executors is the only shape that scales."""
    return events_stream.join(F.broadcast(dim), on)


def ohlc_bars_stream(
    events: DataFrame, window: str = "1 hour", watermark: str | None = None
) -> DataFrame:
    """Streaming twin of the batch q97b OHLC bars: open/close via
    composite-key min_by/max_by inside the windowed aggregation — both
    are declarative aggregates with merge support, so they maintain
    incrementally across micro-batches exactly like min/max/count (this
    is the point of the q97b shape: no per-window sort anywhere, so the
    same plan serves batch rollups and continuous maintenance)."""
    src = events.withWatermark("ts", watermark) if watermark else events
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type", "open", "high", "low", "close", "n_events",
        )
    )
