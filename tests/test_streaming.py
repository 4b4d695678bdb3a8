"""Structured Streaming tests: batch-equivalence of windowed aggregates,
watermark late-data semantics, session windows, and streaming dedup."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from parquet_modular_encryption_spark.operators.events import q30_tumbling_window
from parquet_modular_encryption_spark.streaming.windows import (
    dedup_stream,
    run_to_memory,
    session_aggregate,
    sliding_counts,
    stream_events,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


def test_stream_starts_on_empty_directory(spark, tmp_path):
    """A stream must be definable before its source directory has data
    (ADVICE r6: the batch schema probe used to throw 'unable to infer
    schema'); once files arrive, a restarted reader sees them with the
    same declared schema."""
    import os

    empty = str(tmp_path / "not_yet_populated")
    os.makedirs(empty)
    stream = stream_events(spark, empty)
    assert stream.isStreaming
    assert "ts" in stream.columns and "event_type" in stream.columns
    # the declared schema must support the downstream operator graph
    windowed = tumbling_counts(stream, watermark="1 hour")
    assert windowed.isStreaming


def test_tumbling_stream_equals_batch(spark):
    """Complete-mode streaming tumbling counts == the batch q30 aggregate
    (counts only; q30 adds per-window distincts the stream doesn't)."""
    stream = stream_events(spark, SF)
    got = run_to_memory(
        tumbling_counts(stream), "t_tumble", output_mode="complete"
    ).select("win_start", "event_type", "n_events")
    batch = q30_tumbling_window(spark, SF).select("win_start", "event_type", "n_events")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_sliding_stream_counts(spark):
    stream = stream_events(spark, SF)
    got = run_to_memory(sliding_counts(stream), "t_slide", output_mode="complete")
    total = got.agg(F.sum("n_events")).collect()[0][0]
    # 2h windows sliding 1h: every event lands in exactly 2 windows
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert total == 2 * n_events


def _write_events(spark, path, rows):
    spark.createDataFrame(
        [(i, ts, 1, "click", 1.0, "{}") for i, ts in enumerate(rows)],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string",
    ).withColumn("ts", F.unix_micros("ts") * 1000).write.mode("append").parquet(path)


def test_watermark_drops_late_data(spark, tmp_path):
    """Append mode + watermark: a window is emitted once finalized, and an
    event arriving after the watermark passed its window is dropped."""
    path = str(tmp_path / "stream_src")
    t = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def at(h, m):
        return t.replace(hour=h, minute=m)

    # batch 1: two events in the 12:00 window
    _write_events(spark, path, [at(12, 0), at(12, 30)])

    stream = stream_events(spark, path, max_files_per_trigger=1)
    agg = tumbling_counts(stream, window="1 hour", watermark="0 seconds")
    q = agg.writeStream.outputMode("append").format("memory").queryName("t_late").start()
    try:
        q.processAllAvailable()
        # batch 2: one very-late event (10:05 — watermark is already 12:30)
        # and one fresh event at 13:10 that finalizes the 12:00 window.
        _write_events(spark, path, [at(10, 5), at(13, 10)])
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {
        (r.win_start, r.n_events) for r in spark.table("t_late").collect()
    }
    # the 12:00 window was emitted with exactly its 2 on-time events;
    # the late 10:05 event produced no 10:00 window output.
    assert (datetime.datetime(2024, 1, 1, 12, 0), 2) in rows
    assert not any(w.hour == 10 for w, _ in rows)


def test_session_window_stream(spark):
    """Streaming session_window should produce the same number of sessions
    as the batch gaps-and-islands q32 for the same 30-min gap."""
    from parquet_modular_encryption_spark.operators.events import q32_sessionize

    stream = stream_events(spark, SF)
    got = run_to_memory(
        session_aggregate(stream, gap="30 minutes"), "t_sess", output_mode="complete"
    )
    batch_sessions = q32_sessionize(spark, SF).count()
    assert got.count() == batch_sessions
    # per-user totals must agree too
    g = {r.user_id: r.n for r in got.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    b = {
        r.user_id: r.n
        for r in q32_sessionize(spark, SF).groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert g == b


def test_dedup_stream(spark):
    stream = stream_events(spark, SF)
    got = run_to_memory(dedup_stream(stream), "t_dedup")
    n_keys = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert got.count() == n_keys


def test_stream_stream_join_matches_batch(spark):
    """The streaming click→purchase attribution join must produce exactly
    the rows of the equivalent batch time-range join."""
    from parquet_modular_encryption_spark.sources.datasets import load
    from parquet_modular_encryption_spark.streaming.windows import (
        click_purchase_join,
        run_to_memory,
        stream_events,
    )

    sf = "/root/testdata/sf0.001"
    s1 = stream_events(spark, sf)
    s2 = stream_events(spark, sf)
    got_df = run_to_memory(click_purchase_join(s1, s2), "ss_join")
    got = {(r.purchase_id, r.click_id) for r in got_df.collect()}

    ev = load(spark, sf, "events")
    clicks = ev.filter(ev.event_type == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(ev.event_type == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    want_df = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("interval 2 hours")),
    )
    want = {(r.purchase_id, r.click_id) for r in want_df.collect()}
    assert got, "stream-stream join produced no rows"
    assert got == want


def test_foreach_batch_upsert_latest_wins(spark, tmp_path):
    """Streaming counts written via foreachBatch upsert must resolve to the
    same totals as the batch aggregate, even across multiple micro-batches
    that update the same keys."""
    from parquet_modular_encryption_spark.sources.datasets import load
    from parquet_modular_encryption_spark.streaming.windows import (
        read_upsert_dir,
        run_foreach_batch_upsert,
        stream_events,
    )

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "upsert")
    counts = (
        stream_events(spark, sf)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    run_foreach_batch_upsert(counts, out, ["event_type"])
    got = {r.event_type: r.n for r in read_upsert_dir(spark, out, ["event_type"]).collect()}
    want = {
        r.event_type: r.n
        for r in load(spark, sf, "events").groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """A checkpointed query restarted over the same source must not
    re-emit processed batches: the second run resumes from the offset log
    and only its NEW file produces output (exactly-once sink contract)."""
    src = str(tmp_path / "ckpt_src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "ckpt_out")
    t = datetime.datetime(2024, 3, 1, 9, 0, 0)

    _write_events(spark, src, [t, t.replace(minute=30)])

    def run_once():
        stream = stream_events(spark, src)
        q = (
            stream.select("event_id", "ts", "user_id")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    first = spark.read.parquet(out).count()
    assert first == 2

    # restart with one more file: only the delta may appear
    _write_events(spark, src, [t.replace(hour=10)])
    run_once()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3, f"expected 3 rows after restart, got {len(rows)}"
    assert len({r.event_id for r in rows}) == 2  # ids 0,1 from the two files


def test_stream_static_enrich_matches_batch(spark):
    """Streaming enrichment against a static dimension must equal the
    batch join: per-category event counts agree."""
    from parquet_modular_encryption_spark.sources.datasets import load
    from parquet_modular_encryption_spark.streaming.windows import (
        run_to_memory,
        stream_events,
        stream_static_enrich,
    )

    ev_batch = load(spark, SF, "events")
    dim = (
        ev_batch.select("event_type")
        .distinct()
        .withColumn("category", F.upper(F.substring("event_type", 1, 1)))
    )
    enriched = stream_static_enrich(stream_events(spark, SF), dim)
    got_df = run_to_memory(
        enriched.groupBy("category").agg(F.count(F.lit(1)).alias("n")),
        "t_enrich",
        output_mode="complete",
    )
    got = {r.category: r.n for r in got_df.collect()}
    want = {
        r.category: r.n
        for r in ev_batch.join(dim, "event_type")
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_incremental_dedup_ingest_earliest_wins(spark, tmp_path):
    """Continuous-ingestion dedup (streaming/ingest.py): documents arrive
    as three batch files in doc_id order; after the stream drains, the
    accepted corpus must be EXACTLY q45's canonical set (global
    earliest-wins per normalized-text fingerprint), with no fingerprint
    accepted twice. Resuming from the same checkpoint with no new files
    is a no-op; a later-arriving batch of pure duplicates adds nothing,
    while one with a novel document adds exactly that document."""
    import os
    import time

    import pyarrow.parquet as pq

    from parquet_modular_encryption_spark.pipeline.textops import q45_fingerprint
    from parquet_modular_encryption_spark.streaming.ingest import (
        incremental_dedup_ingest,
        read_accepted,
    )

    src = tmp_path / "arrivals"
    work = str(tmp_path / "work")
    os.makedirs(src)
    table = pq.read_table(f"{SF}/documents.parquet")
    table = table.take(
        [i for _, i in sorted(zip(table.column("doc_id").to_pylist(), range(len(table))))]
    )
    n = len(table)
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]), src / f"{i:03d}.parquet")
        os.utime(src / f"{i:03d}.parquet", (time.time() - 300 + i, time.time() - 300 + i))

    incremental_dedup_ingest(spark, str(src), work)
    accepted = {r.doc_id for r in read_accepted(spark, work).collect()}
    canonical = {
        r.canonical_doc_id for r in q45_fingerprint(spark, SF).collect()
    }
    assert accepted == canonical
    fps = [r.fp for r in read_accepted(spark, work).select("fp").collect()]
    assert len(fps) == len(set(fps)), "a fingerprint was accepted twice"

    # resume with nothing new: no-op
    incremental_dedup_ingest(spark, str(src), work)
    assert {r.doc_id for r in read_accepted(spark, work).collect()} == accepted

    # late batch: two exact duplicates of already-accepted docs + one novel
    sample = table.slice(0, 2)
    import pyarrow as pa

    novel = pa.table(
        {
            "doc_id": pa.array([10_000_000], type=table.schema.field("doc_id").type),
            "text": pa.array(["an entirely novel late-arriving document"]),
            "lang": pa.array(["en"]),
            "source": pa.array(["late"]),
            "n_chars": pa.array([40], type=table.schema.field("n_chars").type),
        }
    ).select(table.schema.names)
    late = pa.concat_tables([sample, novel])
    pq.write_table(late, src / "900.parquet")
    incremental_dedup_ingest(spark, str(src), work)
    got = {r.doc_id for r in read_accepted(spark, work).collect()}
    assert got == accepted | {10_000_000}


def test_drop_duplicates_within_watermark_bounded_retention(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics pinned: a duplicate inside
    the 30-minute horizon is suppressed; after the watermark passes the
    key's expiry, the SAME key occurring again IS emitted (state was
    evicted — bounded retention, unlike dropDuplicates)."""
    from parquet_modular_encryption_spark.streaming.windows import (
        dedup_stream_within_watermark,
    )

    path = str(tmp_path / "src")

    def write(rows):
        spark.createDataFrame(
            [
                (i, datetime.datetime(2024, 1, 1, h, m), uid, et, 1.0, "{}")
                for i, (h, m, uid, et) in enumerate(rows)
            ],
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string",
        ).withColumn("ts", F.unix_micros("ts") * 1000).write.mode(
            "append"
        ).parquet(path)

    # batch 1: key (7, click) at 12:00 plus a duplicate at 12:10 —
    # inside the horizon, so exactly one survives
    write([(12, 0, 7, "click"), (12, 10, 7, "click")])
    stream = stream_events(spark, path, max_files_per_trigger=1)
    q = (
        dedup_stream_within_watermark(stream, delay="30 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ddww")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: advance the watermark far past 12:40 via another key...
        write([(14, 0, 8, "view")])
        q.processAllAvailable()
        # batch 3: ...then the SAME key again — state was evicted, emit
        write([(15, 0, 7, "click")])
        q.processAllAvailable()
    finally:
        q.stop()

    got = [
        (r.ts, r.user_id, r.event_type)
        for r in spark.table("t_ddww").filter(F.col("user_id") == 7).collect()
    ]
    assert sorted(t.hour for t, _, _ in got) == [12, 15], got


def test_encrypted_streaming_sink_roundtrip_and_gating(spark, tmp_path):
    """Streaming x PME composition: micro-batches land ENCRYPTED (per-column
    keys) via foreachBatch; a RESTRICTED read recovers exactly the source
    rows in ONE decrypting scan over every batch dir, a PUBLIC token is
    denied the CONFIDENTIAL column, and re-running the query with a fresh
    checkpoint (batch ids restart at 0) overwrites its own batch dirs —
    idempotent, no duplicates."""
    import pytest as _pytest

    from parquet_modular_encryption_spark.crypto.kms_server import KmsServer
    from parquet_modular_encryption_spark.crypto.policy import (
        EncryptionPolicy,
        Privilege,
    )
    from parquet_modular_encryption_spark.sources.encrypted import read_encrypted
    from parquet_modular_encryption_spark.streaming.ingest import encrypted_stream_ingest

    src = str(tmp_path / "src")
    out = str(tmp_path / "enc_lake")
    rows = [(12, 0), (12, 30), (13, 15)]
    spark.createDataFrame(
        [
            (i, datetime.datetime(2024, 1, 1, h, m), 100 + i, "click", float(i), "{}")
            for i, (h, m) in enumerate(rows)
        ],
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).withColumn("ts", F.unix_micros("ts") * 1000).repartition(3).write.parquet(src)
    want = sorted((i, 100 + i, float(i)) for i in range(3))

    def lake_rows(url):
        got = read_encrypted(spark, out, token="RESTRICTED", kms_url=url)
        return sorted((r.event_id, r.user_id, r.value) for r in got.collect())

    policy = EncryptionPolicy(
        column_levels={"value": Privilege.CONFIDENTIAL, "user_id": Privilege.INTERNAL}
    )
    ckpt = str(tmp_path / "ckpt")
    with KmsServer() as url:
        for _run in range(2):  # second run = checkpointed restart: no re-emit
            encrypted_stream_ingest(
                spark, src, out, policy, kms_url=url, checkpoint_dir=ckpt
            )

        assert lake_rows(url) == want

        # the lake read is one scan, not a union of per-batch scans
        plan = (
            read_encrypted(spark, out, token="RESTRICTED", kms_url=url)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("MapInArrow") == 1 and "Union" not in plan, plan

        # on-disk ciphertext: a plain (keyless) parquet read of any batch
        # dir must fail to materialize the encrypted column
        with _pytest.raises(Exception):
            spark.read.parquet(f"{out}/batch_id=0").select("value").collect()

        pub = read_encrypted(spark, out, token="PUBLIC", kms_url=url)
        with _pytest.raises(Exception):
            pub.select("value").collect()
        # PUBLIC reads plaintext columns via scan-time projection (the
        # least-privilege pattern: encrypted columns never materialize)
        pub_cols = read_encrypted(
            spark, out, token="PUBLIC", columns=["event_id"], kms_url=url
        )
        assert pub_cols.count() == 3

        # fresh checkpoint: batch ids restart at 0 and each batch clears
        # its own directory, so the lake still holds each row exactly once
        encrypted_stream_ingest(
            spark, src, out, policy, kms_url=url,
            checkpoint_dir=str(tmp_path / "ckpt_fresh"),
        )
        assert lake_rows(url) == want


def test_streaming_cms_sketch_equals_batch(spark, tmp_path):
    """Count-min sketches merge associatively, so a sketch built by
    incremental micro-batches (one source file per trigger) must equal
    the batch-built sketch cell-for-cell — the property that lets a
    streaming ingest maintain the same heavy-hitter structure a batch
    job would compute."""
    from parquet_modular_encryption_spark.functions.text import hash60, tokens
    from parquet_modular_encryption_spark.pipeline.textops import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_sketch,
    )

    src = str(tmp_path / "docs_src")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    docs.repartition(4).write.parquet(src)  # 4 non-empty files -> 4 triggers

    def cells_from_stream(df):
        tok = df.select(F.explode(tokens("text")).alias("tok")).filter(
            F.col("tok") != ""
        )
        d = F.explode(F.array(*[F.lit(i) for i in range(CMS_DEPTH)])).alias("d")
        bucket = (
            hash60(F.concat(F.col("d").cast("string"), F.lit(":"), F.col("tok")))
            % CMS_WIDTH
        ).alias("bucket")
        return (
            tok.select("tok", d)
            .select("d", bucket)
            .groupBy("d", "bucket")
            .count()
        )

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = run_to_memory(cells_from_stream(stream), "t_cms", output_mode="complete")

    tc = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    batch = cms_sketch(tc)
    got_cells = {(r.d, r.bucket): r["count"] for r in got.collect()}
    batch_cells = {(r.d, r.bucket): r.cell_cnt for r in batch.collect()}
    assert got_cells == batch_cells


def test_ohlc_stream_equals_batch(spark):
    """Streaming OHLC bars (complete mode) == the batch q97b aggregate on
    the same events: min_by/max_by maintain incrementally across
    micro-batches, so open/close survive streaming execution bit-for-bit."""
    from parquet_modular_encryption_spark.operators.events import q97b_ohlc_bars
    from parquet_modular_encryption_spark.streaming.windows import ohlc_bars_stream

    stream = stream_events(spark, SF, max_files_per_trigger=1)
    got = run_to_memory(
        ohlc_bars_stream(stream), "t_ohlc", output_mode="complete"
    ).select("win_start", "event_type", "open", "high", "low", "close", "n_events")
    batch = q97b_ohlc_bars(spark, SF).select(
        "win_start", "event_type", "open", "high", "low", "close", "n_events"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_encrypted_stream_ingest(spark, tmp_path):
    """Streaming encrypted ingestion (streaming/ingest.py): documents
    arrive as three batch files; each micro-batch lands as PME-encrypted
    parquet. The decrypted lake equals the source exactly; the sink
    bytes never contain the protected text; an under-privileged token
    cannot read the text column; resuming from the checkpoint with no
    new files adds nothing, a zero-row file adds nothing, and a
    late-arriving file adds exactly its rows — encrypted like the rest."""
    import glob
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_modular_encryption_spark.crypto.policy import DOCUMENTS_POLICY
    from parquet_modular_encryption_spark.sources.encrypted import read_encrypted
    from parquet_modular_encryption_spark.streaming.ingest import encrypted_stream_ingest

    src = tmp_path / "arrivals"
    out = str(tmp_path / "enc_corpus")
    os.makedirs(src)
    table = pq.read_table(f"{SF}/documents.parquet")
    n = len(table)
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        pq.write_table(
            table.slice(cuts[i], cuts[i + 1] - cuts[i]), src / f"{i:03d}.parquet"
        )
        os.utime(src / f"{i:03d}.parquet", (time.time() - 300 + i,) * 2)

    encrypted_stream_ingest(spark, str(src), out, DOCUMENTS_POLICY)

    batch_dirs = sorted(
        d for d in os.listdir(out) if d.startswith("batch_id=")
    )
    assert len(batch_dirs) == 3, batch_dirs

    # opacity: protected text absent from every sink byte
    raw = b"".join(
        open(f, "rb").read()
        for f in glob.glob(f"{out}/batch_id=*/*.parquet")
    )
    samples = [t[:40].encode() for t in table.column("text").to_pylist()[:5]]
    assert all(s not in raw for s in samples)

    # decrypted lake == source, row-exact
    got = sorted(
        tuple(r)
        for r in read_encrypted(spark, out, token="RESTRICTED").collect()
    )
    want = sorted(tuple(r.values()) for r in table.to_pylist())
    assert got == want

    # least privilege: PUBLIC token cannot project the CONFIDENTIAL text
    with pytest.raises(Exception, match="(?i)unwrap|denied|authoriz|403"):
        read_encrypted(
            spark, out, token="PUBLIC", columns=["doc_id", "text"]
        ).collect()

    # checkpoint resume with nothing new: no-op (same batch dirs, same rows)
    encrypted_stream_ingest(spark, str(src), out, DOCUMENTS_POLICY)
    assert sorted(d for d in os.listdir(out) if d.startswith("batch_id=")) == batch_dirs
    assert len(read_encrypted(spark, out, token="RESTRICTED").collect()) == n

    # zero-row arrival: its batch leaves an empty batch dir, read as no rows
    pq.write_table(table.slice(0, 0), src / "500.parquet")
    encrypted_stream_ingest(spark, str(src), out, DOCUMENTS_POLICY)
    assert os.listdir(f"{out}/batch_id=3") == []
    assert read_encrypted(spark, out, token="RESTRICTED").count() == n

    # late arrival: one novel document, encrypted like the rest
    novel = pa.table(
        {
            "doc_id": pa.array([10_000_000], type=table.schema.field("doc_id").type),
            "text": pa.array(["late-arriving confidential document"]),
            "lang": pa.array(["en"]),
            "source": pa.array(["late"]),
            "n_chars": pa.array([35], type=table.schema.field("n_chars").type),
        }
    ).select(table.schema.names)
    pq.write_table(novel, src / "900.parquet")
    encrypted_stream_ingest(spark, str(src), out, DOCUMENTS_POLICY)
    got2 = read_encrypted(spark, out, token="RESTRICTED")
    assert got2.count() == n + 1
    raw2 = b"".join(
        open(f, "rb").read()
        for f in glob.glob(f"{out}/batch_id=*/*.parquet")
    )
    assert b"late-arriving confidential" not in raw2


def test_streaming_hll_and_ddsketch_equal_batch(spark, tmp_path):
    """The round-9 sketch twins compose in streaming exactly like q88c's
    CMS cells: HLL registers MAX-merge and DDSketch bucket counts
    SUM-merge across micro-batches, so the operators' own register/bucket
    builders (hll_registers / dds_buckets) run unmodified on a streaming
    frame in complete mode and must equal the batch-built state
    row-for-row — the property that lets an ingest pipeline maintain
    distinct-count and quantile structures without reprocessing."""
    from parquet_modular_encryption_spark.operators.relational import (
        _DDS_CENTS,
        dds_buckets,
        hll_registers,
    )

    src = str(tmp_path / "li_src")
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_returnflag", "l_partkey", "l_extendedprice", "l_orderkey"
    )
    li.repartition(4).write.parquet(src)

    key = F.concat(F.lit("pk:"), F.col("l_partkey").cast("string"))
    stream = (
        spark.readStream.schema(li.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )

    got_regs = run_to_memory(
        hll_registers(stream, "l_returnflag", key), "t_hll", output_mode="complete"
    )
    batch_regs = hll_registers(li, "l_returnflag", key)
    assert {(r.l_returnflag, r.bucket): r.reg for r in got_regs.collect()} == {
        (r.l_returnflag, r.bucket): r.reg for r in batch_regs.collect()
    }

    got_buckets = run_to_memory(
        dds_buckets(stream, "l_returnflag", F.expr(_DDS_CENTS)),
        "t_dds",
        output_mode="complete",
    )
    batch_buckets = dds_buckets(li, "l_returnflag", F.expr(_DDS_CENTS))
    assert {(r.l_returnflag, r.bucket): (r.rep, r.c) for r in got_buckets.collect()} == {
        (r.l_returnflag, r.bucket): (r.rep, r.c) for r in batch_buckets.collect()
    }


def test_incremental_dedup_ingest_crash_replay(spark, tmp_path):
    """VERDICT r9 item 5: kill the ingest AFTER a batch's sinks are
    written but BEFORE its offset commits, restart from the checkpoint,
    and require the final corpus+index to be row-identical to an
    uninterrupted run. This is the test that caught the round-10
    replay-visibility bug: the replayed batch used to anti-join against
    its OWN failed attempt's index rows, silently overwriting the batch
    directory as empty."""
    import os
    import time

    import pyarrow.parquet as pq

    from parquet_modular_encryption_spark.streaming.ingest import (
        incremental_dedup_ingest,
        read_accepted,
    )

    table = pq.read_table(f"{SF}/documents.parquet")
    table = table.take(
        [i for _, i in sorted(zip(table.column("doc_id").to_pylist(),
                                  range(len(table))))]
    )
    n = len(table)
    cuts = [0, n // 3, 2 * n // 3, n]

    def make_src(name):
        src = tmp_path / name
        os.makedirs(src)
        for i in range(3):
            pq.write_table(
                table.slice(cuts[i], cuts[i + 1] - cuts[i]),
                src / f"{i:03d}.parquet",
            )
            os.utime(src / f"{i:03d}.parquet", (time.time() - 300 + i,) * 2)
        return str(src)

    # uninterrupted reference run
    work_ref = str(tmp_path / "work_ref")
    incremental_dedup_ingest(spark, make_src("src_ref"), work_ref)
    ref_corpus = sorted(
        (r.doc_id, r.fp) for r in read_accepted(spark, work_ref).collect()
    )
    ref_index = sorted(
        (r.fp, r.doc_id)
        for r in spark.read.parquet(f"{work_ref}/index").collect()
    )
    assert ref_corpus, "reference run accepted nothing — fixture broken"

    # injected crash: batch 1's corpus+index writes land, offset does not
    work = str(tmp_path / "work_crash")
    src = make_src("src_crash")
    fired = tmp_path / "crash_fired"

    def injector(batch_id: int) -> None:
        if batch_id == 1 and not fired.exists():
            fired.touch()
            raise RuntimeError("injected crash after sink, before commit")

    with pytest.raises(Exception, match="injected crash"):
        incremental_dedup_ingest(spark, src, work, fail_after_sink=injector)
    assert fired.exists(), "injector never fired — crash path untested"
    # the failed attempt's sinks really are on disk (the dangerous state)
    assert os.path.isdir(f"{work}/index/batch_id=1")

    # restart from the checkpoint: batch 1 replays (overwriting its own
    # directories), batch 2 runs fresh
    incremental_dedup_ingest(spark, src, work)
    got_corpus = sorted(
        (r.doc_id, r.fp) for r in read_accepted(spark, work).collect()
    )
    got_index = sorted(
        (r.fp, r.doc_id) for r in spark.read.parquet(f"{work}/index").collect()
    )
    assert got_corpus == ref_corpus
    assert got_index == ref_index


def test_encrypted_stream_ingest_crash_replay(spark, tmp_path):
    """q60d's crash contract: a batch whose ciphertext landed but whose
    offset never committed is re-encrypted from scratch on restart
    (overwrite-own-directory idempotency), and the final decrypted lake
    equals an uninterrupted run row-for-row — with every batch readable
    through the decrypting path (no half-written ciphertext survives)."""
    import os
    import time

    import pyarrow.parquet as pq

    from parquet_modular_encryption_spark.crypto.policy import DOCUMENTS_POLICY
    from parquet_modular_encryption_spark.sources.encrypted import read_encrypted
    from parquet_modular_encryption_spark.streaming.ingest import encrypted_stream_ingest

    src = tmp_path / "arrivals"
    os.makedirs(src)
    table = pq.read_table(f"{SF}/documents.parquet")
    n = len(table)
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        pq.write_table(
            table.slice(cuts[i], cuts[i + 1] - cuts[i]), src / f"{i:03d}.parquet"
        )
        os.utime(src / f"{i:03d}.parquet", (time.time() - 300 + i,) * 2)

    out = str(tmp_path / "enc_corpus")
    fired = tmp_path / "crash_fired"

    def injector(batch_id: int) -> None:
        if batch_id == 1 and not fired.exists():
            fired.touch()
            raise RuntimeError("injected crash after encrypt, before commit")

    with pytest.raises(Exception, match="injected crash"):
        encrypted_stream_ingest(
            spark, str(src), out, DOCUMENTS_POLICY, fail_after_sink=injector
        )
    assert fired.exists() and os.path.isdir(f"{out}/batch_id=1")

    encrypted_stream_ingest(spark, str(src), out, DOCUMENTS_POLICY)
    assert sorted(
        d for d in os.listdir(out) if d.startswith("batch_id=")
    ) == ["batch_id=0", "batch_id=1", "batch_id=2"]
    got = sorted(
        tuple(r)
        for r in read_encrypted(spark, out, token="RESTRICTED").collect()
    )
    want = sorted(tuple(r.values()) for r in table.to_pylist())
    assert got == want
