"""Advanced relational operators: as-of join, range join, unpivot,
derived statistics, regexp scalars, CSV/JSON source round-trips.

These cover the operator families Spark has no single built-in for —
each is expressed as a composition of DataFrame primitives (SURVEY.md §2B
preference order: built-ins first, Pandas UDFs only when semantics force
it; none of these do)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_modular_encryption_spark.functions.numeric import (
    dsum,
    dsum_floor,
    sql_dsum,
    sql_dsum_floor,
)
from parquet_modular_encryption_spark.registry import register
from parquet_modular_encryption_spark.scratch import scratch_dir
from parquet_modular_encryption_spark.session import prep
from parquet_modular_encryption_spark.sources.datasets import load


@register(
    "q34_asof_join",
    oracle="""
    WITH funnel AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
               last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
                   OVER w AS last_click_id,
               last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
                   OVER w AS last_click_ts_us
        FROM events
        WHERE event_type IN ('click', 'purchase')
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id, ts_us, last_click_id, last_click_ts_us,
           ts_us - last_click_ts_us AS click_to_purchase_us
    FROM funnel WHERE event_type = 'purchase'
    """,
    tags=("join", "asof", "window"),
)
def q34_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (merge_asof semantics) as a window composition: for each
    purchase, the most recent strictly-earlier click by the same user.

    Spark lacks a native as-of join; the scalable form is this tagged-union
    + last_value(IGNORE NULLS) over a 1-PRECEDING frame — one shuffle on
    user_id, no per-group Python. (`applyInPandas` + pd.merge_asof is the
    fallback when the match condition can't be expressed as a frame.)"""
    prep(spark)
    ev = load(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "purchase"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ts_us = F.unix_micros("ts")
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    click_ts = F.when(F.col("event_type") == "click", ts_us)
    funnel = ev.select(
        "user_id",
        "event_id",
        "event_type",
        ts_us.alias("ts_us"),
        F.last(click_id, ignorenulls=True).over(w).alias("last_click_id"),
        F.last(click_ts, ignorenulls=True).over(w).alias("last_click_ts_us"),
    )
    return funnel.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        "ts_us",
        "last_click_id",
        "last_click_ts_us",
        (F.col("ts_us") - F.col("last_click_ts_us")).alias("click_to_purchase_us"),
    )


PRICE_BANDS = [
    ("budget", 0.0, 10_000.0),
    ("mid", 10_000.0, 30_000.0),
    ("premium", 30_000.0, 60_000.0),
    ("luxury", 60_000.0, 1e12),
]


@register(
    "q35_range_join_bands",
    oracle=f"""
    WITH bands(band, lo, hi) AS (VALUES
        {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in PRICE_BANDS)}
    )
    SELECT band, COUNT(*) AS n_lines,
           {sql_dsum('l_extendedprice')} AS band_value
    FROM lineitem JOIN bands
      ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY band
    """,
    tags=("join", "range"),
)
def q35_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-containment) join: lineitem → unequal-width price
    bands. The band table broadcasts, so the non-equi condition runs as a
    broadcast nested-loop over 4 rows — the right plan when the build side
    is tiny. For two LARGE interval sets the scalable form is bucketing
    both sides to a common grid + equi-join on bucket + residual filter."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(PRICE_BANDS, "band string, lo double, hi double")
    return (
        li.join(
            F.broadcast(bands),
            (li.l_extendedprice >= bands.lo) & (li.l_extendedprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice").alias("band_value"),
        )
    )


@register(
    "q36_unpivot",
    oracle="""
    WITH long AS (
        SELECT l_returnflag, 'quantity' AS measure, l_quantity AS value FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'discount' AS measure, l_discount AS value FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'tax' AS measure, l_tax AS value FROM lineitem
    )
    SELECT l_returnflag, measure,
           COUNT(*) AS n, MIN(value) AS min_value, MAX(value) AS max_value
    FROM long GROUP BY l_returnflag, measure
    """,
    tags=("unpivot",),
)
def q36_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long) via stack(): per-measure profiling in one pass
    over the fact table instead of one query per measure."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    long = li.selectExpr(
        "l_returnflag",
        "stack(3, 'quantity', l_quantity, 'discount', l_discount, 'tax', l_tax)"
        " AS (measure, value)",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


@register(
    "q37_derived_stats",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n,
           {sql_dsum_floor('l_quantity')} / COUNT(*) AS mean_qty,
           ({sql_dsum_floor('l_quantity * l_quantity', 100)}
             - {sql_dsum_floor('l_quantity')} * {sql_dsum_floor('l_quantity')} / COUNT(*))
             / (COUNT(*) - 1) AS var_qty,
           sqrt(({sql_dsum_floor('l_quantity * l_quantity', 100)}
             - {sql_dsum_floor('l_quantity')} * {sql_dsum_floor('l_quantity')} / COUNT(*))
             / (COUNT(*) - 1)) AS std_qty,
           ({sql_dsum_floor('l_quantity * (l_extendedprice / 10000.0)')} * 10000.0
             - {sql_dsum_floor('l_quantity')} * {sql_dsum_floor('l_extendedprice')} / COUNT(*))
             / (COUNT(*) - 1) AS cov_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def q37_derived_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic variance/stddev/covariance from exact floored sums —
    engine-native stddev/corr are single-pass streaming algorithms whose
    float results differ across engines, so derived stats are rebuilt from
    the sum/sum-of-squares identity on cross-engine-exact doubles."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    sx = dsum_floor("l_quantity")
    sxx = dsum_floor(F.col("l_quantity") * F.col("l_quantity"), 100)
    sp = dsum_floor("l_extendedprice")
    # qty*price reaches ~5e6 per row — beyond the ~9e5 bound where the
    # DECIMAL(38,10) cast stays exact in both engines (DuckDB scales the
    # double by 10^10 before rounding, losing ulps past 2^53). Scale the
    # product into range, sum, then unscale in double (IEEE both sides).
    sxy = dsum_floor(F.col("l_quantity") * (F.col("l_extendedprice") / 10000.0)) * 10000.0
    var = (sxx - sx * sx / n) / (n - 1)
    cov = (sxy - sx * sp / n) / (n - 1)
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        (sx / n).alias("mean_qty"),
        var.alias("var_qty"),
        F.sqrt(var).alias("std_qty"),
        cov.alias("cov_qty_price"),
    )


@register(
    "q38_regexp_scalars",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_type, '^(\\w+)', 1) AS type_head,
           split_part(p_type, ' ', -1) AS type_tail,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_devoweled,
           CAST(length(p_name) - length(replace(p_name, ' ', '')) + 1 AS INT) AS name_words,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded
    FROM part
    WHERE regexp_matches(p_type, 'ED$|SS$')
    """,
    tags=("scalar", "regexp"),
)
def q38_regexp_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp scalar coverage: extract / replace / match-filter /
    split_part / lpad."""
    prep(spark)
    part = load(spark, sf_dir, "part")
    return part.filter(F.col("p_type").rlike("ED$|SS$")).select(
        "p_partkey",
        F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_head"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(-1)).alias("type_tail"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("name_devoweled"),
        (
            F.length("p_name") - F.length(F.replace(F.col("p_name"), F.lit(" "), F.lit("")))
            + 1
        ).cast("int").alias("name_words"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
    )


@register(
    "q39_csv_json_sources",
    oracle="""
    SELECT r_name, COUNT(*) AS n_nations, MIN(n_name) AS first_nation
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    tags=("sources", "csv", "json"),
)
def q39_csv_json_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + JSON source connectors: nation→CSV, region→JSON (written to
    scratch), read back with explicit schemas (never inferSchema at scale)
    and joined. The oracle runs on the parquet originals — equality proves
    the round-trip is lossless. Int/string columns only: CSV float
    round-trips are not bit-stable by design."""
    prep(spark)
    scratch = scratch_dir("pme_q39_")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    nation.write.mode("overwrite").option("header", True).csv(f"{scratch}/nation_csv")
    region.write.mode("overwrite").json(f"{scratch}/region_json")

    nation_back = spark.read.option("header", True).schema(
        "n_nationkey int, n_name string, n_regionkey int"
    ).csv(f"{scratch}/nation_csv")
    region_back = spark.read.schema("r_regionkey int, r_name string").json(
        f"{scratch}/region_json"
    )
    return (
        nation_back.join(
            F.broadcast(region_back),
            nation_back.n_regionkey == region_back.r_regionkey,
        )
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"), F.min("n_name").alias("first_nation"))
    )


@register(
    "q66_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.25) AS p25,
           quantile_cont(l_extendedprice, 0.50) AS median,
           quantile_cont(l_extendedprice, 0.90) AS p90,
           quantile_cont(l_quantity, 0.50) AS median_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def q66_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation): Spark `percentile` and
    DuckDB `quantile_cont` share the interpolation definition, and the
    arithmetic on identical doubles is IEEE-identical — verified bit-exact
    at sf0.01. At 100 TB use approx_percentile (KLL/GK sketch); the exact
    form sorts each group."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.25)").alias("p25"),
        F.expr("percentile(l_extendedprice, 0.50)").alias("median"),
        F.expr("percentile(l_extendedprice, 0.90)").alias("p90"),
        F.expr("percentile(l_quantity, 0.50)").alias("median_qty"),
    )


@register(
    "q113_orc_source",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           MIN(o_orderkey) AS first_key,
           MAX(o_orderkey) AS last_key
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("sources", "orc"),
)
def q113_orc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink connector (Spark built-in, no extra packages):
    orders→ORC in scratch, read back, aggregate. The oracle runs on the
    parquet original — equality proves the round-trip is lossless.
    Int/string columns only (ORC timestamp zone semantics differ from
    parquet's NTZ; a lossless timestamp round-trip would need
    spark.sql.orc z-conversion pinning, out of scope for the connector
    check). Scale: ORC splits by stripe like parquet by row group — the
    read side parallelizes identically."""
    prep(spark)
    scratch = scratch_dir("pme_q113_")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    orders.write.mode("overwrite").orc(f"{scratch}/orders_orc")
    back = spark.read.orc(f"{scratch}/orders_orc")
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderkey").alias("first_key"),
        F.max("o_orderkey").alias("last_key"),
    )


@register(
    "q114_binary_file_source",
    oracle="""
    SELECT doc_id, n_chars, md5(text) AS text_md5
    FROM documents
    WHERE doc_id % 20 = 0
    """,
    tags=("sources", "binary", "multimodal"),
)
def q114_binary_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source — the ingestion path for multimodal blobs
    (pipeline/multimodal.py consumes exactly this shape): a sample of
    documents is materialized as loose .txt files (driver-side fixture
    write, deliberately tiny: 1-in-20 docs), then read back distributed
    via spark.read.format("binaryFile") and verified byte-exact against
    the table through length + md5. At 100 TB the fixture step disappears
    — blobs already live in the object store and binaryFile lists/reads
    them across executors; content hashing stays JVM-side (F.md5 on the
    binary column, no Python)."""
    prep(spark)
    scratch = scratch_dir("pme_q114_")
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id", "text")
    )
    for row in docs.collect():  # fixture write only; the read is distributed
        with open(f"{scratch}/{row.doc_id}.txt", "wb") as fh:
            fh.write(row.text.encode("utf-8"))
    blobs = spark.read.format("binaryFile").load(f"{scratch}/*.txt")
    return blobs.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.length(F.decode(F.col("content"), "UTF-8")).cast("bigint").alias("n_chars"),
        F.md5(F.col("content")).alias("text_md5"),
    )


@register(
    "q66b_weighted_median",
    oracle="""
    WITH scaled AS (
        SELECT l_returnflag,
               l_extendedprice::DOUBLE AS price,
               CAST(l_quantity * 100 AS BIGINT) AS w
        FROM lineitem
    ), cum AS (
        SELECT l_returnflag, price, w,
               SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cw,
               SUM(w) OVER (PARTITION BY l_returnflag) AS tw,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n_rows
        FROM scaled
    )
    SELECT l_returnflag,
           MIN(CASE WHEN 2 * cw >= tw THEN price END) AS weighted_median,
           CAST(MIN(tw) AS BIGINT) AS total_weight_x100,
           CAST(MIN(n_rows) AS BIGINT) AS n_rows
    FROM cum GROUP BY l_returnflag
    """,
    tags=("agg", "window", "median"),
)
def q66b_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median (lower median: first value whose cumulative
    weight reaches half the total) of extended price weighted by quantity,
    per return flag — the exact twin of q87's Greenwald-Khanna sketch, and
    the honest statement of what exactness costs at scale: a full
    per-group sort (the window below), where the sketch needs one
    mergeable-summary pass. Run THIS when groups fit a sort; q87 when
    they don't.

    Determinism: weights are decimal quantities scaled to integer
    hundredths, so the half-total threshold test (2*cum >= total) is pure
    BIGINT; equal prices form contiguous runs in the sort, so the emitted
    crossing price is order-stable no matter how ties shuffle. The median
    itself is one decimal→double cast (correctly rounded in both engines
    below 2^53 unscaled)."""
    prep(spark)
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    scaled = li.select(
        "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("price"),
        (F.col("l_quantity") * 100).cast("bigint").alias("w"),
    )
    cum_w = (
        Window.partitionBy("l_returnflag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = Window.partitionBy("l_returnflag")
    cum = scaled.select(
        "l_returnflag",
        "price",
        F.sum("w").over(cum_w).alias("cw"),
        F.sum("w").over(grp).alias("tw"),
        F.count(F.lit(1)).over(grp).alias("n_rows"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("price"))).alias(
            "weighted_median"
        ),
        F.min("tw").cast("bigint").alias("total_weight_x100"),
        F.min("n_rows").cast("bigint").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Malformed-record ingestion modes (q39d)
# ---------------------------------------------------------------------------
def _malformed_csv_fixture(spark: SparkSession, sf_dir: str) -> str:
    """CSV shard with planted corruption: one good line per customer
    (c_custkey <= 150) plus one type-corrupt line per custkey % 10 == 0
    (unparseable bigint field). Derived from the customer table so the
    oracle computes the planted counts from the same data; built once
    per session through ``scratch.session_fixture``."""
    import os

    from parquet_modular_encryption_spark.scratch import session_fixture

    def build(path: str) -> None:
        rows = (
            load(spark, sf_dir, "customer")
            .filter(F.col("c_custkey") <= 150)
            .select("c_custkey", "c_name", "c_acctbal")
            .collect()  # fixture write only (bounded); the reads are distributed
        )
        with open(os.path.join(path, "part-000.csv"), "w", encoding="utf-8") as fh:
            for r in rows:
                fh.write(f"{r.c_custkey},{r.c_name},{r.c_acctbal}\n")
                if r.c_custkey % 10 == 0:
                    fh.write(f"corrupt-{r.c_custkey},###,not_a_number\n")

    return session_fixture(spark, "q39d_csv", build, sf_dir)


@register(
    "q39d_csv_malformed_modes",
    oracle="""
    WITH g AS (SELECT COUNT(*) AS n_good,
                      CAST(SUM(c_custkey) AS BIGINT) AS key_sum
               FROM customer WHERE c_custkey <= 150),
         b AS (SELECT COUNT(*) AS n_bad FROM customer
               WHERE c_custkey <= 150 AND c_custkey % 10 = 0)
    SELECT 'PERMISSIVE' AS mode,
           CAST(n_good + n_bad AS BIGINT) AS n_rows,
           CAST(n_bad AS BIGINT) AS n_corrupt,
           key_sum AS key_checksum
    FROM g, b
    UNION ALL
    SELECT 'DROPMALFORMED', CAST(n_good AS BIGINT), CAST(0 AS BIGINT), key_sum
    FROM g, b
    """,
    tags=("sources", "csv", "robustness"),
)
def q39d_csv_malformed_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling on the CSV connector — the ingestion-
    robustness contract a real feed depends on (a 100 TB crawl WILL
    contain broken lines, and silently mis-parsing them is worse than
    either failing or counting them): the same planted-corruption shard
    is read under PERMISSIVE (corrupt lines preserved in the
    columnNameOfCorruptRecord side-channel and COUNTED) and
    DROPMALFORMED (corrupt lines removed from the row count). The oracle
    recomputes the planted good/bad counts from the source table, so a
    reader that mis-classifies any line hash-mismatches. FAILFAST (the
    third mode) aborts by design and is pinned in pytest instead.

    The PERMISSIVE frame is materialized (localCheckpoint) before
    filtering on the corrupt column — Spark disallows plans referencing
    ONLY the internal corrupt record column of an unmaterialized CSV
    scan (documented limitation). localCheckpoint, not cache: the
    returned frame keeps the blocks alive until the caller collects, and
    the ContextCleaner reclaims them on GC — a bare cache() here was the
    same leak class VERDICT r8 flagged in q47 (blocks accumulate across
    bench min-of-3 / driver registry re-runs)."""
    prep(spark)
    path = _malformed_csv_fixture(spark, sf_dir)
    ddl = "c_custkey bigint, c_name string, c_acctbal double"

    permissive = (
        spark.read.schema(ddl + ", _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
        .localCheckpoint(eager=True)
    )
    p_counts = permissive.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("_corrupt").alias("n_corrupt"),
        F.sum("c_custkey").cast("bigint").alias("key_checksum"),
    ).select(
        F.lit("PERMISSIVE").alias("mode"), "n_rows", "n_corrupt", "key_checksum"
    )

    dropped = (
        spark.read.schema(ddl)
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )
    # The key_checksum sum is what makes this count honest: a bare
    # count() over a CSV scan takes a record-counting fast path that
    # never parses field values, so DROPMALFORMED silently reports
    # good+bad (measured: collect() returns the filtered rows, every
    # pure-count form does not). Aggregating an actual column value
    # forces the full parse the malformed filter rides on — and doubles
    # as a survivor-set checksum the oracle recomputes.
    d_counts = dropped.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("c_custkey").cast("bigint").alias("key_checksum"),
    ).select(
        F.lit("DROPMALFORMED").alias("mode"),
        "n_rows",
        F.lit(0).cast("bigint").alias("n_corrupt"),
        "key_checksum",
    )
    return p_counts.unionByName(d_counts)
