"""Physical-plan shape tests: pushdown, pruning, broadcast, top-k.

These fail when a refactor silently degrades the plan even though results
stay correct — the difference between working at sf0.01 and at 100 TB."""

from __future__ import annotations

from parquet_modular_encryption_spark.operators.relational import (
    q01_pricing_summary,
    q02_filter_project,
    q04_broadcast_brand_revenue,
    q05_regional_revenue,
    q06_forecast_revenue,
    q25_top_orders,
)
from parquet_modular_encryption_spark.plans.explain import (
    executed_plan,
    has_pushed_filter,
    is_take_ordered,
    read_schemas,
    scan_reads_column,
    uses_broadcast_join,
    whole_stage_codegen_spans,
)

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    df = q02_filter_project(spark, SF)
    assert has_pushed_filter(df, "l_shipdate")
    assert has_pushed_filter(df, "l_quantity")


def test_column_pruning(spark):
    df = q02_filter_project(spark, SF)
    # only the 5 referenced columns may reach the scan
    schema = read_schemas(df)[0]
    assert "l_orderkey" in schema and "l_extendedprice" in schema
    assert not scan_reads_column(df, "l_returnflag")
    assert not scan_reads_column(df, "l_partkey")


def test_q01_prunes_unused_columns(spark):
    df = q01_pricing_summary(spark, SF)
    assert not scan_reads_column(df, "l_orderkey")
    assert not scan_reads_column(df, "l_suppkey")
    assert has_pushed_filter(df, "l_shipdate")


def test_q06_all_predicates_pushed(spark):
    df = q06_forecast_revenue(spark, SF)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert has_pushed_filter(df, col), f"{col} not pushed to parquet scan"


def test_dimension_joins_broadcast(spark):
    assert uses_broadcast_join(q04_broadcast_brand_revenue(spark, SF))
    assert uses_broadcast_join(q05_regional_revenue(spark, SF))


def test_top_n_is_heap_not_sort(spark):
    df = q25_top_orders(spark, SF)
    assert is_take_ordered(df), executed_plan(df)[:500]


def test_aggregates_stay_in_codegen(spark):
    # decimal-accumulator aggregation must not fall out of whole-stage
    # codegen (it would if we used UDFs for the deterministic sums)
    df = q01_pricing_summary(spark, SF)
    assert whole_stage_codegen_spans(df) >= 2
    assert "BatchEvalPython" not in executed_plan(df)


def test_salted_join_equals_plain_join(spark):
    """Salting must change only the shuffle distribution, never the result
    — verified on a deliberately skewed fact (every row the same key)."""
    from pyspark.sql import functions as F

    from parquet_modular_encryption_spark.functions.skew import salted_join

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    # 90% of rows forced onto one hot supplier key
    skewed = li.withColumn(
        "hot_key",
        F.when(F.col("l_linenumber") > 1, F.lit(1)).otherwise(F.col("l_suppkey")),
    )
    supp = spark.read.parquet(f"{SF}/supplier.parquet")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = skewed.join(supp, skewed.hot_key == supp.s_suppkey).select(
            "l_orderkey", "l_linenumber", "s_suppkey"
        )
        salted = salted_join(skewed, supp, "hot_key", "s_suppkey").select(
            "l_orderkey", "l_linenumber", "s_suppkey"
        )
        assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_q77_single_fact_shuffle_join(spark):
    """The Q7-shape multiway join must resolve every dimension side as a
    broadcast: exactly one sort-merge (or shuffled-hash) join — the
    orders⋈lineitem fact join — may remain."""
    from parquet_modular_encryption_spark.operators.relational import (
        q77_volume_shipping,
    )

    df = q77_volume_shipping(spark, SF)
    df.collect()  # let AQE finalize
    plan = executed_plan(df)
    n_smj = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert n_smj <= 1, f"expected <=1 shuffle join, plan has {n_smj}"
    assert uses_broadcast_join(df)


def test_q86_two_phase_aggregation(spark):
    """Salted aggregation must keep both groupBys partial-aggregated
    (HashAggregate pairs) and not collapse the salt before the shuffle."""
    from parquet_modular_encryption_spark.operators.grouping import (
        q86_salted_aggregation,
    )

    df = q86_salted_aggregation(spark, SF)
    df.collect()
    plan = executed_plan(df)
    assert plan.count("HashAggregate") >= 4  # partial+final × two phases


def test_q47_verify_join_not_forced_broadcast(spark):
    """The MinHash Jaccard-verify joins must NOT force a broadcast of the
    candidate-pair side: pair count grows with corpus size x dup rate, so
    at 100 TB it exceeds any broadcast threshold. Shuffle joins on the
    high-cardinality doc ids are the scale-safe plan (AQE may still pick
    a broadcast dynamically at test SF — that's size-guarded and fine)."""
    from parquet_modular_encryption_spark.pipeline.dedup import (
        q47_minhash_neardup,
    )

    from parquet_modular_encryption_spark.plans.explain import (
        forced_broadcast_hints,
    )

    df = q47_minhash_neardup(spark, SF)
    assert forced_broadcast_hints(df) == 0, (
        "q47 re-introduced a forced broadcast on an unbounded side"
    )


def test_q50_broadcasts_query_vectors(spark):
    from parquet_modular_encryption_spark.pipeline.similarity import (
        q50_knn_bruteforce,
    )

    df = q50_knn_bruteforce(spark, SF)
    df.collect()
    # the != predicate makes this a non-equi join: the correct plan
    # broadcasts the tiny query side and nested-loops the corpus scan
    assert "BroadcastNestedLoopJoin" in executed_plan(df)


def test_q54_broadcast_is_query_vectors_only(spark):
    """q54's rerank join must broadcast ONLY the N_QUERIES query vectors.
    Catalyst cannot infer through pairs (join+distinct) that query_id is
    bounded, so the explicit `vec_id < N_QUERIES` filter at the broadcast
    source (similarity.py, rerank fetch) is the only thing keeping the
    broadcast from shipping the entire corpus — the unbounded-broadcast
    class that hit q47 (r1) and q54 itself (r2). Every forced broadcast
    in the plan must carry the bounding filter in its own subtree."""
    import re as _re

    from parquet_modular_encryption_spark.pipeline.similarity import (
        N_QUERIES,
        q54_ann_lsh_search,
    )
    from parquet_modular_encryption_spark.plans.explain import (
        broadcast_hint_subtrees,
    )

    df = q54_ann_lsh_search(spark, SF)
    subtrees = broadcast_hint_subtrees(df)
    # exactly two forced broadcasts: query bands (candidate gen) and
    # query vectors (rerank fetch)
    assert len(subtrees) == 2, f"expected 2 broadcast hints, got {len(subtrees)}"
    bound = _re.compile(
        rf"Filter \(vec_id#\d+L? < (cast\()?{N_QUERIES}"
    )
    for sub in subtrees:
        assert bound.search(sub), (
            "forced broadcast without the vec_id < N_QUERIES bounding "
            f"filter — this subtree would broadcast the whole corpus:\n{sub[:2000]}"
        )


def test_q116_zero_exchange_map_side(spark):
    """The Gopher repetition filter must stay a pure map-side projection:
    tokenize, bigram, and the top-bigram run-length fold are all array
    expressions, so the plan may contain NO shuffle at any scale. The
    pre-r4 explode + (doc_id, bigram) groupBy shipped ~one shuffle row per
    corpus token and was 39% of the whole bench."""
    from parquet_modular_encryption_spark.pipeline.curation import (
        q116_repetition_filter,
    )

    df = q116_repetition_filter(spark, SF)
    plan = executed_plan(df)
    assert "Exchange" not in plan, "q116 reintroduced a shuffle"
    assert "BatchEvalPython" not in plan


def test_q47b_salted_no_forced_broadcast(spark):
    """The skew-hardened banding join must not force-broadcast anything:
    the hot-key set's worst-case size is data-dependent (a boilerplate-
    heavy corpus can have many hot buckets), so AQE must stay in charge.
    Also: no cartesian product may appear — every join is keyed."""
    from parquet_modular_encryption_spark.pipeline.dedup import (
        q47b_minhash_neardup_salted,
    )

    from parquet_modular_encryption_spark.plans.explain import (
        forced_broadcast_hints,
    )

    df = q47b_minhash_neardup_salted(spark, SF)
    assert forced_broadcast_hints(df) == 0
    df.collect()
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan


def test_q49b_salted_no_forced_broadcast(spark):
    """q49b's salted block join, like q47b's, must leave broadcast
    decisions to AQE (hot-set size is data-dependent) and must never
    degrade to a cartesian product — every join stays keyed."""
    from parquet_modular_encryption_spark.pipeline.dedup import (
        q49b_ngram_jaccard_salted,
    )
    from parquet_modular_encryption_spark.plans.explain import (
        forced_broadcast_hints,
    )

    df = q49b_ngram_jaccard_salted(spark, SF)
    assert forced_broadcast_hints(df) == 0
    df.collect()
    assert "CartesianProduct" not in executed_plan(df)


def test_q54e_ivf_probe_is_partition_pruning(spark):
    """q54e's probe must reach the cell-partitioned corpus as PARTITION
    pruning, not a post-scan filter: the scan node's PartitionFilters
    must carry the cell IN (...) predicate, and the pruned scan must read
    strictly fewer files than an unpruned scan of the same layout — the
    disk analogue of q60b's decrypt-skipping proof."""
    import re

    from pyspark.sql import functions as F

    from parquet_modular_encryption_spark.pipeline.similarity import (
        IVF_NPROBE,
        N_QUERIES,
        ivf_partitioned_layout,
        q54e_ann_ivf_partitioned,
    )

    df = q54e_ann_ivf_partitioned(spark, SF)
    plan = executed_plan(df)
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("cell" in f and ("IN" in f.upper() or "in(" in f) for f in pf), (
        f"no cell partition filter in scan nodes: {pf}"
    )
    df.collect()

    # pruning evidence at the file level: the probed subset of cells
    # must touch fewer leaf files than the full layout holds
    import glob
    import os

    path = ivf_partitioned_layout(spark, SF)
    all_cells = {d for d in os.listdir(path) if d.startswith("cell=")}
    all_files = glob.glob(f"{path}/cell=*/*.parquet")
    probed = spark.read.parquet(path).filter(F.col("cell").isin([0, 1]))
    n_probed_files = probed.select(F.input_file_name()).distinct().count()
    assert len(all_cells) > 2, "fixture degenerate: fewer than 3 cells"
    assert n_probed_files < len(all_files), (
        f"pruned read touched all {len(all_files)} files"
    )
    assert IVF_NPROBE < len(all_cells) and N_QUERIES > 0


def test_q63b_pipeline_stays_in_codegen(spark):
    """The composed curation pipeline must remain pure codegen'd
    expressions — no Python evaluation anywhere in the plan — and keep
    exactly its three window shuffles + final agg (no hidden extras)."""
    from parquet_modular_encryption_spark.pipeline.curation import (
        q63b_curation_pipeline,
    )

    df = q63b_curation_pipeline(spark, SF)
    df.collect()
    plan = executed_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_aqe_skew_join_safety_net(spark):
    """Belt-and-braces under the hand-salted paths: prep() must turn on
    AQE skew-join splitting, and the net must actually ENGAGE — a
    synthetically skewed sort-merge join (one key carrying ~150k of 200k
    rows) gets its hot partition split at runtime, visible as
    ``skew=true`` on the SMJ node of the final adaptive plan."""
    from pyspark.sql import functions as F

    from parquet_modular_encryption_spark.plans.explain import executed_plan
    from parquet_modular_encryption_spark.session import prep

    prep(spark)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"

    tuned = {
        # force SMJ (no broadcast), and lower the skew thresholds so the
        # toy-scale hot partition trips them (defaults are 256 MiB)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        # Two traps this repro must avoid: the payload must survive column
        # pruning into the shuffle (reference it in the aggregate — a
        # pruned payload leaves every partition ~uniform), and it must not
        # compress away (sha2, not a repeated literal — skew detection
        # reads COMPRESSED map-output bytes).
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") < 150_000, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        right = spark.range(0, 60_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        joined = left.join(right, "k").groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sv"),
            F.max(F.length("payload")).alias("pl"),
        )
        joined.collect()
        plan = executed_plan(joined)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert "skew=true" in plan, (
        "AQE did not split the skewed join:\n" + plan[:1500]
    )


def test_runtime_bloom_filter_join_pruning(spark):
    """Runtime row-level filtering for 100 TB shuffle joins: when a fact
    table shuffle-joins a selectively-filtered dimension, Spark should
    inject a bloom filter of the dimension's surviving keys on the fact
    side, so non-matching fact rows die at the scan stage instead of
    shuffling. prep() must leave the optimizer rule enabled (it is the
    no-broadcast analogue of q04's broadcast pruning), and the rewrite
    must be semantics-preserving.

    The application-side size threshold defaults to 10 GiB — far above
    any local fixture — so the test lowers it to 0 to make the rule
    fire; at production scale the default engages on exactly the
    fact-table scans this repo's TPC-H-shape joins read."""
    from pyspark.sql import functions as F

    from parquet_modular_encryption_spark.plans.explain import executed_plan
    from parquet_modular_encryption_spark.session import prep

    prep(spark)
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in tuned}

    def run():
        lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        return (
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .groupBy()
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("l_quantity").cast("bigint").alias("sq"),
            )
        )

    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        j = run()
        with_bloom = j.collect()
        plan = executed_plan(j)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert "might_contain" in plan, (
        "no runtime bloom filter injected on the fact side:\n" + plan[:1500]
    )
    # the rewrite must not change results (compare against the default
    # path, where the toy-scale scan stays under the size threshold)
    assert with_bloom == run().collect()


def test_snapshot_queries_no_cartesian(spark):
    """Snapshot-table queries read back scratch tables; their plans must
    stay keyed (anti-join for merge) with no cartesian products."""
    from parquet_modular_encryption_spark.operators.storage import (
        q62d_snapshot_merge_upsert,
    )

    df = q62d_snapshot_merge_upsert(spark, SF)
    df.collect()
    assert "CartesianProduct" not in executed_plan(df)


def test_q43b_chunking_zero_shuffle(spark):
    """q43b must stay a pure map-side pipeline (scan → project → explode):
    chunking has no cross-row dependency, so ANY Exchange in the plan is
    a regression — same contract as q116's zero-shuffle repetition filter."""
    from parquet_modular_encryption_spark.pipeline.textops import q43b_doc_chunks

    plan = executed_plan(q43b_doc_chunks(spark, SF))
    assert "Exchange" not in plan, "q43b reintroduced a shuffle"
    assert "BatchEvalPython" not in plan


def test_global_ordinals_permutation_and_no_single_partition(spark):
    """q70b's two-phase ordinal assignment must (a) reproduce the global
    ROW_NUMBER exactly on a shuffled, skew-keyed frame and (b) keep the
    single-reducer shape OUT of the plan: no empty-partition Window, so
    no `Exchange SinglePartition` feeding a sort of the whole frame."""
    import random

    from parquet_modular_encryption_spark.operators.window import global_ordinals
    from parquet_modular_encryption_spark.plans.explain import executed_plan

    rng = random.Random(11)
    rows = [(rng.randrange(10**9), i) for i in range(5000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k bigint, uniq bigint")

    out = global_ordinals(df, ["k", "uniq"])
    got = {(r.k, r.uniq): r.ordinal for r in out.collect()}
    expect = {
        (k, u): i + 1 for i, (k, u) in enumerate(sorted((k, u) for k, u in rows))
    }
    assert got == expect

    assert "SinglePartition" not in executed_plan(out)


def test_global_ordinals_adversarial_tie_skew(spark):
    """RangePartitioner stress for q70b: 90% of rows share ONE leading
    sort-key value (and the rest collapse onto two more), so boundary
    sampling MUST split ties of the hot key across many partitions —
    correctness then rests entirely on the partitioner honoring the full
    composite (k, uniq) ordering and on the offset table stitching the
    split runs back together. A uniform-ish key test (above) never
    exercises this: ties crossing partition boundaries is exactly where
    range-boundary sampling wobbles. Exact agreement with the
    single-reducer ROW_NUMBER is asserted for every row, plus the
    no-SinglePartition plan contract."""
    import random

    from parquet_modular_encryption_spark.operators.window import (
        _ORDINAL_PARTS,
        global_ordinals,
    )
    from parquet_modular_encryption_spark.plans.explain import executed_plan

    rng = random.Random(23)
    n = 6000
    # 90% ties on k=7, remainder on two flanking values; uniq is a
    # shuffled permutation so arrival order correlates with nothing.
    rows = [(7 if rng.random() < 0.9 else rng.choice((3, 9)), i) for i in range(n)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k bigint, uniq bigint").repartition(32)

    out = global_ordinals(df, ["k", "uniq"])
    got = {(r.k, r.uniq): r.ordinal for r in out.collect()}
    expect = {
        (k, u): i + 1 for i, (k, u) in enumerate(sorted((k, u) for k, u in rows))
    }
    assert got == expect

    # the hot key really does straddle partitions (the scenario under
    # test): its rows cannot fit the ~n/parts partition budget
    hot = sum(1 for k, _ in rows if k == 7)
    assert hot > 2 * (n // _ORDINAL_PARTS), "fixture no longer skewed enough"

    assert "SinglePartition" not in executed_plan(out)


def test_cumulative_shuffle_bytes_counts_real_shuffles(spark):
    """The scale experiment's shuffle meter reads the JVM status store:
    a wide aggregation must advance the cumulative shuffle-write sum,
    and a narrow map-only query must not."""
    from parquet_modular_encryption_spark.plans.explain import (
        cumulative_shuffle_bytes,
    )

    w0, r0 = cumulative_shuffle_bytes(spark)
    spark.range(0, 200_000).selectExpr("id % 997 AS k", "id AS v").groupBy(
        "k"
    ).sum("v").write.format("noop").mode("overwrite").save()
    w1, r1 = cumulative_shuffle_bytes(spark)
    assert w1 > w0 and r1 > r0, "groupBy must shuffle"

    spark.range(0, 200_000).selectExpr("id * 2 AS d").write.format(
        "noop"
    ).mode("overwrite").save()
    w2, _ = cumulative_shuffle_bytes(spark)
    assert w2 == w1, "map-only query must not shuffle"


def test_stage_task_dispersion_sees_hot_reducer(spark):
    """The skew scale experiment's straggler meter: a deliberately hot
    key (one reducer doing ~90% of the work) must surface as a stage
    whose max task time dwarfs the stage median, scoped via the
    stage-keys snapshot to exactly the stages this query submitted."""
    from pyspark.sql import functions as F

    from parquet_modular_encryption_spark.plans.explain import (
        stage_keys_snapshot,
        stage_task_dispersion,
        worst_straggler,
    )

    # 90% of rows share key 0; repartition("k") pins them to ONE task.
    # Per-row sha2 gives tasks real CPU work so the hot task's duration
    # is dominated by work, not scheduler overhead. AQE partition
    # coalescing is disabled for the query: at test scale it folds the
    # whole reducer stage into ONE task (ratio 1 by construction) —
    # production reducer stages keep many tasks, which is the regime the
    # meter exists for.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prior = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        def q():
            return (
                spark.range(0, 300_000)
                .select(
                    F.when(F.col("id") % 100 < 90, F.lit(0))
                    .otherwise(F.pmod(F.col("id"), F.lit(50)) + 1)
                    .alias("k"),
                    F.col("id"),
                )
                .repartition("k")
                .withColumn("h", F.sha2(F.concat_ws("-", "k", "id"), 256))
                .groupBy("k")
                .agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("mx"))
            )

        # warm-up run first: at test scale the first execution's task walls
        # are dominated by a ~0.5-0.8 s per-thread codegen/JIT floor that
        # swamps the skew signal (measured: empty task 432 ms cold, 75 ms
        # warm) — the same reason the skew experiment snapshots around a
        # warmed repeat
        q().write.format("noop").mode("overwrite").save()
        before = stage_keys_snapshot(spark)
        q().write.format("noop").mode("overwrite").save()
    finally:
        spark.conf.set(coalesce_key, prior)

    rows = stage_task_dispersion(spark, since=before, min_tasks=4)
    assert rows, "meter saw no multi-task stages for the query"
    for r in rows:
        assert r["max_ms"] >= r["p75_ms"] >= r["median_ms"] >= 0
        assert (r["stage_id"], r["attempt"]) not in before, "since-scoping leak"
    worst = worst_straggler(spark, since=before, min_tasks=4)
    assert worst is not None and worst["ratio"] > 3, (
        f"hot reducer invisible to the meter: {worst}"
    )


def test_explosive_self_joins_pin_parallelism(spark, sf_dir):
    """The block/band self-joins must carry a user-specified
    (REPARTITION_BY_NUM) exchange on their join keys: AQE sizes those
    stages by the bands frame's bytes — a few MB even at 1e5 docs — and
    without the pin it coalesces the pair-GENERATING stage to one task
    (measured 83 of 86 s wall on a planted 6k-member bucket, salted
    variant included, since key salting cannot help a one-task stage).
    An explicit-numPartitions repartition is exempt from AQE coalescing;
    this pins that every guarded join keeps it."""
    from parquet_modular_encryption_spark.pipeline.dedup import (
        banded_pairs,
        banded_pairs_salted,
        minhash_bands,
    )
    from parquet_modular_encryption_spark.sources.datasets import load

    docs = load(spark, sf_dir, "documents")
    _, bands = minhash_bands(docs)
    for name, df in (
        ("banded_pairs", banded_pairs(bands)),
        ("banded_pairs_salted", banded_pairs_salted(bands)[0]),
    ):
        # execute df itself (a count() runs a separate query) so its plan
        # is the AQE-final one, not the pre-execution guess
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan.splitlines()[0]
        assert "REPARTITION_BY_NUM" in plan, (
            f"{name} lost its explosive-join parallelism pin"
        )
