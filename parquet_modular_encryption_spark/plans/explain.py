"""Physical-plan inspection helpers.

Scale discipline: a query that *works* but reads every column, skips
pushdown, or shuffle-joins a broadcastable dimension is wrong at 100 TB
even when correct at sf0.01. These helpers let tests assert the plan
shape, not just the result values.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """Formatted physical plan — unlike the one-line tree string, scan
    details (PushedFilters, ReadSchema) are printed in full, untruncated."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """All parquet PushedFilters entries in the scan nodes."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", executed_plan(df))


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema strings of the parquet scans (column pruning evidence)."""
    return re.findall(r"ReadSchema: struct<([^>]*)", executed_plan(df))


def has_pushed_filter(df: DataFrame, column: str) -> bool:
    return any(column in f for f in pushed_filters(df))


def scan_reads_column(df: DataFrame, column: str) -> bool:
    return any(column in s for s in read_schemas(df))


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df)


def forced_broadcast_hints(df: DataFrame) -> int:
    """Count of explicit broadcast() hints surviving analysis. A hint
    FORCES the broadcast regardless of size — fine for bounded dims,
    a scale bug on unbounded sides (AQE may still choose a broadcast
    dynamically below the threshold; that is allowed and size-guarded)."""
    analyzed = df._jdf.queryExecution().analyzed().toString()
    return len(re.findall(r"ResolvedHint \(strategy=broadcast\)", analyzed))


def uses_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in executed_plan(df)


def is_take_ordered(df: DataFrame) -> bool:
    """Global ORDER BY + LIMIT should compile to TakeOrderedAndProject
    (per-partition heap + driver merge), never a full sort."""
    return "TakeOrderedAndProject" in executed_plan(df)


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Distinct whole-stage-codegen stages, from the tree string's `*(n)`
    markers. AQE only finalizes the plan during execution, so the
    DataFrame's own query execution is driven with a collect() first —
    call on small (test-scale) frames only."""
    df.collect()
    tree = df._jdf.queryExecution().executedPlan().toString()
    return len(set(re.findall(r"\*\((\d+)\)", tree)))


def broadcast_hint_subtrees(df: DataFrame) -> list[str]:
    """Subtree strings of each forced broadcast() hint in the analyzed
    logical plan. Lets tests assert WHAT is being broadcast, not just that
    a hint exists — the unbounded-broadcast bug class (q47 r1, q54 r2)
    is a hint whose subtree lacks the bounding filter."""
    text = df._jdf.queryExecution().analyzed().toString()
    lines = text.splitlines()
    depths = [len(re.match(r"^[\s:+|-]*", line).group(0)) for line in lines]
    subtrees = []
    for i, line in enumerate(lines):
        if "ResolvedHint (strategy=broadcast)" in line:
            sub = []
            for j in range(i + 1, len(lines)):
                if depths[j] <= depths[i]:
                    break
                sub.append(lines[j])
            subtrees.append("\n".join(sub))
    return subtrees


def _stage_list(spark) -> list:
    """Every stage the app status store retains (the UI's stage table)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = spark._jvm
    stages = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out = []
    it = stages.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def stage_keys_snapshot(spark) -> set[tuple[int, int]]:
    """(stage_id, attempt) pairs currently in the status store. Snapshot
    before a query and pass to :func:`stage_task_dispersion` as `since`
    to scope the meter to exactly the stages that query submitted."""
    return {(st.stageId(), st.attemptId()) for st in _stage_list(spark)}


def stage_task_dispersion(
    spark, since: set[tuple[int, int]] | None = None, min_tasks: int = 2
) -> list[dict]:
    """Per-stage task wall-time dispersion: [{stage_id, attempt, n_tasks,
    median_ms, p75_ms, max_ms, ratio}] with ratio = max/median.

    THE straggler meter: a salted/prefix-filtered plan keeps max/median
    near 1 even when the key distribution is Zipfian, while a hot
    unsalted reducer shows up as one task N× the stage median — the
    failure mode that decides whether an operator survives a skewed
    100 TB corpus, invisible to wall-clock totals on a 32-thread box.
    Reads task-duration quantiles from the JVM AppStatusStore (the same
    numbers as the UI's stage summary table), so it measures REAL task
    times, not plan-shape proxies.

    Caveats: stages with < min_tasks completed tasks are skipped (a
    1-task stage has ratio 1 by construction), and with far more shuffle
    partitions than data the median lands on a near-empty task, inflating
    the ratio — AQE partition coalescing keeps production stages out of
    that regime; p75_ms is reported so such stages are recognizable
    (tiny median + tiny p75 = empty-partition artifact, not a hot key).
    Callers diffing across many queries should raise
    ``spark.ui.retainedStages`` (the scale experiment sets 20000)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = spark._jvm
    rows = []
    for st in _stage_list(spark):
        key = (st.stageId(), st.attemptId())
        if since is not None and key in since:
            continue
        n = st.numCompleteTasks()
        if n < min_tasks:
            continue
        q = sc._gateway.new_array(jvm.double, 3)
        q[0], q[1], q[2] = 0.5, 0.75, 1.0
        opt = store.taskSummary(st.stageId(), st.attemptId(), q)
        if not opt.isDefined():
            continue
        dur = opt.get().duration()
        median_ms, p75_ms, max_ms = dur.apply(0), dur.apply(1), dur.apply(2)
        rows.append(
            {
                "stage_id": st.stageId(),
                # first line of the stage name — lets a flagged row
                # self-identify (a scan stage with near-empty input
                # splits reads very differently from a hot reducer)
                "name": str(st.name()).split("\n")[0][:88],
                "attempt": st.attemptId(),
                "n_tasks": n,
                "median_ms": round(median_ms, 1),
                "p75_ms": round(p75_ms, 1),
                "max_ms": round(max_ms, 1),
                "ratio": round(max_ms / max(median_ms, 1.0), 2),
            }
        )
    return rows


def worst_straggler(
    spark, since: set[tuple[int, int]] | None = None, min_tasks: int = 8
) -> dict | None:
    """The stage with the worst max/median task-time ratio among stages
    submitted since the snapshot — one number per query for the skew
    scale experiment. None if no stage had >= min_tasks tasks."""
    rows = stage_task_dispersion(spark, since=since, min_tasks=min_tasks)
    return max(rows, key=lambda r: r["ratio"]) if rows else None


def cumulative_shuffle_bytes(spark) -> tuple[int, int]:
    """(shuffle_write_bytes, shuffle_read_bytes) summed over every
    executor the app status store knows, dead ones included — snapshot
    before/after a query and the delta is that query's total shuffle
    volume.

    Reads the JVM AppStatusStore's executor summaries (the same source
    as the UI's executor table), so it measures REAL shuffle bytes, not
    plan-shape proxies. Executor totals only grow, so a snapshot diff
    never goes negative; a sum over the retained stage list shrinks
    whenever the store evicts old stages past ``spark.ui.retainedStages``
    (measured: with 20 retained stages a groupBy's diff read 0 or
    -1.8 MB). Only executors dropped past
    ``spark.ui.retainedDeadExecutors`` leave the sum."""
    store = spark.sparkContext._jsc.sc().statusStore()
    written = read = 0
    it = store.executorList(False).iterator()
    while it.hasNext():
        ex = it.next()
        written += ex.totalShuffleWrite()
        read += ex.totalShuffleRead()
    return written, read
