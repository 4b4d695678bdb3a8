"""SparkSession builders tuned for this engine.

Local testing runs on ``local[N]`` (one JVM); the configs below are chosen
so the same code is efficient on a real multi-executor cluster:

- AQE on: runtime coalescing + skew-join splitting replaces hand-tuned
  shuffle partition counts at 100 TB.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster this
  is superseded by AQE's initial/coalesced partition logic.
- Arrow enabled so Pandas-UDF paths (multimodal, custom ops) batch via
  Arrow instead of pickling rows.
- Session timezone pinned to UTC: timestamp semantics must not depend on
  the host TZ, and the DuckDB oracle compares naive-UTC values.
- Driver heap sized from the machine (:func:`default_driver_memory`)
  unless ``SPARK_GRAFT_DRIVER_MEM`` is set.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


_MEMINFO = "/proc/meminfo"
#: cgroup v2 and v1 memory-limit files; an unlimited group reads "max"
#: (v2) or a value far above physical memory (v1).
_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)
_DRIVER_MEMORY_CAP = 16 << 30


def default_driver_memory() -> str:
    """Half of the memory this process may use, capped at 16g.

    The usable memory is the smaller of ``MemTotal`` and the cgroup memory
    limit. The other half is left to the Python workers, the OS page
    cache and whatever else shares the machine; with the whole RAM as its
    heap limit, one local JVM can starve its neighbours."""
    limits = []
    try:
        with open(_MEMINFO) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    limits.append(int(line.split()[1]) * 1024)  # kB
                    break
    except OSError:
        pass
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limits.append(int(raw))
    half = min(limits) // 2 if limits else _DRIVER_MEMORY_CAP
    return f"{min(half, _DRIVER_MEMORY_CAP) >> 20}m"


def get_spark(
    app_name: str = "parquet-modular-encryption-spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # events.parquet carries TIMESTAMP(NANOS); read as BIGINT nanos
        # (converted to µs timestamps in sources.datasets.load).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prep(spark: SparkSession) -> SparkSession:
    """Settings applied to an externally-provided session (the driver's).

    Correctness-critical, runtime-settable confs: UTC timestamps so
    results match the naive-UTC DuckDB oracle regardless of host TZ, and
    nanos-as-long so TIMESTAMP(NANOS) parquet (events.ts) is readable.

    Plus the scale safety net: AQE with skew-join splitting. The
    hand-salted paths (q47b/q49b/q86) handle the skew classes we can
    predict; AQE's runtime splitting catches the ones we can't, on ANY
    session our queries run in — including the driver's vanilla one.
    Both confs are runtime-settable; tests/test_plans.py proves the net
    actually engages on a synthetically skewed sort-merge join.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    return spark
