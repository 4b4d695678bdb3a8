"""Spark 4 Python Data Source API: a partition-parallel JSONL reader.

The reference reads its rows from Parquet datasets and in-memory rows;
real pipelines also ingest from feeds Spark has no built-in connector
for (internal REST services, proprietary dump formats, queue exports).
Spark 4's Python Data Source API (`pyspark.sql.datasource`) is the
sanctioned way to build those without touching the JVM: the driver asks
the source for a list of ``InputPartition``s, then calls ``read(part)``
on EXECUTORS — one task per partition — so a custom Python connector
scales out exactly like a file scan. This module implements the API over
JSONL shard directories (the lingua franca of web-corpus distribution:
one JSON object per line, many shard files).

Scale notes:
- Parallelism = number of shards: ``partitions()`` returns one
  ``InputPartition`` per file, so a 100 TB corpus in 100k shards fans
  out to 100k tasks; the driver never opens a data file.
- ``read()`` yields ``pyarrow.RecordBatch``es, not per-row tuples —
  rows cross the Python→JVM boundary Arrow-batched, the same transfer
  path as mapInArrow (per-row tuple yields measure ~10× slower).
- The slow part is Python json parsing, which is inherent to the
  format, not the connector; a binary feed would parse with numpy the
  way pipeline/multimodal.py decodes WAV bodies.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

#: documents-table DDL (matches /root/testdata/sf*/documents.parquet).
DOCS_SCHEMA_DDL = "doc_id bigint, text string, lang string, source string, n_chars bigint"


class JsonlShard(InputPartition):
    """One shard file = one Spark task."""

    def __init__(self, path: str) -> None:
        self.path = path


class JsonlDataSource(DataSource):
    """``spark.read.format("pme_jsonl").option("path", dir)``.

    Options: ``path`` (required) — directory of ``*.json`` shard files;
    ``ddl`` (optional) — schema DDL, defaults to the documents table.
    """

    @classmethod
    def name(cls) -> str:
        return "pme_jsonl"

    def schema(self) -> str:
        return self.options.get("ddl", DOCS_SCHEMA_DDL)

    def reader(self, schema) -> "JsonlShardReader":
        return JsonlShardReader(self.options["path"], schema)


def _arrow_type(spark_type):
    import pyarrow as pa

    from pyspark.sql import types as T

    mapping = {
        T.LongType: pa.int64(),
        T.IntegerType: pa.int32(),
        T.DoubleType: pa.float64(),
        T.BooleanType: pa.bool_(),
        T.StringType: pa.string(),
    }
    try:
        return mapping[type(spark_type)]
    except KeyError:  # pragma: no cover - guarded by DDL defaults
        raise TypeError(f"unsupported JSONL field type: {spark_type}") from None


class JsonlShardReader(DataSourceReader):
    def __init__(self, path: str, schema) -> None:
        self.path = path
        self.field_names = [f.name for f in schema.fields]
        self.field_types = [f.dataType for f in schema.fields]

    def partitions(self):
        import glob
        import os

        files = sorted(glob.glob(os.path.join(self.path, "*.json")))
        if not files:
            raise FileNotFoundError(f"no *.json shards under {self.path}")
        return [JsonlShard(f) for f in files]

    def read(self, partition: JsonlShard):
        # Runs on an EXECUTOR. Missing keys (JSON writers drop nulls)
        # surface as NULL cells, like Spark's own JSON reader.
        import json

        import pyarrow as pa

        columns: list[list] = [[] for _ in self.field_names]
        with open(partition.path, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                rec = json.loads(line)
                for i, name in enumerate(self.field_names):
                    columns[i].append(rec.get(name))
        arrays = [
            pa.array(col, type=_arrow_type(t))
            for col, t in zip(columns, self.field_types)
        ]
        yield pa.RecordBatch.from_arrays(arrays, names=self.field_names)


# ---------------------------------------------------------------------------
# Registered query: custom-source scan fidelity
# ---------------------------------------------------------------------------

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from parquet_modular_encryption_spark.functions.text import hash60, sql_hash60  # noqa: E402
from parquet_modular_encryption_spark.registry import register  # noqa: E402
from parquet_modular_encryption_spark.session import prep  # noqa: E402
from parquet_modular_encryption_spark.sources.datasets import load  # noqa: E402

#: checksum modulus: keeps SUM(hash60 % M) well under 2^63 up to ~9e9 rows.
_CK_MOD = 1_000_000_007

_N_SHARDS = 4


def jsonl_fixture(spark: SparkSession, sf_dir: str) -> str:
    """documents as JSONL shards: the feed being ingested, built once per
    session through ``scratch.session_fixture`` so bench/driver re-runs
    measure the custom-source SCAN, not the fixture write."""
    from parquet_modular_encryption_spark.scratch import session_fixture

    return session_fixture(
        spark,
        "q39b_jsonl",
        lambda path: load(spark, sf_dir, "documents")
        .repartition(_N_SHARDS)
        .write.mode("overwrite")
        .json(path),
        sf_dir,
    )


@register(
    "q39b_python_datasource",
    oracle=f"""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM({sql_hash60('text')} % {_CK_MOD}) AS BIGINT) AS text_checksum
    FROM documents
    GROUP BY lang, source
    """,
    tags=("sources", "python-datasource", "spark4"),
)
def q39b_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python Data Source round-trip: documents exported to JSONL
    shards, read back through the registered custom source (one task per
    shard, Arrow-batched rows), then censused per (lang, source) with an
    md5-derived text checksum. The oracle aggregates the original parquet
    directly, so a custom reader that drops, duplicates, or mangles ANY
    row or character hash-mismatches — scan fidelity is value-checked,
    not just row-counted."""
    prep(spark)
    path = jsonl_fixture(spark, sf_dir)
    spark.dataSource.register(JsonlDataSource)
    docs = spark.read.format("pme_jsonl").option("path", path).load()
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum(hash60(F.col("text")) % _CK_MOD).cast("bigint").alias("text_checksum"),
    )


# ---------------------------------------------------------------------------
# Writer side: Arrow-batched JSONL sink with a two-phase commit protocol
# ---------------------------------------------------------------------------
import dataclasses  # noqa: E402

from pyspark.sql.datasource import (  # noqa: E402
    DataSourceArrowWriter,
    WriterCommitMessage,
)


@dataclasses.dataclass
class JsonlCommit(WriterCommitMessage):
    tmp_path: str
    n_rows: int


class JsonlShardWriter(DataSourceArrowWriter):
    """Executor-side JSONL shard writer with driver-side two-phase commit:
    each task writes ``part-*.json.tmp`` (invisible to the reader, which
    globs ``*.json``) and returns a commit message; only after EVERY task
    succeeds does the driver rename the temporaries into place and stamp
    ``_SUCCESS`` — a failed/speculated task leaves at most an orphaned
    ``.tmp``, which ``abort()`` removes. This is the same
    task-attempt/job-commit split Spark's FileOutputCommitter does for
    file sinks, expressed through the Python Data Source API."""

    def __init__(self, path: str, overwrite: bool) -> None:
        self.path = path
        self.overwrite = overwrite

    def write(self, iterator):
        import json
        import os
        import uuid

        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId() if tc else 0
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(
            self.path, f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.json.tmp"
        )
        n = 0
        with open(tmp, "w", encoding="utf-8") as fh:
            for batch in iterator:
                for rec in batch.to_pylist():
                    fh.write(json.dumps(rec, separators=(",", ":")) + "\n")
                    n += 1
        return JsonlCommit(tmp_path=tmp, n_rows=n)

    def commit(self, messages):
        import json
        import os

        if self.overwrite:
            for f in os.listdir(self.path):
                if f.endswith(".json"):
                    os.remove(os.path.join(self.path, f))
        total = 0
        for m in messages:
            os.rename(m.tmp_path, m.tmp_path[: -len(".tmp")])
            total += m.n_rows
        with open(os.path.join(self.path, "_SUCCESS"), "w", encoding="utf-8") as fh:
            fh.write(json.dumps({"rows": total, "files": len(messages)}))

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


def _jsonl_writer(self, schema, overwrite: bool) -> JsonlShardWriter:
    return JsonlShardWriter(self.options["path"], overwrite)


# attach to the existing source class: one format, both directions
JsonlDataSource.writer = _jsonl_writer


@register(
    "q39c_python_datasource_sink",
    oracle=f"""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM({sql_hash60('text')} % {_CK_MOD}) AS BIGINT) AS text_checksum
    FROM documents
    GROUP BY lang, source
    """,
    tags=("sources", "python-datasource", "sink", "spark4"),
)
def q39c_python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full write→read round trip through the custom Python Data Source:
    documents go OUT through the Arrow-batched JSONL sink (executor-
    parallel shard writes, two-phase commit — see JsonlShardWriter) and
    come back IN through the q39b reader, then the same fidelity census
    runs. Sharing q39b's oracle pins that the custom SINK loses or
    mangles nothing either — the write path is value-checked end-to-end,
    and the .tmp/rename protocol means a reader never observes a partial
    job."""
    prep(spark)
    from parquet_modular_encryption_spark.scratch import session_fixture

    spark.dataSource.register(JsonlDataSource)
    path = session_fixture(
        spark,
        "q39c_jsonl",
        lambda p: load(spark, sf_dir, "documents")
        .repartition(_N_SHARDS)
        .write.format("pme_jsonl")
        .mode("append")
        .option("path", p)
        .save(),
        sf_dir,
    )
    docs = spark.read.format("pme_jsonl").option("path", path).load()
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum(hash60(F.col("text")) % _CK_MOD).cast("bigint").alias("text_checksum"),
    )
