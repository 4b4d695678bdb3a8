"""Encrypted Parquet source/sink — Parquet Modular Encryption over Spark.

Re-expresses the reference's write/read scripts (write_encrypted_parquet.py,
read_encrypted_parquet.py) as distributed Spark operators:

- ``write_encrypted``: each partition writes its own encrypted parquet file
  on the executor via Arrow's PME writer (``mapInArrow``). Per the
  reference's config: AES_GCM_V1, 256-bit DEKs, double wrapping (one KMS
  round-trip per file × key-id), internal key material, PUBLIC-signed
  plaintext footer, zstd compression
  (write_encrypted_parquet.py:67-87,23-25).
- ``read_encrypted``: schema comes from the plaintext footer with NO key
  (the reference's "partial protection" mode, README.md:49-54), then each
  executor task decrypts its share of the part files under the path
  (subdirectories included, so a streamed lake's ``batch_id=N/``
  directories are one scan) with a per-task KMS client and
  60 s unwrapped-key cache (read_encrypted_parquet.py:28-39,36). Projection
  is pushed into the Arrow scanner, so unread encrypted columns are never
  decrypted — the reference's least-privilege projection
  (read_encrypted_parquet.py:43). Key-fetch caveat (pinned at the KMS wire
  level by tests/test_encryption.py::test_multi_column_read_key_fetch_scope):
  single-column projections request exactly the keys they need, but
  pyarrow's multi-column read path additionally fetches the key of the
  file's FIRST encrypted column while planning metadata. Over-fetch never
  leaks — it can only fail a read closed — but policies should expect the
  first encrypted column's key id to be exercised by every wide read
  (q60c's crypto-shred chooses its victim class accordingly).

Scale design: parallelism is file-granular on read and partition-granular
on write — the same sharding a 1000-executor cluster would use. A read
runs min(files, default parallelism) tasks, with no exchange in front of
the decrypting scan and no other cap. The KMS sees one
wrap/unwrap per file × key-id (double wrapping), so KMS load grows with
file count, not data volume. An unauthorized projection fails the
task with ``KmsAuthorizationError`` — unauthorized queries fail, authorized
narrower projections succeed (SURVEY.md §3 failure semantics).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator
from datetime import timedelta

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pyarrow.parquet.encryption as pe
from pyspark.sql import DataFrame, SparkSession

from parquet_modular_encryption_spark.crypto.policy import EncryptionPolicy, Privilege

CACHE_LIFETIME = timedelta(minutes=1)  # reference write_encrypted_parquet.py:74


def _resolve_kms_url(spark: SparkSession, kms_url: str | None) -> str:
    """Default to the in-process singleton KMS only in local mode: the
    shared server binds 127.0.0.1 on the driver, and the URL is
    dereferenced inside executor-side closures — on a real cluster that
    loopback address is meaningless on the workers, so a reachable KMS URL
    must be given explicitly."""
    if kms_url is not None:
        return kms_url
    from parquet_modular_encryption_spark.crypto.kms_server import shared_kms_url

    master = spark.conf.get("spark.master", "")
    if not master.startswith("local"):
        raise ValueError(
            "kms_url is required when not running local[*]: the default "
            "shared KMS binds 127.0.0.1 on the driver and is unreachable "
            f"from executors under master={master!r}"
        )
    return shared_kms_url()


#: The two ciphers the PME spec defines (parquet-format Encryption.md):
#: AES_GCM_V1 authenticates every module; AES_GCM_CTR_V1 keeps GCM for
#: footer/metadata modules but encrypts data-page bodies with CTR — no
#: per-page auth tag, so decrypt is cheaper and the trade is integrity:
#: a flipped ciphertext byte in a data page decrypts to silently wrong
#: values instead of failing (pinned by test_gcm_ctr_tamper_semantics).
PME_ALGORITHMS = ("AES_GCM_V1", "AES_GCM_CTR_V1")


def _check_algorithm(algorithm: str) -> str:
    if algorithm not in PME_ALGORITHMS:
        raise ValueError(f"algorithm must be one of {PME_ALGORITHMS}, got {algorithm!r}")
    return algorithm


def _encryption_config(
    policy: EncryptionPolicy, algorithm: str = "AES_GCM_V1"
) -> pe.EncryptionConfiguration:
    if algorithm == "AES_GCM_CTR_V1" and policy.plaintext_footer:
        # Empirical upstream defect (pyarrow 16.1.0): the CTR writer in
        # plaintext-footer mode emits files whose signed footer declares
        # one cipher while pages are encrypted with another — unreadable
        # by Arrow itself ("Failed decryption finalization") AND by
        # parquet-mr (AEADBadTagException on the first dictionary page).
        # Encrypted-footer CTR files are fine, and parquet-mr writes
        # plaintext-footer CTR correctly (tests/native_pme_driver.py 8/8b),
        # so the gate is exactly this one writer combination.
        raise ValueError(
            "AES_GCM_CTR_V1 on the Arrow writer requires an encrypted "
            "footer (policy.plaintext_footer=False): pyarrow's plaintext-"
            "footer CTR files are internally inconsistent and unreadable "
            "by any engine. Use the native writer for plaintext-footer CTR."
        )
    return pe.EncryptionConfiguration(
        footer_key=policy.footer_key,
        column_keys=policy.column_keys(),
        encryption_algorithm=_check_algorithm(algorithm),
        cache_lifetime=CACHE_LIFETIME,
        data_key_length_bits=256,
        double_wrapping=True,
        plaintext_footer=policy.plaintext_footer,
        internal_key_material=True,
    )


def _file_encryption_properties(
    kms_url: str, policy: EncryptionPolicy, algorithm: str = "AES_GCM_V1"
):
    from parquet_modular_encryption_spark.crypto.kms_client import (
        connection_config,
        crypto_factory,
    )

    factory = crypto_factory()
    return factory.file_encryption_properties(
        connection_config(kms_url, None), _encryption_config(policy, algorithm)
    )


def _file_decryption_properties(kms_url: str, token: str | None):
    from parquet_modular_encryption_spark.crypto.kms_client import (
        connection_config,
        crypto_factory,
    )

    factory = crypto_factory()
    return factory.file_decryption_properties(
        connection_config(kms_url, token),
        pe.DecryptionConfiguration(cache_lifetime=CACHE_LIFETIME),
    )


def write_encrypted(
    df: DataFrame,
    path: str,
    policy: EncryptionPolicy,
    kms_url: str | None = None,
    compression: str = "zstd",
    compression_level: int = 19,
    data_page_version: str = "2.0",
    algorithm: str = "AES_GCM_V1",
) -> int:
    """Distributed encrypted write: one encrypted parquet file per Spark
    partition, written executor-side. Returns the number of files.

    Writer config matches the reference exactly: zstd at level 19 and
    DataPage v2 (reference write_encrypted_parquet.py:23-25).

    ``algorithm="AES_GCM_CTR_V1"`` selects the spec's second cipher
    (see :data:`PME_ALGORITHMS` for the integrity trade-off); the
    reference demos GCM only (write_encrypted_parquet.py:70)."""
    # Validate algorithm AND the policy×algorithm combination driver-side,
    # before any partition task runs (the per-task config build would only
    # surface the error as an opaque executor failure).
    _encryption_config(policy, algorithm)
    kms_url = _resolve_kms_url(df.sparkSession, kms_url)
    os.makedirs(path, exist_ok=True)

    def write_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        writer = None
        n_rows = 0
        fname = os.path.join(path, f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.parquet")
        try:
            for batch in batches:
                if writer is None:
                    writer = pq.ParquetWriter(
                        fname,
                        batch.schema,
                        compression=compression,
                        compression_level=compression_level,
                        data_page_version=data_page_version,
                        encryption_properties=_file_encryption_properties(
                            kms_url, policy, algorithm
                        ),
                    )
                writer.write_batch(batch)
                n_rows += batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        if writer is not None:  # empty partitions produce no file
            yield pa.RecordBatch.from_pylist(
                [{"file": fname, "rows": n_rows}],
                schema=pa.schema([("file", pa.string()), ("rows", pa.int64())]),
            )

    manifest = df.mapInArrow(write_partition, "file string, rows bigint").collect()
    return len(manifest)


def _decrypting_format(kms_url: str, token: str | None) -> pads.ParquetFileFormat:
    """Arrow dataset format that decrypts with ``token``'s KMS privileges."""
    from parquet_modular_encryption_spark.crypto.kms_client import (
        connection_config,
        crypto_factory,
    )

    decryption = pads.ParquetDecryptionConfig(
        crypto_factory(),
        connection_config(kms_url, token),
        pe.DecryptionConfiguration(cache_lifetime=CACHE_LIFETIME),
    )
    return pads.ParquetFileFormat(
        default_fragment_scan_options=pads.ParquetFragmentScanOptions(
            decryption_config=decryption
        )
    )


def read_encrypted(
    spark: SparkSession,
    path: str,
    token: str | None = None,
    columns: list[str] | None = None,
    kms_url: str | None = None,
) -> DataFrame:
    """Distributed decrypting scan: schema from the plaintext footer (no
    key needed), file-granular parallel decryption on executors, projection
    pushed into the Arrow scanner. Encrypted-footer files (PARE magic) fall
    back to a driver-side decrypting schema read — one KMS unwrap of the
    footer key, still no data scanned.

    The scan runs min(files, default parallelism) tasks with no exchange
    before the ``mapInArrow``; a task decrypts its files one after
    another. Spark has no size estimate for the result, so joins on it
    are not planned as broadcasts.

    Every ``*.parquet`` file under ``path`` is read, in subdirectories too
    (the ``batch_id=N/`` directories of
    ``streaming/ingest.py::encrypted_stream_ingest`` become one scan).
    Files and directories whose names start with ``_`` or ``.`` are
    skipped, as Spark skips them (the sink's ``_checkpoint/``); a
    directory holding no such file contributes zero rows."""
    kms_url = _resolve_kms_url(spark, kms_url)
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        files += [
            os.path.join(root, f)
            for f in names
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    files.sort()
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")

    # Plaintext footer => schema discovery needs no KMS call (README.md:49-54).
    try:
        arrow_schema = pq.read_schema(files[0])
    except (pa.ArrowException, OSError):  # ArrowIOError surfaces as OSError
        arrow_schema = pq.ParquetFile(
            files[0],
            decryption_properties=_file_decryption_properties(kms_url, token),
        ).schema_arrow
    if columns:
        arrow_schema = pa.schema([arrow_schema.field(c) for c in columns])
    spark_schema = _spark_schema_from_arrow(spark, arrow_schema)

    cols = list(columns) if columns else None

    def read_files(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        fmt = _decrypting_format(kms_url, token)
        for batch in batches:
            for fname in batch.column("file").to_pylist():
                dataset = pads.dataset(fname, format=fmt)
                scanner = dataset.scanner(columns=cols)
                for rb in scanner.to_batches():
                    if rb.num_rows:
                        yield rb.cast(arrow_schema)

    # One slice per file up to the default parallelism, so no exchange is
    # needed in front of the decrypting scan. Not a local relation: its
    # size estimate counts one row per file, and every join on the
    # decrypted lake would be planned as a broadcast of all of it.
    sc = spark.sparkContext
    file_rdd = sc.parallelize([(f,) for f in files], min(len(files), sc.defaultParallelism))
    return spark.createDataFrame(file_rdd, "file string").mapInArrow(read_files, spark_schema)


def _spark_schema_from_arrow(spark: SparkSession, arrow_schema: pa.Schema):
    """Arrow→Spark schema via an empty Arrow table (public API path)."""
    return spark.createDataFrame(arrow_schema.empty_table()).schema


def read_encrypted_arrow(
    path: str,
    token: str | None = None,
    columns: list[str] | None = None,
    kms_url: str | None = None,
) -> pa.Table:
    """Driver-side (non-distributed) decrypting read — the reference's exact
    shape (read_encrypted_parquet.py:28-43). Used by tests and small reads."""
    from parquet_modular_encryption_spark.crypto.kms_server import shared_kms_url

    kms_url = kms_url or shared_kms_url()
    dataset = pads.dataset(path, format=_decrypting_format(kms_url, token))
    return dataset.scanner(columns=columns).to_table()


def write_encrypted_partitioned(
    df: DataFrame,
    path: str,
    policy: EncryptionPolicy,
    partition_col: str,
    kms_url: str | None = None,
    **write_kwargs,
) -> int:
    """Hive-style partitioned encrypted dataset on the Arrow path: one
    ``{partition_col}={value}/`` subdirectory per partition value, each
    holding PME-encrypted leaf files — the Arrow twin of the native
    writer's ``partition_by`` (encrypted_native.py). Directory names stay
    plaintext (they are pathnames, not column chunks — partition keys
    must be non-sensitive). A reader that lists only the matching
    subdirectory prunes BEFORE any KMS/decrypt work, which
    tests/test_encryption.py pins at the KMS wire level.

    Partition values are collected driver-side — bounded by definition
    (a partition column is low-cardinality). The input is materialized
    ONCE (persist) before partition enumeration: the value scan and every
    per-value filter pass read the same snapshot, so a nondeterministic
    upstream (sampling, current-time columns, rerun-reshuffled source)
    cannot make the distinct pass and the filter passes disagree —
    without this, rows could silently drop or duplicate across partition
    directories, and the full upstream DAG would recompute N+1 times.
    NULL partition values go last, into
    ``{partition_col}=__HIVE_DEFAULT_PARTITION__/`` as Spark's native
    ``partitionBy`` writes them. Returns total file count."""
    from pyspark.sql import functions as F

    df = df.persist()
    try:
        values = [r[0] for r in df.select(partition_col).distinct().collect()]
        total = 0
        for v in sorted(values, key=lambda v: (v is None, v)):
            part = df.filter(F.col(partition_col).eqNullSafe(v))
            name = "__HIVE_DEFAULT_PARTITION__" if v is None else v
            total += write_encrypted(
                part, f"{path}/{partition_col}={name}", policy, kms_url, **write_kwargs
            )
    finally:
        df.unpersist()
    return total


def rotate_encrypted(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    new_policy: EncryptionPolicy,
    admin_token: str = "RESTRICTED",
    kms_url: str | None = None,
) -> int:
    """Key rotation / policy migration by distributed re-encryption:
    decrypt ``src_path`` with a privileged token, write ``dst_path``
    under ``new_policy`` (fresh DEKs wrapped by the new policy's master
    keys). Returns the number of files written.

    With INTERNAL key material (this engine and the reference,
    README.md:56), the wrapped DEKs live inside each file's footer, so
    rotating a master key NECESSARILY rewrites files — in-place rotation
    (parquet-mr's KeyToolkit) exists only for external key material.
    The source stays immutable: pair with the snapshot-table manifest
    swap (operators/storage.py) for an atomic cutover where readers see
    either the old or the new keyset, never a mix. At 100 TB the rewrite
    is one decrypt-scan → encrypt-write pipeline per file with no
    shuffle, so it scales linearly and can run incrementally
    (per-partition) behind the manifest."""
    df = read_encrypted(spark, src_path, token=admin_token, kms_url=kms_url)
    return write_encrypted(df, dst_path, new_policy, kms_url=kms_url)
