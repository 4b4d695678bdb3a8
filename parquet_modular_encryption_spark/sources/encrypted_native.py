"""JVM-native Parquet Modular Encryption: Spark's own parquet reader/writer
encrypts and decrypts via parquet-mr's PropertiesDrivenCryptoFactory and the
compiled ``pmespark.RestKmsClient`` (java/pmespark/RestKmsClient.java), which
speaks the same REST wrap/unwrap protocol as the Python KMS client.

This is SURVEY.md §7 "Plan A": fully distributed encrypted scans through the
normal `spark.read.parquet` path — vectorized reader, predicate pushdown,
column pruning, no Python in the data path. The Arrow-based path in
sources/encrypted.py remains as the no-JVM fallback and for interop tests
(both implement the parquet-format PME spec, so files are interchangeable).

Requirements: build/pme-kms.jar on the driver classpath at JVM launch —
``native_session_conf()`` returns the confs; scripts/build_kms_jar.sh
builds the jar against pyspark's bundled parquet jars.

PME settings travel as options on each read/write relation — the twin of
the reference passing ``encryption_config`` / ``decryption_config`` per
call (write_encrypted_parquet.py:21-28, read_encrypted_parquet.py:28-39).
Spark merges a relation's options into the hadoop conf of that relation's
jobs only, so the session-global hadoop conf never carries crypto keys:
concurrent encrypted and plain I/O on other driver threads stay apart,
and a lazy decrypting frame keeps its token for as long as it lives. The
option mapping mirrors the reference's EncryptionConfiguration
(write_encrypted_parquet.py:73-87 → SURVEY.md §2A rows 9-16).
"""

from __future__ import annotations

import itertools
import os
import subprocess
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from parquet_modular_encryption_spark.crypto.policy import EncryptionPolicy

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
JAR_PATH = os.path.join(REPO_ROOT, "build", "pme-kms.jar")

FACTORY = "org.apache.parquet.crypto.keytools.PropertiesDrivenCryptoFactory"
KMS_CLIENT = "pmespark.RestKmsClient"


def build_jar() -> str:
    """Compile the JVM KmsClient if needed; returns the jar path."""
    script = os.path.join(REPO_ROOT, "scripts", "build_kms_jar.sh")
    out = subprocess.run(
        ["bash", script], capture_output=True, text=True, check=True
    ).stdout.strip()
    return out.splitlines()[-1]


def native_session_conf() -> dict[str, str]:
    """Extra SparkSession confs for the native PME path (must be applied
    at JVM launch — extraClassPath cannot be set on a running session)."""
    return {
        "spark.jars": JAR_PATH,
        "spark.driver.extraClassPath": JAR_PATH,
        "spark.executor.extraClassPath": JAR_PATH,
    }


def native_pme_available(spark: SparkSession) -> tuple[bool, str]:
    """(available, probe) capability gate for the native decrypting path
    in sessions the engine did not build (the TWS probe pattern): the
    JVM RestKmsClient must be on the classpath AT JVM LAUNCH
    (native_session_conf), which a vanilla driver session does not set —
    reads would die executor-side with 'Could not instantiate KmsClient
    class'. Callers with a dual code path (e.g. the grouped encrypted
    join's decrypt-once scratch read) consult this and fall back to the
    arrow scan; the probe string names the missing conf for the skip
    reason.

    The probe accepts only confs that put the jar on EXECUTOR classpaths
    (spark.jars ships it; spark.executor.extraClassPath requires it
    pre-staged): a driver-only extraClassPath would pass a naive probe
    and then fail executor-side on a real cluster — exactly the failure
    this gate exists to prevent (ADVICE r14)."""
    for key in ("spark.jars", "spark.executor.extraClassPath"):
        try:
            val = spark.conf.get(key, "") or ""
        except Exception:  # conf key unreadable in some harnesses
            val = ""
        if os.path.basename(JAR_PATH) in val:
            return True, f"kms jar on {key}"
    return False, f"{os.path.basename(JAR_PATH)} not on spark.jars/extraClassPath"


def _common_conf(kms_url: str, token: str | None) -> dict[str, str]:
    return {
        "parquet.crypto.factory.class": FACTORY,
        "parquet.encryption.kms.client.class": KMS_CLIENT,
        "parquet.encryption.kms.instance.url": kms_url,
        # KeyToolkit caches KMS clients per (token, instance id): keying
        # the id by URL keeps a second KMS from reusing the first's client
        "parquet.encryption.kms.instance.id": kms_url,
        "parquet.encryption.key.access.token": token or "DEFAULT",
        "parquet.encryption.cache.lifetime.seconds": "60",
    }


def _decrypting_frame(
    spark: SparkSession,
    path: str,
    kms_url: str,
    token: str | None,
    columns: list[str] | None,
) -> DataFrame:
    df = spark.read.options(**_common_conf(kms_url, token)).parquet(path)
    return df.select(*columns) if columns else df


def write_encrypted_native(
    df: DataFrame,
    path: str,
    policy: EncryptionPolicy,
    kms_url: str,
    mode: str = "overwrite",
    data_page_version: str = "2.0",
    partition_by: list[str] | None = None,
    internal_key_material: bool = True,
    algorithm: str = "AES_GCM_V1",
    complete_columns: bool = False,
    compression: str = "zstd",
    extra_conf: dict[str, str] | None = None,
) -> None:
    """Distributed encrypted write through Spark's own parquet sink.

    Writer config matches the reference exactly: zstd at level 19 and
    DataPage v2 (reference write_encrypted_parquet.py:23-25), via the
    parquet-mr conf twins of the Arrow writer kwargs, passed as writer
    options (``extra_conf`` adds more).

    Pass ``data_page_version="1.0"`` for files that Arrow/parquet-cpp
    readers must decrypt: v2-page encryption is not cross-readable between
    parquet-mr and parquet-cpp (mr keeps rep/def levels outside the
    ciphertext, cpp encrypts the whole page body — an upstream format
    ambiguity); v1 pages interop cleanly in both directions.

    ``internal_key_material=False`` selects the PME spec's EXTERNAL
    (sidecar) key-material mode: parquet-mr's HadoopFSKeyMaterialStore
    writes each file's wrapped key material to a
    ``_KEY_MATERIAL_FOR_<file>.json`` sidecar instead of the footer. The
    data file alone is then undecryptable (the sidecar is a second
    removable secret), and — the operational reason the mode exists —
    master-key rotation can rewrap the ~KB sidecars in place via
    :func:`rotate_master_keys_native` without rewriting the data files
    (the reference demos internal material only,
    write_encrypted_parquet.py:84; in-place rotation is impossible there
    because footers are immutable).

    ``algorithm="AES_GCM_CTR_V1"`` selects the PME spec's second cipher:
    footer/metadata modules stay GCM-authenticated but data-page bodies
    are CTR-encrypted with no per-page auth tag — cheaper decrypt, and
    the documented trade is that a tampered data page decrypts to
    silently wrong values instead of raising (the GCM/CTR tamper
    semantics are pinned side-by-side in tests/test_encryption.py).

    ``complete_columns=True`` sets parquet-mr's complete-column-encryption
    mode (FileEncryptionProperties.withCompleteColumnEncryption): every
    schema column NOT in the policy is encrypted with the FOOTER key
    instead of being silently stored plaintext — the safety rail for
    sensitive datasets where "unlisted ⇒ plaintext" (the reference's `id`
    column behavior, README.md:126-127) is the wrong default. Incompatible
    with uniform mode (see :func:`write_encrypted_uniform_native`)."""
    from parquet_modular_encryption_spark.sources.encrypted import _check_algorithm

    entries = _common_conf(kms_url, None) | {
        "parquet.encryption.column.keys": policy.spark_column_keys(),
        "parquet.encryption.footer.key": policy.footer_key,
        "parquet.encryption.plaintext.footer": str(policy.plaintext_footer).lower(),
        "parquet.encryption.double.wrapping": "true",
        "parquet.encryption.algorithm": _check_algorithm(algorithm),
        "parquet.encryption.complete.columns": str(complete_columns).lower(),
        "parquet.encryption.key.material.store.internally": (
            str(internal_key_material).lower()
        ),
        "parquet.compression.codec.zstd.level": "19",
        "parquet.writer.version": (
            "PARQUET_2_0" if data_page_version == "2.0" else "PARQUET_1_0"
        ),
    } | (extra_conf or {})
    writer = df.write.mode(mode).options(**entries).option("compression", compression)
    if partition_by:
        # Hive-partitioned encrypted dataset: every leaf file is PME-
        # encrypted while the partition directory names stay plaintext
        # (they are pathnames, not column chunks — partition keys must
        # be non-sensitive). A filtered decrypting scan then prunes
        # partitions BEFORE any KMS/decrypt work: at 100 TB a
        # date-partitioned read touches only the matching days' files.
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_encrypted_uniform_native(
    df: DataFrame,
    path: str,
    key_id: str,
    kms_url: str,
    mode: str = "overwrite",
    algorithm: str = "AES_GCM_V1",
) -> None:
    """UNIFORM encryption mode (parquet-mr ``parquet.encryption.uniform.key``):
    one key encrypts every column AND the footer. The spec's simplest
    deployment shape — no per-column policy, no plaintext footer, so even
    the schema is opaque without the key (the opposite end of the spectrum
    from the reference's partial-protection demo, README.md:49-54).
    parquet-mr forbids footer/column key confs alongside the uniform key,
    so this writer is a separate entry point rather than a flag on
    :func:`write_encrypted_native`.

    Use when the whole dataset is at ONE privilege level: a single KMS
    unwrap per file serves the entire read, metadata included — the
    cheapest KMS load profile at 100 TB file counts."""
    from parquet_modular_encryption_spark.sources.encrypted import _check_algorithm

    entries = _common_conf(kms_url, None) | {
        "parquet.encryption.uniform.key": key_id,
        "parquet.encryption.algorithm": _check_algorithm(algorithm),
        "parquet.compression.codec.zstd.level": "19",
        "parquet.writer.version": "PARQUET_2_0",
    }
    df.write.mode(mode).options(**entries).option("compression", "zstd").parquet(path)


def read_encrypted_native(
    spark: SparkSession,
    path: str,
    kms_url: str,
    token: str | None = None,
    *,
    columns: list[str] | None = None,
) -> DataFrame:
    """Distributed decrypting scan through Spark's own parquet source,
    pinned: the scan (its access token a read option of its relation)
    runs at call time and its result is held with ``persist(MEMORY_ONLY)``
    + a materializing count, so an unauthorized projection fails HERE, at
    call time, not at some later action.

    MEMORY_ONLY is deliberate: the materialized blocks hold DECRYPTED
    RESTRICTED/CONFIDENTIAL values, and a disk-backed level would spill
    that plaintext to executor local disk — persisting past the read and
    silently voiding the at-rest guarantee this module exists to provide.
    (``localCheckpoint`` is NOT used: Spark force-upgrades its storage
    level to include disk, exactly the spill this path must prevent.)

    CACHE ISOLATION: Spark's CacheManager substitutes cached data into any
    later query whose analyzed plan contains a subtree equal to the cached
    plan. Reads under different tokens never match, because relation
    options (the token among them) are part of plan equality. Two
    same-token reads of one path WOULD match, so each call appends a
    per-call unique literal tag column before persisting and projects it
    away on the returned frame. Without the tag, the two calls share one
    cache entry: one caller's ``unpersist`` frees the other's blocks, and
    the repeat call is served from cache with no KMS round trip, so
    authorization is not re-checked per call. (The deliberate cost:
    repeated same-token reads don't share a cache.)

    Unpersist contract: ``.unpersist()`` on the RETURNED frame releases
    the pinned decrypted blocks (the method is forwarded to the internal
    pinned frame). Prefer :func:`pinned_decrypting_scan`, the context-
    manager form that unpersists on exit. For scans too large to pin in
    memory, use :func:`decrypting_scan`, which keeps the pipeline lazy —
    decrypted bytes then flow straight through the consuming operators
    without ever being persisted.

    Pass ``columns`` for least-privilege projection: only the projected
    columns' keys are requested (the eager scan would otherwise decrypt —
    and need keys for — every column).
    """
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    tag = f"__pme_pin_{os.getpid()}_{next(_PIN_IDS)}__"
    df = _decrypting_frame(spark, path, kms_url, token, columns)
    pinned = df.withColumn(tag, F.lit(tag)).persist(StorageLevel.MEMORY_ONLY)
    try:
        pinned.count()  # materialize now; authz fails here
    except Exception:
        pinned.unpersist()
        raise
    out = pinned.drop(tag)
    # Forward unpersist to the internal pinned frame so callers holding
    # only the returned (projected) frame can release the decrypted blocks.
    out.unpersist = pinned.unpersist
    return out


#: per-process counter feeding the cache-isolation tag above
_PIN_IDS = itertools.count()


@contextmanager
def pinned_decrypting_scan(
    spark: SparkSession,
    path: str,
    kms_url: str,
    token: str | None = None,
    *,
    columns: list[str] | None = None,
):
    """Context-manager form of :func:`read_encrypted_native`: yields the
    eagerly pinned decrypted frame and GUARANTEES the decrypted blocks are
    unpersisted on exit, so plaintext never outlives the ``with`` block."""
    df = read_encrypted_native(spark, path, kms_url, token, columns=columns)
    try:
        yield df
    finally:
        df.unpersist(blocking=True)


@contextmanager
def decrypting_scan(
    spark: SparkSession,
    path: str,
    kms_url: str,
    token: str | None = None,
    *,
    columns: list[str] | None = None,
):
    """Lazy decrypting scan: the yielded frame carries the token as a
    read option, nothing is persisted, and filters/projections applied to
    it still push down into the encrypted parquet scan (partition pruning
    included). Use this instead of :func:`read_encrypted_native` for scans
    too large to materialize."""
    yield _decrypting_frame(spark, path, kms_url, token, columns)


def rotate_encrypted_native(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    new_policy,
    kms_url: str,
    admin_token: str = "RESTRICTED",
    data_page_version: str = "2.0",
) -> None:
    """Key rotation / policy migration on the NATIVE (parquet-mr) backend
    — the jar-based path a production Spark cluster actually runs — the
    twin of the Arrow path's ``rotate_encrypted`` (sources/encrypted.py):
    decrypt ``src_path`` with a privileged token, rewrite ``dst_path``
    under ``new_policy`` (fresh DEKs wrapped by the new policy's master
    keys). The source stays immutable.

    The decrypted frame is pinned via :func:`pinned_decrypting_scan`
    (MEMORY_ONLY, never spilled, released on exit). At 100 TB, rotation
    runs per-partition behind a snapshot-manifest swap
    (operators/storage.py) exactly as the Arrow twin documents — each
    partition's pin is then bounded by partition size, not corpus size.

    With INTERNAL key material, wrapped DEKs live in each file's footer,
    so rotating a master key necessarily rewrites files; parquet-mr's
    in-place KeyToolkit rotation exists only for external key material.
    """
    with pinned_decrypting_scan(spark, src_path, kms_url, admin_token) as df:
        write_encrypted_native(
            df, dst_path, new_policy, kms_url, data_page_version=data_page_version
        )


def rotate_master_keys_native(
    spark: SparkSession,
    path: str,
    kms_url: str,
    token: str = "RESTRICTED",
) -> None:
    """IN-PLACE master-key rotation for an EXTERNAL-key-material dataset:
    parquet-mr's ``KeyToolkit.rotateMasterKeys`` unwraps every sidecar's
    key material under the old master-key versions (one KMS unwrap per
    KEK), generates fresh KEKs, rewraps them under the KMS's CURRENT
    versions, and rewrites only the ``_KEY_MATERIAL_FOR_*.json`` sidecars
    — the data files (and their DEKs) are untouched, which is why this is
    O(sidecar bytes), not O(data bytes): the rotation a 100 TB estate can
    actually afford. Flow: ``KmsServer.rotate(key_id)`` at the KMS, this
    call per dataset folder, then ``KmsServer.retire_old_versions``.

    ``token`` must carry unwrap privilege for every master key the
    dataset uses (footer + all column keys). KEK caches are flushed on
    both sides of the call: parquet-mr's write-path KEK cache could
    otherwise hand the rotation a pre-rotation KEK, and a later read
    could decrypt from a stale cache and mask a broken rewrap.

    Raises ``UnsupportedOperationException`` (as a py4j error) for
    internal-key-material datasets — rotation without rewriting data
    files is structurally impossible there (footers are immutable)."""
    jvm = spark.sparkContext._jvm
    entries = _common_conf(kms_url, token) | {
        "parquet.encryption.key.material.store.internally": "false",
    }
    # a private copy: the session's hadoop conf never sees the token
    conf = jvm.org.apache.hadoop.conf.Configuration(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    for k, v in entries.items():
        conf.set(k, v)
    toolkit = jvm.org.apache.parquet.crypto.keytools.KeyToolkit
    toolkit.removeCacheEntriesForAllTokens()
    toolkit.rotateMasterKeys(path, conf)
    toolkit.removeCacheEntriesForAllTokens()
