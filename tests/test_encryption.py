"""Encrypted-parquet integration tests: the reference's verification
workflow automated (SURVEY.md §5) — round-trip equality, the token ×
column-subset access matrix, plaintext-column readability without a token,
and ciphertext opacity on disk."""

from __future__ import annotations

import datetime
import os

import pyarrow.parquet as pq
import pytest

from parquet_modular_encryption_spark.crypto.policy import (
    CUSTOMER_POLICY,
    PEOPLE_POLICY,
    Privilege,
)
from parquet_modular_encryption_spark.sources.encrypted import (
    read_encrypted,
    read_encrypted_arrow,
    write_encrypted,
)

# The reference's exact 3 demo rows (write_encrypted_parquet.py:41-63,
# via FIXTURES.md §A).
PEOPLE_ROWS = [
    (1, datetime.date(1988, 2, 17), "Mike", "Truk", "123-45-6789"),
    (2, datetime.date(1989, 2, 6), "Rey", "McSriff", "234-56-7890"),
    (3, datetime.date(2020, 1, 25), "Todd", "Bonzalez", "345-67-8901"),
]
PEOPLE_SCHEMA = (
    "id bigint, date_of_birth date, first_name string, "
    "last_name string, social_security_number string"
)


@pytest.fixture(scope="module")
def people_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("enc") / "people")
    df = spark.createDataFrame(PEOPLE_ROWS, PEOPLE_SCHEMA)
    write_encrypted(df, path, PEOPLE_POLICY)
    return path


def test_roundtrip_full_read(spark, people_path):
    got = sorted(
        tuple(r) for r in read_encrypted(spark, people_path, token="RESTRICTED").collect()
    )
    assert got == sorted(PEOPLE_ROWS)


def _cols_for(privilege: Privilege | None) -> list[str]:
    """Columns readable at exactly this privilege level."""
    cols = ["id"]
    for col, lvl in PEOPLE_POLICY.column_levels.items():
        if privilege is not None and lvl <= privilege:
            cols.append(col)
    return cols


@pytest.mark.parametrize(
    "token", [None, "PUBLIC", "INTERNAL", "CONFIDENTIAL", "RESTRICTED"]
)
def test_access_matrix(spark, people_path, token):
    """For every token: the maximal authorized projection succeeds and
    returns exact plaintext; any strictly wider projection fails
    (README.md:109-127's experiment, automated)."""
    privilege = Privilege[token] if token else None
    allowed = _cols_for(privilege)
    got = read_encrypted(spark, people_path, token=token, columns=allowed).collect()
    assert len(got) == 3
    expect = {
        (
            "id",
            "date_of_birth",
            "first_name",
            "last_name",
            "social_security_number",
        ).index(c)
        for c in allowed
    }
    assert sorted(tuple(r) for r in got) == sorted(
        tuple(row[i] for i in sorted(expect)) for row in PEOPLE_ROWS
    )

    forbidden = [
        c
        for c, lvl in PEOPLE_POLICY.column_levels.items()
        if privilege is None or lvl > privilege
    ]
    if forbidden:
        with pytest.raises(Exception, match="(?i)unwrap|denied|authoriz|403"):
            read_encrypted(
                spark, people_path, token=token, columns=["id", forbidden[0]]
            ).collect()


def test_unlisted_columns_plaintext_on_disk(people_path):
    """`id` has no policy entry → stored plaintext: readable via a plain
    parquet reader even though the file is encrypted (README.md:126-127)."""
    import os

    f = next(
        os.path.join(people_path, p)
        for p in os.listdir(people_path)
        if p.endswith(".parquet")
    )
    # plaintext footer → schema visible without any key
    schema = pq.read_schema(f)
    assert "social_security_number" in schema.names


def test_writer_config_matches_reference(people_path):
    """zstd level-19 + DataPage v2, the reference's writer config
    (write_encrypted_parquet.py:23-25). Page type is checked at the raw
    byte level on the plaintext `id` column: thrift-compact PageHeader
    opens 0x15 then zigzag(page_type), DATA_PAGE_V2=3 → bytes 15 06."""
    import os

    f = next(
        os.path.join(people_path, p)
        for p in os.listdir(people_path)
        if p.endswith(".parquet")
    )
    meta = pq.ParquetFile(f).metadata
    col_idx = next(
        i
        for i in range(meta.num_columns)
        if meta.row_group(0).column(i).path_in_schema == "id"
    )
    cc = meta.row_group(0).column(col_idx).to_dict()
    assert "ZSTD" in str(cc.get("compression", "")).upper()
    with open(f, "rb") as fh:
        fh.seek(cc["data_page_offset"])
        assert fh.read(2) == b"\x15\x06"


def test_encrypted_columns_not_recoverable_without_kms(people_path):
    """Raw file bytes must not contain the protected plaintext values."""
    import os

    f = next(
        os.path.join(people_path, p)
        for p in os.listdir(people_path)
        if p.endswith(".parquet")
    )
    raw = open(f, "rb").read()
    for ssn in ("123-45-6789", "234-56-7890", "345-67-8901"):
        assert ssn.encode() not in raw
    for name in (b"Mike", b"Truk", b"Bonzalez"):
        assert name not in raw


def test_projection_least_privilege(spark, people_path):
    """Projecting only INTERNAL columns with an INTERNAL token works even
    though CONFIDENTIAL/RESTRICTED columns exist in the file — pruned
    columns are never decrypted. (Key-FETCH scope is subtler: pyarrow's
    multi-column reads also fetch the first encrypted column's key —
    date_of_birth here, INTERNAL, so this read stays authorized; the
    exact wire-level scope is pinned by
    test_multi_column_read_key_fetch_scope.)"""
    got = read_encrypted(
        spark, people_path, token="INTERNAL", columns=["id", "date_of_birth"]
    ).collect()
    assert sorted((r.id, r.date_of_birth) for r in got) == [
        (1, datetime.date(1988, 2, 17)),
        (2, datetime.date(1989, 2, 6)),
        (3, datetime.date(2020, 1, 25)),
    ]


def test_arrow_driver_side_reader_matches(spark, people_path):
    """The reference-shaped driver-side reader agrees with the distributed
    mapInArrow reader."""
    table = read_encrypted_arrow(people_path, token="RESTRICTED")
    assert sorted(tuple(r.values()) for r in table.to_pylist()) == sorted(PEOPLE_ROWS)


def test_multifile_distributed_roundtrip(spark, tmp_path):
    """Many partitions → many encrypted files → parallel decrypt preserves
    every row (the 1000-executor sharding pattern at toy scale). The scan
    runs min(files, default parallelism) tasks with no exchange in front
    of the decrypting ``mapInArrow``, and its size is not estimated from
    the file list: a join on it is not planned as a broadcast."""
    path = str(tmp_path / "cust_enc")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").repartition(5)
    n_files = write_encrypted(cust, path, CUSTOMER_POLICY)
    assert n_files == 5
    back = read_encrypted(spark, path, token="RESTRICTED")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "Exchange" not in plan, plan
    assert back.rdd.getNumPartitions() == min(5, spark.sparkContext.defaultParallelism)
    join = back.join(back.select("c_custkey"), "c_custkey")
    plan = join._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan
    assert back.count() == 150
    plain = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, plain.collect()))


def test_crypto_shred_fails_distributed_read(spark, tmp_path):
    """After ``shred("CONFIDENTIAL")`` the distributed reader fails on the
    shredded column even with a RESTRICTED token (the executor task gets
    the KMS's 410), and a projection that avoids the shredded key id
    still aggregates to the plaintext counts. q60c's builder proves the
    same erasure with the driver-side reader."""
    from parquet_modular_encryption_spark.crypto.kms_server import KmsServer

    plain = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    want = {r[0]: r[1] for r in plain.groupBy("c_mktsegment").count().collect()}
    path = str(tmp_path / "cust_enc")
    srv = KmsServer().start()
    try:
        write_encrypted(plain.coalesce(2), path, CUSTOMER_POLICY, kms_url=srv.url)
        srv.shred("CONFIDENTIAL")
        with pytest.raises(Exception) as info:
            read_encrypted(
                spark, path, "RESTRICTED",
                columns=["c_nationkey", "c_acctbal"], kms_url=srv.url,
            ).collect()
        msg = str(info.value)
        assert "shred" in msg.lower() or "410" in msg, msg

        survivors = read_encrypted(
            spark, path, "RESTRICTED",
            columns=["c_name", "c_mktsegment"], kms_url=srv.url,
        )
        got = {r[0]: r[1] for r in survivors.groupBy("c_mktsegment").count().collect()}
    finally:
        srv.stop()
    assert got == want


def test_partition_pruning_skips_kms_unwraps(spark, tmp_path):
    """Partition pruning over an encrypted dataset must skip KMS work,
    not just IO: reading ONE bucket of a Hive-partitioned encrypted
    dataset may unwrap only that bucket's keys. Counted at the KMS wire
    level (KmsServer.counters), so caching or batching inside the crypto
    factory can't fake a pass — and the pruned read's aggregate matches
    the plaintext filter exactly."""
    from parquet_modular_encryption_spark.crypto.kms_server import KmsServer
    from parquet_modular_encryption_spark.sources.encrypted import (
        write_encrypted_partitioned,
    )

    rows = [
        (i, datetime.date(1990, 1, 1 + i % 28), f"fn{i}", f"ln{i}", f"{i:09d}", i % 4)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, PEOPLE_SCHEMA + ", bucket int").repartition(2)

    srv = KmsServer().start()
    try:
        path = str(tmp_path / "part_enc")
        write_encrypted_partitioned(df, path, PEOPLE_POLICY, "bucket", kms_url=srv.url)
        assert srv.counters["wrap"] > 0  # the write actually hit this KMS

        srv.reset_counters()
        pruned = read_encrypted(
            spark, f"{path}/bucket=1", token="RESTRICTED", kms_url=srv.url
        )
        got = sorted(tuple(r) for r in pruned.collect())
        u_pruned = srv.counters["unwrap"]

        srv.reset_counters()
        for b in range(4):
            read_encrypted(
                spark, f"{path}/bucket={b}", token="RESTRICTED", kms_url=srv.url
            ).collect()
        u_full = srv.counters["unwrap"]
    finally:
        srv.stop()

    assert got == sorted(r for r in rows if r[5] == 1)
    assert u_pruned > 0, "decrypting read must consult the KMS"
    # one of four equal buckets: the pruned partitions triggered zero of
    # the unwraps the full read needed for them
    assert u_pruned * 2 <= u_full, (
        f"pruned read unwrapped {u_pruned} vs {u_full} for the full scan — "
        "pruning is not skipping KMS work"
    )


def test_partitioned_write_keeps_null_partition_rows(spark, tmp_path):
    """NULL partition values sort last and land in
    ``bucket=__HIVE_DEFAULT_PARTITION__/``, as Spark's native partitionBy
    writes them: reading every partition directory back returns every
    input row, the NULL-bucket one included."""
    from parquet_modular_encryption_spark.sources.encrypted import (
        write_encrypted_partitioned,
    )

    buckets = (10, None, 10, 20)
    rows = [
        (i, datetime.date(1990, 1, 1 + i), f"fn{i}", f"ln{i}", f"{i:09d}", b)
        for i, b in enumerate(buckets)
    ]
    df = spark.createDataFrame(rows, PEOPLE_SCHEMA + ", bucket int")
    path = str(tmp_path / "part_null")
    write_encrypted_partitioned(df, path, PEOPLE_POLICY, "bucket")

    dirs = sorted(os.listdir(path))
    assert dirs == ["bucket=10", "bucket=20", "bucket=__HIVE_DEFAULT_PARTITION__"]
    got = [
        tuple(r)
        for d in dirs
        for r in read_encrypted(spark, f"{path}/{d}", token="RESTRICTED").collect()
    ]
    assert sorted(got, key=repr) == sorted(rows, key=repr)


def test_q60b_rewrites_lake_after_failed_write(spark, duck, sf_dir, tmp_path, monkeypatch):
    """A q60b lake whose encrypting write failed part-way is not
    memoized: the next call in the same session writes it again and
    matches the oracle. Arrow path, as in a session without the KMS
    jar; the write fails on its second partition value."""
    import parquet_modular_encryption_spark.operators.encrypted as ops
    import parquet_modular_encryption_spark.sources.encrypted as enc
    from parquet_modular_encryption_spark.registry import load_all

    monkeypatch.setattr(ops, "native_pme_available", lambda _spark: (False, "arrow"))
    # a memo key no earlier call used: the same tables under a new sf_dir
    sf = str(tmp_path / "sf")
    os.symlink(sf_dir, sf)

    real = enc.write_encrypted
    calls = []

    def fails_on_second_call(*args, **kwargs):
        calls.append(args[1])
        if len(calls) == 2:
            raise RuntimeError("injected write failure")
        return real(*args, **kwargs)

    monkeypatch.setattr(enc, "write_encrypted", fails_on_second_call)
    with pytest.raises(RuntimeError, match="injected write failure"):
        ops.q60b_encrypted_partitioned(spark, sf)
    monkeypatch.setattr(enc, "write_encrypted", real)

    got = ops.q60b_encrypted_partitioned(spark, sf)
    rel = duck.sql(load_all()["q60b_encrypted_partitioned"].oracle)
    cols = sorted(rel.columns)
    want = sorted(tuple(dict(zip(rel.columns, r))[c] for c in cols) for r in rel.fetchall())
    assert sorted(tuple(r[c] for c in cols) for r in got.collect()) == want


def test_key_rotation_policy_migration(spark, people_path, tmp_path):
    """Rotation rewrites under the new policy's keys: a column promoted
    CONFIDENTIAL→RESTRICTED is no longer readable by a CONFIDENTIAL
    token in the rotated dataset (but values are intact for RESTRICTED),
    and the immutable source still serves the old policy."""
    from parquet_modular_encryption_spark.crypto.policy import EncryptionPolicy
    from parquet_modular_encryption_spark.sources.encrypted import rotate_encrypted

    stricter = EncryptionPolicy(
        column_levels={
            "date_of_birth": Privilege.INTERNAL,
            "first_name": Privilege.RESTRICTED,  # promoted
            "last_name": Privilege.CONFIDENTIAL,
            "social_security_number": Privilege.RESTRICTED,
        },
        name="people_pii_v2",
    )
    rotated = str(tmp_path / "people_v2")
    n_files = rotate_encrypted(spark, people_path, rotated, stricter)
    assert n_files >= 1

    # full fidelity under the new keys
    got = sorted(
        tuple(r) for r in read_encrypted(spark, rotated, token="RESTRICTED").collect()
    )
    assert got == sorted(PEOPLE_ROWS)

    # the promoted column now requires RESTRICTED...
    with pytest.raises(Exception, match="(?i)unwrap|denied|authoriz|403"):
        read_encrypted(
            spark, rotated, token="CONFIDENTIAL", columns=["id", "first_name"]
        ).collect()
    # ...while the immutable source still serves it at CONFIDENTIAL
    old = read_encrypted(
        spark, people_path, token="CONFIDENTIAL", columns=["id", "first_name"]
    ).collect()
    assert sorted((r.id, r.first_name) for r in old) == [
        (row[0], row[2]) for row in PEOPLE_ROWS
    ]


def test_multi_column_read_key_fetch_scope(spark, tmp_path):
    """Pins the Arrow scanner's key-fetch scope at the KMS wire level
    (per-key counters): a SINGLE-column projection fetches exactly the
    keys it needs (footer + that column's key — strict least privilege),
    while a MULTI-column projection additionally fetches the key of the
    file's FIRST encrypted column — a pyarrow metadata over-fetch,
    observed on every multi-column read regardless of which columns are
    projected. The assertion brackets the behavior (needed ⊆ fetched ⊆
    needed ∪ {first-encrypted-column key}) so a future pyarrow that
    becomes strictly least-privilege stays green while a broader
    over-fetch fails loudly.

    Security consequence (also pinned): over-fetching never LEAKS — it
    can only make a read fail that least privilege would have allowed.
    With the policy below (CONFIDENTIAL column first, INTERNAL second),
    an INTERNAL token CAN read the INTERNAL column alone but a
    multi-column [plaintext, INTERNAL] projection trips a 403 on the
    first encrypted column's CONFIDENTIAL key. q60c_crypto_shred routes
    around exactly this by never shredding the first encrypted column's
    key class."""
    from parquet_modular_encryption_spark.crypto.kms_client import (
        KmsAuthorizationError,
    )
    from parquet_modular_encryption_spark.crypto.kms_server import KmsServer
    from parquet_modular_encryption_spark.crypto.policy import EncryptionPolicy

    policy = EncryptionPolicy(
        column_levels={
            "first_name": Privilege.CONFIDENTIAL,  # first encrypted column
            "last_name": Privilege.INTERNAL,
        },
        name="conf_first",
    )
    path = str(tmp_path / "conf_first")
    df = spark.createDataFrame(PEOPLE_ROWS, PEOPLE_SCHEMA)
    server = KmsServer().start()
    try:
        write_encrypted(df, path, policy, kms_url=server.url)

        def fetched_for(columns):
            server.reset_counters()
            read_encrypted(
                spark, path, token="RESTRICTED", columns=columns,
                kms_url=server.url,
            ).collect()
            return {k for (a, k) in server.key_counters if a == "unwrap"}

        needed_single = {"PUBLIC", "INTERNAL"}
        assert fetched_for(["last_name"]) == needed_single

        fetched_multi = fetched_for(["id", "last_name"])
        assert needed_single <= fetched_multi <= needed_single | {"CONFIDENTIAL"}

        # the INTERNAL token consequence: single-column read authorized...
        got = read_encrypted(
            spark, path, token="INTERNAL", columns=["last_name"],
            kms_url=server.url,
        ).collect()
        assert sorted(r.last_name for r in got) == ["Bonzalez", "McSriff", "Truk"]
        # ...and the multi-column read either succeeds (strict pyarrow)
        # or fails CLOSED on the first encrypted column's key — never
        # returns data the token could not have read column-by-column.
        try:
            rows = read_encrypted(
                spark, path, token="INTERNAL", columns=["id", "last_name"],
                kms_url=server.url,
            ).collect()
        except Exception as exc:  # noqa: BLE001 — executor wraps the 403
            msg = str(exc)
            assert "CONFIDENTIAL" in msg or "403" in msg or isinstance(
                exc, KmsAuthorizationError
            )
        else:
            assert sorted(r.last_name for r in rows) == [
                "Bonzalez", "McSriff", "Truk",
            ]
    finally:
        server.stop()


def test_gcm_tamper_detection(spark, people_path, tmp_path):
    """PME's integrity guarantee, not just confidentiality: every
    encrypted module carries an AES-GCM authentication tag, so a
    bit-flip inside an encrypted column chunk MUST surface as a hard
    decryption failure ("failed decryption finalization" = tag
    mismatch) — never silently-wrong data. The flip is aimed using the
    column chunk offsets from an AUTHORIZED metadata read, so the test
    provably tampers ciphertext, not the plaintext footer (whose
    corruption fails differently, as a thrift parse error — and
    unencrypted columns are deliberately out of scope: parquet offers
    plaintext pages no integrity). The KMS-level AES-KW tamper test
    covers wrapped keys in transit; this covers data at rest."""
    import glob
    import shutil

    from parquet_modular_encryption_spark.crypto.kms_server import shared_kms_url
    from parquet_modular_encryption_spark.sources import encrypted as enc

    src = sorted(glob.glob(f"{people_path}/*.parquet"))
    assert src, "encrypted fixture missing"
    victim_src = src[0]

    # authorized metadata read -> the CONFIDENTIAL column's byte range
    props = enc._file_decryption_properties(shared_kms_url(), "RESTRICTED")
    rg = pq.ParquetFile(victim_src, decryption_properties=props).metadata.row_group(0)
    ssn = next(
        rg.column(i)
        for i in range(rg.num_columns)
        if rg.column(i).path_in_schema == "social_security_number"
    )

    tampered_dir = tmp_path / "tampered"
    tampered_dir.mkdir()
    for f in src:
        shutil.copy(f, tampered_dir)
    victim = str(tampered_dir / victim_src.rsplit("/", 1)[1])
    raw = bytearray(open(victim, "rb").read())
    assert raw[:4] == b"PAR1" and raw[-4:] == b"PAR1"
    off = ssn.data_page_offset + 20  # inside the encrypted page module
    assert off + 8 < ssn.data_page_offset + ssn.total_compressed_size
    for i in range(off, off + 8):
        raw[i] ^= 0xFF
    open(victim, "wb").write(bytes(raw))

    with pytest.raises(Exception) as exc_info:
        read_encrypted(spark, str(tampered_dir), token="RESTRICTED").collect()
    msg = str(exc_info.value).lower()
    assert "decryption" in msg, f"expected a GCM decryption failure, got: {msg[:300]}"
    assert "403" not in msg  # fail-closed on integrity, not authz

    # the untampered original still reads in the same session (the
    # failure is the flipped bytes, not environment drift)
    got = sorted(
        tuple(r)
        for r in read_encrypted(spark, people_path, token="RESTRICTED").collect()
    )
    assert got == sorted(PEOPLE_ROWS)


def test_gcm_ctr_roundtrip_arrow(spark, tmp_path):
    """AES_GCM_CTR_V1 on the Arrow path — the PME spec's second cipher
    (the reference demos GCM only, write_encrypted_parquet.py:70):
    round-trip fidelity, on-disk opacity, and the access matrix still
    enforced (the cipher changes page encryption, not key wrapping or
    authorization). CTR on this writer requires an ENCRYPTED footer
    (upstream pyarrow defect with plaintext-footer CTR, documented at
    the gate in sources/encrypted.py), which also exercises the
    encrypted-footer schema-discovery fallback in read_encrypted. The
    GCM-vs-CTR tamper-semantics asymmetry is pinned on the parquet-mr
    path in tests/native_pme_driver.py step 8c."""
    import dataclasses
    import glob

    df = spark.createDataFrame(PEOPLE_ROWS, PEOPLE_SCHEMA)
    path = str(tmp_path / "ctr")
    ctr_policy = dataclasses.replace(PEOPLE_POLICY, plaintext_footer=False)
    write_encrypted(df, path, ctr_policy, algorithm="AES_GCM_CTR_V1")

    # encrypted footer: PARE magic, keyless schema read refused
    f0 = sorted(glob.glob(f"{path}/*.parquet"))[0]
    assert open(f0, "rb").read()[-4:] == b"PARE"
    with pytest.raises(Exception):
        pq.read_schema(f0)

    got = sorted(
        tuple(r) for r in read_encrypted(spark, path, token="RESTRICTED").collect()
    )
    assert got == sorted(PEOPLE_ROWS)

    raw = b"".join(open(f, "rb").read() for f in glob.glob(f"{path}/*.parquet"))
    assert b"Truk" not in raw and b"123-45-6789" not in raw

    with pytest.raises(Exception, match="(?i)unwrap|denied|authoriz|403"):
        read_encrypted(
            spark, path, token="PUBLIC", columns=["id", "social_security_number"]
        ).collect()


def test_ctr_plaintext_footer_combination_gated(spark, tmp_path):
    """The broken writer combination (CTR + plaintext footer) fails fast
    at the API boundary with the upstream defect explained — before any
    file or KMS work."""
    df = spark.createDataFrame(PEOPLE_ROWS, PEOPLE_SCHEMA)
    with pytest.raises(ValueError, match="plaintext_footer"):
        write_encrypted(
            df, str(tmp_path / "bad"), PEOPLE_POLICY, algorithm="AES_GCM_CTR_V1"
        )


def test_unknown_algorithm_rejected(spark, tmp_path):
    """Only the spec's two ciphers exist; anything else fails fast at the
    API boundary, before any file or KMS work."""
    df = spark.createDataFrame(PEOPLE_ROWS, PEOPLE_SCHEMA)
    with pytest.raises(ValueError, match="AES_GCM_V1"):
        write_encrypted(df, str(tmp_path / "bad"), PEOPLE_POLICY, algorithm="AES_CBC_V1")


def test_kms_call_counts_bounded_by_files_and_keys(spark, tmp_path):
    """VERDICT r9 item 6: the double-wrapping promise, wire-counted.
    KMS load must scale with files x key-ids — never with rows, and
    never super-linearly under concurrent per-partition readers. With
    F files and K master key-ids (columns + footer):

    - the write wraps at most F x K times (one KEK wrap per key-id per
      file-writing task; row volume is invisible to the KMS);
    - a full 8-way-parallel decrypting read unwraps at most F x K times
      (per-task KEK cache: each task unwraps each key-id once);
    - repeated reads grow call counts LINEARLY (each read re-pays at
      most F x K — the cache-expiry reload shape), so a TTL lapse under
      N concurrent readers is a bounded N x K spike, not a stampede.

    Counted at the KMS wire (KmsServer.counters), so client-side caching
    cannot fake a pass."""
    import os

    from parquet_modular_encryption_spark.crypto.kms_server import KmsServer
    from parquet_modular_encryption_spark.crypto.policy import (
        EncryptionPolicy,
        Privilege,
    )
    from parquet_modular_encryption_spark.sources.encrypted import (
        write_encrypted,
    )

    policy = EncryptionPolicy(
        column_levels={
            "l_extendedprice": Privilege.CONFIDENTIAL,
            "l_discount": Privilege.CONFIDENTIAL,
            "l_tax": Privilege.INTERNAL,
        },
        name="lineitem_financials",
    )
    li = (
        spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
        .repartition(8)
    )
    n_rows = li.count()

    srv = KmsServer().start()
    try:
        path = str(tmp_path / "enc")
        write_encrypted(li, path, policy, kms_url=srv.url)
        n_files = len(
            [f for f in os.listdir(path) if f.endswith(".parquet")]
        )
        # key-ids on the wire: distinct master keys the write wrapped with
        key_ids = {k for (_a, k) in srv.key_counters}
        wraps = srv.counters["wrap"]
        bound = n_files * len(key_ids)
        assert n_files >= 2 and len(key_ids) >= 2, (n_files, key_ids)
        assert 0 < wraps <= bound, (
            f"write wrapped {wraps}x for {n_files} files x "
            f"{len(key_ids)} key-ids (bound {bound}) — KMS load must not "
            f"scale past files x key-ids ({n_rows} rows)"
        )

        unwraps_per_read = []
        for _ in range(3):
            srv.reset_counters()
            back = read_encrypted(
                spark, path, token="RESTRICTED", kms_url=srv.url
            )
            assert back.count() == n_rows
            unwraps_per_read.append(srv.counters["unwrap"])
        for u in unwraps_per_read:
            assert 0 < u <= bound, (
                f"read unwrapped {u}x vs files x key-ids bound {bound}"
            )
        # no stampede: repeats do not grow (each read's reload is the
        # same bounded F x K, so TTL expiry under concurrent readers is
        # a one-shot bounded spike)
        assert max(unwraps_per_read) <= unwraps_per_read[0], unwraps_per_read
    finally:
        srv.stop()
