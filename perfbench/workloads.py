"""The two workloads. Each one prepares its inputs in ``setup`` (data,
fixtures, caches), runs ``warmup`` untimed, then ``timed`` runs a fixed
amount of work derived from ``--seconds`` and returns an ``Outcome``.
Every op's output is checked; a wrong result counts as a failed op.

- ``enc_rw``: cold JVM-native decrypting scans of an encrypted lineitem,
  interleaved with cold JVM-native encrypted writes of a cached slice.
- ``query_mix``: passes over a fixed list of registered queries.
"""

from __future__ import annotations

import functools
import hashlib
import os
import random
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import datagen
from harness import Run, rebind


@dataclass
class Outcome:
    """What a timed region did. An "op" is one scan or write (enc_rw) or
    one pass over the query list (query_mix)."""

    latencies: list[float]  # seconds, one per op
    round_walls: list[float]  # seconds, one per pass over the op cycle
    t_start: float  # perf_counter bounds of the timed region
    t_end: float
    calls: int  # engine calls made (scans, writes, queries)
    rows: int  # rows scanned + written, or returned, in the timed region
    kms_requests: int
    stored_ratio: float
    failed: int
    errors: list[str] = field(default_factory=list)

    @property
    def ops(self) -> int:
        return len(self.latencies)

    @property
    def timed_s(self) -> float:
        return self.t_end - self.t_start

    def end_to_end(self, setup_s: float, attempted: int, failed: int) -> dict[str, tuple[float, str]]:
        lat = self.latencies
        p90 = statistics.quantiles(lat, n=10, method="inclusive")[8] if len(lat) > 1 else lat[0]
        return {
            "setup_s": (setup_s, "s"),
            "rows_per_s": (self.rows / self.timed_s, "rows/s"),
            "op_p50_s": (statistics.median(self.latencies), "s"),
            "op_p90_s": (p90, "s"),
            "pass_s": (statistics.median(self.round_walls), "s"),
            "kms_requests_per_op": (self.kms_requests / self.ops, "count"),
            "stored_bytes_per_plain_byte": (self.stored_ratio, "ratio"),
            "success_rate": ((attempted - failed) / attempted, "ratio"),
        }


class Timer:
    """Marks op ends in a timed region and derives per-pass walls and KMS
    requests."""

    def __init__(self, run: Run, cycle: int) -> None:
        self.run, self.cycle = run, cycle
        self.kms0 = run.kms_requests()
        self.t_start = time.perf_counter()
        self.ends: list[float] = []

    def mark(self) -> None:
        self.ends.append(time.perf_counter())

    def finish(self, **fields) -> Outcome:
        t_end = time.perf_counter()
        starts = [self.t_start] + self.ends
        walls = [
            self.ends[i + self.cycle - 1] - starts[i]
            for i in range(0, len(self.ends) - self.cycle + 1, self.cycle)
        ]
        return Outcome(
            round_walls=walls,
            t_start=self.t_start,
            t_end=t_end,
            kms_requests=self.run.kms_requests() - self.kms0,
            **fields,
        )


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            if not name.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, name))
    return total


def _dec(col: str):
    """Exact decimal sum of a 2-decimal double column."""
    from pyspark.sql import functions as F

    return F.sum(F.col(col).cast("decimal(18,2)"))


def _sum_cents(values: np.ndarray) -> int:
    """Exact sum of 2-decimal values, in integer cents."""
    return int(np.rint(values * 100).astype(np.int64).sum())


# ---------------------------------------------------------------------------
# enc_rw
# ---------------------------------------------------------------------------

#: lineitem columns by privilege; the rest stay plaintext
LINEITEM_LEVELS = {
    "l_quantity": "INTERNAL",
    "l_discount": "INTERNAL",
    "l_tax": "INTERNAL",
    "l_extendedprice": "CONFIDENTIAL",
    "l_partkey": "RESTRICTED",
    "l_suppkey": "RESTRICTED",
}
FIXTURE_FILES = 4
#: zstd level of the scanned fixture. The engine writes level 19, which
#: took about 10 s more of set-up on 4 cores for the 600,000 rows; zstd
#: decodes at about the same speed whatever the level.
FIXTURE_ZSTD_LEVEL = {"parquet.compression.codec.zstd.level": "3"}
WRITE_ROWS = 50_000
WRITE_FILES = 4
UNIFORM_KEY = "CONFIDENTIAL"
#: one round of op shapes: four scan shapes (the narrow grouped projection,
#: the commonest analyst shape, twice) and both encrypted writers
RW_CYCLE = (
    "full_agg",
    "filtered_projection",
    "grouped",
    "grouped",
    "pinned",
    "write_policy",
    "write_uniform",
)
#: fixed work per second of --seconds (a round takes about 7 s on 4 cores)
RW_ROUNDS_PER_S = 1 / 7.0
#: warm-up: one round, then the scan shapes again. After one round the
#: first timed full aggregate and pinned scan still ran up to 50% slower
#: than the second (JIT), which moved the median op with the seed's op
#: order; the writes were warm after one round and the fixture write.
RW_WARMUP = RW_CYCLE + tuple(s for s in RW_CYCLE if not s.startswith("write"))


def lineitem_policy():
    from parquet_modular_encryption_spark.crypto.policy import EncryptionPolicy, Privilege

    return EncryptionPolicy(
        {c: Privilege[lvl] for c, lvl in LINEITEM_LEVELS.items()}, name="lineitem_levels"
    )


class EncRW:
    name = "enc_rw"
    slots_cap = 4

    def setup(self, run: Run, seed: int) -> None:
        from parquet_modular_encryption_spark.crypto.kms_server import KmsServer
        from parquet_modular_encryption_spark.sources.datasets import load
        from parquet_modular_encryption_spark.sources.encrypted_native import (
            write_encrypted_native,
        )

        rng = random.Random(seed)
        lineitem = datagen.build_tables(["lineitem"])["lineitem"]
        self.scan_rows = lineitem.num_rows
        self.expected = self._expected(lineitem)
        self.kms = KmsServer().start()
        self.url = self.kms.url
        plain_dir = os.path.join(run.work, "plain")
        datagen.write_tables(plain_dir, {"lineitem": lineitem})

        # the write source: a seeded slice, this run's lineitem table
        offset = rng.randrange(0, lineitem.num_rows - WRITE_ROWS)
        piece = lineitem.slice(offset, WRITE_ROWS)
        os.makedirs(run.data_dir)
        pq.write_table(piece, os.path.join(run.data_dir, "lineitem.parquet"))
        self.piece_bytes = piece.nbytes
        self.expected_write = (
            WRITE_ROWS,
            int(piece.column("l_orderkey").to_numpy().sum()),
            _sum_cents(piece.column("l_extendedprice").to_numpy()),
        )
        spark = run.start_spark(self.slots_cap)
        # the scanned fixture, written once by the engine's own writer (data
        # page v2, AES-GCM, zstd) so the scans read the files the engine writes
        self.path = os.path.join(run.work, "lineitem_enc")
        full = load(spark, plain_dir, "lineitem").repartition(FIXTURE_FILES)
        write_encrypted_native(
            full, self.path, lineitem_policy(), self.url, extra_conf=FIXTURE_ZSTD_LEVEL
        )
        self.source = load(spark, run.data_dir, "lineitem").repartition(WRITE_FILES).cache()
        self.source.count()
        self.targets = [os.path.join(run.work, f"out_{d}") for d in ("a", "b")]
        self.writes = 0
        self.last_path = None

        # each round runs every op shape once, in a seeded order
        self.ops = []
        for _ in range(max(1, round(run.seconds * RW_ROUNDS_PER_S))):
            cycle = list(RW_CYCLE)
            rng.shuffle(cycle)
            self.ops += cycle

    @staticmethod
    def _expected(table) -> dict:
        c = {name: table.column(name).to_numpy() for name in table.column_names}
        groups = {}
        for flag in ("A", "N", "R"):
            for status in ("F", "O"):
                mask = (c["l_returnflag"] == flag) & (c["l_linestatus"] == status)
                groups[(flag, status)] = (int(mask.sum()), _sum_cents(c["l_quantity"][mask]))
        cheap = c["l_quantity"] <= 10
        return {
            "full_agg": (
                len(c["l_orderkey"]),
                int(c["l_orderkey"].sum()),
                int(c["l_partkey"].sum()),
                int(c["l_suppkey"].sum()),
                _sum_cents(c["l_quantity"]),
                _sum_cents(c["l_extendedprice"]),
                _sum_cents(c["l_discount"]),
                _sum_cents(c["l_tax"]),
            ),
            "filtered_projection": (int(cheap.sum()), _sum_cents(c["l_extendedprice"][cheap])),
            "grouped": groups,
            "pinned": (len(c["l_orderkey"]), int(c["l_orderkey"].sum()), _sum_cents(c["l_extendedprice"])),
        }

    def _scan(self, run: Run, shape: str):
        """One scan shape under its least-privilege token; returns the
        result in the form of ``self.expected[shape]``."""
        from pyspark.sql import functions as F

        from parquet_modular_encryption_spark.sources import encrypted_native as en

        spark, url, path = run.spark, self.url, self.path
        cents = lambda v: int(v * 100)  # noqa: E731 - decimal(…,2) -> int cents
        if shape == "full_agg":
            with en.decrypting_scan(spark, path, url, "RESTRICTED") as df:
                row = df.agg(
                    F.count(F.lit(1)), F.sum("l_orderkey"), F.sum("l_partkey"),
                    F.sum("l_suppkey"), _dec("l_quantity"), _dec("l_extendedprice"),
                    _dec("l_discount"), _dec("l_tax"),
                ).collect()[0]
            return tuple(row[:4]) + tuple(cents(v) for v in row[4:])
        if shape == "filtered_projection":
            cols = ["l_quantity", "l_extendedprice"]
            with en.decrypting_scan(spark, path, url, "CONFIDENTIAL", columns=cols) as df:
                row = df.filter(F.col("l_quantity") <= 10).agg(
                    F.count(F.lit(1)), _dec("l_extendedprice")
                ).collect()[0]
            return row[0], cents(row[1])
        if shape == "grouped":
            cols = ["l_returnflag", "l_linestatus", "l_quantity"]
            with en.decrypting_scan(spark, path, url, "INTERNAL", columns=cols) as df:
                rows = df.groupBy("l_returnflag", "l_linestatus").agg(
                    F.count(F.lit(1)), _dec("l_quantity")
                ).collect()
            return {(r[0], r[1]): (r[2], cents(r[3])) for r in rows}
        cols = ["l_orderkey", "l_extendedprice"]
        with en.pinned_decrypting_scan(spark, path, url, "CONFIDENTIAL", columns=cols) as df:
            n = df.count()
            row = df.agg(F.sum("l_orderkey"), _dec("l_extendedprice")).collect()[0]
        return n, row[0], cents(row[1])

    def _write(self, shape: str) -> None:
        """One encrypted write into the next of the two target directories,
        so both writers alternate across both."""
        from parquet_modular_encryption_spark.sources import encrypted_native as en

        path = self.targets[self.writes % 2]
        self.writes += 1
        if shape == "write_policy":
            en.write_encrypted_native(self.source, path, lineitem_policy(), self.url)
        else:
            en.write_encrypted_uniform_native(self.source, path, UNIFORM_KEY, self.url)
        self.last_path = path

    def _op(self, run: Run, shape: str, errors: list[str]) -> tuple[float, bool]:
        """(seconds, result correct) of one cold op."""
        run.flush_key_caches()
        with run.tracer.span("op", shape=shape):
            t = time.perf_counter()
            try:
                if shape.startswith("write"):
                    got = expected = None
                    self._write(shape)
                else:
                    got, expected = self._scan(run, shape), self.expected[shape]
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                errors.append(f"{shape}: {exc!r}"[:300])
                return time.perf_counter() - t, False
            elapsed = time.perf_counter() - t
        if got != expected:
            errors.append(f"{shape}: got {got!r}, expected {expected!r}"[:300])
            return elapsed, False
        return elapsed, True

    def warmup(self, run: Run) -> None:
        errors: list[str] = []
        for shape in RW_WARMUP:
            self._op(run, shape, errors)
        if errors:
            raise RuntimeError(f"warm-up failed: {errors[0]}")

    def timed(self, run: Run) -> Outcome:
        errors: list[str] = []
        latencies, failed, stored, rows = [], 0, 0, 0
        timer = Timer(run, len(RW_CYCLE))
        for shape in self.ops:
            elapsed, ok = self._op(run, shape, errors)
            timer.mark()
            latencies.append(elapsed)
            failed += not ok
            if shape.startswith("write"):
                stored += dir_bytes(self.last_path)
                rows += WRITE_ROWS
            else:
                rows += self.scan_rows
        writes = sum(shape.startswith("write") for shape in self.ops)
        return timer.finish(
            latencies=latencies,
            calls=len(self.ops),
            rows=rows,
            stored_ratio=stored / (self.piece_bytes * writes),
            failed=failed,
            errors=errors,
        )

    def checks(self, run: Run) -> tuple[int, list[str]]:
        """A PUBLIC token must not read a CONFIDENTIAL column, and the last
        write decrypts back to the same rows and checksum."""
        from pyspark.sql import functions as F

        from parquet_modular_encryption_spark.sources import encrypted_native as en

        errors = []
        run.flush_key_caches()
        before = dict(self.kms.key_counters)
        refused = False
        try:
            with run.tracer.span("check.public_read"):
                with en.decrypting_scan(
                    run.spark, self.path, self.url, "PUBLIC", columns=["l_extendedprice"]
                ) as df:
                    df.collect()
        except Exception:  # noqa: BLE001 - the refusal surfaces as a task failure
            refused = True
        self.denied = sum(
            n - before.get(k, 0)
            for k, n in self.kms.key_counters.items()
            if k[0] == "unwrap" and k[1] != "PUBLIC"
        )
        if not refused or self.denied == 0:
            errors.append("a PUBLIC token read was not refused at the KMS")

        run.flush_key_caches()
        with run.tracer.span("check.roundtrip"):
            with en.decrypting_scan(run.spark, self.last_path, self.url, "RESTRICTED") as df:
                row = df.agg(
                    F.count(F.lit(1)), F.sum("l_orderkey"), _dec("l_extendedprice")
                ).collect()[0]
        got = (row[0], row[1], int(row[2] * 100))
        if got != self.expected_write:
            errors.append(f"round trip: got {got!r}, expected {self.expected_write!r}")
        return 2, errors


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

#: registered queries, run as builder() + noop sink
QUERIES = (
    "q34_asof_join",
    "q45_fingerprint",
    "q60_encrypted_roundtrip",
    "q60c_crypto_shred",
)
#: fixed work per second of --seconds (a pass takes about 7 s on 3 cores)
QUERY_PASSES_PER_S = 1 / 7.0


def result_hash(df) -> tuple[int, str]:
    """(rows, order-insensitive hash) of a result: rows sorted by their
    canonical text, floats to 12 significant digits."""

    def canon(v):
        if isinstance(v, float):
            return f"{v:.12g}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(canon(x) for x in v) + "]"
        return repr(v)

    lines = sorted("|".join(canon(v) for v in row) for row in df.collect())
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


class QueryMix:
    name = "query_mix"
    slots_cap = 3  # the Arrow PME path is much noisier with every CPU busy

    def setup(self, run: Run, seed: int) -> None:
        from parquet_modular_encryption_spark.registry import load_all

        rng = random.Random(seed)
        tables = datagen.build_tables()
        datagen.write_tables(run.data_dir, tables)
        # q60 and q60c each write the whole customer table encrypted
        self.customer_bytes = tables["customer"].nbytes
        self.written = [0, 0]  # encrypted writes, bytes they stored
        self._record_writes()
        self.order = list(QUERIES)
        rng.shuffle(self.order)
        registry = load_all()
        self.builders = {name: registry[name].builder for name in QUERIES}
        run.start_spark(self.slots_cap)
        self.passes = max(1, round(run.seconds * QUERY_PASSES_PER_S))
        self.warm_hash: dict[str, tuple[int, str]] = {}
        self.last: dict = {}

    def _record_writes(self) -> None:
        """Count the encrypted writes the queries make, on either backend,
        and the bytes each one stored."""
        from parquet_modular_encryption_spark.sources import encrypted, encrypted_native

        def recording(fn):
            @functools.wraps(fn)
            def wrapped(df, path, *args, **kwargs):
                out = fn(df, path, *args, **kwargs)
                self.written[0] += 1
                self.written[1] += dir_bytes(path)
                return out

            return wrapped

        for fn in (encrypted.write_encrypted, encrypted_native.write_encrypted_native):
            rebind(fn, recording(fn))

    def _run(self, run: Run, name: str, hashed: bool = False):
        """builder() then a noop sink (or, ``hashed``, a result hash).
        Returns the frame and the rows the sink received."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        run.flush_key_caches()
        with run.tracer.span("op", query=name):
            with run.tracer.span("registry.builder", query=name):
                df = self.builders[name](run.spark, run.data_dir)
            with run.tracer.span("registry.action", query=name):
                if hashed:
                    return result_hash(df)
                seen = Observation()
                df.observe(seen, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
                    "overwrite"
                ).save()
        return df, seen.get["rows"]

    def warmup(self, run: Run) -> None:
        for name in self.order:
            self.warm_hash[name] = self._run(run, name, hashed=True)

    def timed(self, run: Run) -> Outcome:
        errors: list[str] = []
        failed = rows = 0
        writes0, stored0 = self.written
        timer = Timer(run, len(self.order))
        for _ in range(self.passes):
            for name in self.order:
                try:
                    self.last[name], n = self._run(run, name)
                    rows += n
                except Exception as exc:  # noqa: BLE001 - a failed query is counted
                    errors.append(f"{name}: {exc!r}"[:300])
                    failed += 1
                timer.mark()
        writes, stored = self.written[0] - writes0, self.written[1] - stored0
        out = timer.finish(
            latencies=[],
            calls=self.passes * len(self.order),
            rows=rows,
            stored_ratio=stored / (self.customer_bytes * max(1, writes)),
            failed=failed,
            errors=errors,
        )
        out.latencies = list(out.round_walls)  # an op is a pass
        return out

    def checks(self, run: Run) -> tuple[int, list[str]]:
        """Each query's last-pass result hashes as in warm-up."""
        errors = []
        for name, df in self.last.items():
            with run.tracer.span("check.result_hash", query=name):
                got = result_hash(df)
            if got != self.warm_hash[name]:
                errors.append(f"{name}: result {got} != warm-up {self.warm_hash[name]}")
        return len(self.last), errors


WORKLOADS = {w.name: w for w in (EncRW, QueryMix)}
