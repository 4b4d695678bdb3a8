#!/usr/bin/env python
"""Finish the sf10 (100x) EXACT similarity joins with bounded-spill
chunked verify — the two cells SF10_r09.json records as disk-bound.

Why they were disk-bound: q49c/q55c's verify stage shuffles the
pair-token incidence (~5e9 rows at sf10); on one VM that spill lands on
a single disk and overflowed ~78 GB of free space. The fix is NOT a
different plan but grouped execution: partition the candidate frame by
doc_a residue class (pipeline.dedup.verify_chunk — exact partition,
union of chunk outputs == monolithic output, pytest-pinned at
tests/test_pipeline.py::test_chunked_verify_equals_monolithic) and run
each chunk's verify in its OWN session, so concurrent spill is capped at
~1/n_chunks. A 1000-executor cluster does the same thing when a stage's
aggregate spill exceeds cluster scratch: group the work, bound the
footprint, stream the accepted pairs out.

Phases (one JVM each, merging into the output JSON):
  materialize_{op}   write postings/tf + candidates to parquet once
  verify_{op}_{i}    read, filter chunk i, run the factored verify,
                     append accepted pairs to parquet
  reduce_{op}        count + order-independent fingerprint of the union

Usage: python scripts/sf10_chunked_experiment.py [--out SF10_r10.json]
       [--nchunks N] [--sf-dir DIR] [--ops q49c,q55c]
Generate the corpus first: python scripts/gen_scaled_testdata.py 100
build/testdata/sf10.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF10 = os.path.join(REPO, "build", "testdata", "sf10")
WORK = os.path.join(REPO, "build", "sf10_chunks")
N_CHUNKS = 10
OPS = ("q49c", "q55c")


def _get_spark():
    from parquet_modular_encryption_spark.session import get_spark

    return get_spark(
        "sf10-chunked",
        cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        # zstd shuffle compression: the disk-tight deployment setting
        # (SF10_r09.json records the zstd spill that overflowed the disk)
        extra_conf={"spark.io.compression.codec": "zstd"},
    )


def _load_res(out_path: str) -> dict:
    if os.path.exists(out_path):
        with open(out_path) as f:
            return json.load(f)
    return {}


def _save_res(out_path: str, res: dict) -> None:
    with open(out_path, "w") as f:
        json.dump(res, f, indent=1)


def run_phase(phase: str, out_path: str, n_chunks: int, sf_dir: str) -> None:
    from pyspark.sql import functions as F

    from parquet_modular_encryption_spark.pipeline.dedup import (
        allpairs_candidates,
        allpairs_verify,
        ppjoin_candidates,
        ppjoin_verify,
        shingle_tf,
        verify_chunk,
    )
    from parquet_modular_encryption_spark.session import prep
    from parquet_modular_encryption_spark.sources.datasets import load

    spark = _get_spark()
    prep(spark)
    res = _load_res(out_path)
    res.setdefault("sf_dir", sf_dir)
    res.setdefault("n_chunks", n_chunks)
    op = phase.split("_")[1]
    # work dir keyed by CORPUS: a shared dir let one corpus's reduce read
    # another's leftover chunk outputs (caught when a zipf1 run reported
    # nearly zipf3's pair count — the contaminated artifacts were
    # discarded and re-run)
    wdir = os.path.join(WORK, os.path.basename(sf_dir.rstrip("/")), op)

    t0 = time.time()
    if phase.startswith("materialize_"):
        import shutil

        # stale chunk outputs from a prior run with a larger n_chunks
        # would survive the per-chunk overwrites and poison the reduce
        shutil.rmtree(f"{wdir}/out", ignore_errors=True)
        docs = load(spark, sf_dir, "documents")
        res["n_docs"] = docs.count()
        t0 = time.time()
        if op == "q49c":
            toks, cand = ppjoin_candidates(docs)
            toks.write.mode("overwrite").parquet(f"{wdir}/toks")
            cand.write.mode("overwrite").parquet(f"{wdir}/cand")
        else:
            tf = shingle_tf(docs)
            nrm = tf.groupBy("doc_id").agg(
                F.sum(F.col("w") * F.col("w")).alias("n2")
            )
            tf.write.mode("overwrite").parquet(f"{wdir}/tf")
            nrm.write.mode("overwrite").parquet(f"{wdir}/nrm")
            allpairs_candidates(tf, nrm).write.mode("overwrite").parquet(
                f"{wdir}/cand"
            )
        res[f"{op}_candidates"] = spark.read.parquet(f"{wdir}/cand").count()
    elif phase.startswith("verify_"):
        i = int(phase.rsplit("_", 1)[1])
        cand = spark.read.parquet(f"{wdir}/cand")
        part = verify_chunk(cand, i, n_chunks)
        if op == "q49c":
            out = ppjoin_verify(spark.read.parquet(f"{wdir}/toks"), part)
        else:
            out = allpairs_verify(
                spark.read.parquet(f"{wdir}/tf"),
                spark.read.parquet(f"{wdir}/nrm"),
                part,
            )
        out.write.mode("overwrite").parquet(f"{wdir}/out/chunk_{i}")
        res.setdefault(f"{op}_chunk_sec", {})[str(i)] = round(time.time() - t0, 1)
        # per-chunk straggler reading (fresh session, so no snapshot
        # scoping needed): chunks run disk-light, which separates real
        # key skew from the IO interference a disk-saturated monolithic
        # verify suffers — the attribution evidence for the zipf3 q55c
        # monolith's 6.4x outlier task (hash partitions measured balanced
        # at 1.28x; see NOTES_r10)
        from parquet_modular_encryption_spark.plans.explain import (
            stage_task_dispersion,
        )

        rows = stage_task_dispersion(spark, min_tasks=8)
        if rows:
            # the HEAVIEST stage's ratio is the skew-relevant reading: a
            # fresh session's worst RATIO is reliably a few-row-group
            # parquet scan whose tasks are mostly empty (median ~40 ms),
            # an input-split artifact, while the verify join/agg stage —
            # the one whose balance the chunking must preserve — is the
            # one with the largest max task time
            res.setdefault(f"{op}_chunk_straggler", {})[str(i)] = max(
                rows, key=lambda r: r["max_ms"]
            )
    else:  # reduce
        # explicit chunk list (never a glob): robust against any leftover
        # directory a historical run might have left behind. A chunk
        # whose verify survived zero pairs leaves a directory with only
        # _SUCCESS (no part files) — spark.read.parquet fails schema
        # inference on those, so skip them (the union is unaffected:
        # they contribute no rows) and log the skip.
        chunk_dirs = []
        for i in range(n_chunks):
            d = f"{wdir}/out/chunk_{i}"
            if any(
                f.endswith(".parquet")
                for f in (os.listdir(d) if os.path.isdir(d) else [])
            ):
                chunk_dirs.append(d)
            else:
                print(f"# reduce: skipping empty chunk dir {d}", flush=True)
        if not chunk_dirs:
            res[f"{op}_verified_pairs"] = 0
            res[f"{op}_fingerprint"] = 0
            res[f"{phase}_sec"] = round(time.time() - t0, 1)
            _save_res(out_path, res)
            spark.stop()
            return
        out = spark.read.parquet(*chunk_dirs)
        # order-independent fingerprint: bit_xor never overflows under
        # ANSI mode (a sum of xxhash64 does) and (doc_a, doc_b) rows are
        # unique, so XOR cancellation cannot hide a discrepancy
        agg = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(doc_a, doc_b))").alias("fp"),
        ).collect()[0]
        res[f"{op}_verified_pairs"] = agg["n"]
        res[f"{op}_fingerprint"] = int(agg["fp"])
    res[f"{phase}_sec"] = round(time.time() - t0, 1)
    _save_res(out_path, res)
    print(f"{phase}: {res[f'{phase}_sec']}s", flush=True)
    spark.stop()


def main() -> int:
    out_path = "SF10_r10.json"
    args = sys.argv[1:]
    n_chunks = N_CHUNKS
    sf_dir = SF10
    ops = list(OPS)
    if "--out" in args:
        out_path = args[args.index("--out") + 1]
    if "--nchunks" in args:
        n_chunks = int(args[args.index("--nchunks") + 1])
    if "--sf-dir" in args:
        sf_dir = args[args.index("--sf-dir") + 1]
    if "--ops" in args:
        ops = args[args.index("--ops") + 1].split(",")
    if "--phase" in args:
        run_phase(args[args.index("--phase") + 1], out_path, n_chunks, sf_dir)
        return 0
    if not os.path.isdir(sf_dir):
        print(f"{sf_dir} missing — generate it first", file=sys.stderr)
        return 1

    for op in ops:
        phases = (
            [f"materialize_{op}"]
            + [f"verify_{op}_{i}" for i in range(n_chunks)]
            + [f"reduce_{op}"]
        )
        for phase in phases:
            rc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--phase", phase,
                 "--out", out_path, "--nchunks", str(n_chunks),
                 "--sf-dir", sf_dir],
            ).returncode
            if rc != 0:
                print(f"phase {phase} failed rc={rc}", file=sys.stderr)
                return rc
        # total = materialize + all chunks + reduce, recorded per op
        res = _load_res(out_path)
        total = (
            res.get(f"materialize_{op}_sec", 0.0)
            + sum(res.get(f"{op}_chunk_sec", {}).values())
            + res.get(f"reduce_{op}_sec", 0.0)
        )
        res[f"{op}_total_sec"] = round(total, 1)
        _save_res(out_path, res)
    with open(out_path) as f:
        print(f"wrote {out_path}: {json.load(f)}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
