#!/usr/bin/env python
"""Registered-path grouped-execution experiment (round 11).

VERDICT r10 item 2 promoted the bounded-spill chunked verify into
registry operators (q49e/q55d). This experiment produces the evidence
that the REGISTERED path — one session, sequential chunk jobs through
``grouped_exact_join`` — reproduces the monolithic joins exactly at a
scale where the verify stage runs under true-positive load (the
dup-heavy corpora), and records what the grouping costs/saves in wall
clock. It also measures the q47 default (16-perm/8-band, the round-12
promoted point) planted recall next to q47d's budget 8-perm/4-band on
the same corpora (planted-group pin:
tests/test_pipeline.py::test_minhash_high_recall_ladder_on_planted_groups).

For each corpus:
  {op}_monolith_sec / _rows / _fingerprint      (q49c, q55c)
  {op}_grouped_sec  / _rows / _fingerprint      (q49e, q55d, n_chunks env)
  fingerprints_equal                            (bit_xor(xxhash64) + count)
  q47/q47d planted pairs + recall               (dup-heavy corpora only)

Usage: python scripts/grouped_registered_experiment.py \
         [--sfs build/testdata/duph0.1,...] [--out GROUPED_r11.json]
Env: SPARK_GRAFT_GROUPED_CHUNKS (default 10 here — the sf10 shape),
     SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from parquet_modular_encryption_spark.session import get_spark, prep  # noqa: E402

OPS = (
    ("q49c", "q49e"),
    ("q55c", "q55d"),
)


def fingerprint(df) -> tuple[int, int]:
    """(rows, order-independent pair fingerprint) — the exact convention
    scripts/sf10_chunked_experiment.py's reduce phase records, so numbers
    are comparable across artifacts: bit_xor never overflows under ANSI
    mode where a SUM of xxhash64 would."""
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(doc_a, doc_b))").alias("fp"),
    ).collect()[0]
    return int(agg["n"]), int(agg["fp"] if agg["fp"] is not None else 0)


def main() -> int:
    args = sys.argv[1:]
    out_path = os.path.join(REPO, "GROUPED_r11.json")
    sfs = [os.path.join(REPO, "build", "testdata", d) for d in ("duph0.1", "duph1", "duph3")]
    if "--out" in args:
        out_path = args[args.index("--out") + 1]
    if "--sfs" in args:
        sfs = args[args.index("--sfs") + 1].split(",")
    # --grouped-only: skip the monolithic joins (at sf10 they are the
    # known disk-overflow path, SF10_r09/r10) and record only the
    # registered grouped operators; equality is then read against the
    # chunked-experiment reduce fingerprints in SF10_r10.json, which use
    # the identical bit_xor(xxhash64(doc_a, doc_b)) convention.
    grouped_only = "--grouped-only" in args
    # --ops q49e[,q55d]: restrict to named grouped ops so each sf10 join
    # can run in its OWN JVM (shuffle files of a finished query are only
    # guaranteed released at session exit; one join per session halves
    # peak disk, the same isolation the chunked experiment used per phase)
    ops = OPS
    if "--ops" in args:
        wanted = set(args[args.index("--ops") + 1].split(","))
        ops = tuple((m, g) for m, g in OPS if m in wanted or g in wanted)
    # --auto-chunks (r12): let the operator's sizing rule pick n_chunks
    # per scale (bound prescreen, then the exact census: est pair-token
    # bytes / scratch budget) and record the decision grouped_exact_join
    # returns in the artifact — the evidence VERDICT r11 #3 asks for.
    # Without it, the env-pinned count is used.
    auto_chunks = "--auto-chunks" in args
    if auto_chunks:
        os.environ.pop("SPARK_GRAFT_GROUPED_CHUNKS", None)
        n_chunks = "auto"
    else:
        n_chunks = int(os.environ.get("SPARK_GRAFT_GROUPED_CHUNKS", "10"))
        os.environ["SPARK_GRAFT_GROUPED_CHUNKS"] = str(n_chunks)

    from parquet_modular_encryption_spark.pipeline import dedup as D
    from parquet_modular_encryption_spark.sources.datasets import load

    extra_conf = {
        # the sf10 lesson (see scale_experiment.py): one long session
        # retains every query's shuffle files; zstd halves that footprint
        "spark.io.compression.codec": os.environ.get("SPARK_GRAFT_SHUFFLE_CODEC", "zstd"),
    }
    spark = get_spark(
        "pme-grouped-registered",
        cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        extra_conf=extra_conf,
    )

    report: dict = {
        "n_chunks": n_chunks,
        "shuffle_codec": extra_conf["spark.io.compression.codec"],
        "scales": {},
    }
    if "--merge" in args and os.path.exists(out_path):
        with open(out_path) as fh:
            prior = json.load(fh)
        if prior.get("shuffle_codec") == report["shuffle_codec"] and prior.get(
            "n_chunks"
        ) == n_chunks:
            report = prior
        else:
            print("# refusing --merge across codec/chunk-count", file=sys.stderr)

    for sf_dir in sfs:
        key = os.path.basename(sf_dir.rstrip("/"))
        out = report["scales"].setdefault(key, {"sf_dir": sf_dir})
        for mono_name, grp_name in ops:
            mono = getattr(D, f"{mono_name}_jaccard_ppjoin" if mono_name == "q49c" else f"{mono_name}_allpairs_sparse")
            if not grouped_only and f"{mono_name}_fingerprint" not in out:
                t0 = time.monotonic()
                n, fp = fingerprint(mono(spark, sf_dir))
                out[f"{mono_name}_monolith_sec"] = round(time.monotonic() - t0, 1)
                out[f"{mono_name}_rows"] = n
                out[f"{mono_name}_fingerprint"] = fp
            if f"{grp_name}_fingerprint" not in out:
                # the registered q49e/q55d builder body, called directly so
                # the returned sizing decision can be recorded
                t0 = time.monotonic()
                prep(spark)
                frame, sizing = D.grouped_exact_join(
                    spark, load(spark, sf_dir, "documents"), mono_name
                )
                n, fp = fingerprint(frame)
                out[f"{grp_name}_grouped_sec"] = round(time.monotonic() - t0, 1)
                out[f"{grp_name}_rows"] = n
                out[f"{grp_name}_fingerprint"] = fp
                if auto_chunks:
                    out[f"{grp_name}_sizing"] = sizing
            if f"{mono_name}_fingerprint" in out:
                out[f"{mono_name}_{grp_name}_equal"] = (
                    out[f"{mono_name}_fingerprint"] == out[f"{grp_name}_fingerprint"]
                    and out[f"{mono_name}_rows"] == out[f"{grp_name}_rows"]
                )
            if f"{mono_name}_fingerprint" in out:
                print(f"# {key} {mono_name}/{grp_name}: "
                      f"rows {out[f'{mono_name}_rows']}/{out[f'{grp_name}_rows']} "
                      f"equal={out.get(f'{mono_name}_{grp_name}_equal')}", flush=True)
            else:  # --grouped-only: no monolith keys — the check is skipped, not failed
                print(f"# {key} {grp_name}: rows {out[f'{grp_name}_rows']} "
                      f"(monolith skipped under --grouped-only)", flush=True)

        # q47 (default) vs q47d (budget) planted recall on dup-heavy
        # corpora: the planted
        # pair set is the closed-form within-group set (group-salted
        # templates make 'within-group' structural), recomputed the same
        # way scale_experiment.py does.
        if key.startswith("duph") and "q47_planted_pairs" not in out:
            sys.path.insert(0, os.path.join(REPO, "scripts"))
            from scale_experiment import _dup_group_rows

            gm = spark.createDataFrame(
                _dup_group_rows(spark, sf_dir), "doc_id bigint, grp bigint"
            )
            ga = F.broadcast(gm.selectExpr("doc_id AS doc_a", "grp AS ga"))
            gb = F.broadcast(gm.selectExpr("doc_id AS doc_b", "grp AS gb"))

            def planted(df) -> int:
                return (
                    df.select("doc_a", "doc_b")
                    .join(ga, "doc_a").join(gb, "doc_b")
                    .filter(F.col("ga") == F.col("gb"))
                    .count()
                )

            truth = (
                gm.groupBy("grp").count()
                .agg(F.sum(F.expr("count * (count - 1) / 2")).alias("t"))
                .collect()[0]["t"]
            )
            out["planted_true_pairs"] = int(truth)
            # r12 role swap (VERDICT r11 #1): q47 IS the high-recall
            # 16-perm/8-band point now; q47d is the budget 8-perm/4-band.
            for name, fn in (
                ("q47", D.q47_minhash_neardup),
                ("q47d", D.q47d_minhash_budget),
            ):
                t0 = time.monotonic()
                out[f"{name}_planted_pairs"] = planted(fn(spark, sf_dir))
                out[f"{name}_sec"] = round(time.monotonic() - t0, 1)
                out[f"{name}_planted_recall"] = round(
                    out[f"{name}_planted_pairs"] / max(out["planted_true_pairs"], 1), 4
                )
            print(f"# {key} planted recall: q47(default) "
                  f"{out['q47_planted_recall']} q47d(budget) "
                  f"{out['q47d_planted_recall']}", flush=True)

        with open(out_path, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
        print(f"# wrote {out_path} through {key}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
