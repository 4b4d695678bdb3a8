#!/usr/bin/env python
"""Scale-up experiment: measure headline + heavy similarity-join queries
at sf0.1 and at the locally generated sf1 (10x) and record, for each
similarity join, the size of its candidate frame at both scales.

This converts the repo's scale-safety *argument* (bounded/banded/
prefix-filtered candidate generation, no hot reducers) into a
*measurement*: candidate counts should grow ~linearly in corpus size and
no query should scale worse than ~O(n log n) in wall-clock.

Usage: python scripts/scale_experiment.py [--out SCALE_r09.json]
       [--sfs /root/testdata/sf0.1,/root/repo/build/testdata/sf1]
Writes one JSON document with per-sf wall-times, candidate counts, and
scale ratios. Generate sf1 first: python scripts/gen_scaled_testdata.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from parquet_modular_encryption_spark.plans.explain import (  # noqa: E402
    cumulative_shuffle_bytes,
    stage_keys_snapshot,
)
from parquet_modular_encryption_spark.registry import load_all  # noqa: E402
from parquet_modular_encryption_spark.session import get_spark, prep  # noqa: E402
from parquet_modular_encryption_spark.sources.datasets import load  # noqa: E402

HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_regional_revenue",
    "q06_forecast_revenue",
    "q11_customer_order_histogram",
    "q20_running_total",
    "q22_topk_per_group",
    "q30_tumbling_window",
    "q32_sessionize",
    "q34_asof_join",
    "q37_derived_stats",
    "q45_fingerprint",
    "q47_minhash_neardup",
    "q48_simhash",
    "q50_knn_bruteforce",
    "q54_ann_lsh_search",
    "q60_encrypted_roundtrip",
    "q62_partition_pruning",
    "q64_pandas_percentile_rank",
]

HEAVY = [
    "q55c_allpairs_sparse",
    "q49c_jaccard_ppjoin",
    "q45c_dup_substring_spans",
    "q47b_minhash_neardup_salted",
    # second wave (merged into the same artifact): the remaining
    # expensive algorithmic ops whose scale behavior was previously
    # argued from plan shape only
    "q45b_winnow_fingerprint",
    "q55b_semdedup",
    "q57d_cc_two_phase",
    "q63c_dedup_pass",
    # third wave: the whole-corpus embedding banding join, after its
    # corpus-scaled band widening (the q55 twin of q55b's sub-cells)
    "q55_embedding_neardup",
    # incremental PPJoin — the structural answer to q49c's measured
    # O(n log n): the ranking window shrinks from corpus to batch
    "q49d_jaccard_ppjoin_incremental",
]


def _time(fn, repeats: int) -> float:
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _time_with_straggler(spark, fn, repeats: int) -> tuple[float, dict | None]:
    """Min-of-N wall clock plus the worst per-stage max/median task-time
    ratio of the LAST repeat (the warmed one — first-run task walls carry
    a per-thread codegen/JIT floor that swamps the skew signal; see
    tests/test_plans.py::test_stage_task_dispersion_sees_hot_reducer).

    The reported straggler is the worst ratio among MATERIAL stages
    (max task >= 1 s): a 40 ms task that is 80x a 0.5 ms median is the
    empty-partition artifact the meter's docstring warns about, not a
    scale risk. If the query had no material stage, the worst minor
    stage is returned flagged {"minor": true} so nothing is hidden."""
    from parquet_modular_encryption_spark.plans.explain import (
        stage_task_dispersion,
    )

    best = float("inf")
    snap: set = set()
    for i in range(repeats):
        if i == repeats - 1:
            snap = stage_keys_snapshot(spark)
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    rows = stage_task_dispersion(spark, since=snap, min_tasks=8)
    if not rows:
        return round(best, 3), None
    material = [r for r in rows if r["max_ms"] >= 1000.0]
    if material:
        return round(best, 3), max(material, key=lambda r: r["ratio"])
    worst = dict(max(rows, key=lambda r: r["ratio"]))
    worst["minor"] = True
    return round(best, 3), worst


def candidate_counts(spark, sf_dir: str, have: dict | None = None) -> dict:
    """Candidate-frame sizes for the heavy joins, computed from the
    SAME internal stages the registered operators use (minhash_bands /
    ppjoin_candidates / allpairs_candidates / dup_gram_hits /
    q55_corpus_bands), plus the corpus denominators needed to judge
    linearity. `have` = counts already recorded (merge mode): only
    missing groups are computed."""
    from parquet_modular_encryption_spark.pipeline.dedup import (
        allpairs_candidates,
        banded_pairs_salted,
        minhash_bands,
        ppjoin_candidates,
        shingle_tf,
    )
    from parquet_modular_encryption_spark.pipeline.similarity import (
        Q55_LAYOUT,
        q55_corpus_bands,
        q55_corpus_candidates,
    )
    from parquet_modular_encryption_spark.pipeline.textops import (
        dup_gram_hits,
        dup_grams,
    )

    prep(spark)
    out: dict[str, int] = dict(have or {})
    docs = load(spark, sf_dir, "documents")
    out.setdefault("n_docs", docs.count())

    if "q47b_band_candidates_raw" not in out:
        # q47b: LSH band-bucket candidates (pre- and post-distinct)
        _, bands = minhash_bands(docs)
        raw = banded_pairs_salted(bands)[0]
        out["q47b_band_candidates_raw"] = raw.count()
        out["q47b_band_candidates_distinct"] = raw.distinct().count()

    if "q49c_prefix_candidates" not in out:
        # q49c: PPJoin prefix+length filtered candidates
        toks, cand = ppjoin_candidates(docs)
        out["q49c_shingle_postings"] = toks.count()
        out["q49c_prefix_candidates"] = cand.count()

    if "naive_sharing_pairs" not in out:
        # The defense denominator: sum over shingles of C(df, 2) = the
        # pair-hits an UNPROTECTED posting-list self-join would generate.
        # On a Zipfian corpus the hot shingles make this explode (~df^2
        # on each boilerplate/common shingle); the prefix filters' whole
        # job is the gap between this number and the candidate counts.
        toks, _ = ppjoin_candidates(docs)
        dfreq = (
            toks.select("doc_id", "tok")
            .distinct()
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        out["naive_sharing_pairs"] = int(
            dfreq.agg(
                F.sum(F.col("df") * (F.col("df") - 1) / 2).cast("bigint")
            ).collect()[0][0]
        )

    if "q55c_prefix_candidates" not in out:
        # q55c: Bayardo prefix-filtered candidates
        tf = shingle_tf(docs)
        nrm = tf.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
        out["q55c_tf_rows"] = tf.count()
        out["q55c_prefix_candidates"] = allpairs_candidates(tf, nrm).count()

    if "q45c_dup_gram_hits" not in out:
        # q45c: duplicated-gram positions (the operator's linear frame)
        grams = dup_grams(docs)
        out["q45c_gram_rows"] = grams.count()
        out["q45c_dup_gram_hits"] = dup_gram_hits(grams).count()

    if "q55_band_candidates" not in out:
        # q55: whole-corpus banding-join candidates under the
        # corpus-scaled band widening
        emb = load(spark, sf_dir, "embeddings")
        out["n_vectors"] = emb.count()
        _, bands55 = q55_corpus_bands(emb, Q55_LAYOUT)
        out["q55_band_candidates"] = q55_corpus_candidates(bands55).count()
    return out


def answer_counts(spark, sf_dir: str, have: dict | None = None) -> dict:
    """TRUE-answer sizes for the heavy joins (r11, for the dup-heavy
    corpus): candidates-per-ANSWER is the linearity judgment the
    dup-heavy regime exists to test — candidates must track the planted
    ~linear answer growth, and verify now runs under true-positive load.
    Also records the cluster census (count / max size) for the
    connected-components large-cluster story. Merge-guarded per key,
    same as candidate_counts."""
    from parquet_modular_encryption_spark.pipeline.dedup import (
        q47b_minhash_neardup_salted,
        q49c_jaccard_ppjoin,
        q55c_allpairs_sparse,
        q57d_cc_two_phase,
    )

    prep(spark)
    out: dict[str, int] = dict(have or {})
    if "q49c_answer_pairs" not in out:
        out["q49c_answer_pairs"] = q49c_jaccard_ppjoin(spark, sf_dir).count()
    if "q55c_answer_pairs" not in out:
        out["q55c_answer_pairs"] = q55c_allpairs_sparse(spark, sf_dir).count()
    if "q47b_answer_pairs" not in out:
        out["q47b_answer_pairs"] = q47b_minhash_neardup_salted(spark, sf_dir).count()
    if "q57d_clusters" not in out:
        rows = (
            q57d_cc_two_phase(spark, sf_dir)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max("cluster_size").alias("mx"),
                F.sum("cluster_size").alias("docs"),
            )
            .collect()[0]
        )
        out["q57d_clusters"] = int(rows["n"])
        out["q57d_max_cluster"] = int(rows["mx"])
        out["q57d_docs_in_clusters"] = int(rows["docs"])

    # Dup-heavy corpora: decompose answers into PLANTED (both endpoints
    # in the same template group — the component the linear-growth design
    # claim is about; the salting makes 'planted == within-group' exact)
    # vs INHERITED (the zipf background's own qualifying pairs, which
    # ride the background's r10-measured ~n^2 sharing mass). Without the
    # split, background inheritance reads as a planting defect — the
    # r11 mis-attribution this decomposition exists to prevent.
    if os.path.basename(sf_dir.rstrip("/")).startswith("duph") and (
        "q49c_planted_pairs" not in out
        or "q55c_planted_pairs" not in out
        or "q47b_planted_pairs" not in out
    ):
        gm = spark.createDataFrame(
            _dup_group_rows(spark, sf_dir), "doc_id bigint, grp bigint"
        )
        ga = F.broadcast(gm.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("grp", "ga"))
        gb = F.broadcast(gm.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("grp", "gb"))

        def planted(pairs_df) -> int:
            return (
                pairs_df.select("doc_a", "doc_b")
                .join(ga, "doc_a")
                .join(gb, "doc_b")
                .filter(F.col("ga") == F.col("gb"))
                .count()
            )

        census = gm.groupBy("grp").count()
        crow = census.agg(
            F.count(F.lit(1)).alias("n"), F.max("count").alias("mx")
        ).collect()[0]
        out["planted_groups"] = int(crow["n"])
        out["planted_max_group"] = int(crow["mx"])
        out["planted_docs"] = gm.count()
        if "q49c_planted_pairs" not in out:
            out["q49c_planted_pairs"] = planted(q49c_jaccard_ppjoin(spark, sf_dir))
        if "q55c_planted_pairs" not in out:
            out["q55c_planted_pairs"] = planted(q55c_allpairs_sparse(spark, sf_dir))
        if "q47b_planted_pairs" not in out:
            out["q47b_planted_pairs"] = planted(
                q47b_minhash_neardup_salted(spark, sf_dir)
            )
    return out


def _dup_group_rows(spark, sf_dir: str) -> list[tuple[int, int]]:
    """Recompute the generator's seeded template-group assignment for a
    dup-heavy corpus: (doc_id, group) for every templated document —
    bit-identical to gen_scaled_testdata._dup_heavy_documents because it
    reuses the module's own constants and md5 draws."""
    import hashlib
    import importlib.util

    import numpy as np

    spec = importlib.util.spec_from_file_location(
        "gen_scaled_testdata", os.path.join(REPO, "scripts", "gen_scaled_testdata.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)

    doc_ids = [
        r.doc_id
        for r in load(spark, sf_dir, "documents").select("doc_id").collect()
    ]
    n_total = len(doc_ids)
    n_groups = max(1, round(n_total * gen.DUP_PCT / 100.0 / gen.DUP_GROUP_MEAN))
    n_mega = max(1, n_groups * gen.DUP_MEGA_PCT // 100)
    weights = np.full(n_groups, 1.0)
    weights[:n_mega] = gen.DUP_MEGA_WEIGHT
    wcum = np.cumsum(weights / weights.sum())

    def frac(tag: str) -> float:
        return int.from_bytes(hashlib.md5(tag.encode()).digest()[:8], "big") / 2**64

    return [
        (int(gid), int(np.searchsorted(wcum, frac(f"dupg:{n_groups}:{gid}"))))
        for gid in doc_ids
        if frac(f"duph:{gid}") * 100 < gen.DUP_PCT
    ]


def encryption_scale(spark, sf_dir: str, repeats: int) -> dict:
    """Encrypted-vs-plain scan at this scale, both ciphers, native path —
    does PME overhead stay a constant factor as data grows 10x? Uses the
    same lineitem aggregate as bench.measure_encryption_overhead."""
    import tempfile

    from parquet_modular_encryption_spark.crypto.kms_server import shared_kms_url
    from parquet_modular_encryption_spark.crypto.policy import (
        EncryptionPolicy,
        Privilege,
    )
    from parquet_modular_encryption_spark.sources.encrypted_native import (
        decrypting_scan,
        write_encrypted_native,
    )

    policy = EncryptionPolicy(
        column_levels={
            "l_extendedprice": Privilege.CONFIDENTIAL,
            "l_discount": Privilege.CONFIDENTIAL,
            "l_tax": Privilege.INTERNAL,
        },
        name="lineitem_financials",
    )
    kms_url = shared_kms_url()
    scratch = tempfile.mkdtemp(prefix="pme_scale_")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").coalesce(8)
    li.write.mode("overwrite").parquet(f"{scratch}/plain")
    write_encrypted_native(li, f"{scratch}/gcm", policy, kms_url)
    write_encrypted_native(
        li, f"{scratch}/ctr", policy, kms_url, algorithm="AES_GCM_CTR_V1"
    )

    def _scan(df):
        df.agg(
            F.count("l_orderkey"), F.sum("l_extendedprice"), F.sum("l_discount")
        ).collect()

    plain = _time(lambda: _scan(spark.read.parquet(f"{scratch}/plain")), repeats)

    def _enc(sub):
        with decrypting_scan(spark, f"{scratch}/{sub}", kms_url, "RESTRICTED") as df:
            _scan(df)

    gcm = _time(lambda: _enc("gcm"), repeats)
    ctr = _time(lambda: _enc("ctr"), repeats)
    return {
        "plain_scan_sec": plain,
        "gcm_scan_sec": gcm,
        "ctr_scan_sec": ctr,
        "gcm_ratio": round(gcm / plain, 2),
        "ctr_ratio": round(ctr / plain, 2),
    }


def main() -> int:
    args = sys.argv[1:]
    out_path = os.path.join(REPO, "SCALE_r09.json")
    sfs = ["/root/testdata/sf0.1", os.path.join(REPO, "build", "testdata", "sf1")]
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
    if "--sfs" in args:
        i = args.index("--sfs")
        sfs = args[i + 1].split(",")
    only: list[str] | None = None
    if "--only" in args:
        # empty string = time NOTHING (a pure candidates/answers merge pass)
        only = [s for s in args[args.index("--only") + 1].split(",") if s]
    merge = "--merge" in args
    do_encryption = "--encryption" in args
    do_candidates = "--no-candidates" not in args
    do_answers = "--answers" in args
    repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "2"))

    extra_conf = {}
    try:
        from parquet_modular_encryption_spark.sources.encrypted_native import (
            build_jar,
            native_session_conf,
        )

        build_jar()
        extra_conf = native_session_conf()
    except Exception as exc:  # noqa: BLE001
        print(f"# native PME jar unavailable: {exc}", file=sys.stderr)
    # high stage retention so the stage_task_dispersion straggler meter
    # still sees every stage of one query after it finishes
    extra_conf["spark.ui.retainedStages"] = "20000"
    # zstd shuffle compression (the sf10 lesson): a long-lived session
    # retains every query's shuffle files until exit, and on this VM the
    # cumulative spill is disk-bound before it is time-bound — zstd's
    # ~2x ratio over lz4 is the difference between finishing a 30x run
    # and ENOSPC (the zipf3 q55c abort). Shuffle-write ratios across
    # scales are unaffected (same codec at every point).
    extra_conf.setdefault(
        "spark.io.compression.codec",
        os.environ.get("SPARK_GRAFT_SHUFFLE_CODEC", "zstd"),
    )
    spark = get_spark("pme-scale", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
                      extra_conf=extra_conf)
    registry = load_all()

    # warm-up (JIT, parquet reader, shuffle machinery)
    spark.read.parquet(f"{sfs[0]}/lineitem.parquet").limit(10_000).groupBy(
        "l_returnflag"
    ).count().write.format("noop").mode("overwrite").save()

    codec = extra_conf["spark.io.compression.codec"]
    report: dict = {"repeats": repeats, "scales": {}, "shuffle_codec": codec}
    if merge and os.path.exists(out_path):
        with open(out_path) as fh:
            report = json.load(fh)
        report.setdefault("scales", {})
        # shuffle_write_bytes under different codecs are incomparable
        # (zstd ~halves lz4's byte counts): refuse to mix them in one
        # artifact. Pre-r10 reports carry no codec field — treat those
        # as lz4-era and refuse unless the codecs match explicitly.
        prior = report.get("shuffle_codec")
        if prior != codec:
            raise SystemExit(
                f"--merge refused: existing report recorded shuffle codec "
                f"{prior!r} but this run resolves {codec!r}; shuffle byte "
                f"counts would be incomparable. Use a fresh --out or set "
                f"SPARK_GRAFT_SHUFFLE_CODEC={prior}."
            )
    run_list = only if only is not None else HEADLINE + HEAVY
    for sf_dir in sfs:
        label = os.path.basename(sf_dir.rstrip("/"))
        entry: dict = report["scales"].get(label) or {
            "dir": sf_dir,
            "lineitem_rows": spark.read.parquet(f"{sf_dir}/lineitem.parquet").count(),
        }
        times: dict[str, float] = entry.get("times", {})
        shuffle: dict[str, int] = entry.get("shuffle_write_bytes", {})
        stragglers: dict[str, dict] = entry.get("stragglers", {})
        for name in run_list:
            q = registry[name]
            w0, _ = cumulative_shuffle_bytes(spark)
            times[name], worst = _time_with_straggler(
                spark,
                lambda q=q: q.builder(spark, sf_dir)
                .write.format("noop")
                .mode("overwrite")
                .save(),
                repeats,
            )
            w1, _ = cumulative_shuffle_bytes(spark)
            # deterministic replans shuffle identical volume each repeat
            shuffle[name] = (w1 - w0) // repeats
            if worst is not None:
                stragglers[name] = worst
            else:
                # a merged/resumed run must not keep a PRIOR round's
                # straggler attributed to THIS run's times: a query that
                # now has no material multi-task stage gets no entry
                stragglers.pop(name, None)
            print(
                f"# {label} {name}: {times[name]:.3f}s"
                f" shuffleW={shuffle[name]}"
                f" straggler={worst and worst['ratio']}",
                file=sys.stderr,
            )
            # crash-safe: persist after EVERY query — a disk-full abort
            # hours in must not lose the completed measurements (the
            # zipf3 q55c lesson)
            entry["times"] = times
            entry["shuffle_write_bytes"] = shuffle
            entry["stragglers"] = stragglers
            report["scales"][label] = entry
            with open(out_path, "w") as fh:
                json.dump(report, fh, indent=1)
        entry["times"] = times
        entry["shuffle_write_bytes"] = shuffle
        entry["stragglers"] = stragglers
        if all(n in times for n in HEADLINE):
            entry["headline_total"] = round(sum(times[n] for n in HEADLINE), 3)
        if all(n in times for n in HEAVY):
            entry["heavy_total"] = round(sum(times[n] for n in HEAVY), 3)
        if do_candidates:
            have = entry.get("candidates") or {}
            t0 = time.perf_counter()
            fresh = candidate_counts(spark, sf_dir, have)
            if fresh != have:
                entry["candidates"] = fresh
                entry["candidate_count_sec"] = round(
                    entry.get("candidate_count_sec", 0.0)
                    + (time.perf_counter() - t0),
                    3,
                )
            print(f"# {label} candidates: {entry['candidates']}", file=sys.stderr)
            report["scales"][label] = entry
            with open(out_path, "w") as fh:
                json.dump(report, fh, indent=1)
        if do_answers:
            have = entry.get("answers") or {}
            fresh = answer_counts(spark, sf_dir, have)
            if fresh != have:
                entry["answers"] = fresh
            print(f"# {label} answers: {entry['answers']}", file=sys.stderr)
            report["scales"][label] = entry
            with open(out_path, "w") as fh:
                json.dump(report, fh, indent=1)
        if do_encryption:
            entry["encryption"] = encryption_scale(spark, sf_dir, repeats)
            print(f"# {label} encryption: {entry['encryption']}", file=sys.stderr)
        report["scales"][label] = entry

    labels = list(report["scales"])
    if len(labels) >= 2:
        # ratios of every later point vs the FIRST (baseline) point —
        # with >= 3 points the per-step ratios distinguish O(n) from
        # O(n log n) where a single 10x step cannot
        a = report["scales"][labels[0]]
        report["scale_ratios"] = {}
        for lbl in labels[1:]:
            b = report["scales"][lbl]
            ratios: dict = {
                "data_growth": round(b["lineitem_rows"] / a["lineitem_rows"], 2),
                "times": {
                    n: round(b["times"][n] / max(a["times"][n], 1e-3), 2)
                    for n in a.get("times", {})
                    if n in b.get("times", {})
                },
            }
            for total in ("headline_total", "heavy_total"):
                if total in a and total in b:
                    ratios[total] = round(b[total] / a[total], 2)
            if "candidates" in a and "candidates" in b:
                ratios["candidates"] = {
                    k: round(b["candidates"][k] / max(a["candidates"][k], 1), 2)
                    for k in a["candidates"]
                    if k in b["candidates"]
                }
            sa, sb = a.get("shuffle_write_bytes", {}), b.get("shuffle_write_bytes", {})
            if sa and sb:
                ratios["shuffle_write_bytes"] = {
                    n: round(sb[n] / max(sa[n], 1), 2) for n in sa if n in sb
                }
            if "encryption" in a and "encryption" in b:
                ratios["encryption"] = {
                    k: round(b["encryption"][k] / max(a["encryption"][k], 1e-3), 2)
                    for k in ("plain_scan_sec", "gcm_scan_sec", "ctr_scan_sec")
                }
            report["scale_ratios"][f"{labels[0]}->{lbl}"] = ratios
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps({"out": out_path, **report.get("scale_ratios", {})}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
