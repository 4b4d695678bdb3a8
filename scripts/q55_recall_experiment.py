#!/usr/bin/env python
"""Measure the q55 band-widening linearity knob: candidate growth vs
qualifying-pair recall, per corpus scale and per knob setting.

The r9 scale experiment showed q55's widened-band candidate frame grows
~n^1.36 (the measured per-extra-bit pruning on this corpus is ~0.64, not
the idealized 1/2), and the constant block documents the remedy — ~1.6
extra bits per corpus doubling buys strict linearity at the cost of
mid-cosine recall. This script converts that documented trade into a
measurement: for each scale (sf0.1, sf1 = 10x, sf3 = 30x) and each knob
setting (per_doubling = 1.0, the registered operator; 1.6, the strict-
linearity target), it records

  - x: the extra band bits the ladder picks,
  - candidates: the size of the band-bucket self-join frame (the EXACT
    frame the registered operator joins — q55_corpus_bands /
    q55_corpus_candidates are the operator's own factored-out stages),
  - exact qualifying pairs (cosine >= NEARDUP_COSINE), computed by
    blocked numpy brute force — the ground truth no banded method sees,
  - recall: fraction of exact qualifying pairs that share >= 1 band
    bucket (checked driver-side from the collected per-vector band keys,
    so the measurement uses precisely the product's keys), overall and
    stratified by cosine bucket ([t, t+0.05), ...).

Usage: python scripts/q55_recall_experiment.py [--out Q55_RECALL_r09.json]
Generate the scaled corpora first (scripts/gen_scaled_testdata.py 10/30).
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import replace

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from parquet_modular_encryption_spark.pipeline.similarity import (  # noqa: E402
    NEARDUP_COSINE,
    Q55_LAYOUT,
    Q55F_LAYOUT,
    q55_corpus_bands,
    q55_corpus_candidates,
    q55_extra_band_bits,
)
from parquet_modular_encryption_spark.session import get_spark, prep  # noqa: E402
from parquet_modular_encryption_spark.sources.datasets import load  # noqa: E402

def _first_existing(*paths: str) -> str:
    for p in paths:
        if os.path.isdir(p):
            return p
    return paths[0]


_BT = os.path.join(REPO, "build", "testdata")
SFS = [
    ("sf0.1", "/root/testdata/sf0.1"),
    # embeddings are IDENTICAL between the tiled sfN and zipfN corpora
    # (the per-copy vector roll is unaffected by --zipf, which only
    # regenerates documents.text), so either directory serves
    # duph corpora carry the SAME embeddings (the per-copy roll is
    # independent of the document text modes), so they serve as fallbacks
    ("sf1", _first_existing(f"{_BT}/sf1", f"{_BT}/zipf1", f"{_BT}/duph1")),
    ("sf3", _first_existing(f"{_BT}/sf3", f"{_BT}/zipf3", f"{_BT}/duph3")),
    # r12 (VERDICT r11 #2): one more doubling so the candidate-growth
    # exponent is measured past 60k vectors; embeddings-only corpus
    # (gen_scaled_testdata.py 60 build/testdata/sf6 --tables embeddings)
    ("sf6", f"{_BT}/sf6"),
    # r13 (VERDICT r12 #2): one more doubling past sf6 so the wide
    # config's sub-n^2 claim is MEASURED past 120k vectors
    # (gen_scaled_testdata.py 120 build/testdata/sf12 --tables embeddings)
    ("sf12", f"{_BT}/sf12"),
]
KNOBS = (1.0, 1.6)
BLOCK = 4096
COS_STRATA = [0.35, 0.40, 0.45, 0.50, 1.01]

# ------------------------------------------------------- planted pairs
#
# VERDICT r9 "What's missing" #2: the natural corpus is random-ish, so
# its qualifying pairs cluster at cosine 0.35-0.55 and the claim that
# band widening preserves recall at the PRODUCTION near-dup regime
# (0.9+) rested on the 1 - theta/pi per-plane survival argument. These
# constants plant pairs at controlled cosines so that claim is measured.
PLANT_COSINES = (0.80, 0.90, 0.95, 0.99)
PLANT_PER_STRATUM = 200
PLANT_SEED = 55


def plant_pairs(
    mat: "np.ndarray",
    cosines: tuple[float, ...] = PLANT_COSINES,
    k: int = PLANT_PER_STRATUM,
    seed: int = PLANT_SEED,
) -> tuple["np.ndarray", list[tuple[int, int, float]]]:
    """Append, per target cosine c, k partner vectors at EXACTLY cosine c
    to deterministically spaced base rows. partner = |a| * (c*a_hat +
    sqrt(1-c^2)*w_hat) with w_hat a seeded random unit vector orthogonal
    to a_hat (Gram-Schmidt), so the pair's cosine is c by construction
    and the partner keeps the base vector's norm (float32 storage
    rounding perturbs the realized cosine by ~1e-7 — far inside a
    stratum). Returns (partner_rows[k*len(cosines), d], pairs) with
    pairs = (base_row_index, partner_row_index_within_output, c)."""
    rng = np.random.default_rng(seed)
    n, d = mat.shape
    k = max(1, min(k, n // max(1, len(cosines))))
    stride = max(1, n // (k * len(cosines)))
    partners = np.empty((k * len(cosines), d), dtype=np.float64)
    pairs: list[tuple[int, int, float]] = []
    out = 0
    for si, c in enumerate(cosines):
        for j in range(k):
            base = ((si * k + j) * stride) % n
            u = mat[base].astype(np.float64)
            nu = np.linalg.norm(u)
            u_hat = u / max(nu, 1e-30)
            w = rng.standard_normal(d)
            w -= (w @ u_hat) * u_hat
            w_hat = w / max(np.linalg.norm(w), 1e-30)
            partners[out] = nu * (c * u_hat + np.sqrt(1.0 - c * c) * w_hat)
            pairs.append((base, out, c))
            out += 1
    return partners, pairs


def exact_pairs(sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """(pairs[N,2] vec_ids with a < b, cosine[N]) for all pairs with
    cosine >= NEARDUP_COSINE — blocked brute force, float64."""
    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = np.asarray(t.column("vec_id"))
    m = np.stack(t.column("embedding").to_pylist()).astype(np.float64)
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
    out_pairs, out_cos = [], []
    n = m.shape[0]
    for s in range(0, n, BLOCK):
        # Columns j < s can only form lower-triangle pairs with this
        # block's rows — skip them up front (halves the dominant
        # O(n^2 d) cost) and keep only the strict upper triangle.
        g = m[s : s + BLOCK] @ m[s:].T  # (block, n - s); col j = s + bj
        bi, bj = np.nonzero(g >= NEARDUP_COSINE)
        keep = bi < bj  # global (s + bi) < (s + bj)
        bi, bj = bi[keep], bj[keep]
        out_pairs.append(np.stack([ids[s + bi], ids[s + bj]], axis=1))
        out_cos.append(g[bi, bj])
    return np.concatenate(out_pairs), np.concatenate(out_cos)


def planted_corpus(sf_name: str, sf_dir: str) -> tuple[str, list, int]:
    """Write build/testdata/planted_{sf}/embeddings.parquet = the scale
    corpus plus the planted partners (same arrow schema), returning
    (path, pairs as (base_vec_id, partner_vec_id, cosine), n_total)."""
    import pyarrow as pa

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = np.asarray(t.column("vec_id"))
    mat = np.stack(t.column("embedding").to_pylist())
    partners, raw_pairs = plant_pairs(mat)
    base_id = int(ids.max()) + 1
    new_ids = np.arange(base_id, base_id + len(partners), dtype=np.int64)
    pairs = [(int(ids[b]), int(new_ids[o]), c) for b, o, c in raw_pairs]
    emb_type = t.schema.field("embedding").type
    value_np = emb_type.value_type.to_pandas_dtype()
    planted = pa.table(
        {
            "vec_id": pa.concat_arrays(
                [t.column("vec_id").combine_chunks(), pa.array(new_ids, pa.int64())]
            ),
            "embedding": pa.concat_arrays(
                [
                    t.column("embedding").combine_chunks().cast(emb_type),
                    pa.array(
                        [row.astype(value_np) for row in partners], emb_type
                    ),
                ]
            ),
            "label": pa.concat_arrays(
                [
                    t.column("label").combine_chunks(),
                    pa.array(np.full(len(partners), -1, dtype=np.int32)),
                ]
            ),
        }
    )
    dst = os.path.join(REPO, "build", "testdata", f"planted_{sf_name}")
    os.makedirs(dst, exist_ok=True)
    path = os.path.join(dst, "embeddings.parquet")
    pq.write_table(planted, path)
    return dst, pairs, planted.num_rows


def _wanted_scales() -> list[tuple[str, str]]:
    """SFS filtered by --scales a,b,c (default: all present)."""
    if "--scales" in sys.argv:
        names = set(sys.argv[sys.argv.index("--scales") + 1].split(","))
        return [(n, d) for n, d in SFS if n in names]
    return SFS


def run_planted(spark, result: dict) -> None:
    """Planted-cosine recall: for each scale and knob, the fraction of
    pairs planted at cosine c that share >= 1 widened band key — the
    production-regime (0.9+) measurement VERDICT r9 asked for."""
    from pyspark.sql import functions as F

    from parquet_modular_encryption_spark.sources.datasets import load as _load

    result["planted"] = {
        "cosines": list(PLANT_COSINES),
        "per_stratum": PLANT_PER_STRATUM,
        "sfs": {},
    }
    # --registered-only: skip the historic bands=2 / headroom bands=8
    # sweeps and measure just the two REGISTERED configs (q55's unit knob,
    # q55e's budget knob) — the setting for large scales where each
    # candidate count is a multi-minute job.
    band_cfgs = (None,) if "--registered-only" in sys.argv else (None, 2, 8)
    # --configs wide,1.0,1.6: run only the named configs (r13 — the wide
    # q55f rows are new at every scale, but re-measuring the r12 knob
    # series at sf6 costs ~20 min of candidate counting for numbers the
    # committed artifact already pins).
    sel = None
    if "--configs" in sys.argv:
        sel = set(sys.argv[sys.argv.index("--configs") + 1].split(","))
    knobs = [k for k in KNOBS if sel is None or str(k) in sel]
    want_wide = "--wide" in sys.argv or (sel is not None and "wide" in sel)
    for sf_name, sf_dir in _wanted_scales():
        if not os.path.isdir(sf_dir):
            print(f"planted {sf_name}: {sf_dir} missing, skipping", flush=True)
            continue
        dst, pairs, n_total = planted_corpus(sf_name, sf_dir)
        emb = _load(spark, dst, "embeddings")
        involved = sorted({v for a, b, _ in pairs for v in (a, b)})
        row: dict = {"n_vectors": n_total}
        for knob in knobs:
            layout = replace(Q55_LAYOUT, per_doubling=knob)
            # None = the REGISTERED corpus-scaled band-count ladder
            # (r11); 2 = the historic fixed-2-band config whose recall
            # decay motivated it; 8 = the OR-amplification headroom.
            for n_bands in band_cfgs:
                x = q55_extra_band_bits(n_total, layout)
                resolved_bands = n_bands if n_bands is not None else layout.band_count(x)
                _, bands = q55_corpus_bands(emb, layout, n_bands=n_bands)
                n_cand = q55_corpus_candidates(bands).count()
                keys: dict[int, dict[int, int]] = {}
                for r in bands.filter(F.col("vec_id").isin(involved)).collect():
                    keys.setdefault(r.vec_id, {})[r.band_id] = r.band_key
                strata: dict[str, dict] = {}
                for c in PLANT_COSINES:
                    sub = [(a, b) for a, b, cc in pairs if cc == c]
                    hits = 0
                    for a, b in sub:
                        ka, kb = keys.get(a), keys.get(b)
                        if ka and kb and any(
                            ka[band] == kb.get(band) for band in ka
                        ):
                            hits += 1
                    strata[f"{c:.2f}"] = {
                        "pairs": len(sub),
                        "recall": round(hits / len(sub), 4) if sub else None,
                    }
                tag = f"knob_{knob}" + ("" if n_bands is None else f"_bands{n_bands}")
                row[tag] = {
                    "extra_bits": x,
                    "n_bands": resolved_bands,
                    "registered_default": n_bands is None,
                    "candidates": int(n_cand),
                    "recall_by_planted_cosine": strata,
                }
                print(f"planted {sf_name} knob={knob} bands={resolved_bands}: "
                      f"n={n_total} x={x} cand={n_cand} "
                      f"{ {k: v['recall'] for k, v in strata.items()} }",
                      flush=True)
        if want_wide:
            # r13: the q55f wide-base-band registered config — measured
            # with the operator's own band stage at Q55F_LAYOUT, exactly
            # like the knob configs above.
            x = q55_extra_band_bits(n_total, Q55F_LAYOUT)
            _, wbands = q55_corpus_bands(emb, Q55F_LAYOUT)
            n_cand = q55_corpus_candidates(wbands).count()
            keys = {}
            for r in wbands.filter(F.col("vec_id").isin(involved)).collect():
                keys.setdefault(r.vec_id, {})[r.band_id] = r.band_key
            strata = {}
            for c in PLANT_COSINES:
                sub = [(a, b) for a, b, cc in pairs if cc == c]
                hits = sum(
                    1
                    for a, b in sub
                    if keys.get(a) and keys.get(b)
                    and any(keys[a][band] == keys[b].get(band) for band in keys[a])
                )
                strata[f"{c:.2f}"] = {
                    "pairs": len(sub),
                    "recall": round(hits / len(sub), 4) if sub else None,
                }
            row["knob_wide_q55f"] = {
                "extra_bits": x,
                "n_bands": Q55F_LAYOUT.band_count(x),
                "registered_default": True,
                "candidates": int(n_cand),
                "recall_by_planted_cosine": strata,
            }
            print(f"planted {sf_name} WIDE q55f: n={n_total} x={x} "
                  f"bands={Q55F_LAYOUT.band_count(x)} cand={n_cand} "
                  f"{ {k: v['recall'] for k, v in strata.items()} }",
                  flush=True)
        result["planted"]["sfs"][sf_name] = row

    # Candidate-growth series + measured exponents per registered config
    # (VERDICT r11 #2: the r11 NOTES called this growth "tracking n";
    # the measured exponent between successive scales is the honest
    # number — pin it in the artifact so prose can't drift again).
    import math as _math

    growth: dict = {}
    sfs_rows = result["planted"]["sfs"]
    ordered = [s for s, _ in SFS if s in sfs_rows]
    for tag in {k for r in sfs_rows.values() for k in r if k.startswith("knob_")}:
        series = [
            (s, sfs_rows[s]["n_vectors"], sfs_rows[s][tag]["candidates"])
            for s in ordered
            if tag in sfs_rows[s]
        ]
        if len(series) < 2:
            continue
        exps = [
            {
                "from": a[0],
                "to": b[0],
                "exponent": round(
                    _math.log(b[2] / a[2]) / _math.log(b[1] / a[1]), 3
                ),
            }
            for a, b in zip(series, series[1:])
            if a[2] and b[2]
        ]
        growth[tag] = {
            "scales": [s for s, _, _ in series],
            "n": [n for _, n, _ in series],
            "candidates": [c for _, _, c in series],
            "cand_per_n": [round(c / n, 1) for _, n, c in series],
            "exponents": exps,
        }
    result["planted"]["cand_growth"] = growth


def main() -> int:
    out_path = "Q55_RECALL_r09.json"
    if "--out" in sys.argv:
        i = sys.argv.index("--out")
        if i + 1 >= len(sys.argv):
            print("usage: q55_recall_experiment.py [--out FILE] [--plant]",
                  file=sys.stderr)
            return 2
        out_path = sys.argv[i + 1]

    spark = get_spark("q55-recall", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    prep(spark)
    result: dict = {"threshold": NEARDUP_COSINE, "knobs": list(KNOBS), "sfs": {}}

    if "--plant" in sys.argv:
        # planted-cosine mode ONLY: the natural-strata brute force was
        # measured in Q55_RECALL_r09.json and is unchanged by planting
        run_planted(spark, result)
        del result["sfs"]
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)
        print(f"wrote {out_path}", flush=True)
        return 0

    for sf_name, sf_dir in SFS:
        if not os.path.isdir(sf_dir):
            print(f"{sf_name}: {sf_dir} missing, skipping", flush=True)
            continue
        pairs, cos = exact_pairs(sf_dir)
        emb = load(spark, sf_dir, "embeddings")
        n = emb.count()
        row: dict = {"n_vectors": n, "exact_qualifying_pairs": int(len(pairs))}
        for knob in KNOBS:
            layout = replace(Q55_LAYOUT, per_doubling=knob)
            x = q55_extra_band_bits(n, layout)
            _, bands = q55_corpus_bands(emb, layout)
            n_cand = q55_corpus_candidates(bands).count()
            keys: dict[int, dict[int, int]] = {}
            for r in bands.collect():
                keys.setdefault(r.vec_id, {})[r.band_id] = r.band_key
            # A vec_id missing from the bands frame (filtered/null
            # embedding) counts as a MISS rather than aborting the whole
            # multi-scale run with a KeyError (ADVICE r9).
            hits = []
            n_missing = 0
            for a, b in pairs:
                ka, kb = keys.get(int(a)), keys.get(int(b))
                if ka is None or kb is None:
                    n_missing += 1
                    hits.append(False)
                    continue
                hits.append(any(ka[band] == kb.get(band) for band in ka))
            hit = np.array(hits, dtype=bool)
            if n_missing:
                print(f"# {sf_name}: {n_missing} exact-pair vec_ids missing "
                      "from the bands frame (counted as misses)", flush=True)
            strata = {}
            for lo, hi in zip(COS_STRATA, COS_STRATA[1:]):
                mask = (cos >= lo) & (cos < hi)
                strata[f"[{lo:.2f},{hi:.2f})"] = {
                    "pairs": int(mask.sum()),
                    "recall": (float(hit[mask].mean()) if mask.any() else None),
                }
            row[f"knob_{knob}"] = {
                "extra_bits": x,
                "candidates": int(n_cand),
                "recall": float(hit.mean()) if len(pairs) else None,
                "recall_by_cosine": strata,
                **({"missing_band_ids": n_missing} if n_missing else {}),
            }
            print(
                f"{sf_name} knob={knob}: n={n} x={x} cand={n_cand} "
                f"exact={len(pairs)} recall={row[f'knob_{knob}']['recall']}",
                flush=True,
            )
        result["sfs"][sf_name] = row

    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(f"wrote {out_path}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
