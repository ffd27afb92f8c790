"""ANN quality probe: recall of the approximate search paths against
brute-force ground truth on the testdata embeddings.

Perf numbers live in BENCH_r*.json; this tool supplies the other half
of the ANN story — how much recall the approximations trade for that
speed, measured, not asserted:

- IVF (ss5's path): recall@k vs nprobe, the classic dial — each probed
  centroid list adds candidates and cost;
- quantized brute force: recall@k of int8-reconstructed vectors (the 4×
  payload cut — tests pin ≥0.9, this prints the actual number);
- banded hyperplane LSH (ss3's path): candidate-pair recall vs the true
  top cosine pairs at the bench geometry.

Usage: python tools/recall_probe.py [sf_dir]   (default sf0.01)
Prints one JSON line per experiment.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_pipeline_project_using_telegram_and_aws_spark.operators.quantization import (
    dequantize,
    quantize_embeddings,
)
from data_pipeline_project_using_telegram_and_aws_spark.operators.similarity import (
    brute_force_topk,
    build_ivf_index,
    ivf_topk,
    lsh_banded_neardup_pairs,
)
from data_pipeline_project_using_telegram_and_aws_spark.session import get_spark
from data_pipeline_project_using_telegram_and_aws_spark.sources.tables import load_table

K = 5
N_QUERIES = 16


def _topk_sets(df, qcol="query_id", dcol="vec_id"):
    out: dict = {}
    for r in df.collect():
        out.setdefault(r[qcol], set()).add(r[dcol])
    return out


def _recall(approx: dict, exact: dict) -> float:
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    return round(hits / total, 4) if total else 1.0


def main() -> None:
    if {"-h", "--help"} & set(sys.argv[1:]):
        print(__doc__)
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("recall-probe")
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = _topk_sets(brute_force_topk(emb, queries, k=K))

    # Random vectors are IVF's worst case: with no cluster structure a
    # query's true neighbors spread across cells ~uniformly, so expected
    # recall ≈ the scanned fraction (nprobe/k_centroids). The probe
    # prints both so the trade reads honestly; on real clustered
    # embeddings recall at a given scanned fraction is far higher —
    # which is exactly why the residual-drift audit
    # (similarity.ivf_residual_stats) matters in production.
    n_cents = 16
    cents = build_ivf_index(emb, k=n_cents, iters=3, cache_key="recall_probe")
    for nprobe in (1, 2, 4, 8):
        approx = _topk_sets(
            ivf_topk(
                emb, n_queries=N_QUERIES, nprobe=nprobe, k=K, centroids=cents
            ),
            dcol="vec_id",
        )
        print(json.dumps({
            "experiment": "ivf", "nprobe": nprobe, "k": K,
            "scanned_fraction": round(nprobe / n_cents, 4),
            "recall": _recall(approx, exact),
        }))

    recon = quantize_embeddings(emb).select(
        "vec_id", dequantize("qvec", "q_min", "q_scale").alias("embedding")
    ).localCheckpoint(eager=True)
    approx = _topk_sets(
        brute_force_topk(recon, recon.filter(F.col("vec_id") < N_QUERIES), k=K)
    )
    print(json.dumps({
        "experiment": "int8_bruteforce", "k": K,
        "recall": _recall(approx, exact),
    }))

    # LSH pair recall IN ITS TARGET REGIME: banded hyperplane LSH is a
    # near-dup detector — per-band collision probability is
    # (1 - θ/π)^rows_per_band, near zero for the modest-cosine pairs of
    # a random corpus (measuring it on generic top-5 neighbor pairs
    # reads ~0.01 and means nothing). Ground truth here is the exact
    # top-N highest-cosine pairs corpus-wide (the pairs dd6/ss3 exist to
    # find), computed brute-force with every vector as a query.
    top_pairs = 20
    all_nbrs = brute_force_topk(emb, emb, k=2)  # each vector's nearest
    ranked = sorted(
        (
            (r.cos_sim, (min(r.query_id, r.vec_id), max(r.query_id, r.vec_id)))
            for r in all_nbrs.collect()
        ),
        reverse=True,
    )
    true_pairs, seen = set(), set()
    for cos, pair in ranked:
        if pair not in seen:
            seen.add(pair)
            true_pairs.add(pair)
        if len(true_pairs) >= top_pairs:
            break
    got = lsh_banded_neardup_pairs(emb, n_planes=16, rows_per_band=8, top=None)
    lsh_pairs = {
        (min(r.vec_a, r.vec_b), max(r.vec_a, r.vec_b)) for r in got.collect()
    }
    print(json.dumps({
        "experiment": "lsh_banded_top_pairs",
        "geometry": "16 planes / 8 rpb",
        "top_pairs": top_pairs,
        "recall": round(len(true_pairs & lsh_pairs) / len(true_pairs), 4),
    }))
    # Context for that number: the synthetic corpus's top pairs sit at
    # cosine ≈0.4-0.5 (documented in dd6 — random vectors, max ≈0.51),
    # far below the ≥0.95 regime genuine near-dups occupy, and banding
    # recall collapses with angle: P(pair survives) =
    # 1 - (1 - p^rpb)^bands with p = 1 - arccos(cos)/π. The theoretical
    # curve at this geometry shows the same probe on a real near-dup
    # corpus would read high — and band count is the recall dial.
    import math

    bands, rpb = 2, 8
    curve = {
        str(c): round(
            1 - (1 - (1 - math.acos(c) / math.pi) ** rpb) ** bands, 4
        )
        for c in (0.5, 0.8, 0.95, 0.99)
    }
    print(json.dumps({
        "experiment": "lsh_theoretical_recall_by_cosine",
        "geometry": "16 planes / 8 rpb",
        "recall_by_cosine": curve,
    }))


if __name__ == "__main__":
    main()
