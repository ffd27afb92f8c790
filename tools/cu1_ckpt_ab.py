"""Same-session interleaved A/B of cu1's two pipeline checkpoints
(guide §1.1 empirical loop; r13 noise rule: NEVER compare separate
process runs on this host — toggle the knob inside one session and
interleave sweeps).

cu1's remaining cost is driver-side plan work (r13 cProfile: ~95% of
build inside py4j recv; the two lazy localCheckpoints each pay a full
Catalyst toRdd pass at call time). Variants:

    v_ckpt_both   — current shape (ranked + near_drops checkpointed)
    v_ckpt_near   — only near_drops checkpointed (ranked subtree left
                    to runtime ReusedExchange dedup across branches)
    v_ckpt_ranked — only ranked checkpointed (LSH subtree re-analyzed
                    per consumer in the final plan)
    v_ckpt_none   — no checkpoints

Usage: python tools/cu1_ckpt_ab.py [sf_dir] [n_sweeps]
Prints per-variant (build, exec, total) per sweep plus mins, and
verifies all variants return IDENTICAL rows before timing.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_project_using_telegram_and_aws_spark.operators import curation
from data_pipeline_project_using_telegram_and_aws_spark.plans.curation_queries import (
    cu1_corpus_curation,
)
from data_pipeline_project_using_telegram_and_aws_spark.session import get_spark

VARIANTS = {
    "v_ckpt_both": (True, True),
    "v_ckpt_near": (False, True),
    "v_ckpt_ranked": (True, False),
    "v_ckpt_none": (False, False),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_sweeps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("cu1-ckpt-ab")
    spark.sparkContext.setLogLevel("ERROR")

    def run(ranked_on: bool, near_on: bool):
        curation._CKPT_RANKED = ranked_on
        curation._CKPT_NEAR = near_on
        t0 = time.time()
        df = cu1_corpus_curation(spark, sf_dir)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        return t1 - t0, t2 - t1

    # correctness screen first: identical rows across variants
    ref = None
    for name, (r, n) in VARIANTS.items():
        curation._CKPT_RANKED, curation._CKPT_NEAR = r, n
        rows = sorted(
            map(tuple, cu1_corpus_curation(spark, sf_dir).collect())
        )
        if ref is None:
            ref = rows
        assert rows == ref, f"{name} rows differ!"
    print(f"rows identical across variants: {len(ref)} rows", flush=True)

    mins: dict[str, list[float]] = {k: [9e9, 9e9, 9e9] for k in VARIANTS}
    # per-variant warmup (codegen/footers for each plan shape)
    for name, (r, n) in VARIANTS.items():
        run(r, n)
    for sweep in range(n_sweeps):
        for name, (r, n) in VARIANTS.items():
            spark.sparkContext.setJobDescription(
                f"cu1 A/B sweep {sweep}: {name}"
            )
            spark._jvm.System.gc()
            b, e = run(r, n)
            t = b + e
            print(
                f"sweep {sweep} {name:14s} build {b:6.3f} exec {e:6.3f} "
                f"total {t:6.3f}",
                flush=True,
            )
            cur = mins[name]
            mins[name] = [min(cur[0], b), min(cur[1], e), min(cur[2], t)]
    print("--- min over sweeps ---")
    for name, (b, e, t) in mins.items():
        print(f"{name:14s} build {b:6.3f} exec {e:6.3f} total {t:6.3f}")
    curation._CKPT_RANKED = curation._CKPT_NEAR = True


if __name__ == "__main__":
    main()
