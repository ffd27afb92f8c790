"""Same-session interleaved A/B of lm_score._CKPT_MODEL (stage the
vocab-sized model frames once vs re-plan/re-execute per consumer) on the
lm1/lm2 bench rows. Same discipline as tools/cu1_ckpt_ab.py: identical
rows asserted first, per-variant warmup, interleaved sweeps, min.

Usage: python tools/lm_ckpt_ab.py [sf_dir] [n_sweeps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_project_using_telegram_and_aws_spark.operators import lm_score
from data_pipeline_project_using_telegram_and_aws_spark.plans.pipeline_queries import (
    lm1_unigram_quality,
    lm2_bigram_quality,
)
from data_pipeline_project_using_telegram_and_aws_spark.session import get_spark

ROWS = {
    "lm1": lm1_unigram_quality,
    "lm2": lm2_bigram_quality,
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_sweeps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("lm-ckpt-ab")
    spark.sparkContext.setLogLevel("ERROR")

    def run(row, ckpt: bool):
        lm_score._CKPT_MODEL = ckpt
        t0 = time.time()
        df = ROWS[row](spark, sf_dir)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        return t1 - t0, t2 - t1

    for row in ROWS:
        lm_score._CKPT_MODEL = True
        a = sorted(map(tuple, ROWS[row](spark, sf_dir).collect()))
        lm_score._CKPT_MODEL = False
        b = sorted(map(tuple, ROWS[row](spark, sf_dir).collect()))
        assert a == b, f"{row} rows differ between variants!"
        print(f"{row}: rows identical across variants ({len(a)})", flush=True)

    variants = {"ckpt_on": True, "ckpt_off": False}
    mins = {(r, v): [9e9, 9e9, 9e9] for r in ROWS for v in variants}
    for r in ROWS:
        for v, flag in variants.items():
            run(r, flag)  # warmup per plan shape
    for sweep in range(n_sweeps):
        for r in ROWS:
            for v, flag in variants.items():
                spark.sparkContext.setJobDescription(
                    f"lm A/B sweep {sweep}: {r} {v}"
                )
                spark._jvm.System.gc()
                b, e = run(r, flag)
                t = b + e
                print(
                    f"sweep {sweep} {r} {v:9s} build {b:6.3f} "
                    f"exec {e:6.3f} total {t:6.3f}",
                    flush=True,
                )
                cur = mins[(r, v)]
                mins[(r, v)] = [
                    min(cur[0], b), min(cur[1], e), min(cur[2], t)
                ]
    print("--- min over sweeps ---")
    for (r, v), (b, e, t) in mins.items():
        print(f"{r} {v:9s} build {b:6.3f} exec {e:6.3f} total {t:6.3f}")
    lm_score._CKPT_MODEL = True


if __name__ == "__main__":
    main()
