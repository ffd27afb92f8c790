"""Capture ``.explain("formatted")`` for headline queries into
``plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<tag>.txt`` (default r14) — the
optimization round's evidence files.

Usage:
    python tools/capture_plans.py <tag> [query ...]   # default: all headline
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_project_using_telegram_and_aws_spark.plans import all_queries
from data_pipeline_project_using_telegram_and_aws_spark.session import get_spark


def main() -> None:
    tag = sys.argv[1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import bench

    qs = all_queries()
    from data_pipeline_project_using_telegram_and_aws_spark.plans.pipeline_queries import (
        pk2_materialized_sequences,
    )

    qs.setdefault("pk2_materialized_sequences", pk2_materialized_sequences)
    names = sys.argv[2:] or bench.headline_names(qs)

    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "plans",
                           os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14"))
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
