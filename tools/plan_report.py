"""Physical-plan audit across the whole query registry.

For every registered query, build the DataFrame at the given sf_dir and
tabulate five plan-hygiene metrics from the executed plan: exchanges
(shuffles), broadcasts, parquet scans, Python-worker stages
(ArrowEval/MapInPandas — should be ~0 outside the deliberate decode
paths), and sorts. Whole-stage-codegen spans are NOT tabulated: AQE-
wrapped plan strings do not surface the codegen markers. Writes a
markdown table to stdout (or PLAN_AUDIT.md with --write) so plan
regressions show up as diffs, not as bench-time surprises.

Usage:
    python tools/plan_report.py [sf_dir] [--write]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_project_using_telegram_and_aws_spark.session import get_spark


def audit(plan: str) -> dict[str, int]:
    lines = plan.splitlines()
    return {
        "exchanges": sum(
            1
            for l in lines
            if "Exchange" in l
            and "ReusedExchange" not in l
            and "BroadcastExchange" not in l
        ),
        "broadcasts": sum(1 for l in lines if "BroadcastExchange" in l),
        "scans": sum(1 for l in lines if "FileScan parquet" in l or "Scan parquet" in l),
        "python_stages": sum(
            1
            for l in lines
            if "ArrowEvalPython" in l
            or "MapInPandas" in l
            or "FlatMapGroupsInPandas" in l
            or "BatchEvalPython" in l
        ),
        "sorts": sum(1 for l in lines if re.search(r"\bSort\b", l) and "SortMerge" not in l),
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    write = "--write" in sys.argv

    import __spark_entry__ as entrymod

    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")

    from scale_lint import _extension_plans

    rows = []
    plans = list(entrymod.queries().items()) + [
        (name, (lambda d: (lambda s_, sf_: d))(df))
        for name, df in _extension_plans(spark, sf_dir).items()
    ]
    for name, fn in plans:
        try:
            df = fn(spark, sf_dir)
            # execute first: AQE only finalizes (and codegen-annotates)
            # the plan at runtime — isFinalPlan=true is the plan that ran
            df.write.format("noop").mode("overwrite").save()
            plan = df._jdf.queryExecution().executedPlan().toString()
            rows.append((name, audit(plan)))
        except Exception as e:  # noqa: BLE001
            rows.append((name, {"error": str(e)[:60]}))

    cols = ["exchanges", "broadcasts", "scans", "python_stages", "sorts"]
    out = ["# Plan audit", "", f"sf_dir: `{sf_dir}` (executed AQE-final plans; "
           "each query ran to completion through the noop sink first; "
           "ext_* rows are the extension-surface plans scale_lint builds)", "",
           "| query | " + " | ".join(cols) + " |",
           "|---|" + "---|" * len(cols)]
    for name, a in rows:
        if "error" in a:
            out.append(f"| {name} | error: {a['error']} |")
        else:
            out.append(
                f"| {name} | " + " | ".join(str(a[c]) for c in cols) + " |"
            )
    totals = {c: sum(a.get(c, 0) for _, a in rows if "error" not in a) for c in cols}
    out.append("| **total** | " + " | ".join(str(totals[c]) for c in cols) + " |")
    text = "\n".join(out) + "\n"
    if write:
        path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path}")
    else:
        print(text)


if __name__ == "__main__":
    main()
