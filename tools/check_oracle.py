"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and the matching ``oracle_sql()``
on DuckDB over the same parquet tables, comparing row count, column names,
and an order-insensitive value hash (values normalized: floats rounded,
dates/timestamps stringified). Usage:

    python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from datetime import date, datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from data_pipeline_project_using_telegram_and_aws_spark.schemas import TESTDATA_TABLES
from data_pipeline_project_using_telegram_and_aws_spark.session import get_spark


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # Full shortest-roundtrip repr: strictly at-least-as-strict as the
        # driver's hash, so local green predicts driver green. (Round 1:
        # %.6g masked a 2-dp flip in ~6-digit sums — driver red, local ok.)
        return repr(v)
    if isinstance(v, (datetime, date)):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def value_hash(rows: list[dict], cols: list[str]) -> str:
    cols = sorted(cols)
    lines = sorted("|".join(_norm(r[c]) for c in cols) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    # Pin the oracle's session zone to the DRIVER's (America/Sao_Paulo), not
    # this machine's default (UTC). Round 2's only red row was a TZ-dependent
    # oracle construct that local UTC masked — local red must predict driver
    # red, so the checker runs under the least-forgiving zone.
    con.execute("SET TimeZone='America/Sao_Paulo'")
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [r.asDict() for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.execute(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = [dict(zip(dcols, row)) for row in rel.fetchall()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        else:
            sh, dh = value_hash(srows, scols), value_hash(drows, dcols)
            if sh != dh:
                problems.append(f"hash spark={sh} duck={dh}")
                for i, (a, b) in enumerate(
                    zip(
                        sorted("|".join(_norm(r[c]) for c in sorted(scols)) for r in srows),
                        sorted("|".join(_norm(r[c]) for c in sorted(dcols)) for r in drows),
                    )
                ):
                    if a != b:
                        print(f"  first diff row {i}:\n    spark: {a}\n    duck : {b}")
                        break
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"ok   {name}: {len(srows)} rows match [{time.time()-t0:.1f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
