"""Plan shape of the reference queries (``plans/telegram_queries.py``).

A query whose outermost block ends in ``ORDER BY`` sorts its answer in one
task: 2 Spark jobs for a grouped query instead of the range exchange's 4.
These tests pin the job counts, that building a query runs no job, and
that the one-task plan returns the same rows in the reference ``ORDER
BY`` order as the untouched translated text's range-partitioned sort,
under the UTC and ``America/New_York`` session zones, over an enriched
table of three days and several users whose event times straddle the
2024-03-10 US DST switch.
"""

from __future__ import annotations

import datetime as dt
from contextlib import contextmanager

import pytest

from data_pipeline_project_using_telegram_and_aws_spark.functions.dialect import (
    ordered_outer_select,
    presto_to_spark_sql,
)
from data_pipeline_project_using_telegram_and_aws_spark.plans.telegram_queries import (
    TELEGRAM_SQL,
    run_telegram_query,
)
from data_pipeline_project_using_telegram_and_aws_spark.schemas import ENRICHED_SCHEMA
from data_pipeline_project_using_telegram_and_aws_spark.sources.lake import TelegramLake

T0 = 1710007200  # 2024-03-09 18:00:00 UTC, a Saturday
STEP = 97 * 60  # 36 messages reach 2024-03-12 (Tue); the switch is 03-10 07:00 UTC
USERS = [(1, "ada"), (2, "bob"), (3, "cy"), (4, "dee")]

# the reference ORDER BY of each ordered query, as a sort key of one row
ORDER_KEYS = {
    "daily_count": lambda r: -r.context_date.toordinal(),
    "user_daily_count": lambda r: -r.context_date.toordinal(),
    "user_daily_avg_len": lambda r: -r.context_date.toordinal(),
    "hour_weekday_weeknum": lambda r: (r.parsed_date_weeknum, r.parsed_date_weekday),
}


@pytest.fixture(scope="module")
def telegram(spark, tmp_path_factory):
    """Three context_date partitions of 12 messages each, one Parquet file
    per day, registered as the ``telegram`` table."""
    lk = TelegramLake(str(tmp_path_factory.mktemp("three_days")))
    rows = []
    for k in range(36):
        uid, name = USERS[k % len(USERS)]
        text = None if k % 7 == 3 else "x" * (k % 11 + 1)
        rows.append((k, uid, False, name, -4000, "group", text, T0 + k * STEP,
                     dt.date(2024, 3, 9) + dt.timedelta(days=k // 12)))
    spark.createDataFrame(rows, ENRICHED_SCHEMA).coalesce(1).write.partitionBy(
        "context_date").parquet(lk.enriched_path)
    lk.register_table(spark, "telegram")
    return lk


@contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _in_reference_order(name, rows):
    """Assert ``rows`` follow the reference ORDER BY, and return them with
    the rows inside each tie in a fixed order, for comparing plans."""
    key = ORDER_KEYS[name]
    fixed = sorted(rows, key=lambda r: (key(r), tuple(r)))
    assert [key(r) for r in rows] == [key(r) for r in fixed], name
    return fixed


@pytest.mark.parametrize("zone", ["UTC", "America/New_York"])
def test_one_task_sort_matches_the_range_sort(spark, telegram, zone):
    with _conf(spark, "spark.sql.session.timeZone", zone):
        answers = {}
        for name in ORDER_KEYS:
            df = run_telegram_query(spark, name)
            assert "rangepartitioning" not in _plan(df), name
            answers[name] = _in_reference_order(name, df.collect())
            # the translated text without the hint: the range-partitioned sort
            ranged = spark.sql(presto_to_spark_sql(TELEGRAM_SQL[name]))
            assert "rangepartitioning" in _plan(ranged), name
            assert _in_reference_order(name, ranged.collect()) == answers[name], name
    # the table is three days of several users, and the hour query's
    # answer spans both sides of the switch
    assert len(answers["daily_count"]) == 3
    assert len(answers["user_daily_count"]) == 12
    assert {r.parsed_date_weeknum for r in answers["hour_weekday_weeknum"]} == {10, 11}


@pytest.mark.parametrize(
    "name, n_jobs",
    [
        ("select_limit", 1),
        ("daily_count", 2),
        ("user_daily_count", 2),
        ("user_daily_avg_len", 2),
        ("hour_weekday_weeknum", 2),
    ],
)
def test_reference_query_job_counts(spark, spark_jobs, telegram, name, n_jobs):
    # building the query runs no job
    with spark_jobs() as jobs:
        df = run_telegram_query(spark, name)
    assert jobs == []
    with spark_jobs() as jobs:
        df.collect()
    assert len(jobs) == n_jobs


def test_hint_goes_into_the_outermost_block():
    for name, text in TELEGRAM_SQL.items():
        sql = presto_to_spark_sql(text)
        at = ordered_outer_select(sql)
        if name == "select_limit":
            assert at is None
            continue
        assert sql[:at].rstrip().lower().endswith("select"), name
        # inside a CTE body, the text after the hint would close a paren
        # it never opened
        depth = 0
        for c in sql[at:]:
            depth += {"(": 1, ")": -1}.get(c, 0)
            assert depth >= 0, name
