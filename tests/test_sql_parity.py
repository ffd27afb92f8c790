"""End-to-end dialect-translator parity on all five reference SQL texts
(VERDICT r3 item 6).

``plans/telegram_queries.py`` carries the reference notebook's five
Presto queries verbatim; ``test_etl_pipeline.py`` checks them against
hand-computed goldens on a 4-row corpus. This suite pins the translator
against the *DataFrame builders* (``plans/reference_queries.py``) on the
full sf0.001 events analog: a ``telegram`` view exposes the events table
under the reference's column names (message_id / text / epoch ``date`` /
context_date), each original SQL text runs through
``presto_to_spark_sql``, and the result must row-match the corresponding
builder. Any translator regression (F4 round-then-cast, F5 from_unixtime,
F6 date_format patterns, F9 ISO dow, F10 week) that pattern units miss
shows up as a row diff here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_using_telegram_and_aws_spark.functions.dialect import (
    presto_to_spark_sql,
)
from data_pipeline_project_using_telegram_and_aws_spark.plans.reference_queries import (
    q1_daily_message_count,
    q2_user_daily_count,
    q3_user_daily_avg_len,
    q4_hour_weekday_weeknum,
)
from data_pipeline_project_using_telegram_and_aws_spark.plans.telegram_queries import (
    TELEGRAM_SQL,
)
from data_pipeline_project_using_telegram_and_aws_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def telegram_view(spark, sf_dir):
    """events exposed under the reference's telegram schema; the epoch
    ``date`` column round-trips ts the same way the builders do."""
    ev = load_table(spark, sf_dir, "events")
    ev.select(
        F.col("event_id").alias("message_id"),
        F.col("user_id"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
            "user_first_name"
        ),
        F.col("props").alias("text"),
        F.unix_timestamp("ts").alias("date"),
        F.to_date("ts").alias("context_date"),
    ).createOrReplaceTempView("telegram")
    yield "telegram"
    spark.catalog.dropTempView("telegram")


def _rows(df, cols):
    return sorted(
        tuple(r[c] for c in cols) for r in df.collect()
    )


def _translated(spark, name):
    return spark.sql(presto_to_spark_sql(TELEGRAM_SQL[name]))


def test_select_limit_translates(spark, telegram_view):
    # the bare LIMIT returns arbitrary rows, so parity here is count +
    # membership, not row identity (the builder q0 pins an ORDER BY)
    got = _translated(spark, "select_limit").collect()
    assert len(got) == 10
    all_ids = {r.message_id for r in spark.table("telegram").collect()}
    assert {r.message_id for r in got} <= all_ids


def test_daily_count_matches_builder(spark, sf_dir, telegram_view):
    cols = ["context_date", "message_amount"]
    got = _rows(_translated(spark, "daily_count"), cols)
    want = _rows(q1_daily_message_count(spark, sf_dir), cols)
    assert got == want


def test_user_daily_count_matches_builder(spark, sf_dir, telegram_view):
    cols = ["user_id", "context_date", "message_amount"]
    got = _rows(_translated(spark, "user_daily_count"), cols)
    want = _rows(q2_user_daily_count(spark, sf_dir), cols)
    assert got == want


def test_user_daily_avg_len_matches_builder(spark, sf_dir, telegram_view):
    # the F4 rewrite must make CAST(AVG(..) AS INT) round like Presto,
    # matching the builder's explicit round-then-cast; compare as ints so
    # int-vs-long typing stays out of the diff
    tr = {
        (r.user_id, r.context_date): int(r.average_message_length)
        for r in _translated(spark, "user_daily_avg_len").collect()
    }
    bd = {
        (r.user_id, r.context_date): int(r.average_message_length)
        for r in q3_user_daily_avg_len(spark, sf_dir).collect()
    }
    assert tr == bd


def test_hour_weekday_weeknum_matches_builder(spark, sf_dir, telegram_view):
    cols = [
        "parsed_date_hour",
        "parsed_date_weekday",
        "parsed_date_weeknum",
        "message_amount",
    ]

    def norm(df):
        return sorted(tuple(int(r[c]) for c in cols) for r in df.collect())

    got = norm(_translated(spark, "hour_weekday_weeknum"))
    want = norm(q4_hour_weekday_weeknum(spark, sf_dir))
    assert got == want


def test_cast_avg_int_rewrites_any_nesting_depth():
    # the r4 regex handled exactly one paren level; the balanced scanner
    # must rewrite deeper arguments identically (round-5 ADVICE)
    for arg in ("length(text)", "abs(length(text))",
                "abs(greatest(length(a), length(b)))"):
        got = presto_to_spark_sql(f"SELECT CAST(AVG({arg}) AS INT) FROM t")
        assert got == f"SELECT CAST(ROUND(AVG({arg})) AS INT) FROM t"


def test_cast_avg_other_types_pass_through():
    # no round-vs-truncate divergence for non-int targets
    for sql in (
        "SELECT CAST(AVG(length(text)) AS DOUBLE) FROM t",
        "SELECT CAST(AVG(x) AS DECIMAL(10,2)) FROM t",
    ):
        assert presto_to_spark_sql(sql) == sql


def test_cast_avg_unparseable_raises_instead_of_mistranslating():
    # dropped paren inside the argument: the walker closes on the cast's
    # paren instead and the tail no longer parses — must raise, not pass
    with pytest.raises(ValueError, match="tail"):
        presto_to_spark_sql("SELECT CAST(AVG(length(text) AS INT) FROM t")
    with pytest.raises(ValueError, match="unbalanced"):
        presto_to_spark_sql("SELECT CAST(AVG(length(text) AS INT FROM t")
    with pytest.raises(ValueError, match="tail"):
        presto_to_spark_sql("SELECT CAST(AVG(x) AS ) FROM t")


def test_one_argument_from_unixtime_becomes_timestamp_seconds():
    # Presto's from_unixtime(x) is a timestamp; Spark's is a string
    assert presto_to_spark_sql("SELECT from_unixtime(`date`) FROM t") == (
        "SELECT timestamp_seconds(`date`) FROM t"
    )
    assert presto_to_spark_sql("SELECT FROM_UNIXTIME(floor(ms / 1000)) FROM t") == (
        "SELECT timestamp_seconds(floor(ms / 1000)) FROM t"
    )
    for sql in (
        "SELECT from_unixtime(x, 'yyyy-MM-dd') FROM t",  # Spark's own form
        "SELECT my_from_unixtime(x) FROM t",
    ):
        assert presto_to_spark_sql(sql) == sql
    # a one-argument call nested in the two-argument form is rewritten
    assert presto_to_spark_sql("SELECT from_unixtime(from_unixtime(x), 'y') FROM t") == (
        "SELECT from_unixtime(timestamp_seconds(x), 'y') FROM t"
    )


@pytest.mark.parametrize("zone", ["UTC", "America/New_York", "Australia/Lord_Howe"])
def test_from_unixtime_rewrite_keeps_the_reference_parse(spark, zone):
    """The reference's parse, ``CAST(date_format(from_unixtime(x), …) AS
    timestamp)``, gives the same timestamp with the rewritten call,
    including epochs in the DST gap and on both sides of the overlap."""
    epochs = [
        1710054000,  # 2024-03-10 07:00 UTC: New York skips 02:00-03:00
        1710053999,
        1730611800,  # 2024-11-03 05:30 UTC = 01:30 EDT
        1730615400,  # 2024-11-03 06:30 UTC = 01:30 EST, the repeated hour
        1712414700,  # 2024-04-06 14:45 UTC = 01:45 on Lord Howe, daylight time
        1712416500,  # 15:15 UTC = 01:45 again: the overlap is half an hour
        0,
    ]
    ref = ("SELECT x, CAST(date_format(from_unixtime(x), '%Y-%m-%d %H:%i:%s') "
           "AS timestamp) AS p FROM VALUES {} AS v(x) ORDER BY x")
    values = ", ".join(f"({e}L)" for e in epochs)
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        translated = presto_to_spark_sql(ref.format(values))
        assert "timestamp_seconds" in translated
        untranslated_call = translated.replace("timestamp_seconds", "from_unixtime")
        assert (spark.sql(translated).collect()
                == spark.sql(untranslated_call).collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
