"""End-to-end pipeline test (SURVEY §5 plan item 2).

Synthetic raw Telegram updates (FIXTURES.md schema R) → streaming ingest
(filter + raw zone) → daily batch ETL (flatten + compact) → catalog
registration → the five reference queries with hand-computed goldens.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_using_telegram_and_aws_spark.plans.telegram_queries import (
    run_telegram_query,
)
from data_pipeline_project_using_telegram_and_aws_spark.schemas import (
    ENRICHED_COLUMNS,
    ENRICHED_SCHEMA,
)
from data_pipeline_project_using_telegram_and_aws_spark.sources.lake import TelegramLake
from data_pipeline_project_using_telegram_and_aws_spark.streaming.etl_job import run_daily_etl
from data_pipeline_project_using_telegram_and_aws_spark.streaming.ingest import (
    start_ingest_stream,
)

CHAT_ID = -4000

# epoch seconds: 2024-01-01 (Mon, ISO week 1) and 2024-01-07 (Sun, week 1)
T_MON_10 = 1704103200  # 2024-01-01 10:00:00 UTC
T_MON_23 = 1704150000  # 2024-01-01 23:00:00 UTC
T_SUN_05 = 1704606621  # 2024-01-07 05:50:21 UTC


def _update(uid, mid, user, date, text=..., chat_id=CHAT_ID, bot=False):
    msg = {
        "message_id": mid,
        "from": {"id": user[0], "is_bot": bot, "first_name": user[1]},
        "chat": {"id": chat_id, "type": "group"},
        "date": date,
    }
    if text is not ...:
        msg["text"] = text
    return {"update_id": uid, "message": msg}


UPDATES = [
    _update(1, 10, (1, "ada"), T_MON_10, "hello"),          # len 5
    _update(2, 11, (1, "ada"), T_MON_10, "worlds!"),        # len 7 → avg 6
    _update(3, 12, (2, "bob"), T_MON_23),                   # sticker → NULL text
    _update(4, 13, (2, "bob"), T_SUN_05, "hi"),             # len 2
    _update(5, 14, (9, "eve"), T_SUN_05, "spy", chat_id=-9999),  # foreign chat → dropped
]


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lake"))
    landing = os.path.join(root, "landing")
    os.makedirs(landing)
    for u in UPDATES:
        with open(os.path.join(landing, f"u{u['update_id']}.json"), "w") as f:
            json.dump(u, f)

    lk = TelegramLake(root, chat_id=CHAT_ID)
    q = start_ingest_stream(
        spark, lk, landing, os.path.join(root, "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    today = lk.today()  # pipeline clock (UTC-3, reference ipynb:310)
    n = run_daily_etl(spark, lk, context_date=today)
    assert n == 4  # foreign-chat update dropped at ingest (P1)
    lk.register_table(spark, "telegram")
    return lk


def test_raw_zone_partitioned_by_arrival_date(spark, lake):
    # ST3: context_date is processing time on the UTC-3 pipeline clock —
    # all rows land in today's partition regardless of event time
    # (which spans 2024-01-01..07)
    today = lake.today()
    parts = {
        os.path.basename(p)
        for p in glob.glob(f"{lake.raw_path}/context_date=*")
    }
    assert parts == {f"context_date={today}"}


def test_enriched_schema_matches_ddl(spark, lake):
    df = lake.read_enriched(spark)
    assert set(df.columns) == set(ENRICHED_COLUMNS) | {"context_date"}
    types = dict(df.dtypes)
    assert types["message_id"] == "bigint"
    assert types["user_is_bot"] == "boolean"
    assert types["text"] == "string"
    assert types["date"] == "bigint"
    assert types["context_date"] == "date"


def test_compaction_one_file_per_partition(spark, lake):
    files = glob.glob(f"{lake.enriched_path}/context_date=*/*.parquet")
    assert len(files) == 1  # X4 invariant at reference scale


def test_etl_rerun_is_idempotent(spark, lake):
    run_daily_etl(spark, lake, context_date=lake.today())
    assert lake.read_enriched(spark).count() == 4  # ST4: no duplication
    files = glob.glob(f"{lake.enriched_path}/context_date=*/*.parquet")
    assert len(files) == 1


def test_select_limit(spark, lake):
    assert len(run_telegram_query(spark, "select_limit").collect()) == 4


def test_daily_count(spark, lake):
    rows = run_telegram_query(spark, "daily_count").collect()
    assert [(r.context_date, r.message_amount) for r in rows] == [
        (lake.today(), 4)
    ]


def test_user_daily_count(spark, lake):
    rows = run_telegram_query(spark, "user_daily_count").collect()
    got = {(r.user_id, r.user_first_name): r.message_amount for r in rows}
    assert got == {(1, "ada"): 2, (2, "bob"): 2}


def test_user_daily_avg_len_skips_nulls(spark, lake):
    rows = run_telegram_query(spark, "user_daily_avg_len").collect()
    got = {r.user_id: r.average_message_length for r in rows}
    # ada: (5+7)/2 = 6; bob: AVG skips the NULL sticker row → 2, not 1
    assert got == {1: 6, 2: 2}


def test_hour_weekday_weeknum(spark, lake):
    rows = run_telegram_query(spark, "hour_weekday_weeknum").collect()
    got = {
        (r.parsed_date_hour, r.parsed_date_weekday, r.parsed_date_weeknum):
        r.message_amount
        for r in rows
    }
    # Mon 2024-01-01 10:00 ×2, Mon 23:00 ×1 (ISO dow 1), Sun 05:xx ×1 (dow 7)
    assert got == {(10, 1, 1): 2, (23, 1, 1): 1, (5, 7, 1): 1}
    # ordering: weeknum then weekday (reference ORDER BY)
    keys = [(r.parsed_date_weeknum, r.parsed_date_weekday) for r in rows]
    assert keys == sorted(keys)


def test_arrival_date_is_utc_minus_3(spark):
    """Reference fidelity (ipynb:310): the partition clock is UTC-3, so a
    message arriving 01:00 UTC belongs to the PREVIOUS day's partition."""
    from data_pipeline_project_using_telegram_and_aws_spark.sources.lake import arrival_date

    df = spark.createDataFrame(
        [("2024-01-02 01:00:00",), ("2024-01-02 03:00:00",),
         ("2024-01-02 02:59:59",)],
        ["ts_utc"],
    ).select(
        arrival_date(F.col("ts_utc").cast("timestamp")).alias("d")
    )
    got = [str(r.d) for r in df.collect()]
    assert got == ["2024-01-01", "2024-01-02", "2024-01-01"]


def test_persistent_catalog_table_survives_sessions(spark, lake):
    """S9 complete: CREATE TABLE ... USING PARQUET LOCATION + MSCK. The
    catalog table (unlike a temp view) is visible from a NEW session."""
    lake.register_persistent_table(spark, "telegram_ext")
    assert spark.table("telegram_ext").count() == 4

    fresh = spark.newSession()
    try:
        # temp views are session-scoped and must NOT leak...
        assert "telegram" not in [
            t.name for t in fresh.catalog.listTables()
            if t.tableType == "TEMPORARY"
        ]
        # ...but the catalog table is there, partitions recovered
        rows = fresh.sql(
            "SELECT context_date, COUNT(1) AS n FROM telegram_ext GROUP BY 1"
        ).collect()
        assert [(r.context_date, r.n) for r in rows] == [(lake.today(), 4)]
    finally:
        spark.sql("DROP TABLE IF EXISTS telegram_ext")


def test_etl_empty_rerun_reports_zero_and_keeps_good_data_by_default(
    spark, tmp_path, caplog
):
    """Re-running a day whose raw input vanished must not report the
    PREVIOUS run's rows as this run's output — but a transient empty
    upstream export must not silently destroy a good load either
    (round-5 ADVICE): the run keeps the existing partition and warns
    loudly."""
    import logging
    import shutil

    lk = TelegramLake(str(tmp_path), chat_id=CHAT_ID)
    today = lk.today()
    part = f"{lk.raw_path}/context_date={today}"
    os.makedirs(part)
    with open(os.path.join(part, "b.json"), "w") as f:
        for u in UPDATES[:2]:
            f.write(json.dumps(u) + "\n")
    assert run_daily_etl(spark, lk, context_date=today) == 2

    shutil.rmtree(part)
    with caplog.at_level(logging.WARNING):
        assert run_daily_etl(spark, lk, context_date=today) == 0
    # the good 2-row partition survives, and the divergence is loud
    assert glob.glob(f"{lk.enriched_path}/context_date={today}") != []
    assert any("keeping it" in r.message for r in caplog.records)


def test_etl_date_without_leading_zeros(spark, tmp_path, spark_jobs):
    """``2024-1-5`` names the same day as ``2024-01-05``, as Spark's date
    cast reads it: the run writes the zero-padded partition and returns
    its row count. A value that is not a date fails before any Spark
    job runs."""
    lk = TelegramLake(str(tmp_path), chat_id=CHAT_ID)
    part = f"{lk.raw_path}/context_date=2024-01-05"
    os.makedirs(part)
    with open(os.path.join(part, "b.json"), "w") as f:
        for u in UPDATES[:3]:
            f.write(json.dumps(u) + "\n")
    assert run_daily_etl(spark, lk, context_date="2024-1-5") == 3
    assert glob.glob(f"{lk.enriched_path}/context_date=2024-01-05/*.parquet")

    with spark_jobs() as jobs:
        with pytest.raises(ValueError):
            run_daily_etl(spark, lk, context_date="2024-13-05")
    assert jobs == []


def test_enriched_schema_evolution_reads_union_with_merge(spark, tmp_path):
    """The day the pipeline grows a column, earlier partitions lack the
    field; merge_schema=True returns the union schema with NULLs for
    pre-evolution days while the default read stays cheap for
    schema-stable zones."""
    from data_pipeline_project_using_telegram_and_aws_spark.sources.lake import (
        TelegramLake,
    )

    lk = TelegramLake(str(tmp_path))
    old = spark.createDataFrame(
        [(1, "hi", "2024-01-01")], ["message_id", "text", "context_date"]
    ).withColumn("context_date", F.to_date("context_date"))
    new = spark.createDataFrame(
        [(2, "yo", "reply", "2024-01-02")],
        ["message_id", "text", "reply_kind", "context_date"],
    ).withColumn("context_date", F.to_date("context_date"))
    (
        old.write.mode("overwrite").partitionBy("context_date")
        .parquet(lk.enriched_path)
    )
    (
        new.write.mode("append").partitionBy("context_date")
        .parquet(lk.enriched_path)
    )

    merged = lk.read_enriched(spark, merge_schema=True)
    assert "reply_kind" in merged.columns
    rows = {r.message_id: r for r in merged.collect()}
    assert rows[1].reply_kind is None and rows[2].reply_kind == "reply"
    assert len(rows) == 2


def _raw_day(lk, day, updates):
    part = f"{lk.raw_path}/context_date={day}"
    os.makedirs(part)
    with open(os.path.join(part, "b.json"), "w") as f:
        for u in updates:
            f.write(json.dumps(u) + "\n")
    return part


def test_daily_etl_is_one_scan_and_one_write(spark, spark_jobs, tmp_path):
    """The day's ETL is the write alone — its shuffle-map job and its
    write job. There is no emptiness probe before the write, the count
    comes from the written footers, and write_enriched re-registers the
    view without schema inference."""
    lk = TelegramLake(str(tmp_path), chat_id=CHAT_ID)
    _raw_day(lk, "2024-03-07", UPDATES[:2])  # a prior day under the view
    assert run_daily_etl(spark, lk, context_date="2024-03-07") == 2
    lk.register_table(spark, "telegram_jobs")
    today = lk.today()
    _raw_day(lk, today, UPDATES[:4])
    with spark_jobs() as jobs:
        n = run_daily_etl(spark, lk, context_date=today)
    assert len(jobs) == 2
    # the returned count is the rows written, and the re-registered view
    # sees them beside the prior day's
    assert n == 4
    assert spark.table("telegram_jobs").count() == 6
    files = glob.glob(f"{lk.enriched_path}/context_date={today}/*.parquet")
    assert len(files) == 1


def test_etl_leaves_the_session_serializable(spark, tmp_path):
    """Tasks whose closures capture the session (Spark ML model
    transforms do) must still serialize after the ETL ran in it."""
    lk = TelegramLake(str(tmp_path), chat_id=CHAT_ID)
    today = lk.today()
    _raw_day(lk, today, UPDATES[:2])
    assert run_daily_etl(spark, lk, context_date=today) == 2
    jvm = spark._jvm
    out = jvm.java.io.ObjectOutputStream(jvm.java.io.ByteArrayOutputStream())
    out.writeObject(spark._jsparkSession)
    out.close()


def test_register_table_runs_no_spark_job(spark, spark_jobs, lake):
    with spark_jobs() as jobs:
        lake.register_table(spark, "telegram_nojob")
    assert jobs == []
    assert spark.table("telegram_nojob").count() == 4


def test_register_table_over_empty_enriched_root(spark, tmp_path):
    """Before the first ETL the enriched root holds no partition. Its
    table is empty with the DDL columns, rather than failing to infer a
    schema from footers that do not exist."""
    lk = TelegramLake(str(tmp_path))
    os.makedirs(lk.enriched_path)
    lk.register_table(spark, "telegram_empty")
    df = spark.table("telegram_empty")
    assert df.schema == ENRICHED_SCHEMA
    assert df.count() == 0


def test_default_read_enriched_is_the_declared_ddl_schema(spark, tmp_path):
    """The default read has Athena's declared-schema semantics: exactly
    the DDL columns in DDL order, an undeclared column a file holds is
    not read, and a declared column a file lacks reads as NULL."""
    lk = TelegramLake(str(tmp_path))
    row = spark.createDataFrame(
        [(7, "hi", "reply", "2024-01-02")],
        ["message_id", "text", "reply_kind", "context_date"],
    ).withColumn("context_date", F.to_date("context_date"))
    row.write.partitionBy("context_date").parquet(lk.enriched_path)

    df = lk.read_enriched(spark)
    assert df.columns == ENRICHED_COLUMNS + ["context_date"]
    assert df.schema == ENRICHED_SCHEMA
    (got,) = df.collect()
    assert (got.message_id, got.text, got.user_id) == (7, "hi", None)
    assert got.context_date == dt.date(2024, 1, 2)


BROKEN_BODY = '{"update_id": 6, "message": {broken'


def _drain_landing(spark, lk, landing, checkpoint):
    """Drain ``start_ingest_stream`` once; the rows it read."""
    q = start_ingest_stream(spark, lk, landing, checkpoint, available_now=True)
    q.awaitTermination(120)
    assert not q.isActive and q.exception() is None
    return sum(p["numInputRows"] for p in q.recentProgress)


def _raw_ids_and_bodies(spark, lk):
    raw = lk.read_raw(spark)
    parsed = raw.filter(F.col("malformed_payload").isNull())
    malformed = raw.filter(F.col("malformed_payload").isNotNull())
    return (
        sorted(r.update_id for r in parsed.collect()),
        [r.malformed_payload for r in malformed.collect()],
    )


@pytest.mark.parametrize(
    "malformed", [False, True], ids=["clean", "malformed_body"]
)
def test_ingest_resumes_from_its_checkpoint(spark, tmp_path, malformed):
    """A second drain on the same checkpoint reads only the updates that
    landed since the first, and the raw zone holds each kept update
    exactly once; with a malformed body among the second drain's files,
    its verbatim text lands exactly once too. The stream resumes from
    the offsets, commit and source logs written by the session's
    checkpoint file manager."""
    lk = TelegramLake(str(tmp_path), chat_id=CHAT_ID)
    landing = str(tmp_path / "landing")
    os.makedirs(landing)

    def land(updates):
        for u in updates:
            with open(os.path.join(landing, f"u{u['update_id']}.json"), "w") as f:
                json.dump(u, f)

    ckpt = str(tmp_path / "ckpt")
    land(UPDATES[:3])
    assert _drain_landing(spark, lk, landing, ckpt) == 3
    land([UPDATES[3], UPDATES[4]])  # UPDATES[4] is from a foreign chat
    if malformed:
        with open(os.path.join(landing, "u6.json"), "w") as f:
            f.write(BROKEN_BODY)
    assert _drain_landing(spark, lk, landing, ckpt) == 2 + malformed
    assert _raw_ids_and_bodies(spark, lk) == (
        [1, 2, 3, 4], [BROKEN_BODY] if malformed else []
    )


def test_malformed_body_never_reaches_the_enriched_table(spark, tmp_path):
    """With no chat filter (``TelegramLake`` without ``chat_id``), a body
    that does not parse lands in the raw zone verbatim and the daily ETL
    leaves it out: it writes one row for one good update, and no
    all-NULL row."""
    lk = TelegramLake(str(tmp_path))
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    with open(os.path.join(landing, "u1.json"), "w") as f:
        json.dump(UPDATES[0], f)
    with open(os.path.join(landing, "u6.json"), "w") as f:
        f.write(BROKEN_BODY)
    assert _drain_landing(spark, lk, landing, str(tmp_path / "ckpt")) == 2

    assert run_daily_etl(spark, lk, context_date=lk.today()) == 1
    rows = lk.read_enriched(spark).drop("context_date").collect()
    assert [r.message_id for r in rows] == [10]
    assert not any(all(v is None for v in r) for r in rows)
    assert _raw_ids_and_bodies(spark, lk) == ([1], [BROKEN_BODY])


def _lake_with_rows(spark, root, n):
    """A lake whose enriched zone holds the first ``n`` updates."""
    lk = TelegramLake(root, chat_id=CHAT_ID)
    part = f"{lk.raw_path}/context_date={lk.today()}"
    os.makedirs(part)
    with open(os.path.join(part, "b.json"), "w") as f:
        for u in UPDATES[:n]:
            f.write(json.dumps(u) + "\n")
    assert run_daily_etl(spark, lk, context_date=lk.today()) == n
    return lk


def test_persistent_table_refuses_another_lakes_location(spark, tmp_path):
    """Re-registering a catalog table over the same lake is idempotent;
    registering another lake under a taken name raises, naming both
    paths, and the table keeps its rows. ``CREATE TABLE IF NOT EXISTS``
    alone would answer with the old lake's rows."""
    a = _lake_with_rows(spark, str(tmp_path / "a"), 2)
    b = _lake_with_rows(spark, str(tmp_path / "b"), 4)
    try:
        a.register_persistent_table(spark, "tp_owner")
        a.register_persistent_table(spark, "tp_owner")
        assert spark.table("tp_owner").count() == 2
        with pytest.raises(ValueError) as err:
            b.register_persistent_table(spark, "tp_owner")
        assert a.enriched_path in str(err.value)
        assert b.enriched_path in str(err.value)
        assert spark.table("tp_owner").count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS tp_owner")


def test_pipeline_starts_no_chmod_process(spark, tmp_path):
    """Ingest drain, daily ETL and catalog registration set file modes
    in the JVM: a JFR recording of ``jdk.ProcessStart`` over all three
    sees no ``chmod``. Hadoop's stock local filesystem forks one per
    file and directory it creates when libhadoop is not loaded."""
    jvm = spark._jvm
    lk = TelegramLake(str(tmp_path / "lake"), chat_id=CHAT_ID)
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for u in UPDATES:
        with open(os.path.join(landing, f"u{u['update_id']}.json"), "w") as f:
            json.dump(u, f)

    recording = jvm.jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try:
        assert _drain_landing(spark, lk, landing, str(tmp_path / "ckpt")) == 5
        assert run_daily_etl(spark, lk, context_date=lk.today()) == 4
        lk.register_persistent_table(spark, "tp_no_fork")
    finally:
        recording.stop()
        spark.sql("DROP TABLE IF EXISTS tp_no_fork")
    dump = jvm.java.io.File(str(tmp_path / "starts.jfr")).toPath()
    recording.dump(dump)
    recording.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    commands = [events.get(i).getString("command") for i in range(events.size())]
    assert [c for c in commands if "chmod" in c] == []
