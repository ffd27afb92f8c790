"""Streaming-operator tests: watermarked tumbling windows, session
windows (batch parity), and applyInPandasWithState dedup with state
restored from the checkpoint across separate runs."""

from __future__ import annotations

import json
import os
from datetime import datetime

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from data_pipeline_project_using_telegram_and_aws_spark.streaming import windows as W

EVENTS_SCHEMA = "doc_id long, text string, ts timestamp"


def _write_batch(dirpath, name, rows):
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _drain(stream_df, out_dir, checkpoint):
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_session_checkpoints_use_the_filesystem_manager(spark, tmp_path):
    """``get_spark`` sessions write checkpoint files with the
    FileSystem-based manager (``FileSystem.rename``, no forked
    ``readlink``), and it keeps the guarantee streams rely on: a second
    ``createAtomic(p, overwriteIfPossible=False)`` fails on close and
    leaves the first file's bytes in place."""
    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert (
        manager.getClass().getSimpleName()
        == "FileSystemBasedCheckpointFileManager"
    )

    batch = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    first = manager.createAtomic(batch, False)
    first.write(bytearray(b"first"))
    first.close()
    second = manager.createAtomic(batch, False)
    second.write(bytearray(b"second"))
    with pytest.raises(Py4JJavaError, match="already exists"):
        second.close()
    assert (tmp_path / "0").read_bytes() == b"first"


def test_windowed_counts_with_watermark(spark, tmp_path):
    landing = str(tmp_path / "landing")
    _write_batch(
        landing,
        "b1.json",
        [
            {"k": "click", "ts": "2024-01-01 00:01:00"},
            {"k": "click", "ts": "2024-01-01 00:14:00"},
            {"k": "view", "ts": "2024-01-01 00:16:00"},
        ],
    )
    stream = (
        spark.readStream.schema("k string, ts timestamp").json(landing)
    )
    agg = W.windowed_event_counts(stream, "15 minutes", "30 minutes",
                                  ts_col="ts", key_col="k")
    out = str(tmp_path / "out")
    _drain(agg, out, str(tmp_path / "ckpt"))
    # AvailableNow + append emits only finalized windows after the
    # watermark advances; with one batch nothing finalizes yet — feed a
    # second batch far in the future to close the earlier windows.
    _write_batch(landing, "b2.json", [{"k": "click", "ts": "2024-01-01 06:00:00"}])
    _drain(agg, out, str(tmp_path / "ckpt"))
    rows = {
        (r.window_start.strftime("%H:%M"), r.k): r.n_events
        for r in spark.read.parquet(out).collect()
    }
    assert rows[("00:00", "click")] == 2
    assert rows[("00:15", "view")] == 1


def test_session_window_batch_streaming_parity(spark, tmp_path):
    rows = [
        {"user_id": 1, "ts": "2024-01-01 00:00:00", "value": 1.0},
        {"user_id": 1, "ts": "2024-01-01 00:10:00", "value": 2.0},
        # 40-minute gap > 30 => new session
        {"user_id": 1, "ts": "2024-01-01 00:50:00", "value": 4.0},
        {"user_id": 2, "ts": "2024-01-01 00:05:00", "value": 8.0},
    ]
    batch_df = spark.createDataFrame(
        [(r["user_id"], datetime.fromisoformat(r["ts"]), r["value"]) for r in rows],
        "user_id long, ts timestamp, value double",
    )
    got = {
        (r.user_id, r.session_start.strftime("%H:%M")): (
            r.session_end.strftime("%H:%M"), r.n_events, r.sum_value
        )
        for r in W.session_aggregate(batch_df).collect()
    }
    # session end = last event + gap
    assert got[(1, "00:00")] == ("00:40", 2, 3.0)
    assert got[(1, "00:50")] == ("01:20", 1, 4.0)
    assert got[(2, "00:05")] == ("00:35", 1, 8.0)


def test_streaming_first_seen_dedup_state_survives_restart(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _write_batch(
        landing,
        "b1.json",
        [
            {"doc_id": 5, "text": "alpha", "ts": "2024-01-01 00:00:00"},
            {"doc_id": 3, "text": "alpha", "ts": "2024-01-01 00:01:00"},
            {"doc_id": 7, "text": "beta", "ts": "2024-01-01 00:02:00"},
        ],
    )
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(landing)
    _drain(W.streaming_first_seen_dedup(stream), out, ckpt)
    first = {r.text_hash: r.doc_id for r in spark.read.parquet(out).collect()}
    assert sorted(first.values()) == [3, 7]  # lowest doc_id per hash

    # second, separate run: 'alpha' arrives again -> suppressed by the
    # checkpointed state; 'gamma' is new -> emitted
    _write_batch(
        landing,
        "b2.json",
        [
            {"doc_id": 1, "text": "alpha", "ts": "2024-01-02 00:00:00"},
            {"doc_id": 9, "text": "gamma", "ts": "2024-01-02 00:01:00"},
        ],
    )
    stream2 = spark.readStream.schema(EVENTS_SCHEMA).json(landing)
    _drain(W.streaming_first_seen_dedup(stream2), out, ckpt)
    final = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert final == {3, 7, 9}


BROKEN_BODY = '{"update_id": 2, "message": {broken'


def _land_good_and_broken(landing):
    """One update from chat -42, one from a foreign chat, one body that
    does not parse."""

    def update(uid, chat_id):
        return {
            "update_id": uid,
            "message": {
                "message_id": 10 + uid,
                "from": {"id": 1, "is_bot": False, "first_name": "ada"},
                "chat": {"id": chat_id, "type": "group"},
                "date": 1704103200,
                "text": "hello",
            },
        }

    landing.mkdir()
    (landing / "u1.json").write_text(json.dumps(update(1, -42)))
    (landing / "u2.json").write_text(BROKEN_BODY)
    (landing / "u3.json").write_text(json.dumps(update(3, -9)))


def _parsed_and_malformed(spark, lake):
    raw = lake.read_raw(spark)
    parsed = raw.filter(F.col("malformed_payload").isNull())
    malformed = raw.filter(F.col("malformed_payload").isNotNull())
    return (
        sorted(r.update_id for r in parsed.collect()),
        [r.malformed_payload for r in malformed.collect()],
    )


def test_quarantine_captures_malformed_payloads(spark, tmp_path):
    """An unparseable webhook body lands in the raw zone verbatim, in
    its row's ``malformed_payload`` column (auditable, replayable),
    beside the well-formed updates of the pipeline's chat; an update
    from a foreign chat is dropped."""
    from data_pipeline_project_using_telegram_and_aws_spark.sources.lake import TelegramLake
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.ingest import start_ingest_stream

    _land_good_and_broken(tmp_path / "landing")
    lake = TelegramLake(str(tmp_path / "lake"), chat_id=-42)
    q = start_ingest_stream(
        spark,
        lake,
        str(tmp_path / "landing"),
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    assert q.exception() is None

    assert _parsed_and_malformed(spark, lake) == ([1], [BROKEN_BODY])


def test_quarantine_replay_is_idempotent(spark, tmp_path):
    """After the checkpoint is lost, the stream re-reads the landing
    files as batch 0 again; the file sink's own commit log
    (``_spark_metadata`` under the raw zone) already holds that batch
    and skips it, so the replay writes zero duplicate rows, good or
    malformed."""
    import shutil

    from data_pipeline_project_using_telegram_and_aws_spark.sources.lake import TelegramLake
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.ingest import start_ingest_stream

    _land_good_and_broken(tmp_path / "landing")
    lake = TelegramLake(str(tmp_path / "lake"), chat_id=-42)

    for attempt in range(2):  # second pass = the re-delivered batch
        if attempt == 1:
            shutil.rmtree(tmp_path / "ckpt")  # lose the commit log
        q = start_ingest_stream(
            spark,
            lake,
            str(tmp_path / "landing"),
            str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(120)
        assert q.exception() is None

    assert _parsed_and_malformed(spark, lake) == ([1], [BROKEN_BODY])


def test_dedup_within_watermark_bounds_state(spark, tmp_path):
    """Duplicates inside the watermark horizon are suppressed; a
    duplicate arriving beyond it is re-emitted (the documented bounded
    -state trade vs the exact NoTimeout dedup)."""
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _write_batch(
        landing,
        "b1.json",
        [
            {"doc_id": 1, "text": "alpha", "ts": "2024-01-01 00:00:00"},
            {"doc_id": 2, "text": "alpha", "ts": "2024-01-01 00:00:30"},
            {"doc_id": 3, "text": "beta", "ts": "2024-01-01 00:01:00"},
        ],
    )
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(landing)
    dedup = W.streaming_dedup_within_watermark(stream, "10 minutes")
    _drain(dedup, out, ckpt)
    first = spark.read.parquet(out).collect()
    assert sorted(r.text for r in first) == ["alpha", "beta"]

    # advance the watermark far past alpha's state expiry (watermark
    # moves at END of a processed batch, so eviction needs one
    # intervening batch before the re-delivery arrives) ...
    _write_batch(
        landing,
        "b2.json",
        [{"doc_id": 4, "text": "gamma", "ts": "2024-01-01 12:00:00"}],
    )
    stream2 = spark.readStream.schema(EVENTS_SCHEMA).json(landing)
    _drain(W.streaming_dedup_within_watermark(stream2, "10 minutes"), out, ckpt)

    # ... then the same content re-delivered past the horizon is emitted
    # again (state was evicted), while its near-in-time duplicate is
    # still suppressed
    _write_batch(
        landing,
        "b3.json",
        [
            {"doc_id": 5, "text": "alpha", "ts": "2024-01-02 00:00:00"},
            {"doc_id": 6, "text": "alpha", "ts": "2024-01-02 00:00:10"},
        ],
    )
    stream3 = spark.readStream.schema(EVENTS_SCHEMA).json(landing)
    _drain(W.streaming_dedup_within_watermark(stream3, "10 minutes"), out, ckpt)
    texts = [r.text for r in spark.read.parquet(out).collect()]
    assert sorted(texts) == ["alpha", "alpha", "beta", "gamma"]


def test_pipeline_projections_compose_on_streams(spark, tmp_path):
    """Pure-projection pipeline operators (PII redaction, split
    assignment) apply to a stream unchanged — one code path for batch
    and streaming ingest, no operator rewrite."""
    from data_pipeline_project_using_telegram_and_aws_spark.operators.redaction import (
        redact_pii,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.splits import (
        assign_split,
    )

    landing = str(tmp_path / "landing")
    _write_batch(
        landing,
        "b1.json",
        [
            {"doc_id": 1, "text": "mail me at a@b.io now", "ts": "2024-01-01 00:00:00"},
            {"doc_id": 2, "text": "nothing sensitive here", "ts": "2024-01-01 00:01:00"},
        ],
    )
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(landing)
    piped = assign_split(
        redact_pii(stream), {"train": 0.9, "holdout": 0.1}
    )
    out = str(tmp_path / "out")
    _drain(piped, out, str(tmp_path / "ckpt"))
    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert "[EMAIL]" in rows[1].text_redacted and rows[1].n_email == 1
    assert rows[2].text_redacted == rows[2].text
    assert all(r.split in ("train", "holdout") for r in rows.values())
