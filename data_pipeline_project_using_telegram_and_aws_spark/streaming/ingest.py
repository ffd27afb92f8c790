"""Streaming ingestion: webhook stream → filtered raw zone (SURVEY §2.9).

The reference's first Lambda (ipynb:295-339, cell 21): every Telegram
update arrives as an HTTP POST; updates from foreign chats are dropped
(``chat_id == TELEGRAM_CHAT_ID``, ipynb:325 — the P1 ingest-side filter);
survivors are persisted verbatim into the raw zone partitioned by *arrival*
date (ipynb:330).

Spark shape: a Structured Streaming file source watches a landing
directory (the webhook stand-in; Kafka/Kinesis in prod — same plan with a
different ``format``), filters, stamps processing-time ``context_date``,
and appends JSON partitioned by it. This is the pipeline's one ingest
route. The file sink's commit log (``_spark_metadata``) gives it
exactly-once output: a batch replayed after a lost checkpoint is skipped,
not written twice — an ST4 upgrade over the reference.

The two-timeline model (ST3) is preserved: ``context_date`` is processing
time, the event-time epoch ``message.date`` rides along untouched, so
"late" data lands in the arrival-day partition exactly like the reference.

**Malformed payloads** (SURVEY §1.4 "permissive JSON parsing / rescue
pattern"): the landing files are parsed PERMISSIVE, and a body that does
not parse keeps its verbatim text in the ``malformed_payload`` column.
That row passes the chat filter whatever chat it claims and lands in the
raw zone beside the good updates, so a bad payload is auditable and
replayable from ``TelegramLake.read_raw`` instead of lost; the daily ETL
flattens only the rows whose ``malformed_payload`` is NULL.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..schemas import MALFORMED_COL, RAW_ZONE_SCHEMA
from ..sources.lake import TelegramLake, arrival_date


def start_ingest_stream(
    spark: SparkSession,
    lake: TelegramLake,
    landing_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Start (or drain, with ``available_now``) the ingestion stream."""
    updates = (
        spark.readStream.schema(RAW_ZONE_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", MALFORMED_COL)
        .option("maxFilesPerTrigger", 1000)
        .json(landing_dir)
    )
    if lake.chat_id is not None:
        updates = updates.filter(
            (F.col("message.chat.id") == F.lit(lake.chat_id))
            | F.col(MALFORMED_COL).isNotNull()
        )
    # arrival date on the pipeline's UTC-3 clock (reference ipynb:310)
    stamped = updates.withColumn(
        "context_date",
        arrival_date(F.current_timestamp(), lake.ingest_tz),
    )

    writer = (
        stamped.writeStream.format("json")
        .option("path", lake.raw_path)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("context_date")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
