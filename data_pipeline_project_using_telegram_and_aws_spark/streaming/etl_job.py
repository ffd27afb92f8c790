"""Daily batch ETL: raw JSON partition → flattened, compacted Parquet.

The reference's second Lambda (ipynb:546-603, cell 38): triggered daily,
processes the *previous* day's partition (D-1, ipynb:562), flattens each
update with ``parse_data`` and compacts one day of small JSON files into a
single Parquet file in the enriched zone.

Spark shape (SURVEY.md §3.2): one declarative query —
partition-pruned JSON read → parsed-rows filter → flatten select →
compaction repartition → dynamic-partition-overwrite Parquet write — that
scans the raw day once. Raw rows that hold a rescued malformed body
(``malformed_payload``, see ``streaming/ingest.py``) stay in the raw zone
for audit and replay and never reach the enriched table.
The write is the only Spark action: there is no emptiness probe before
it, and the row count comes from the footers of the files it wrote.
Parallelism, spill, and retry come from the engine; re-runs are
idempotent (ST4 upgrade over the reference's duplicate-on-rerun
behavior).
"""

from __future__ import annotations

import datetime as dt
import logging

from pyspark.sql import SparkSession, functions as F

_log = logging.getLogger(__name__)

from ..operators.flatten import flatten_updates
from ..schemas import MALFORMED_COL
from ..sources.lake import TelegramLake


def run_daily_etl(
    spark: SparkSession,
    lake: TelegramLake,
    context_date: dt.date | str | None = None,
) -> int:
    """Process one day (default: D-1 on the pipeline's UTC-3 clock, the
    reference's cadence — ipynb:562) from the raw zone into the enriched
    zone, compacted to one Parquet file. Only parsed updates are
    flattened: a raw row whose ``malformed_payload`` holds a rescued
    webhook body is left out. Returns the number of rows written.

    ``context_date`` is a date or a ``YYYY-M-D`` string; month and day
    may drop their leading zero, as in Spark's date cast. Anything else
    raises ``ValueError`` before a Spark job runs.

    When the day flattens to zero rows and a previously written
    partition exists for it, that partition is KEPT (a transient empty
    or failed upstream export must not silently destroy a good load)
    and the divergence is logged loudly. The returned count is 0."""
    if context_date is None:
        day = lake.today() - dt.timedelta(days=1)
    elif isinstance(context_date, dt.date):
        day = context_date
    else:
        # one spelling of the day for the raw filter, the partition
        # literal and the partition directory
        day = dt.datetime.strptime(context_date, "%Y-%m-%d").date()

    raw = lake.read_raw(spark, context_date=day)
    parsed = raw.filter(F.col(MALFORMED_COL).isNull())
    flat = flatten_updates(parsed).withColumn(
        "context_date", F.lit(str(day)).cast("date")
    )
    partition_dir = f"{lake.enriched_path}/context_date={day}"
    # ONE full-scan action: the write. Dynamic partition overwrite replaces
    # a partition only when the input has rows for it, and then always
    # with newly named files; so an unchanged file set means the input was
    # empty. The count is read from the footers of the written files —
    # metadata only, no Spark job. (A pyspark Observation would count
    # during the scan, but on Spark 4.1 it leaves a non-serializable
    # ObservationManager on the session, which fails every later task
    # whose closure captures the session, e.g. Spark ML model transforms.)
    before = _parquet_files(spark, partition_dir)
    lake.write_enriched(flat)
    after = _parquet_files(spark, partition_dir)
    if after != before:
        return _row_count(spark, after)
    # Empty input: the previous run's files, if any, survive. Report
    # honestly 0 and say loudly that the partition no longer mirrors
    # the input.
    existing = _row_count(spark, after)
    if existing > 0:
        _log.warning(
            "run_daily_etl: empty input for %s but the target "
            "partition holds %d rows from a previous load; keeping it",
            day, existing,
        )
    return 0


def _parquet_files(spark: SparkSession, directory: str) -> list[str]:
    """The Parquet files of one day-partition, listed through the Hadoop
    FS API so it works on any Hadoop filesystem (HDFS/S3A/local)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(directory)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    return sorted(
        status.getPath().toString()
        for status in fs.listStatus(path)
        if status.getPath().getName().endswith(".parquet")
    )


def _row_count(spark: SparkSession, files: list[str]) -> int:
    """Rows in ``files`` from their parquet footers: no data pages are
    touched."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for f in files:
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(f), conf
        )
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
        try:
            total += reader.getRecordCount()
        finally:
            reader.close()
    return total
