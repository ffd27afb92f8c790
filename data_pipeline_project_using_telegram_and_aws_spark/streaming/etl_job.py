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
    files_per_partition: int = 1,
    overwrite_on_empty: bool = False,
) -> int:
    """Process one day (default: D-1 on the pipeline's UTC-3 clock, the
    reference's cadence — ipynb:562) from the raw zone into the enriched
    zone. Only parsed updates are flattened: a raw row whose
    ``malformed_payload`` holds a rescued webhook body is left out.
    Returns the number of rows written.

    ``overwrite_on_empty``: when the incoming batch flattens to zero
    rows AND a previously-written partition exists for the day, the
    default is to KEEP the existing data (a transient empty/failed
    upstream export must not silently destroy a good load) and log the
    divergence loudly; pass True to make the empty re-run mirror the
    input by deleting the target partition (the strict-idempotency
    mode). Either way the returned count is honestly 0."""
    if context_date is None:
        context_date = lake.today() - dt.timedelta(days=1)

    raw = lake.read_raw(spark, context_date=context_date)
    parsed = raw.filter(F.col(MALFORMED_COL).isNull())
    flat = flatten_updates(parsed).withColumn(
        "context_date", F.lit(str(context_date)).cast("date")
    )
    partition_dir = f"{lake.enriched_path}/context_date={context_date}"
    # ONE full-scan action: the write. Dynamic partition overwrite replaces
    # a partition only when the input has rows for it, and then always
    # with newly named files; so an unchanged file set means the input was
    # empty. The count is read from the footers of the written files —
    # metadata only, no Spark job. (A pyspark Observation would count
    # during the scan, but on Spark 4.1 it leaves a non-serializable
    # ObservationManager on the session, which fails every later task
    # whose closure captures the session, e.g. Spark ML model transforms.)
    before = _parquet_files(spark, partition_dir)
    lake.write_enriched(flat, files_per_partition=files_per_partition)
    after = _parquet_files(spark, partition_dir)
    if after != before:
        return _row_count(spark, after)
    # Empty input: the previous run's files, if any, survive. Report
    # honestly 0; whether the stale partition is also deleted is the
    # caller's call (overwrite_on_empty) — never a silent default.
    existing = _row_count(spark, after)
    if existing > 0:
        if overwrite_on_empty:
            _log.warning(
                "run_daily_etl: empty input for %s; deleting the "
                "existing %d-row partition (overwrite_on_empty=True)",
                context_date, existing,
            )
            _delete_path(spark, partition_dir)
        else:
            _log.warning(
                "run_daily_etl: empty input for %s but the target "
                "partition holds %d rows from a previous load; "
                "keeping it (pass overwrite_on_empty=True to delete)",
                context_date, existing,
            )
    return 0


def _delete_path(spark: SparkSession, directory: str) -> None:
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(directory)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)


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
