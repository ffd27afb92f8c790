"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``data_pipeline_project_using_telegram_and_aws_spark``
(see SURVEY.md §2 for the operator inventory each query covers).

Python workers must be able to import that package. Three rows run
Python UDFs — ``mm2_decode_features``, ``wc1_warc_html_extract`` and
``dx1_document_extract`` — and their workers import the package by
name. Run the driver from the repository root, or put the root on
``PYTHONPATH``; from any other working directory those rows fail in
the workers with ``ModuleNotFoundError``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_pipeline_project_using_telegram_and_aws_spark.plans import all_oracles, all_queries
from data_pipeline_project_using_telegram_and_aws_spark.plans.reference_queries import (
    q1_daily_message_count,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY §2 A1: daily message count) at sf0.001."""
    return q1_daily_message_count(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL for each ``queries()`` entry."""
    return all_oracles()
