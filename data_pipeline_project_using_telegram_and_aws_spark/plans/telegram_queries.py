"""The reference's five analytical queries over the real ``telegram``
table, as SQL text in the reference's own (Presto) dialect, executed via
the dialect translator — the direct-parity path (SURVEY.md §2.4).

Query texts follow the reference notebook: cell 50 (ipynb:770), cell 55
(ipynb:817-824), cell 58 (ipynb:851-863), cell 61 (ipynb:890-902), cell 64
(ipynb:929-958). These run against an enriched ``telegram`` table
registered by :meth:`TelegramLake.register_table`.

Plan shape. Four of the queries end in a root ``ORDER BY`` over a grouped
result of a few hundred rows, which Spark plans as a range exchange: a
RangePartitioner sampling job that recomputes the final aggregate, then a
second shuffle — 4 jobs per grouped query, each paying Spark's fixed
per-job cost. Presto, the engine under Athena, gathers such a sort on one
node instead. :func:`run_telegram_query` does the same: the outermost
``SELECT`` of an ordered query gets a ``/*+ COALESCE(1) */`` hint below
its ``ORDER BY``. The scan and the partial aggregate stay parallel, the
final aggregate and the sort run in one task, and a grouped query runs 2
jobs. That one task receives the partial aggregates, so its input grows
with the number of groups, not with the size of ``telegram``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.dialect import ordered_outer_select, presto_to_spark_sql

TELEGRAM_SQL = {
    # cell 50: smoke query
    "select_limit": "SELECT * FROM telegram LIMIT 10",
    # cell 55: messages per day
    "daily_count": """
        SELECT context_date,
               count(1) AS message_amount
        FROM telegram
        GROUP BY context_date
        ORDER BY context_date DESC
    """,
    # cell 58: messages per user per day
    "user_daily_count": """
        SELECT user_id,
               user_first_name,
               context_date,
               count(1) AS message_amount
        FROM telegram
        GROUP BY user_id, user_first_name, context_date
        ORDER BY context_date DESC
    """,
    # cell 61: average message length per user per day
    "user_daily_avg_len": """
        SELECT user_id,
               user_first_name,
               context_date,
               CAST(AVG(length(text)) AS INT) AS average_message_length
        FROM telegram
        GROUP BY user_id, user_first_name, context_date
        ORDER BY context_date DESC
    """,
    # cell 64: messages per hour / weekday / week number
    "hour_weekday_weeknum": """
        WITH
        parsed_date_cte AS (
            SELECT *,
                   CAST(date_format(from_unixtime(`date`),
                                    '%Y-%m-%d %H:%i:%s') AS timestamp)
                       AS parsed_date
            FROM telegram
        ),
        hour_week_cte AS (
            SELECT *,
                   EXTRACT(hour FROM parsed_date) AS parsed_date_hour,
                   EXTRACT(dow  FROM parsed_date) AS parsed_date_weekday,
                   EXTRACT(week FROM parsed_date) AS parsed_date_weeknum
            FROM parsed_date_cte
        )
        SELECT parsed_date_hour,
               parsed_date_weekday,
               parsed_date_weeknum,
               count(1) AS message_amount
        FROM hour_week_cte
        GROUP BY parsed_date_hour, parsed_date_weekday, parsed_date_weeknum
        ORDER BY parsed_date_weeknum, parsed_date_weekday
    """,
}


def run_telegram_query(spark: SparkSession, name: str) -> DataFrame:
    """Run one of the reference queries (after dialect translation) against
    the registered ``telegram`` table, sorting an ordered answer in one
    task (module docstring)."""
    sql = presto_to_spark_sql(TELEGRAM_SQL[name])
    at = ordered_outer_select(sql)
    if at is not None:
        sql = f"{sql[:at]} /*+ COALESCE(1) */{sql[at:]}"
    return spark.sql(sql)
