"""Schemas for the two lake zones plus the driver testdata tables.

Raw zone: the Telegram ``update`` document exactly as the webhook delivers
it (reference ipynb:322, cell 21 reads ``event["body"]`` and persists it
verbatim, ipynb:328-330). We declare the envelope as a nested ``StructType``
— permissive parsing keeps unknown extra fields out of the result (the
reference's ``parse_data`` whitelist, ipynb:632-643, drops them too). A
body that does not parse is kept verbatim in the ``malformed_payload``
column of its raw row (``RAW_ZONE_SCHEMA``).

Enriched zone: the fixed 8-column relational schema declared in the Athena
DDL (ipynb:732-750) — see SURVEY.md §1.3 for the column-by-column mapping.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- raw zone: one Telegram update per document (FIXTURES.md schema R) ----

RAW_FROM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("is_bot", T.BooleanType()),
        T.StructField("first_name", T.StringType()),
    ]
)

RAW_CHAT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("type", T.StringType()),
    ]
)

RAW_MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("message_id", T.LongType()),
        T.StructField("from", RAW_FROM_SCHEMA),
        T.StructField("chat", RAW_CHAT_SCHEMA),
        T.StructField("date", T.LongType()),  # unix epoch seconds, event time
        T.StructField("text", T.StringType()),  # absent for stickers → null
    ]
)

RAW_UPDATE_SCHEMA = T.StructType(
    [
        T.StructField("update_id", T.LongType()),
        T.StructField("message", RAW_MESSAGE_SCHEMA),
    ]
)

# A raw-zone row: the update, plus the verbatim body of a webhook line
# that did not parse (PERMISSIVE parsing rescues it into this column; it
# is NULL on every parsed update). The column must not be named
# ``_corrupt_record``: a declared field with Spark's default
# corrupt-record name reads back as NULL from the files the stream wrote.
MALFORMED_COL = "malformed_payload"

RAW_ZONE_SCHEMA = T.StructType(
    [*RAW_UPDATE_SCHEMA.fields, T.StructField(MALFORMED_COL, T.StringType())]
)

# --- enriched zone: Athena DDL schema (ipynb:732-742) ---------------------

ENRICHED_COLUMNS = [
    "message_id",
    "user_id",
    "user_is_bot",
    "user_first_name",
    "chat_id",
    "chat_type",
    "text",
    "date",
]

ENRICHED_SCHEMA = T.StructType(
    [
        T.StructField("message_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("user_is_bot", T.BooleanType()),
        T.StructField("user_first_name", T.StringType()),
        T.StructField("chat_id", T.LongType()),
        T.StructField("chat_type", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("date", T.LongType()),
        # partition column (ipynb:741-742) appended by partitionBy on write
        T.StructField("context_date", T.DateType()),
    ]
)

# --- driver testdata (TESTDATA.md) ----------------------------------------

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
