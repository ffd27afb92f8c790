"""Flatten/normalize operator — the reference's core record-level logic.

Reimplements ``parse_data`` (reference ipynb:623-649, cell 40) Spark-first:
the nested Telegram ``update`` document becomes the fixed 8-column enriched
schema (SURVEY.md §1.3) via a single ``select`` of nested-field expressions
— whole-stage-codegen'd, no Python in the hot path.

Semantics reproduced exactly:
- whitelist projection: ``from.{id,is_bot,first_name}`` → ``user_*``
  (ipynb:632-635), ``chat.{id,type}`` → ``chat_*`` (ipynb:637-640),
  passthrough ``message_id``, ``date``, ``text`` (ipynb:642-643); every
  other field in the update is dropped.
- null default: messages without ``text`` (stickers, photos) still produce
  a row with ``text IS NULL`` (ipynb:645-646).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# (enriched column, nested source field) in DDL order (ipynb:732-740)
_FLATTEN_MAPPING = [
    ("message_id", "message.message_id"),
    ("user_id", "message.from.id"),
    ("user_is_bot", "message.from.is_bot"),
    ("user_first_name", "message.from.first_name"),
    ("chat_id", "message.chat.id"),
    ("chat_type", "message.chat.type"),
    ("text", "message.text"),
    ("date", "message.date"),
]


def flatten_updates(updates: DataFrame) -> DataFrame:
    """Nested Telegram updates → flat enriched rows (native expressions)."""
    return updates.select(
        *[F.col(src).alias(dst) for dst, src in _FLATTEN_MAPPING]
    )

