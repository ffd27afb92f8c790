"""Flatten/normalize operator (SURVEY §2.2 P2/P3) — unit + property tests.

Edge cases mirror FIXTURES.md schema R: missing ``text`` (→ NULL row, not a
dropped row), missing ``from``/``chat`` structs, extra fields dropped by
the whitelist, and exact rename semantics.
"""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings, strategies as st

from data_pipeline_project_using_telegram_and_aws_spark.operators.flatten import (
    flatten_updates,
)
from data_pipeline_project_using_telegram_and_aws_spark.schemas import (
    ENRICHED_COLUMNS,
    RAW_UPDATE_SCHEMA,
)


def _updates_df(spark, docs):
    return spark.read.schema(RAW_UPDATE_SCHEMA).json(
        spark.sparkContext.parallelize([json.dumps(d) for d in docs], 2)
    )


FULL_UPDATE = {
    "update_id": 1,
    "message": {
        "message_id": 10,
        "from": {"id": 100, "is_bot": False, "first_name": "Ada",
                 "last_name": "L", "username": "ada"},  # extras → dropped
        "chat": {"id": -500, "type": "group", "title": "eng"},  # extra → dropped
        "date": 1704103200,  # 2024-01-01 10:00:00 UTC
        "text": "hello world",
    },
}

STICKER_UPDATE = {
    "update_id": 2,
    "message": {
        "message_id": 11,
        "from": {"id": 101, "is_bot": True, "first_name": "Bot"},
        "chat": {"id": -500, "type": "group"},
        "date": 1704103260,
        # no "text": must still yield a row with text NULL (ipynb:645-646)
        "sticker": {"emoji": "x"},
    },
}


def test_flatten_schema_and_values(spark):
    out = flatten_updates(_updates_df(spark, [FULL_UPDATE, STICKER_UPDATE]))
    assert out.columns == ENRICHED_COLUMNS
    rows = {r.message_id: r for r in out.collect()}
    assert len(rows) == 2
    full = rows[10]
    assert (full.user_id, full.user_is_bot, full.user_first_name) == (100, False, "Ada")
    assert (full.chat_id, full.chat_type) == (-500, "group")
    assert full.text == "hello world" and full.date == 1704103200
    sticker = rows[11]
    assert sticker.text is None  # null default, P3
    assert sticker.user_is_bot is True


def test_flatten_missing_structs(spark):
    bare = {"update_id": 3, "message": {"message_id": 12, "date": 1}}
    row = flatten_updates(_updates_df(spark, [bare])).collect()[0]
    assert row.message_id == 12
    assert row.user_id is None and row.chat_id is None and row.text is None


_messages = st.fixed_dictionaries(
    {
        "message_id": st.integers(min_value=1, max_value=2**40),
        "from": st.fixed_dictionaries(
            {
                "id": st.integers(min_value=1, max_value=2**40),
                "is_bot": st.booleans(),
                "first_name": st.text(
                    alphabet=st.characters(codec="ascii", categories=["L", "N"]),
                    max_size=12,
                ),
            }
        ),
        "chat": st.fixed_dictionaries(
            {"id": st.integers(min_value=-(2**40), max_value=-1),
             "type": st.sampled_from(["group", "private", "supergroup"])}
        ),
        "date": st.integers(min_value=0, max_value=2**31),
    },
    optional={"text": st.text(max_size=40)},
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        _messages,
        min_size=1,
        max_size=8,
        # the test keys rows by message_id; duplicate ids would collapse
        # the lookup dict and pair rows with the wrong source message
        unique_by=lambda m: m["message_id"],
    )
)
def test_flatten_properties(spark, msgs):
    docs = [{"update_id": i, "message": m} for i, m in enumerate(msgs)]
    out = flatten_updates(_updates_df(spark, docs))
    assert out.columns == ENRICHED_COLUMNS  # schema is fixed
    rows = out.collect()
    assert len(rows) == len(msgs)  # row count preserved
    by_id = {r.message_id: r for r in rows}
    for m in msgs:
        r = by_id[m["message_id"]]
        # text null iff absent
        assert (r.text is None) == ("text" not in m) or m.get("text") is None
        assert r.user_id == m["from"]["id"]
