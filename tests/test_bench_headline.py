"""``bench.py`` runs every ``HEADLINE`` row or fails: a name that is not
registered must raise instead of silently shrinking the bench."""

from __future__ import annotations

import pytest

import bench
from data_pipeline_project_using_telegram_and_aws_spark.plans import all_queries
from data_pipeline_project_using_telegram_and_aws_spark.plans.pipeline_queries import (
    pk2_materialized_sequences,
)


def _bench_registry():
    qs = all_queries()
    qs.setdefault("pk2_materialized_sequences", pk2_materialized_sequences)
    return qs


def test_every_headline_row_is_registered():
    assert bench.headline_names(_bench_registry()) == bench.HEADLINE


def test_unregistered_headline_row_raises(monkeypatch):
    monkeypatch.setattr(bench, "HEADLINE", bench.HEADLINE + ["tx6_document_frequency"])
    with pytest.raises(KeyError, match="tx6_document_frequency"):
        bench.headline_names(_bench_registry())
