"""Named analytical queries.

Each plan module exposes ``QUERIES: dict[str, Callable[[SparkSession, str],
DataFrame]]`` and ``ORACLE: dict[str, str]`` (DuckDB-compatible ANSI SQL on
the same parquet tables). ``all_queries()`` / ``all_oracles()`` merge every
module for ``__spark_entry__``.
"""

from __future__ import annotations

from collections.abc import Callable
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession


def _plan_modules() -> tuple[ModuleType, ...]:
    from . import (
        crawl_queries,
        curation_queries,
        dedup_queries,
        document_queries,
        multimodal_queries,
        pipeline_queries,
        reference_queries,
        similarity_queries,
        starschema_queries,
        temporal_queries,
        text_queries,
    )

    # Registry order = driver check order (the driver verifies the first 50
    # entries): reference surface and the north-star extension families
    # first, the relational-breadth block last.
    return (reference_queries, temporal_queries, dedup_queries,
            curation_queries, pipeline_queries, similarity_queries,
            text_queries, multimodal_queries, crawl_queries,
            document_queries, starschema_queries)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _plan_modules():
        merged.update(mod.QUERIES)
    return merged


def all_oracles() -> dict[str, str]:
    merged: dict[str, str] = {}
    for mod in _plan_modules():
        merged.update(mod.ORACLE)
    return merged
