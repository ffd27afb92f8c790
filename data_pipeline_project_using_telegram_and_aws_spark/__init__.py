"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference Telegram→AWS data-lake pipeline
(luizkrawiec/Data-Pipeline-Project-using-Telegram-and-AWS), re-expressed
Spark-first.

Layout
------
- ``session``    : SparkSession factory (local tuning, AQE, UTC).
- ``schemas``    : raw Telegram update schema + enriched table schema
  (reference ipynb:732-750) and testdata schemas.
- ``sources``    : raw JSON zone, enriched Parquet zone, catalog layer.
- ``operators``  : flatten/normalize, compaction, dedup, similarity,
  text analysis, multimodal plumbing.
- ``functions``  : dialect shims (Presto→Spark datetime semantics),
  text/vector helpers.
- ``plans``      : named analytical queries (reference five + breadth
  surface over the star schema) with DuckDB oracle SQL.
- ``streaming``  : Structured Streaming ingestion + daily compaction job.

Modules outside the product surface — not reachable by import from the
driver contract (``__spark_entry__.py``), ``bench.py``, ``perfbench/``
or the Telegram pipeline layers — are listed for deletion in
``tests/test_product_surface.py``; a new one fails that test.
"""

__version__ = "0.1.0"
