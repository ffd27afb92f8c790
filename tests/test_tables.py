"""``sources.tables.read_parquet``: its process-lifetime schema caches
must not outlive the table version they were inferred from."""

from __future__ import annotations

from data_pipeline_project_using_telegram_and_aws_spark.sources.tables import (
    read_parquet,
)


def test_read_parquet_sees_a_rewritten_table(spark, tmp_path):
    """Rewriting a parquet path with an added column invalidates the
    cached schema: the next read returns the new column too."""
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1,)], ["a"]).write.parquet(path)
    assert read_parquet(spark, path).columns == ["a"]

    spark.createDataFrame([(1, 2)], ["a", "b"]).write.mode(
        "overwrite"
    ).parquet(path)
    df = read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(1, 2)]


def test_read_parquet_reuses_the_schema_of_an_unchanged_table(
    spark, spark_jobs, tmp_path
):
    """A second read of the same files takes the cached schema and runs
    no schema-inference job."""
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "x")], ["a", "s"]).write.parquet(path)
    first = read_parquet(spark, path)
    with spark_jobs() as jobs:
        again = read_parquet(spark, path)
    assert jobs == []
    assert again.schema == first.schema
