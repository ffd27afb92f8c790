"""Streaming ANN index maintenance: keep a persisted IVF assignments
table current as embedding batches arrive, with REPLAY-IDEMPOTENT
writes.

``similarity.append_ivf_assignments`` is the batch primitive, but a
plain bucketed append is NOT safe under foreachBatch's at-least-once
delivery: a re-delivered micro-batch would append its rows twice.
Encoding the batch id in the partition layout and dynamic-overwriting
it makes the writes replay-safe, and it works for the index because
Spark tables can be partitioned AND bucketed at once:

    PARTITIONED BY (ingest_batch)  ← replay unit: re-delivery rewrites
                                      exactly its own partition
    CLUSTERED BY (centroid_id)     ← probe-join co-location, preserved
                                      by insertInto (verified: written
                                      files carry bucket-id suffixes)

Query side: ``similarity.ivf_topk_from_table`` works unchanged — the
extra ``ingest_batch`` column rides along and the centroid_id bucket
spec still serves the shuffle-free probe join. The per-batch
one-file-per-bucket guarantee degrades with batch count exactly like
any append layout; compact on the usual schedule with
``sources.bucketing.compact_bucketed_table`` — which collapses the
batch partitions into a plain column, so compaction is ONLY safe in a
maintenance window: stream stopped, checkpoint committed past every
compacted batch (a batch id that could still re-deliver would no
longer find its partition to overwrite and would duplicate on append;
the composition and its constraint are pinned in
tests/test_index_maintenance.py).

Centroids are FROZEN at stream start (broadcast into every batch's
assignment) — the streaming question is only "where do new vectors
go"; retraining is a rebuild decision made offline from
``similarity.ivf_residual_stats`` drift, never inside the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.vectors import norm
from ..operators.similarity import ivf_assign


def upsert_index_batch(
    batch: DataFrame,
    batch_id: int,
    table: str,
    centroids: DataFrame,
    buckets: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Assign one micro-batch against the frozen centroids and land it
    under its own ``ingest_batch`` partition (dynamic overwrite ⇒
    replaying the same batch id rewrites, never duplicates). Creates
    the partitioned+bucketed table on first batch."""
    spark = batch.sparkSession
    assigned = (
        ivf_assign(batch, centroids, 1, id_col, vec_col)
        .join(
            batch.select(id_col, vec_col, norm(F.col(vec_col)).alias("__vn")),
            id_col,
        )
        .select(
            "centroid_id",
            F.col(id_col),
            F.col(vec_col),
            "__vn",
            F.lit(int(batch_id)).alias("ingest_batch"),
        )
    )
    if not spark.catalog.tableExists(table):
        (
            assigned.repartition(buckets, F.col("centroid_id"))
            .write.mode("overwrite")
            .partitionBy("ingest_batch")
            .bucketBy(buckets, "centroid_id")
            .sortBy("centroid_id")
            .format("parquet")
            .saveAsTable(table)
        )
        return
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # insertInto is position-based: follow the catalog's column order
    (
        assigned.select(*spark.table(table).columns)
        .repartition(buckets, F.col("centroid_id"))
        .write.mode("overwrite")
        .insertInto(table, overwrite=True)
    )


def start_index_maintenance_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    table: str,
    centroids: DataFrame,
    checkpoint_dir: str,
    buckets: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
) -> StreamingQuery:
    """File-source stream of embedding rows → replay-idempotent IVF
    index upserts. ``available_now=True`` drains what's present and
    stops (the testable trigger); False runs continuously. The
    checkpoint carries source progress, so a restart resumes at the
    next unprocessed file and a crashed batch re-delivers under its
    original batch id — which the partition layout absorbs."""
    frozen = centroids.localCheckpoint(eager=True)
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def sink(batch: DataFrame, batch_id: int) -> None:
        upsert_index_batch(
            batch, batch_id, table, frozen, buckets, id_col, vec_col
        )

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
