"""Streaming composition: the ingest chain run as one flow — contract
gate (good/quarantine split) feeding the sketch ledger over the good
zone — pinning the contracts BETWEEN streaming stages: conservation
through the gate, ledger totals counting exactly the admitted rows,
and both checkpoints resuming independently."""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from data_pipeline_project_using_telegram_and_aws_spark.streaming.contract_gate import (
    start_contract_gate_stream,
)
from data_pipeline_project_using_telegram_and_aws_spark.streaming.sketch_ledger import (
    ledger_distinct_so_far,
    start_sketch_ledger_stream,
)

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
    ]
)
RULES = [
    {"rule": "not_null", "col": "doc_id"},
    {"rule": "accepted_values", "col": "lang", "values": ["en", "de"]},
]


def test_gate_feeds_ledger(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    good = str(tmp_path / "good")
    quar = str(tmp_path / "quar")
    ledger = str(tmp_path / "ledger")

    rows = (
        [(i, "en") for i in range(80)]
        + [(i, "de") for i in range(50, 120)]   # 30 ids overlap with en
        + [(None, "en"), (900, "xx")]           # violators
    )
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
        str(src / "f0.parquet")
    )
    q = start_contract_gate_stream(
        spark, str(src) + "/*", SCHEMA, RULES, good, quar,
        str(tmp_path / "gate_ckpt"),
    )
    q.awaitTermination(120)

    q2 = start_sketch_ledger_stream(
        spark, good + "/*", SCHEMA, ledger, "doc_id", by=["lang"],
        checkpoint_dir=str(tmp_path / "ledger_ckpt"),
    )
    q2.awaitTermination(120)

    # conservation through the gate
    n_good = spark.read.parquet(good).count()
    n_quar = spark.read.parquet(quar).count()
    assert n_good + n_quar == len(rows)
    assert n_quar == 2

    # the ledger counts exactly the admitted rows, per lang
    totals = {
        r["lang"]: (r["distinct_est"], r["n_rows"])
        for r in ledger_distinct_so_far(spark, ledger, by=["lang"]).collect()
    }
    assert totals["en"][1] == 80 and totals["de"][1] == 70
    assert abs(totals["en"][0] - 80) <= 4
    assert abs(totals["de"][0] - 70) <= 4

    # a second landing resumes BOTH checkpoints without reprocessing
    spark.createDataFrame(
        [(1000, "en"), (None, "de")], SCHEMA
    ).coalesce(1).write.parquet(str(src / "f1.parquet"))
    start_contract_gate_stream(
        spark, str(src) + "/*", SCHEMA, RULES, good, quar,
        str(tmp_path / "gate_ckpt"),
    ).awaitTermination(120)
    start_sketch_ledger_stream(
        spark, good + "/*", SCHEMA, ledger, "doc_id", by=["lang"],
        checkpoint_dir=str(tmp_path / "ledger_ckpt"),
    ).awaitTermination(120)
    totals2 = {
        r["lang"]: r["n_rows"]
        for r in ledger_distinct_so_far(spark, ledger, by=["lang"]).collect()
    }
    assert totals2["en"] == 81 and totals2["de"] == 70
    assert spark.read.parquet(quar).count() == 3


def test_full_front_door_gate_then_dedup(spark, tmp_path):
    """The complete streaming front door: contract gate (violators →
    quarantine) feeding exact-dedup ingest (duplicates → reject zone,
    fresh texts → good zone + growing index). Conservation holds across
    BOTH stages: every input row lands in exactly one of quarantine /
    reject / good."""
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.dedup_ingest import (
        start_dedup_ingest_stream,
    )

    table = "front_door_idx"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    src = tmp_path / "src"
    src.mkdir()
    gated = str(tmp_path / "gated")
    quar = str(tmp_path / "quar")
    good = str(tmp_path / "good")
    reject = str(tmp_path / "reject")

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    rows = [
        (1, "en", "alpha"),
        (2, "de", "beta"),
        (3, "en", "alpha"),     # duplicate text → reject zone
        (None, "en", "gamma"),  # contract violation → quarantine
        (5, "xx", "delta"),     # contract violation → quarantine
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(src / "b0.parquet")
    )
    start_contract_gate_stream(
        spark, str(src) + "/*", schema,
        [{"rule": "not_null", "col": "doc_id"},
         {"rule": "accepted_values", "col": "lang", "values": ["en", "de"]}],
        gated, quar, str(tmp_path / "ck1"),
    ).awaitTermination(120)
    start_dedup_ingest_stream(
        spark, gated + "/*", schema, table, good, reject,
        str(tmp_path / "ck2"), buckets=4,
    ).awaitTermination(120)

    good_ids = {r["doc_id"] for r in spark.read.parquet(good).collect()}
    reject_ids = {r["doc_id"] for r in spark.read.parquet(reject).collect()}
    n_quar = spark.read.parquet(quar).count()
    assert good_ids == {1, 2}
    assert reject_ids == {3}
    assert n_quar == 2
    assert len(good_ids) + len(reject_ids) + n_quar == len(rows)
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_front_door_through_to_packed_sequences(spark, tmp_path):
    """The streaming pipeline end-to-end to the TRAINING ARTIFACT:
    contract gate → exact-dedup ingest → streaming packing. Only
    admitted documents' tokens reach the packed sequences; quarantined
    and rejected text never does; token mass is conserved from the
    good zone into the sequences."""
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.dedup_ingest import (
        start_dedup_ingest_stream,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.pack_stream import (
        read_packed_dataset,
        start_packing_stream,
    )

    table = "front_door_pack_idx"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    src = tmp_path / "src"
    src.mkdir()
    gated = str(tmp_path / "gated")
    quar = str(tmp_path / "quar")
    good = str(tmp_path / "good")
    reject = str(tmp_path / "reject")
    packed = str(tmp_path / "packed")

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    rows = [
        (1, "en", "clean words one"),
        (2, "de", "zwei saubere worte"),
        (3, "en", "clean words one"),        # dup → rejected
        (None, "en", "poisoned text"),       # violation → quarantined
        (5, "en", "more clean content here"),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(src / "b0.parquet")
    )
    start_contract_gate_stream(
        spark, str(src) + "/*", schema,
        [{"rule": "not_null", "col": "doc_id"}],
        gated, quar, str(tmp_path / "ck1"),
    ).awaitTermination(120)
    start_dedup_ingest_stream(
        spark, gated + "/*", schema, table, good, reject,
        str(tmp_path / "ck2"), buckets=4,
    ).awaitTermination(120)
    good_schema = T.StructType(
        schema.fields + [T.StructField("ingest_batch", T.LongType())]
    )
    start_packing_stream(
        spark, good + "/*", good_schema, packed, budget=8, n_shards=2,
        checkpoint_dir=str(tmp_path / "ck3"),
    ).awaitTermination(120)

    seqs = read_packed_dataset(spark, packed).collect()
    all_text = " ".join(r["seq_text"] for r in seqs)
    assert "poisoned" not in all_text
    assert all_text.count("clean words one") == 1  # the dup packed once
    good_tokens = (
        spark.read.parquet(good)
        .select(F.size(F.split("text", " ")).alias("n"))
        .agg(F.sum("n")).collect()[0][0]
    )
    assert sum(r["seq_tokens"] for r in seqs) == good_tokens
    assert {r["doc_id"] for r in spark.read.parquet(good).collect()} == {
        1, 2, 5,
    }
    spark.sql(f"DROP TABLE IF EXISTS {table}")
