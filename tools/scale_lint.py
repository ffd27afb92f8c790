"""Semantic scale lint across the whole query registry.

PLAN_AUDIT.md counts plan nodes; this tool JUDGES them. For every
registered query it builds the executed plan and flags the three
patterns that are fine at bench scale but lethal at 100 TB unless the
operand is provably bounded:

- ``cartesian``: a ``CartesianProduct`` node — a non-broadcast cross
  join; corpus × anything is never acceptable.
- ``global_window`` / ``global_ordered_window``: a window with NO
  partition spec — every row lands on ONE task (the ordered variant
  additionally funnels them through one sort: the global-rank shape).
  Legitimate only when the window input is provably bounded
  (vocab-sized statistics, one-row constants), never on a corpus-sized
  frame.
- ``extra_global_sort``: more than one global (range-partitioned)
  sort in a plan. Every registered query carries exactly one
  presentation ``ORDER BY`` (the driver's comparator is
  order-insensitive; a scale consumer drops it) — a SECOND global sort
  means an interior total ordering crept into the algorithm itself.

Each finding must either appear in ``ALLOWLIST`` below with a reason
that argues the operand is bounded, or the lint fails. Run:

    python tools/scale_lint.py [sf_dir] [--write]

``--write`` emits SCALE_LINT.md (the findings + their justifications)
so a new unbounded pattern shows up as a diff AND a nonzero exit.
"""

from __future__ import annotations

import os
import re
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from data_pipeline_project_using_telegram_and_aws_spark.session import get_spark

# finding -> reason the operand is bounded. Keys are (query, kind).
ALLOWLIST: dict[tuple[str, str], str] = {
    # vocab-sized statistic windows: input is the distinct-token table
    # (~1e5-1e6 rows at any corpus size), the documented broadcastable
    # shape of the LM/vocab modules — not a corpus-sized frame.
    ("vc1_vocab_encode", "global_ordered_window"):
        "the df-rank window (row_number over df DESC) runs over the "
        "vocab table — distinct tokens, bounded independently of corpus "
        "rows; vocabulary.py documents exactly this bound",
    ("lm1_unigram_quality", "global_window"):
        "total/V attachment windows run over the unigram count table "
        "(vocab-sized)",
    ("lm2_bigram_quality", "global_window"):
        "unigram-side total/V windows (vocab-sized); the bigram table "
        "joins by key, no global window touches it",
    # q19's running sum is partitioned by user_id; its presentation sort
    # plus the windows' local sorts are counted correctly — nothing to
    # allow. (Kept as a comment so reviewers know it was checked.)
}


def _extension_plans(spark, sf_dir):
    """Plan builders for the headline PYTEST-ONLY operators — the
    extension surface the registry cap keeps off the driver. Same lint
    rules; a representative invocation per operator over the testdata
    tables, so an unbounded pattern sneaking into this surface shows
    up as a diff + nonzero exit exactly like a registered query."""
    from pyspark.sql import functions as F

    from data_pipeline_project_using_telegram_and_aws_spark.operators.dialogs import (
        assemble_dialogs,
        render_dialogs_with_spans,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.embedding_drift import (
        embedding_drift_report,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.evaluation import (
        agreement_report,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.funnel import funnel
    from data_pipeline_project_using_telegram_and_aws_spark.operators.decontamination import (
        scrub_contaminated_spans,
        semantic_contamination_report,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.packing import (
        affected_shards,
        pack_sequences,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.privacy import (
        enforce_k_anonymity,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.sft import (
        explode_loss_segments,
        reassemble_sft_records,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.dsir import (
        dsir_importance,
        dsir_log_ratios,
        dsir_select,
        hashed_ngram_profile,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.hybrid import (
        mmr_rerank,
        rrf_fuse,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    etypes = [
        r["event_type"]
        for r in events.select("event_type").distinct().limit(3).collect()
    ]
    dialogs = assemble_dialogs(
        events, gap_seconds=1800, turn_cols=["event_type", "value"]
    )
    rendered = render_dialogs_with_spans(
        dialogs, text_col="value", loss_roles=etypes[:1]
    )
    segs = explode_loss_segments(rendered, loss_roles=etypes[:1])
    seg_tokens = segs.withColumn(
        "token_ids",
        F.filter(F.split("seg_text", r"\s+"), lambda p: p != ""),
    )
    return {
        "ext_funnel": funnel(events, etypes),
        "ext_dialog_assembly": dialogs,
        "ext_sft_records": reassemble_sft_records(seg_tokens),
        "ext_embedding_drift": embedding_drift_report(
            emb.filter(F.col("vec_id") % 2 == 0),
            emb.filter(F.col("vec_id") % 2 == 1),
            by=["label"],
        ),
        "ext_k_anonymity": enforce_k_anonymity(
            docs, ["lang", "source"], k=5
        ),
        "ext_agreement": agreement_report(
            docs, "lang", "source", by="source"
        ),
        # corpus side streams past the broadcast eval suite — the
        # BroadcastNestedLoopJoin here is the designed shape (eval is
        # MB-scale by nature), NOT an unbounded cartesian
        "ext_semantic_decontamination": semantic_contamination_report(
            emb.filter(F.col("vec_id") % 97 != 0),
            emb.filter(F.col("vec_id") % 97 == 0),
            tau=0.95,
        ),
        "ext_affected_shards": affected_shards(
            pack_sequences(docs, budget=512, id_col="doc_id"),
            docs.select("doc_id").limit(3),
        ),
        "ext_scrub_spans": scrub_contaminated_spans(
            docs, docs.limit(5), n=8
        ),
        # media stages are the package's documented Arrow paths: the
        # decode IS the work, over the slim (id, bytes) projection —
        # the lint checks no cartesian/global-window crept around them
        "ext_image_quality": _media_quality_plan(spark),
        "ext_video_metadata": _video_metadata_plan(spark),
        "ext_domain_report": _domain_report_plan(spark, docs),
        "ext_html_extract": _html_extract_plan(spark, docs),
        "ext_feed_entries": _feed_entries_plan(spark, docs),
        **_hybrid_and_dsir_plans(
            F,
            docs,
            emb,
            rrf_fuse,
            mmr_rerank,
            hashed_ngram_profile,
            dsir_log_ratios,
            dsir_importance,
            dsir_select,
        ),
    }


def _html_extract_plan(spark, docs):
    """HTML -> main text + metadata over synthetic markup wrapped
    around the documents table (operators/html.py): must stay a pure
    JVM projection — no exchange, no Python stage."""
    from pyspark.sql import functions as F

    from data_pipeline_project_using_telegram_and_aws_spark.operators.html import (
        extract_main_text,
        html_metadata,
        html_to_text,
    )

    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html lang='en'><head><title>t</title></head><body><p>"),
            F.col("text"),
            F.lit("</p><nav><a href='/'>home</a></nav></body></html>"),
        ).alias("html"),
    )
    return extract_main_text(pages).select(
        "doc_id",
        "main_text",
        html_to_text("html").alias("text"),
        html_metadata("html").alias("meta"),
    )


def _feed_entries_plan(spark, docs):
    """RSS wrapped around the documents table → one row per entry
    (operators/feeds.py): must stay a pure JVM regexp projection —
    explode over regexp_extract_all, no exchange, no Python stage."""
    from pyspark.sql import functions as F

    from data_pipeline_project_using_telegram_and_aws_spark.operators.feeds import (
        feed_entries,
    )

    feeds_df = docs.select(
        "doc_id",
        F.concat(
            F.lit('<rss version="2.0"><channel><title>c</title>'
                  "<link>http://x.example</link><item><title>t</title>"
                  "<link>http://x.example/d/"),
            F.col("doc_id"),
            F.lit("</link><description>"),
            F.col("text"),
            F.lit("</description></item></channel></rss>"),
        ).alias("body"),
    )
    return feed_entries(feeds_df)


def _domain_report_plan(spark, docs):
    from pyspark.sql import functions as F

    from data_pipeline_project_using_telegram_and_aws_spark.operators.urls import (
        domain_report,
    )

    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com/d/"),
            F.col("doc_id"),
        ).alias("url"),
        "text",
    )
    return domain_report(urls)


def _media_quality_plan(spark):
    import numpy as np

    from data_pipeline_project_using_telegram_and_aws_spark.operators.media_codecs import (
        encode_ppm,
        image_quality_stats,
    )

    rng = np.random.default_rng(1)
    rows = [
        (i, bytearray(encode_ppm(
            rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
        )))
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "media_id long, media binary")
    return image_quality_stats(df)


def _video_metadata_plan(spark):
    from data_pipeline_project_using_telegram_and_aws_spark.operators.media_codecs import (
        extract_video_metadata,
    )

    # minimal valid bmff bytes: ftyp + empty moov
    ftyp = (16).to_bytes(4, "big") + b"ftypisom" + b"\x00" * 4
    moov = (8).to_bytes(4, "big") + b"moov"
    df = spark.createDataFrame(
        [(1, bytearray(ftyp + moov))], "media_id long, media binary"
    )
    return extract_video_metadata(df)


def _hybrid_and_dsir_plans(
    F,
    docs,
    emb,
    rrf_fuse,
    mmr_rerank,
    hashed_ngram_profile,
    dsir_log_ratios,
    dsir_importance,
    dsir_select,
):
    from pyspark.sql import Window

    # two per-language ranked lists (the plan shape retrieval heads
    # emit) fused by RRF; MMR over per-label embedding candidates
    w1 = Window.partitionBy("lang").orderBy(
        F.desc(F.length("text")), F.asc("doc_id")
    )
    w2 = Window.partitionBy("lang").orderBy(F.asc("doc_id"))
    lists = [
        docs.select(
            F.col("lang").alias("query_id"),
            "doc_id",
            F.row_number().over(w).alias("rank"),
        ).filter(F.col("rank") <= 20)
        for w in (w1, w2)
    ]
    from data_pipeline_project_using_telegram_and_aws_spark.operators.evaluation import (
        distinct_ngram_report,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.retrieval_metrics import (
        retrieval_metrics,
    )

    cands = emb.select(
        F.col("label").alias("query_id"),
        F.col("vec_id").alias("doc_id"),
        (F.col("vec_id") % 100 / 100.0).alias("score"),
        "embedding",
    )
    qrels = docs.select(
        F.col("lang").alias("query_id"), "doc_id"
    ).limit(200)
    ratios = dsir_log_ratios(
        hashed_ngram_profile(docs.limit(50)), hashed_ngram_profile(docs)
    )
    scored = dsir_importance(docs, ratios)
    return {
        "ext_rrf_fusion": rrf_fuse(lists, top=10),
        "ext_mmr_rerank": mmr_rerank(cands, select_k=5),
        "ext_dsir_importance": scored,
        "ext_dsir_select": dsir_select(scored, n=100),
        "ext_retrieval_metrics": retrieval_metrics(
            lists[0], qrels, k=10
        ),
        "ext_distinct_ngrams": distinct_ngram_report(
            docs, ns=(1, 2), by=["lang"]
        ),
        "ext_ks_drift": _ks_plan(F, docs),
    }


def _ks_plan(F, docs):
    from data_pipeline_project_using_telegram_and_aws_spark.operators.drift import (
        ks_from_quantile_ledgers,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.quantile_sketch import (
        quantile_ledger,
    )

    halves = [
        quantile_ledger(
            docs.filter(F.col("doc_id") % 2 == i).withColumn(
                "len", F.length("text").cast("double")
            ),
            "len",
            "doc_id",
            by=["lang"],
        )
        for i in (0, 1)
    ]
    return ks_from_quantile_ledgers(halves[0], halves[1], by=["lang"])


def lint_plan(plan: str) -> list[str]:
    finds = []
    if "CartesianProduct" in plan:
        finds.append("cartesian")
    # a window spec's partition columns print bare; order columns print
    # with a direction. So: spec opening straight at the frame = no
    # partition and no order; spec whose FIRST argument carries
    # ASC/DESC = ordered but UNPARTITIONED — the global-rank shape that
    # funnels every row through one sorting task.
    for mspec in re.finditer(r"windowspecdefinition\(", plan):
        head = plan[mspec.end(): mspec.end() + 200]
        if head.startswith("specifiedwindowframe"):
            if "global_window" not in finds:
                finds.append("global_window")
        else:
            first_arg = re.split(r"[,()]", head, 1)[0]
            if (" ASC" in first_arg or " DESC" in first_arg) and (
                "global_ordered_window" not in finds
            ):
                finds.append("global_ordered_window")
    n_global_sorts = len(re.findall(r"\bSort \[[^\]]*\], true,", plan))
    if n_global_sorts > 1:
        finds.append("extra_global_sort")
    return finds


def main() -> int:
    if {"-h", "--help"} & set(sys.argv[1:]):
        print(__doc__)
        return 0
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    write = "--write" in sys.argv

    import __spark_entry__ as entry

    spark = get_spark("scale-lint")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")

    rows, violations = [], []
    plans = {
        name: fn(spark, sf_dir) for name, fn in entry.queries().items()
    }
    plans.update(_extension_plans(spark, sf_dir))
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        for kind in lint_plan(plan):
            reason = ALLOWLIST.get((name, kind))
            rows.append((name, kind, reason or "UNJUSTIFIED"))
            if reason is None:
                violations.append((name, kind))

    lines = [
        "# Scale lint",
        "",
        f"sf_dir: `{sf_dir}` — flags cartesian products, unpartitioned "
        "windows, and interior global sorts across all "
        f"{len(entry.queries())} registered queries PLUS "
        f"{len(plans) - len(entry.queries())} extension-surface plans "
        "(ext_*: funnel, dialog/SFT assembly, embedding drift, "
        "k-anonymity, agreement, semantic "
        "decontamination, erasure blast radius, RRF fusion, MMR "
        "rerank, DSIR scoring+selection, feed entries); every finding "
        "needs a bounded-operand justification in tools/scale_lint.py.",
        "",
        "| query | finding | justification |",
        "|---|---|---|",
    ]
    for name, kind, reason in sorted(rows):
        lines.append(f"| {name} | {kind} | {reason} |")
    if not rows:
        lines.append("| _none_ | — | — |")
    report = "\n".join(lines) + "\n"
    if write:
        out = os.path.join(REPO_ROOT, "SCALE_LINT.md")
        with open(out, "w") as f:
            f.write(report)
        print(f"wrote {out}")
    else:
        print(report)

    if violations:
        print(f"FAIL: {len(violations)} unjustified findings: {violations}")
        return 1
    print(f"ok: {len(rows)} findings, all justified")
    return 0


if __name__ == "__main__":
    sys.exit(main())
