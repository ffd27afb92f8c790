"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion JVM-side via the noop sink (no
collect-to-Python overhead in the measurement; plan + shuffle + agg are all
exercised).

Methodology (r13 protocol — min over interleaved sweeps): each row
gets ONE untimed warmup execution of ITS OWN plan in the first sweep
(codegen + parquet footers for that plan, not a suite-global warmup);
then the whole suite is swept THREE times, each sweep timing ONE
GC-nudged run per row, and each row records its MINIMUM across
sweeps. Measured rationale (BENCH_NOTES r13, three protocol variants
measured on identical code): (a) the r12→r13 adjudications showed
best-of-2-after-suite-global-warmup rides the JIT ramp (isolated rows
read monotone-decreasing across 4 executions: tx7 2.19→1.73→1.65) and
byte-identical code swung ±70% round-over-round, costing rounds 9-12
an opening adjudication tax each — the per-row warmup fixes that; (b)
this host's dominant noise is AMBIENT DRIFT in multi-minute windows
(a converged-best variant requiring two CONFIRMING runs within 5%
back-to-back measured WORSE invocation-to-invocation spread than
single runs, because back-to-back confirmations share the ambient
window — agreement between correlated samples confirms a slow window,
not a floor). Sweeps minutes apart are the decorrelated samples; the
min keeps the cleanest window each row saw. Protocol changed at r13;
BENCH_NOTES.md carries the same-code spread measurements of all three
variants and the old-vs-new continuity reading.

r14 reporting additions (protocol and per-row totals UNCHANGED): the
output JSON additionally carries per-row "build"/"exec" dicts — the
split of each row's min-achieving timed run into DataFrame-construction
time (Catalyst analysis + py4j + lazy-checkpoint planning) and noop-sink
execution time, build + exec == the row's total — and
"index_build_sec.ivf_lloyd_training", one cold (cache-bypassed) IVF
Lloyd training run timed OUTSIDE the sweeps: ss5/sd1 reuse centroids
trained once per corpus via build_ivf_index's session cache (index
build and query are different lifecycles), and this field reports that
excluded cost explicitly instead of leaving it invisible.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_pipeline_project_using_telegram_and_aws_spark.plans import all_queries
from data_pipeline_project_using_telegram_and_aws_spark.session import get_spark

# Headline set: grows as operators land. Keep it representative — reference
# five + the heaviest breadth/extension queries — not exhaustive.
HEADLINE = [
    # reference five (telegram analog on events)
    "q0_full_scan_limit",
    "q1_daily_message_count",
    "q2_user_daily_count",
    "q3_user_daily_avg_len",
    "q4_hour_weekday_weeknum",
    # heaviest breadth queries (scan-agg, joins, windows)
    "q6_tpch_q1_pricing_summary",
    "q8_join_multiway_revenue_by_nation",
    "q11_outer_join_null_handling",
    "q19_window_running_sum",
    "q23_correlated_subquery",
    "q33_asof_join_last_order",
    "q34_range_join_bins",
    "q35_time_bucket_rollup",
    # extensions (dedup / similarity / text / curation)
    "dd2_ngram_jaccard_topk",
    "dd4_minhash_lsh_candidates",
    "ss1_bruteforce_topk",
    "ss3_lsh_bucketed_neardup",
    "ss5_ivf_topk",
    "tx2_quality_scores",
    "tx7_repetition_scores",
    "cu1_corpus_curation",
    "pk1_sequence_packing",
    "dc1_decontamination",
    # round-4 registry additions (new rows — compare per-query vs r3)
    "pk2_materialized_sequences",
    "vc1_vocab_encode",
    "sp1_split_mixture",
    # round-5 registry additions (new rows — compare per-query vs r4)
    "lm1_unigram_quality",
    "rt1_bm25_topk",
    "cc1_neardup_components",
    "sd1_semantic_dedup",
    "lm2_bigram_quality",
    "dd7_span_dedup",
    # round-13 registry addition (new row — compare per-query vs r12)
    "sx1_exact_substring_spans",
    # round-14: ss2 re-registered per the r13 verdict (gate item 1); its
    # salted blocked-pair operator path is r13-optimized, so track it as
    # a headline row from now on (new row — no prior bench series)
    "ss2_label_blocked_neardup",
]


N_SWEEPS = 3


def headline_names(qs: dict) -> list[str]:
    """``HEADLINE``, checked against the registry ``qs``: a name that is
    not registered raises rather than silently shrinking the bench."""
    unknown = [n for n in HEADLINE if n not in qs]
    if unknown:
        raise KeyError(f"bench HEADLINE names unregistered queries: {unknown}")
    return list(HEADLINE)


def _timed_split(spark, build_fn, run_fn, warmup: bool):
    """One GC-nudged timed run of build + noop write (plus an untimed
    warmup of THIS plan when asked — first sweep only), returning the
    total and its BUILD share — the time to construct the DataFrame
    (Catalyst analysis, py4j, any lazy-localCheckpoint planning) before
    the noop action starts. One run per sweep on purpose: back-to-back
    repeats share the ambient window (module docstring), so extra
    same-window runs buy correlation, not information — the
    decorrelated repeats are the sweeps. total = build + exec exactly;
    the protocol and the per-row totals are the r13 ones."""
    if warmup:
        run_fn(build_fn())
    spark._jvm.System.gc()
    t0 = time.time()
    df = build_fn()
    t1 = time.time()
    run_fn(df)
    t2 = time.time()
    return t2 - t0, t1 - t0


def _merge_min_split(
    timings: dict, builds: dict, execs: dict, name: str,
    total: float, build: float,
) -> None:
    """Row minimum over sweeps on the TOTAL (the r13 statistic,
    unchanged); build/exec report the split of the min-achieving
    sweep so build + exec == the row's reported total."""
    if total < timings.get(name, float("inf")):
        timings[name] = round(total, 3)
        builds[name] = round(build, 3)
        execs[name] = round(total - build, 3)


def _bucketed_join_pair(spark, sf_dir, timings: dict,
                        builds: dict, execs: dict,
                        first_sweep: bool = True) -> None:
    """Bucketed-vs-shuffled fact-to-fact join (lineitem ⋈ orders on
    orderkey, count + exact revenue sum): the write-once-shuffle-never
    trade sources/bucketing.py exists for, tracked round-over-round as
    two headline rows. The bucketed write is index-build lifecycle and
    is NOT timed (at 100 TB it is amortized over every later join on the
    key); broadcast is disabled for both variants so the comparison is
    SortMergeJoin-with-Exchange vs SortMergeJoin-without."""
    from pyspark.sql import functions as F

    from data_pipeline_project_using_telegram_and_aws_spark.functions.exact import exact_sum
    from data_pipeline_project_using_telegram_and_aws_spark.sources.bucketing import (
        cojoined,
        write_bucketed,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    if first_sweep:
        # stale catalog entries / orphaned warehouse dirs from a
        # previous process are handled inside write_bucketed
        # (overwrite mode); sweep 2 reuses sweep 1's tables
        write_bucketed(li, "bench_li_b", 32, "l_orderkey")
        write_bucketed(o, "bench_o_b", 32, "o_orderkey")

    def shuffled():
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .agg(
                F.count(F.lit(1)).alias("n"),
                exact_sum("l_extendedprice").alias("rev"),
            )
        )

    def bucketed():
        return (
            cojoined(spark, "bench_li_b", "bench_o_b", "l_orderkey", "o_orderkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                exact_sum("l_extendedprice").alias("rev"),
            )
        )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, fn in (
            ("xj1_fact_join_shuffled", shuffled),
            ("xj2_fact_join_bucketed", bucketed),
        ):
            total, build = _timed_split(
                spark,
                fn,
                lambda df: df.write.format("noop")
                .mode("overwrite").save(),
                warmup=first_sweep,
            )
            _merge_min_split(
                timings, builds, execs, name, total, build
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    # pk2 left the driver registry in round 11 (funded dx1's gate row)
    # but stays a BENCH row so the headline series remains comparable
    # round-over-round — same rows, same total semantics.
    from data_pipeline_project_using_telegram_and_aws_spark.plans.pipeline_queries import (
        pk2_materialized_sequences,
    )

    qs.setdefault("pk2_materialized_sequences", pk2_materialized_sequences)
    names = headline_names(qs)

    timings: dict[str, float] = {}
    builds: dict[str, float] = {}
    execs: dict[str, float] = {}
    for sweep in range(N_SWEEPS):
        for name in names:
            # guide §1.5: label jobs so a UI-enabled run maps stages to
            # rows (set outside the timed region; no effect on timing)
            spark.sparkContext.setJobDescription(
                f"bench sweep {sweep}: {name}"
            )
            total, build = _timed_split(
                spark,
                lambda: qs[name](spark, sf_dir),
                lambda df: df.write.format("noop")
                .mode("overwrite").save(),
                warmup=(sweep == 0),
            )
            _merge_min_split(timings, builds, execs, name, total, build)
        spark.sparkContext.setJobDescription(None)
        _bucketed_join_pair(
            spark, sf_dir, timings, builds, execs,
            first_sweep=(sweep == 0),
        )

    # Index-build lifecycle disclosure (r14, VERDICT r13 watch item):
    # ss5/sd1 train their shared IVF centroids once per corpus via
    # build_ivf_index's session cache, so the timed rows above never pay
    # Lloyd training (by design — index build and query are different
    # lifecycles). Report that excluded cost explicitly: ONE un-cached
    # training run, timed outside the sweeps, reported outside the
    # headline total. Additions-only: the queries/value contract is
    # untouched.
    from data_pipeline_project_using_telegram_and_aws_spark.operators.similarity import (
        build_ivf_index,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.plans.similarity_queries import (
        SS5_ITERS,
        SS5_K,
        SS5_SAMPLE,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.sources.tables import load_table

    spark.sparkContext.setJobDescription("bench: ivf index training (untimed lifecycle)")
    emb = load_table(spark, sf_dir, "embeddings")
    t0 = time.time()
    build_ivf_index(
        emb, k=SS5_K, iters=SS5_ITERS, sample_n=SS5_SAMPLE, cache_key=None
    ).write.format("noop").mode("overwrite").save()
    ivf_train_sec = round(time.time() - t0, 3)
    spark.sparkContext.setJobDescription(None)

    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "protocol": "r13-min-of-3-interleaved-sweeps(warmup1)",
                # r14 reporting additions (protocol unchanged): per-row
                # (build, exec) split of the min-achieving sweep, and
                # the IVF training cost the session index cache excludes
                # from ss5/sd1's timed rows (one cold training run).
                "build": builds,
                "exec": execs,
                "index_build_sec": {"ivf_lloyd_training": ivf_train_sec},
            }
        )
    )


if __name__ == "__main__":
    main()
