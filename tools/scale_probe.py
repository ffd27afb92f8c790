"""Scale probe for BOTH banded-LSH families (embedding hyperplane bits
and text MinHash salts).

Synthesizes deterministic corpora at growing sizes and measures the
banded candidate-pair count and wall time, so the quadratic tail a fixed
geometry would develop is visible *before* a 100× scale-up. With
geometry fixed, in-bucket occupancy grows with N and candidate pairs go
quadratic; the scaling dial is ROWS PER BAND, grown logarithmically with
N by the helpers in ``functions/lsh_tuning.py`` (hyperplane: one bit per
corpus doubling for O(1) bucket occupancy; MinHash: salts per band so a
background-similarity pair's band-collision probability stays ~1/N).
Band count only multiplies candidates (it is the recall knob). The probe
prints the fixed and the log-scaled geometry side by side for each
family.

Usage: python tools/scale_probe.py [sizes...]   (default 2000 8000 32000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_pipeline_project_using_telegram_and_aws_spark.functions.lsh_tuning import (
    hyperplane_rows_per_band,
    minhash_rows_per_band,
)
from data_pipeline_project_using_telegram_and_aws_spark.operators.dedup import (
    minhash_lsh_candidates,
)
from data_pipeline_project_using_telegram_and_aws_spark.operators.similarity import (
    lsh_banded_neardup_pairs,
)
from data_pipeline_project_using_telegram_and_aws_spark.session import get_spark


def synth_embeddings(spark, n: int, dims: int = 64):
    """Deterministic pseudo-random unit-cube vectors, fully engine-side
    (no driver loop): element d of vector i derives from xxhash64(i, d)."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dims - 1}), d -> "
            f"cast(pmod(xxhash64(id * {dims} + d), 2000) / 1000.0 - 1.0 "
            f"as float))"
        ).alias("embedding"),
    )


def synth_documents(
    spark, n: int, n_tokens: int = 24, templates: int = 64, noise_pct: int = 25
):
    """Deterministic boilerplate corpus, engine-side: doc d instantiates
    template ``d % templates`` and rewrites ~noise_pct% of positions with
    a doc-unique token. Same-template pairs share most 3-gram shingles
    (background Jaccard ~0.1-0.2 — the boilerplate regime that melts a
    frozen MinHash band geometry: within-template candidate pairs grow
    ~N²/templates), cross-template pairs share none."""
    tok = (
        f"transform(sequence(0, {n_tokens - 1}), i -> "
        f"CASE WHEN pmod(xxhash64(id * {n_tokens} + i, 7), 100) < {noise_pct} "
        f"THEN concat('u', id, '_', i) "
        f"ELSE concat('t', pmod(id, {templates}), '_', i) END)"
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.expr(f"array_join({tok}, ' ')").alias("text"),
    )


def probe(spark, n: int, n_planes: int, rows_per_band: int = 8) -> dict:
    emb = synth_embeddings(spark, n).localCheckpoint(eager=True)
    t0 = time.time()
    pairs = lsh_banded_neardup_pairs(
        emb, n_planes=n_planes, rows_per_band=rows_per_band, top=None
    ).count()
    return {
        "n": n,
        "n_planes": n_planes,
        "bands": n_planes // rows_per_band,
        "candidate_pairs": pairs,
        "sec": round(time.time() - t0, 2),
    }


def probe_minhash(spark, n: int, rows_per_band: int, n_salts: int = 16) -> dict:
    docs = synth_documents(spark, n).localCheckpoint(eager=True)
    t0 = time.time()
    pairs = minhash_lsh_candidates(
        docs, n=3, n_salts=n_salts, rows_per_band=rows_per_band
    ).count()
    return {
        "n": n,
        "rows_per_band": rows_per_band,
        "bands": n_salts // rows_per_band,
        "candidate_pairs": pairs,
        "sec": round(time.time() - t0, 2),
    }


def probe_ivf(spark, n: int, k: int, nprobe: int = 2, n_queries: int = 16) -> dict:
    """IVF cost at centroid count ``k``, build and query timed
    SEPARATELY — the lifecycles the rule trades off (conflating them
    makes the O(N·k) corpus assignment swamp the query curve, the same
    mistake ss5's round-1 bench made):

    - build_sec: train (bounded sample) + assign every corpus vector to
      its list — grows ~linearly in k, paid once per index build;
    - query_sec: probe ``nprobe`` centroids per query and exact-rerank
      those lists — per-query work ``k + nprobe·N/k``, the expression
      ``scale_rules.ivf_n_centroids`` minimizes.
    """
    from data_pipeline_project_using_telegram_and_aws_spark.functions.scale_rules import (
        ivf_sample_n,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.functions.vectors import (
        cosine_with_norms,
        norm,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.similarity import (
        build_ivf_index,
        ivf_assign,
    )
    from pyspark.sql import Window

    emb = synth_embeddings(spark, n).localCheckpoint(eager=True)
    t0 = time.time()
    cents = build_ivf_index(
        emb, k=k, iters=1, sample_n=ivf_sample_n(k), cache_key=None
    )
    lists = ivf_assign(emb, cents, 1).localCheckpoint(eager=True)
    build_sec = round(time.time() - t0, 2)

    queries = emb.filter(F.col("vec_id") < n_queries)
    t0 = time.time()
    probes = ivf_assign(queries, cents, nprobe, out_id="query_id")
    cand = (
        probes.join(lists, "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    qv = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__qvec"),
            norm(F.col("embedding")).alias("__qn"),
        )
    )
    scored = (
        cand.join(
            emb.select("vec_id", "embedding", norm(F.col("embedding")).alias("__vn")),
            "vec_id",
        )
        .join(qv, "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_with_norms(
                    F.col("embedding"), F.col("__qvec"),
                    F.col("__vn"), F.col("__qn"),
                ),
                4,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    rows = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 5)
        .count()
    )
    return {
        "n": n,
        "k": k,
        "nprobe": nprobe,
        "avg_list_len": round(n / k, 1),
        "result_rows": rows,
        "build_sec": build_sec,
        "query_sec": round(time.time() - t0, 2),
    }


def probe_packing(spark, n: int, n_shards: int, budget: int = 256) -> dict:
    """One packing pass at ``n_shards``: wall time of slot assignment +
    stats (the per-shard window is the cost center; 1 shard = a single
    global window task) and the corpus fill ratio (tail waste is ~one
    half-full sequence per shard)."""
    from data_pipeline_project_using_telegram_and_aws_spark.operators.packing import (
        pack_sequences,
        packing_stats,
    )

    docs = synth_documents(spark, n).localCheckpoint(eager=True)
    t0 = time.time()
    packed = pack_sequences(docs, budget=budget, n_shards=n_shards)
    agg = packing_stats(packed, budget).agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.sum("seq_tokens").alias("tokens"),
    ).collect()[0]
    sec = round(time.time() - t0, 2)
    return {
        "n_docs": n,
        "n_shards": n_shards,
        "n_seqs": agg.n_seqs,
        "fill_ratio": round(agg.tokens / (agg.n_seqs * budget), 4),
        "sec": sec,
    }


def probe_curation(spark, n: int, rows_per_band: int) -> dict:
    """cu1's five-stage curation pipeline end-to-end at corpus size
    ``n``: wall time to materialize the drop ledger with the registered
    parameters, plus the near-dup candidate count at the given band
    geometry. Corpus model: true-dup mass LINEAR in n (templates ∝ n,
    ~8 docs each at 15% noise → same-template est_jaccard ~0.4, above
    the 0.3 drop threshold; cross-template pairs share nothing) — the
    realistic "10× data has 10× the duplicates" scale-up, so any
    super-linear growth in candidates or time is the geometry's fault,
    not the data's."""
    from data_pipeline_project_using_telegram_and_aws_spark.operators.curation import (
        curate_corpus,
    )

    docs = (
        synth_documents(
            spark, n, templates=max(8, n // 8), noise_pct=15
        )
        .select(
            "doc_id",
            "text",
            F.expr(
                "element_at(array('en','de','es','fr','zh'), "
                "cast(pmod(doc_id, 5) as int) + 1)"
            ).alias("lang"),
        )
        .localCheckpoint(eager=True)
    )
    t0 = time.time()
    n_cand = minhash_lsh_candidates(
        docs, n=3, rows_per_band=rows_per_band
    ).count()
    cand_sec = round(time.time() - t0, 2)
    t0 = time.time()
    _kept, ledger = curate_corpus(
        docs,
        jaccard_threshold=0.3,
        min_tokens=15,
        max_tokens=100_000,
        max_punct_ratio=0.3,
        keep_langs=["de", "en", "es", "fr"],
        near_dup_rows_per_band=rows_per_band,
    )
    n_dropped = ledger.count()
    return {
        "n": n,
        "rows_per_band": rows_per_band,
        "candidates": n_cand,
        "cand_sec": cand_sec,
        "dropped": n_dropped,
        "curation_sec": round(time.time() - t0, 2),
    }


def probe_bm25(spark, n: int) -> dict:
    """rt1's shape at corpus size n: template vocab grows with n so
    document-frequency statistics stay realistic; 8 fixed queries over
    the always-present low-template tokens."""
    from data_pipeline_project_using_telegram_and_aws_spark.operators.retrieval import (
        bm25_scores,
    )

    docs = synth_documents(
        spark, n, templates=max(8, n // 8), noise_pct=15
    ).localCheckpoint(eager=True)
    qdf = spark.createDataFrame(
        [(q, f"t{q}_1 t{q}_2 t{(q + 1) % 8}_3") for q in range(8)],
        ["query_id", "query_text"],
    )
    t0 = time.time()
    rows = bm25_scores(docs, qdf, top=10).count()
    return {"n": n, "result_rows": rows, "sec": round(time.time() - t0, 2)}


def probe_components(spark, n: int) -> dict:
    """cc1's shape: linear-true-dup corpus (templates ∝ n, ~8 docs
    each at 10% noise → est_jaccard ~0.57 ≥ the 0.5 edge threshold),
    LSH candidate edges → hash-min closure. Components ≈ templates, so
    edge and component counts must scale ~linearly."""
    from data_pipeline_project_using_telegram_and_aws_spark.operators.components import (
        connected_components,
    )

    docs = synth_documents(
        spark, n, templates=max(8, n // 8), noise_pct=10
    ).localCheckpoint(eager=True)
    t0 = time.time()
    edges = minhash_lsh_candidates(docs, n=3, rows_per_band=2).filter(
        F.col("est_jaccard") >= 0.5
    ).localCheckpoint(eager=True)
    n_edges = edges.count()
    labels = connected_components(edges, "doc_a", "doc_b")
    n_comp = labels.select("component").distinct().count()
    return {
        "n": n,
        "edges": n_edges,
        "components": n_comp,
        "sec": round(time.time() - t0, 2),
    }


def probe_semdedup(
    spark, n: int, k: int, coarse_probes: int | None = 0,
    hier_train: bool = False,
) -> dict:
    """sd1's shape at centroid count k: intra-cluster pair scans cost
    ~n²/k, so FIXED k goes quadratic while the ivf_n_centroids rule
    (k ~ √n) holds the per-cluster operand steady — the same
    fixed-vs-scaled story as the LSH geometry probes.
    ``coarse_probes`` switches assignment to the two-level
    `hierarchical_ivf_assign` path (r13): flat assignment costs n·k,
    which at the k ~ √n balance point makes the WHOLE pipeline
    Θ(n^1.5); two-level assignment (~n·√k·(1+probes)) unlocks the
    k ~ n^(2/3) rule where assignment and pairs balance at
    Θ(n^(4/3)). ``coarse_probes`` semantics follow semantic_dedup's
    r14 contract: 0 forces flat (the probe's reference arm — None
    would SCALE-DISPATCH since r14), >0 forces two-level."""
    from data_pipeline_project_using_telegram_and_aws_spark.functions.scale_rules import (
        ivf_sample_n,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.semdedup import (
        semantic_dedup,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.similarity import (
        build_ivf_index,
        train_centroids_hierarchical,
    )

    emb = synth_embeddings(spark, n).localCheckpoint(eager=True)
    t0 = time.time()
    if hier_train:
        cents = train_centroids_hierarchical(
            emb, k=k, iters=2, sample_n=ivf_sample_n(k)
        )
    else:
        cents = build_ivf_index(
            emb, k=k, iters=2, sample_n=ivf_sample_n(k), cache_key=None
        )
    train_sec = round(time.time() - t0, 2)
    t0 = time.time()
    rows = semantic_dedup(
        emb, centroids=cents, tau=0.4, coarse_probes=coarse_probes
    ).count()
    return {
        "n": n,
        "k": k,
        "coarse_probes": coarse_probes,
        "result_rows": rows,
        "train_sec": train_sec,
        "sec": round(time.time() - t0, 2),
    }


def probe_dot_shapes(spark, n_pairs: int, dims: int = 64) -> dict:
    """r14 (VERDICT r13 item 4): the interpreted HOF dot-product fold vs
    the codegen explode-matmul shape, isolated on a synthetic PAIR frame
    so block machinery (joins, windows, guards) doesn't confound the
    per-pair arithmetic. ``n_pairs`` models a block's quadratic pair
    volume (a production max-block of 10⁴ rows ≈ 5·10⁷ pairs).

    - ``fold``: functions.vectors.cosine_with_norms — zip_with +
      aggregate, Catalyst's interpreted lambda path, zero extra rows.
    - ``matmul``: posexplode one side, element_at the other, groupBy the
      pair id with a sum — every operator whole-stage-codegen'd, but the
      frame inflates ×dims through a keyed aggregation (partial agg
      collapses it map-side; the shuffle carries one row per pair).
    - ``arrow`` (r14, guide §4.2): a vectorized pandas UDF — the two
      float arrays cross the JVM→Python boundary once per pair through
      Arrow batches, numpy does the row-block dot products. Summation is
      numpy pairwise instead of the fold's sequential order (differs in
      ULPs; every arm rounds to 4 dp with Spark's half-up ``F.round``,
      so a disagreement is an arithmetic gap, never a rounding-mode
      one — same class of gap as the DuckDB-oracle-vs-Spark arithmetic
      the registry already tolerates).

    Values: all arms compute the same rounded cosines; the probe asserts
    agreement on a sample."""
    from pyspark.sql import functions as F

    from data_pipeline_project_using_telegram_and_aws_spark.functions.vectors import (
        cosine_with_norms,
        norm,
    )

    pairs = (
        spark.range(n_pairs)
        .select(
            F.col("id").alias("pair_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(dims)),
                lambda d: (
                    F.pmod(F.xxhash64(F.col("id") * 2 + d), F.lit(1000))
                    .cast("double") / 500.0 - 1.0
                ).cast("float"),
            ).alias("va"),
            F.transform(
                F.sequence(F.lit(1), F.lit(dims)),
                lambda d: (
                    F.pmod(F.xxhash64(F.col("id") * 2 + 1 + d), F.lit(1000))
                    .cast("double") / 500.0 - 1.0
                ).cast("float"),
            ).alias("vb"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "pair_id")
        .localCheckpoint(eager=True)
    )
    withn = pairs.select(
        "pair_id", "va", "vb",
        norm(F.col("va")).alias("na"), norm(F.col("vb")).alias("nb"),
    )

    def fold_df():
        return withn.select(
            "pair_id",
            F.round(
                cosine_with_norms(
                    F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                ), 4,
            ).alias("cos_sim"),
        )

    def matmul_df():
        el = withn.select(
            "pair_id", "na", "nb",
            F.posexplode("va").alias("d", "ea"), "vb",
        ).select(
            "pair_id", "na", "nb",
            (
                F.col("ea").cast("double")
                * F.element_at("vb", F.col("d") + 1).cast("double")
            ).alias("prod"),
        )
        return el.groupBy("pair_id").agg(
            F.round(
                F.sum("prod") / (F.first("na") * F.first("nb")), 4
            ).alias("cos_sim")
        )

    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("double")
    def _arrow_cos(va, vb, na, nb):
        import numpy as np
        import pandas as pd

        A = np.vstack(va.to_numpy()).astype("float64")
        B = np.vstack(vb.to_numpy()).astype("float64")
        d = (A * B).sum(axis=1)
        return pd.Series(d / (na.to_numpy() * nb.to_numpy()))

    def arrow_df():
        return withn.select(
            "pair_id",
            F.round(
                _arrow_cos(
                    F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                ), 4,
            ).alias("cos_sim"),
        )

    # value agreement on a sample (matmul's sum order differs only by
    # partial-agg grouping; a pair's dims rows stay in one partition —
    # posexplode is row-local — so the double sum order is the array
    # order on both arms; arrow's pairwise sum is checked on the same
    # rounded values)
    sample_fold = {
        r.pair_id: r.cos_sim for r in fold_df().limit(200).collect()
    }
    sample_mm = {
        r.pair_id: r.cos_sim
        for r in matmul_df().filter(
            F.col("pair_id").isin(*sample_fold)
        ).collect()
    }
    sample_ar = {
        r.pair_id: r.cos_sim
        for r in arrow_df().filter(
            F.col("pair_id").isin(*sample_fold)
        ).collect()
    }
    agree = sum(
        1 for k in sample_fold if sample_mm.get(k) == sample_fold[k]
    )
    agree_ar = sum(
        1 for k in sample_fold if sample_ar.get(k) == sample_fold[k]
    )

    def timed(df_fn) -> float:
        df_fn().write.format("noop").mode("overwrite").save()  # warm
        t0 = time.time()
        df_fn().write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 2)

    return {
        "n_pairs": n_pairs,
        "dims": dims,
        "agree_sample": f"{agree}/{len(sample_fold)}",
        "agree_arrow": f"{agree_ar}/{len(sample_fold)}",
        "fold_sec": timed(fold_df),
        "matmul_sec": timed(matmul_df),
        "arrow_sec": timed(arrow_df),
    }


def _synth_warc_dir(tmp_dir: str, n_records: int, per_file: int = 20) -> None:
    """Deterministic synthetic crawl landing dir: ``n_records`` HTTP
    responses across ``n_records/per_file`` .warc.gz files (the
    real-world parallelism unit). Pages are ~8 KB of entity-rich,
    anchor-mixed HTML so the probe exercises the three JVM stages the
    front door is made of (entity decode, tag strip, anchor-density
    gate); every 10th record is a 404 and every 13th a PNG stub so the
    zone split does real routing work."""
    import os

    from data_pipeline_project_using_telegram_and_aws_spark.sources.warc import (
        write_warc_responses,
    )

    def page(i: int) -> bytes:
        paras = []
        for p in range(8):
            words = " ".join(
                f"word{(i * 31 + p * 7 + w) % 997}" for w in range(60)
            )
            ent = (
                "&amp; &mdash; &eacute; &#8220;q&#8221; &copy;"
                if (p + i) % 2
                else "&lt;tag&gt; &nbsp; &Delta;&delta; &#x1F680;"
            )
            paras.append(f"<p>{words} {ent}</p>")
        nav = "".join(
            f'<li><a href="/s/{i}/{k}">Section {k} of page {i}</a></li>'
            for k in range(12)
        )
        return (
            f"<html lang=en><head><title>Page {i} &amp; friends</title>"
            f'<meta name=description content="synthetic page {i}">'
            f"</head><body><nav><ul>{nav}</ul></nav>"
            + "".join(paras)
            + f"<footer><a href='/about'>About</a></footer></body></html>"
        ).encode()

    rows = []
    file_no = 0
    for i in range(n_records):
        if i % 10 == 9:
            rows.append((f"http://probe/{i}", 404, "text/html",
                         b"<p>gone</p>"))
        elif i % 13 == 12:
            rows.append((f"http://probe/{i}", 200, "image/png",
                         b"\x89PNGstub" + bytes([i % 251]) * 64))
        else:
            rows.append((f"http://probe/{i}", 200,
                         "text/html; charset=utf-8", page(i)))
        if len(rows) == per_file:
            write_warc_responses(
                rows, os.path.join(tmp_dir, f"f{file_no:04d}.warc.gz")
            )
            rows, file_no = [], file_no + 1
    if rows:
        write_warc_responses(
            rows, os.path.join(tmp_dir, f"f{file_no:04d}.warc.gz")
        )


def probe_crawl(spark, n_records: int) -> dict:
    """The crawl front door at growing record counts: stage timings
    for the WARC split (the one Python stage), +html_to_text (entity
    decode dominates), +extract_main_text/metadata (anchor-density
    HOFs), and the full three-zone streaming ingest with parquet
    writes. Per-record work is row-local (no shuffle grows with n;
    the only exchange is the zone writes' partitioning), so wall time
    must scale ~linearly — the exponent this probe exists to watch."""
    import shutil
    import tempfile

    from data_pipeline_project_using_telegram_and_aws_spark.operators.html import (
        extract_main_text,
        html_metadata,
        html_to_text,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.sources.warc import read_warc
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.crawl_ingest import (
        start_crawl_ingest_stream,
    )

    root = tempfile.mkdtemp(prefix=f"crawlprobe_{n_records}_")
    landing = f"{root}/landing"
    import os

    os.makedirs(landing)
    _synth_warc_dir(landing, n_records)
    glob = landing + "/*.warc.gz"

    t0 = time.time()
    n_rows = read_warc(spark, glob).count()
    t_parse = time.time() - t0

    pages = read_warc(spark, glob).filter(
        (F.col("http_status") == 200)
        & F.col("http_content_type").startswith("text/html")
    ).select(F.col("payload").cast("string").alias("__html"))
    t0 = time.time()
    pages.select(html_to_text(F.col("__html")).alias("t")).write.format(
        "noop"
    ).mode("overwrite").save()
    t_text = time.time() - t0

    t0 = time.time()
    extract_main_text(pages, html_col="__html").select(
        "main_text", html_metadata(F.col("__html")).alias("m")
    ).write.format("noop").mode("overwrite").save()
    t_main = time.time() - t0

    t0 = time.time()
    start_crawl_ingest_stream(
        spark, landing, f"{root}/good", f"{root}/other",
        f"{root}/quar", f"{root}/ck",
    ).awaitTermination(600)
    t_full = time.time() - t0
    n_good = spark.read.parquet(f"{root}/good").count()
    shutil.rmtree(root)
    return {
        "n_records": n_records,
        "warc_rows": n_rows,
        "good_rows": n_good,
        "parse_sec": round(t_parse, 2),
        "text_sec": round(t_text, 2),
        "main_meta_sec": round(t_main, 2),
        "full_ingest_sec": round(t_full, 2),
    }


def probe_graph(spark, n_edges: int) -> dict:
    """The graph surface (links.py pagerank + components star) at
    growing edge counts: synthetic deterministic multigraph (hash-
    derived endpoints over n_edges/4 nodes — supercritical, one giant
    component plus fringe). PageRank's round count is tol-driven
    (size-independent), so wall time must scale with the per-round
    edge-linear join; star components contract in O(log n) rounds."""
    from data_pipeline_project_using_telegram_and_aws_spark.operators.components import (
        connected_components,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.links import pagerank

    n_nodes = max(8, n_edges // 4)
    edges = spark.range(n_edges).select(
        F.pmod(F.xxhash64("id"), F.lit(n_nodes)).alias("src"),
        F.pmod(F.xxhash64(F.col("id") + 1_000_003), F.lit(n_nodes)).alias(
            "dst"
        ),
    ).filter(F.col("src") != F.col("dst")).localCheckpoint(eager=True)

    t0 = time.time()
    pr = pagerank(edges, tol=1e-4, max_iters=60)
    pr.agg(F.sum("rank")).collect()
    t_pr = time.time() - t0

    t0 = time.time()
    n_comp = (
        connected_components(
            edges, "src", "dst", driver_max_edges=0, algorithm="star"
        )
        .select("component")
        .distinct()
        .count()
    )
    t_star = time.time() - t0

    from data_pipeline_project_using_telegram_and_aws_spark.operators.links import hits

    t0 = time.time()
    hits(edges, tol=1e-4, max_iters=60).agg(
        F.sum("authority")
    ).collect()
    t_hits = time.time() - t0
    return {
        "n_edges": n_edges,
        "n_nodes": n_nodes,
        "components": n_comp,
        "pagerank_sec": round(t_pr, 2),
        "star_cc_sec": round(t_star, 2),
        "hits_sec": round(t_hits, 2),
    }


def probe_graph_skewed(spark, n_edges: int) -> dict:
    """Hub-heavy power-law adversary for the per-round edge-keyed
    shuffles (the realistic web-graph shape the uniform multigraph
    probe can't exercise): destination endpoints drawn through an
    inverse-power transform of a hash-uniform u (exponent 3 — node 0
    alone receives ~10% of all edges, the top decile of nodes ~46%),
    sources uniform. PageRank's contribution groupBy(dst) sees the
    hot key through its map-side partial combine; the rank×edges
    src-keyed join and the hash-min component rounds see it raw —
    this measures whether AQE's skew handling carries the hub or a
    salted variant must gate behind scale_rules."""
    from data_pipeline_project_using_telegram_and_aws_spark.operators.components import (
        connected_components,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.links import (
        hits,
        pagerank,
    )

    n_nodes = max(8, n_edges // 4)
    u = F.pmod(F.xxhash64("id"), F.lit(1_000_000)) / 1_000_000.0
    # 15% of edges aim straight at node 0 (a SIZE-INDEPENDENT hot-hub
    # fraction — the inverse-power tail alone concentrates only
    # n^(-1/3) on the top node, which VANISHES as the graph grows),
    # the rest follow the power-law tail.
    tail_dst = F.floor(F.lit(float(n_nodes)) * F.pow(u, F.lit(3.0)))
    hub_dst = F.when(
        F.pmod(F.xxhash64(F.col("id") + 99), F.lit(100)) < 15, F.lit(0)
    ).otherwise(tail_dst).cast("long")
    src = F.pmod(F.xxhash64(F.col("id") + 13), F.lit(n_nodes))
    edges = (
        spark.range(n_edges)
        .select(src.alias("src"), hub_dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=True)
    )
    hub_share = (
        edges.groupBy("dst").count().agg(F.max("count")).collect()[0][0]
        / edges.count()
    )

    t0 = time.time()
    pagerank(edges, tol=1e-4, max_iters=60).agg(F.sum("rank")).collect()
    t_pr = time.time() - t0

    t0 = time.time()
    n_comp = (
        connected_components(
            edges, "src", "dst", driver_max_edges=0, algorithm="star"
        )
        .select("component")
        .distinct()
        .count()
    )
    t_star = time.time() - t0

    t0 = time.time()
    hits(edges, tol=1e-4, max_iters=60).agg(F.sum("authority")).collect()
    t_hits = time.time() - t0
    return {
        "n_edges": n_edges,
        "n_nodes": n_nodes,
        "hub_share": round(hub_share, 4),
        "components": n_comp,
        "pagerank_sec": round(t_pr, 2),
        "star_cc_sec": round(t_star, 2),
        "hits_sec": round(t_hits, 2),
    }


def probe_substr(spark, n_docs: int) -> dict:
    """Exact-substring dedup at growing corpus size: deterministic
    docs (~400 chars) over a small alphabet with a 25% planted shared
    paragraph, through `exact_substring_spans` (k=30) + `remove_spans`.
    Cost model says char-linear with one gram-hash shuffle — the probe
    checks the wall-time exponent stays ~1."""
    from data_pipeline_project_using_telegram_and_aws_spark.operators.substr_dedup import (
        exact_substring_spans,
        remove_spans,
    )

    shared = "the exact same paragraph planted across a quarter of the corpus to dedup " * 3
    docs = spark.range(n_docs).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.concat(
            F.sha2(F.col("id").cast("string"), 256),
            F.when(F.pmod("id", F.lit(4)) == 0, F.lit(shared)).otherwise(
                F.lit("")
            ),
            F.sha2(F.concat(F.col("id").cast("string"), F.lit("x")), 256),
            F.sha2(F.concat(F.col("id").cast("string"), F.lit("y")), 256),
        ).alias("text"),
    ).localCheckpoint(eager=True)

    t0 = time.time()
    spans = exact_substring_spans(docs, k=30)
    n_spans = spans.count()
    t_spans = time.time() - t0
    t0 = time.time()
    n_clean = remove_spans(docs, spans).filter(
        F.length("text") > 0
    ).count()
    t_remove = time.time() - t0
    return {
        "n_docs": n_docs,
        "n_spans": n_spans,
        "n_clean": n_clean,
        "spans_sec": round(t_spans, 2),
        "remove_sec": round(t_remove, 2),
    }


def probe_video(spark, n_rows: int) -> dict:
    """The video surface at growing corpus sizes: per-stage wall
    times for (a) the front door's probe-only triage (header walks,
    no pixels) and (b) real Y4M frame decode + hashing through
    `multimodal.sample_frames`. Both are single mapInPandas stages
    with zero data-dependent shuffles — per-row work is constant
    (fixed 6-frame 64x32 clips), so the exponent over n_rows is the
    thing to watch (~1.0 expected; parallelism is rows-per-batch)."""
    import numpy as np

    from data_pipeline_project_using_telegram_and_aws_spark.operators.multimodal import (
        sample_frames,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.video import (
        numpy_video_frame_sampler,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.media_ingest import (
        VIDEO_TRIAGE_DDL,
        _probe_video_or_error,
    )

    w, h, n_frames = 64, 32, 6
    head = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420jpeg\x0a".encode()

    def clip(i: int) -> bytearray:
        rng = np.random.default_rng(i)
        out = bytearray(head)
        for _ in range(n_frames):
            out += b"FRAME\x0a"
            out += rng.integers(0, 256, w * h, dtype=np.uint8).tobytes()
            out += rng.integers(
                0, 256, (w // 2) * (h // 2) * 2, dtype=np.uint8
            ).tobytes()
        return out

    df = spark.createDataFrame(
        [(i, clip(i)) for i in range(n_rows)],
        "media_id long, media binary",
    ).repartition(32).localCheckpoint(eager=True)

    def probe_stage():
        return df.mapInPandas(
            _probe_video_or_error, VIDEO_TRIAGE_DDL
        ).filter("decode_error is null").count()

    def decode_stage():
        return sample_frames(
            df, max_frames=3, frame_sampler=numpy_video_frame_sampler
        ).count()

    def timed_best2(fn) -> float:
        best = None
        for _ in range(2):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return best

    # warmup both Python-worker pools, then best-of-2 (same method as
    # the other probe families: fixed overhead out of the exponent)
    assert probe_stage() == n_rows
    assert decode_stage() == 3 * n_rows
    t_probe = timed_best2(probe_stage)
    t_decode = timed_best2(decode_stage)
    return {
        "n_rows": n_rows,
        "probe_s": round(t_probe, 3),
        "decode_sample_s": round(t_decode, 3),
    }


def probe_documents(spark, n_rows: int) -> dict:
    """The document front door at growing corpus sizes: one
    mapInPandas stage (`documents.extract_documents`) over a mixed
    PDF/DOCX/EPUB corpus with per-row content scaled to a realistic
    page (~2 KB of text per doc across pages/paragraphs/chapters).
    Per-row work is constant by construction (no data-dependent
    shuffle anywhere in the operator), so the exponent over n_rows is
    the thing to watch (~1.0 expected)."""
    import io
    import zipfile
    import zlib as _z

    from data_pipeline_project_using_telegram_and_aws_spark.operators.documents import (
        extract_documents,
    )

    words = ("coffee roast brew filter grind water press steam "
             "bean crop dry wash ferment").split()

    def para(i: int, j: int) -> str:
        return " ".join(words[(i + j + k) % len(words)]
                        for k in range(24))

    def pdf(i: int) -> bytes:
        content = " ".join(
            f"({para(i, j)}) Tj T*" for j in range(8)
        ).encode()
        body = b"BT /F1 10 Tf " + content + b" ET"
        z = _z.compress(body)
        objs = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
                b" /Resources << /Font << /F1 5 0 R >> >> >>"),
            4: (b"<< /Length " + str(len(z)).encode()
                + b" /Filter /FlateDecode >>\nstream\n" + z
                + b"\nendstream"),
            5: (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
                b" /Encoding /WinAnsiEncoding >>"),
        }
        out = bytearray(b"%PDF-1.4\n")
        offsets = {}
        for num in sorted(objs):
            offsets[num] = len(out)
            out += (str(num).encode() + b" 0 obj\n" + objs[num]
                    + b"\nendobj\n")
        xref_at = len(out)
        out += b"xref\n0 6\n0000000000 65535 f \n"
        for num in range(1, 6):
            out += f"{offsets[num]:010d} 00000 n \n".encode()
        out += (b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n"
                + str(xref_at).encode() + b"\n%%EOF\n")
        return bytes(out)

    w_ns = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"

    def docx(i: int) -> bytes:
        ps = "".join(
            f"<w:p><w:r><w:t>{para(i, j)}</w:t></w:r></w:p>"
            for j in range(8)
        )
        doc = (f'<?xml version="1.0"?><w:document xmlns:w="{w_ns}">'
               f"<w:body>{ps}</w:body></w:document>").encode()
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr("word/document.xml", doc)
        return buf.getvalue()

    def epub(i: int) -> bytes:
        chs = {
            f"OEBPS/c{j}.xhtml":
                f"<html><body><p>{para(i, j)}</p></body></html>".encode()
            for j in range(4)
        }
        manifest = "".join(
            f'<item id="c{j}" href="c{j}.xhtml" media-type="x"/>'
            for j in range(4)
        )
        spine = "".join(f'<itemref idref="c{j}"/>' for j in range(4))
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr("META-INF/container.xml",
                        '<container><rootfiles><rootfile '
                        'full-path="OEBPS/content.opf"/></rootfiles>'
                        '</container>')
            zf.writestr("OEBPS/content.opf",
                        f"<package><manifest>{manifest}</manifest>"
                        f"<spine>{spine}</spine></package>")
            for name, data in chs.items():
                zf.writestr(name, data)
        return buf.getvalue()

    def rtf(i: int) -> bytes:
        body = " \\par ".join(para(i, j) for j in range(8))
        return ("{\\rtf1\\ansi " + body + "}").encode()

    def tex(i: int) -> bytes:
        body = "\n\n".join(para(i, j) for j in range(8))
        return ("\\begin{document}\n" + body
                + "\n\\end{document}\n").encode()

    def srt(i: int) -> bytes:
        cues = "".join(
            f"{j + 1}\n00:00:{j:02d},000 --> 00:00:{j + 1:02d},000\n"
            f"{para(i, j)}\n\n" for j in range(8)
        )
        return cues.encode()

    makers = (pdf, docx, epub, rtf, tex, srt)
    df = spark.createDataFrame(
        [(i, makers[i % len(makers)](i)) for i in range(n_rows)],
        "doc_id long, doc binary",
    ).repartition(32).localCheckpoint(eager=True)

    def stage():
        from data_pipeline_project_using_telegram_and_aws_spark.operators.documents import (
            document_plain_text,
        )

        out = document_plain_text(extract_documents(df))
        return out.filter(
            "error is null and length(plain_text) > 0"
        ).count()

    assert stage() == n_rows  # warmup; every synthetic doc extracts
    best = None
    for _ in range(2):
        t0 = time.time()
        stage()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return {"n_rows": n_rows, "extract_s": round(best, 3)}


def main() -> None:
    if sys.argv[1:2] == ["--documents"]:
        sizes = [int(a) for a in sys.argv[2:]] or [1000, 3000, 10000]
        spark = get_spark("scale-probe")
        spark.sparkContext.setLogLevel("ERROR")
        for n in sizes:
            print(json.dumps(
                {"family": "documents", **probe_documents(spark, n)}
            ))
        return
    if sys.argv[1:2] == ["--video"]:
        sizes = [int(a) for a in sys.argv[2:]] or [500, 1500, 5000]
        spark = get_spark("scale-probe")
        spark.sparkContext.setLogLevel("ERROR")
        for n in sizes:
            print(json.dumps({"family": "video", **probe_video(spark, n)}))
        return
    if sys.argv[1:2] == ["--substr"]:
        sizes = [int(a) for a in sys.argv[2:]] or [2000, 6000, 20000]
        spark = get_spark("scale-probe")
        spark.sparkContext.setLogLevel("ERROR")
        for n in sizes:
            print(json.dumps({"family": "substr", **probe_substr(spark, n)}))
        return
    if sys.argv[1:2] == ["--graph"]:
        sizes = [int(a) for a in sys.argv[2:]] or [20000, 60000, 200000]
        spark = get_spark("scale-probe")
        spark.sparkContext.setLogLevel("ERROR")
        for n in sizes:
            print(json.dumps({"family": "graph", **probe_graph(spark, n)}))
        return
    if sys.argv[1:2] == ["--graph-skewed"]:
        sizes = [int(a) for a in sys.argv[2:]] or [200000, 600000, 2000000]
        spark = get_spark("scale-probe")
        spark.sparkContext.setLogLevel("ERROR")
        for n in sizes:
            print(json.dumps(
                {"family": "graph_skewed", **probe_graph_skewed(spark, n)}
            ))
        return
    if sys.argv[1:2] == ["--crawl"]:
        sizes = [int(a) for a in sys.argv[2:]] or [200, 600, 2000]
        spark = get_spark("scale-probe")
        spark.sparkContext.setLogLevel("ERROR")
        for n in sizes:
            print(json.dumps({"family": "crawl", **probe_crawl(spark, n)}))
        return
    if sys.argv[1:2] == ["--heavy"]:
        from data_pipeline_project_using_telegram_and_aws_spark.functions.scale_rules import (
            ivf_n_centroids,
        )

        spark = get_spark("scale-probe")
        spark.sparkContext.setLogLevel("ERROR")
        for n in (5000, 15000, 50000):
            print(json.dumps({"family": "bm25", **probe_bm25(spark, n)}))
        for n in (5000, 15000, 50000):
            print(json.dumps(
                {"family": "components", **probe_components(spark, n)}
            ))
        for n in (2000, 6000, 20000):
            print(json.dumps({
                "family": "semdedup",
                "fixed_k16": probe_semdedup(spark, n, 16),
                "rule_k": probe_semdedup(spark, n, ivf_n_centroids(n)),
            }))
        return
    if sys.argv[1:2] == ["--semdedup"]:
        from data_pipeline_project_using_telegram_and_aws_spark.functions.scale_rules import (
            ivf_n_centroids,
        )

        sizes = [int(a) for a in sys.argv[2:]] or [20000, 60000, 200000]
        spark = get_spark("scale-probe")
        spark.sparkContext.setLogLevel("ERROR")
        for n in sizes:
            # flat rule-k is the sd1 oracle geometry; the coarse twin
            # is the r13 two-level-ASSIGNMENT scale path (fixed-k16
            # measured 1.21-and-climbing back in r12 — not re-run).
            # k23_two_level is the full two-level design: the
            # k ~ n^(2/3) rule needs train_centroids_hierarchical
            # because the flat trainer costs O(sample·k·iters) = O(k²)
            # at the 16-per-centroid sample rule (155 s at k=737 vs
            # 13 s at k=200, measured r13).
            print(json.dumps({
                "family": "semdedup",
                "rule_k": probe_semdedup(spark, n, ivf_n_centroids(n)),
                "rule_k_coarse": probe_semdedup(
                    spark, n, ivf_n_centroids(n), coarse_probes=4
                ),
                "k23_two_level": probe_semdedup(
                    spark, n, max(4, round(n ** (2.0 / 3.0))),
                    coarse_probes=4, hier_train=True,
                ),
            }))
        return
    if sys.argv[1:2] == ["--dot-shapes"]:
        sizes = [int(a) for a in sys.argv[2:]] or [
            100_000, 1_000_000, 5_000_000, 20_000_000
        ]
        spark = get_spark("scale-probe")
        spark.sparkContext.setLogLevel("ERROR")
        for n in sizes:
            print(json.dumps({
                "family": "dot_shapes", **probe_dot_shapes(spark, n)
            }), flush=True)
        return
    if sys.argv[1:2] == ["--semdedup-dispatch"]:
        # r14: back the scale_rules.ivf_two_level_min_k threshold — at
        # fixed n, sweep k across the candidate crossover and compare
        # forced-flat vs forced-two-level end-to-end (dedup stage only;
        # centroids trained once per k and shared by both arms via the
        # explicit `centroids=` pass-through inside probe_semdedup).
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 20000
        ks = [int(a) for a in sys.argv[3:]] or [64, 128, 200, 346]
        spark = get_spark("scale-probe")
        spark.sparkContext.setLogLevel("ERROR")
        for k in ks:
            print(json.dumps({
                "family": "semdedup_dispatch",
                "n": n,
                "k": k,
                "flat": probe_semdedup(spark, n, k, coarse_probes=0),
                "two_level": probe_semdedup(
                    spark, n, k, coarse_probes=4
                ),
            }), flush=True)
        return
    if sys.argv[1:2] == ["--curation"]:
        sizes = [int(a) for a in sys.argv[2:]] or [5000, 15000, 50000]
        spark = get_spark("scale-probe")
        spark.sparkContext.setLogLevel("ERROR")
        for n in sizes:
            fixed = probe_curation(spark, n, rows_per_band=2)
            grown = probe_curation(
                spark, n, rows_per_band=minhash_rows_per_band(n)
            )
            print(json.dumps({"family": "curation",
                              "fixed_2_salts": fixed,
                              "log_scaled": grown}))
        return
    sizes = [int(a) for a in sys.argv[1:]] or [2000, 8000, 32000]
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    for n in sizes:
        fixed = probe(spark, n, n_planes=16)            # frozen bench geometry
        rpb = hyperplane_rows_per_band(n)
        grown = probe(spark, n, n_planes=2 * rpb, rows_per_band=rpb)
        print(json.dumps({"family": "hyperplane",
                          "fixed_16_planes": fixed, "log2_scaled": grown}))
    for n in sizes:
        fixed = probe_minhash(spark, n, rows_per_band=2)  # frozen dd4 geometry
        grown = probe_minhash(spark, n, rows_per_band=minhash_rows_per_band(n))
        print(json.dumps({"family": "minhash",
                          "fixed_2_salts": fixed, "log_scaled": grown}))

    from data_pipeline_project_using_telegram_and_aws_spark.functions.scale_rules import (
        ivf_n_centroids,
        packing_n_shards,
    )

    n = max(sizes)
    rule_k = ivf_n_centroids(n)
    for k in (max(rule_k // 16, 4), rule_k, 4 * rule_k):
        print(json.dumps({"family": "ivf", **probe_ivf(spark, n, k)}))
    n_docs = 200_000
    widths = sorted({1, 8, 64, 512, packing_n_shards(n_docs)})
    for w in widths:
        print(json.dumps({"family": "packing",
                          **probe_packing(spark, n_docs, w)}))


if __name__ == "__main__":
    main()
