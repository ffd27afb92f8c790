"""Hybrid retrieval: fuse ranked lists from heterogeneous retrievers
(BM25 lexical from ``retrieval.py``, ANN cosine from ``similarity.py``)
into one ranking, then optionally diversity-rerank the fused head.

The LLM-pipeline uses are retrieval-based decontamination (a corpus
document that answers an eval question is findable lexically OR
semantically — fusing both lists beats either alone), hard-negative
mining for embedding training (fused-but-not-top candidates), and
diverse few-shot/context selection (MMR over the fused head).

Two fusion rules, both rank-window + one aggregation, zero joins:

- **Reciprocal Rank Fusion** (Cormack, Clarke & Büttcher, SIGIR 2009):
  ``rrf(d) = Σ_lists w_i / (k + rank_i(d))`` — rank-only, so scores on
  incomparable scales (BM25 vs cosine) need no calibration; k=60 is
  the published default and damps the head so one list cannot
  dominate.
- **Min-max normalized score fusion** (CombSUM on normalized scores;
  Fox & Shaw, TREC-2 1994): per-query min-max each list's score to
  [0, 1], then a weighted sum. Score-aware (margins count, not just
  order) but calibration-sensitive — the docstring of each says when.

MMR diversity rerank (Carbonell & Goldstein, SIGIR 1998): greedily
select ``select_k`` of the per-query candidate head maximizing
``λ·relevance − (1−λ)·max_sim_to_already_selected``. Inherently
sequential per query, so it runs as the package's one batch
``applyInPandas`` stage — Arrow-batched, NumPy-vectorized inner loop —
behind the same in-plan bounded-operand guard as every per-group
materialization (`scale_rules.collected_group_max_rows` doctrine):
candidate heads are top-``top`` slices (hundreds of rows), never the
corpus.

Scale shape (100 TB corpus, bounded query set):
- fusion inputs are per-query top-k heads (|queries| × top rows) — the
  corpus-sized work already happened inside the retrievers; fusion
  itself is one union + one repartition(query) exchange that BOTH the
  (query, doc) aggregation and the per-query rank window reuse
  (subset-clustering satisfaction), pinned by the plan test;
- no list is ever collected to the driver; ties break on doc id so
  fused ranks are reproducible across engines and partitionings;
- MMR's Python stage sees ≤ guard-bound rows per query and carries
  only (id, score, embedding) — the decode/feature work stays
  upstream.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F

#: Published RRF damping constant (Cormack et al. 2009, §2).
RRF_K = 60


def _tagged_union(
    ranked: Sequence[DataFrame],
    cols: list[str],
) -> DataFrame:
    """Union the input lists with a ``__list`` ordinal column, keeping
    only ``cols`` — the fusion plan's single lineage."""
    if not ranked:
        raise ValueError("rrf_fuse/normalized_score_fuse: no input lists")
    tagged = [
        df.select(*cols).withColumn("__list", F.lit(i))
        for i, df in enumerate(ranked)
    ]
    out = tagged[0]
    for t in tagged[1:]:
        out = out.unionByName(t)
    return out


def _weights(n: int, weights: Sequence[float] | None) -> list[float]:
    if weights is None:
        return [1.0] * n
    if len(weights) != n:
        raise ValueError(
            f"fuse: {len(weights)} weights for {n} ranked lists - one "
            "weight per list, in list order"
        )
    return [float(w) for w in weights]


def rrf_fuse(
    ranked: Sequence[DataFrame],
    k: int = RRF_K,
    top: int | None = 10,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    rank_col: str = "rank",
    weights: Sequence[float] | None = None,
) -> DataFrame:
    """(query_id, doc_id, rrf, n_lists, rank) — Reciprocal Rank Fusion
    of the given per-query ranked lists: ``rrf = Σ_i w_i/(k + rank_i)``
    summed over the lists where the doc appears, ``n_lists`` the count
    of such lists, ``rank`` the fused per-query position (dense from 1,
    ties broken by doc id). ``top=None`` keeps every fused candidate.

    Each input needs (query_id, doc_id, rank) with rank ≥ 1 and ONE row
    per (query, doc) — exactly what ``bm25_scores`` and
    ``brute_force_topk``/``ivf_topk`` emit (rename their rank columns
    to ``rank_col`` if they differ). A list that repeats a (query, doc)
    pair would contribute twice and inflate ``n_lists``; retriever
    heads never do, so the precondition is stated, not paid for with a
    dedup shuffle.
    Rank-only fusion: BM25's unbounded scores and cosine's [−1, 1] need
    no calibration, which is why RRF is the robust default; use
    :func:`normalized_score_fuse` when score margins should count.

    Plan: union(+contrib projection) → repartition(query) → (query,
    doc) aggregation → per-query rank window — the explicit repartition
    clusters on a subset of the aggregation keys AND the window key, so
    the whole fusion rides ONE exchange (pinned in the plan test).
    ``rrf`` is rounded to 6 dp so fused values hash identically across
    engines."""
    ws = _weights(len(ranked), weights)
    u = _tagged_union(ranked, [query_id_col, id_col, rank_col])
    contrib_w = F.element_at(
        F.array(*[F.lit(w) for w in ws]), F.col("__list") + 1
    )
    fused = (
        u.withColumn(
            "__contrib", contrib_w / (F.lit(float(k)) + F.col(rank_col))
        )
        .repartition(F.col(query_id_col))
        .groupBy(query_id_col, id_col)
        .agg(
            F.round(F.sum("__contrib"), 6).alias("rrf"),
            F.count(F.lit(1)).alias("n_lists"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("rrf"), F.asc(id_col)
    )
    out = fused.withColumn("rank", F.row_number().over(w).cast("long"))
    if top is not None:
        out = out.filter(F.col("rank") <= top)
    return out.orderBy(query_id_col, "rank")


def normalized_score_fuse(
    ranked: Sequence[DataFrame],
    top: int | None = 10,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    score_cols: Sequence[str] | None = None,
    score_col: str = "score",
    weights: Sequence[float] | None = None,
) -> DataFrame:
    """(query_id, doc_id, fused_score, n_lists, rank) — weighted
    CombSUM over per-query min-max normalized scores: each list's score
    is mapped to [0, 1] within its (query, list) slice (a degenerate
    slice — one candidate, or all scores equal — normalizes to 1.0,
    crediting presence), then ``fused_score = Σ_i w_i · norm_i``.

    Score-aware where :func:`rrf_fuse` is rank-only: a candidate that
    wins its list by a wide margin keeps that margin. A NULL score
    contributes nothing to the weighted sum (SQL sum semantics) while
    the row still counts toward ``n_lists`` — present, abstaining. The cost is
    calibration sensitivity — min-max is per-query-slice, so one
    outlier score compresses the rest of its slice; prefer RRF unless
    the score scales are trusted. ``score_cols`` names each list's
    score column (defaults to ``score_col`` for all).

    Plan: same single-exchange shape as RRF, plus per-(query, list)
    min/max windows that reuse the one exchange (query is a prefix of
    the window key). Rounded to 6 dp, ties break on doc id."""
    ws = _weights(len(ranked), weights)
    names = (
        list(score_cols) if score_cols is not None
        else [score_col] * len(ranked)
    )
    if len(names) != len(ranked):
        raise ValueError(
            f"normalized_score_fuse: {len(names)} score_cols for "
            f"{len(ranked)} ranked lists"
        )
    tagged = [
        df.select(
            query_id_col,
            id_col,
            F.col(names[i]).cast("double").alias("__score"),
        ).withColumn("__list", F.lit(i))
        for i, df in enumerate(ranked)
    ]
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t)
    slice_w = Window.partitionBy(query_id_col, "__list")
    weight_w = F.element_at(
        F.array(*[F.lit(w) for w in ws]), F.col("__list") + 1
    )
    lo, hi = F.min("__score").over(slice_w), F.max("__score").over(slice_w)
    fused = (
        u.repartition(F.col(query_id_col))
        .withColumn(
            "__norm",
            F.when(hi == lo, F.lit(1.0)).otherwise(
                (F.col("__score") - lo) / (hi - lo)
            ),
        )
        .groupBy(query_id_col, id_col)
        .agg(
            F.round(F.sum(weight_w * F.col("__norm")), 6).alias(
                "fused_score"
            ),
            F.count(F.lit(1)).alias("n_lists"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("fused_score"), F.asc(id_col)
    )
    out = fused.withColumn("rank", F.row_number().over(w).cast("long"))
    if top is not None:
        out = out.filter(F.col("rank") <= top)
    return out.orderBy(query_id_col, "rank")


def mmr_rerank(
    candidates: DataFrame,
    select_k: int,
    lambda_: float = 0.5,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    score_col: str = "score",
    vec_col: str = "embedding",
    max_candidates_per_query: int | None = None,
) -> DataFrame:
    """(query_id, doc_id, mmr, rank) — Maximal Marginal Relevance
    selection of ``select_k`` candidates per query: greedily take the
    candidate maximizing ``λ·rel − (1−λ)·max_cos_to_selected`` where
    ``rel`` is the per-query min-max normalized ``score_col`` (so λ
    trades off quantities on the same [0, 1]-vs-[−1, 1] footing
    regardless of the upstream retriever's score scale). The first pick
    is the pure-relevance argmax; ``mmr`` is each pick's objective
    value at selection time, rounded to 6 dp; ties break on doc id.

    Sequential per query by construction (each pick conditions the
    next), so each query's candidate head runs through one NumPy greedy
    loop inside ``applyInPandas`` — the package's one batch Python
    stage, and an honest one: O(select_k · n · dims) vectorized work
    over a top-``top`` head, not a corpus. Candidates with a NULL
    embedding are dropped before selection (no geometry, no diversity
    claim: a NULL is an abstention, not a value), as are
    NULL relevance scores; a zero vector participates with
    similarity 0 to everything. An in-plan bounded-operand
    guard (count-window + assert_true, the funnel/dialogs pattern —
    embedding rows are ~4·dims B wide, far heavier than funnel events)
    fails loudly with the query named before any head materializes in
    Python; the guard window shuffles on the same key as the groupBy,
    so it costs a sort, not a second exchange.
    """
    if not 0.0 <= lambda_ <= 1.0:
        raise ValueError(f"mmr_rerank: lambda_={lambda_} outside [0, 1]")
    if max_candidates_per_query is None:
        from ..functions.scale_rules import collected_group_max_rows

        # array<float> embedding ≈ 4 B/dim; budget a 768-dim row
        max_candidates_per_query = collected_group_max_rows(
            bytes_per_row=4 * 768
        )
    bound = int(max_candidates_per_query)
    slim = candidates.filter(
        F.col(vec_col).isNotNull() & F.col(score_col).isNotNull()
    ).select(
        F.col(query_id_col),
        F.col(id_col),
        F.col(score_col).cast("double").alias("__score"),
        F.col(vec_col).cast("array<double>").alias("__vec"),
    )
    guarded = (
        slim.withColumn(
            "__qn", F.count(F.lit(1)).over(Window.partitionBy(query_id_col))
        )
        .filter(
            F.assert_true(
                F.col("__qn") <= F.lit(bound),
                F.concat_ws(
                    " ",
                    F.lit("mmr_rerank: query"),
                    F.col(query_id_col).cast("string"),
                    F.lit("has"),
                    F.col("__qn").cast("string"),
                    F.lit(
                        "candidates > max_candidates_per_query="
                        f"{bound}; rerank a top-k head from the "
                        "retriever, not a corpus - raise the bound "
                        "only with the scale_rules."
                        "collected_group_max_rows cost model in hand"
                    ),
                ),
            ).isNull()
        )
        .drop("__qn")
    )

    qf = candidates.schema[query_id_col].dataType.simpleString()
    idf = candidates.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{query_id_col} {qf}, {id_col} {idf}, mmr double, rank long"
    )
    lam = float(lambda_)
    kk = int(select_k)

    def _select(pdf):
        import numpy as np
        import pandas as pd

        # deterministic input order: score desc, id asc — the greedy
        # argmax then ties to the lowest index = lowest doc id
        pdf = pdf.sort_values(
            ["__score", id_col], ascending=[False, True]
        ).reset_index(drop=True)
        n = len(pdf)
        take = min(kk, n)
        vecs = np.asarray(pdf["__vec"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0.0] = 1.0
        unit = vecs / norms[:, None]
        s = pdf["__score"].to_numpy(dtype=np.float64)
        lo, hi = s.min(), s.max()
        rel = np.ones(n) if hi == lo else (s - lo) / (hi - lo)
        picked: list[int] = []
        objs: list[float] = []
        max_sim = np.full(n, -np.inf)
        avail = np.ones(n, dtype=bool)
        for _ in range(take):
            obj = (
                lam * rel
                if not picked
                else lam * rel - (1.0 - lam) * max_sim
            )
            obj = np.where(avail, obj, -np.inf)
            # np.argmax takes the first (lowest-index = lowest-id) max
            best = int(np.argmax(np.round(obj, 9)))
            picked.append(best)
            objs.append(float(obj[best]))
            avail[best] = False
            max_sim = np.maximum(max_sim, unit @ unit[best])
        return pd.DataFrame(
            {
                query_id_col: pdf[query_id_col].iloc[picked].to_numpy(),
                id_col: pdf[id_col].iloc[picked].to_numpy(),
                "mmr": np.round(np.asarray(objs), 6),
                "rank": np.arange(1, take + 1, dtype=np.int64),
            }
        )

    return (
        guarded.groupBy(query_id_col)
        .applyInPandas(_select, schema=out_schema)
        .orderBy(query_id_col, "rank")
    )


def hybrid_search_from_tables(
    spark,
    queries: DataFrame,
    stats: DataFrame,
    assignments_table: str,
    centroids: DataFrame,
    top: int = 10,
    nprobe: int = 2,
    k: int = RRF_K,
    weights: Sequence[float] | None = None,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    vec_col: str = "embedding",
    probe_ids: Sequence[int] | None = None,
) -> DataFrame:
    """One-call hybrid retrieval over the two PERSISTED serving
    layouts: BM25 against a `retrieval.corpus_term_stats` table
    (broadcast join + bounded aggregation — zero corpus shuffles) and
    cosine against a `similarity.build_ivf_assignments_table` bucketed
    index (broadcast probes + bucket-pruned lists scan), fused by
    :func:`rrf_fuse`. ``queries`` carries BOTH modalities:
    (query_id, query_text, embedding).

    This is glue by design — each head keeps its own serving story and
    dials (``probe_ids`` forwards the bucket-pruning literals; see
    `ivf_topk_from_table`); the composition exists so the serving path
    has the same one-call shape as the inline test path, and is pinned
    equal to hand-wiring the heads. Corpus-side work stays inside the
    two heads; fusion adds one hash exchange over |queries|·2·top rows.

    The ANN head keys on the index's ``vec_id`` — pass ``id_col`` as
    the name BOTH heads' doc ids should fuse under. Note the head's
    self-exclusion semantics ride along: a query whose id EQUALS an
    indexed vec_id excludes that one document from its ANN list (the
    kNN-self-join convention) — give external queries ids disjoint
    from the corpus."""
    from .retrieval import bm25_scores
    from .similarity import ivf_topk_from_table

    lex = bm25_scores(
        None,
        queries.select(query_id_col, query_text_col),
        top=top,
        id_col=id_col,
        query_id_col=query_id_col,
        query_text_col=query_text_col,
        stats=stats,
    )
    sem = ivf_topk_from_table(
        spark,
        assignments_table,
        queries.select(
            F.col(query_id_col).alias("vec_id"), F.col(vec_col)
        ),
        centroids,
        nprobe=nprobe,
        k=top,
        probe_ids=list(probe_ids) if probe_ids is not None else None,
    ).select(
        query_id_col,
        F.col("vec_id").alias(id_col),
        F.col("ivf_rank").alias("rank"),
    )
    return rrf_fuse(
        [lex, sem],
        k=k,
        top=top,
        id_col=id_col,
        query_id_col=query_id_col,
        weights=weights,
    )
