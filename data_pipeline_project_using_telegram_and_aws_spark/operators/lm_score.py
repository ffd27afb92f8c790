"""Unigram language-model quality scoring: per-document cross-entropy
(bits per token) under a reference corpus's unigram distribution — the
corpus-statistics stand-in for the CCNet/KenLM n-gram perplexity filter
(low bits/token ≈ ordinary prose for the reference domain, high ≈
off-domain, garbled, or keyword-stuffed text). A learned KenLM would
slot in as a Pandas-UDF scorer; this operator is the honest version
derivable from the corpus alone, like ``vocabulary.py``'s word-level
codec vs a trained BPE.

Model: add-``alpha`` smoothed unigram probabilities over the reference
corpus, with a single OOV bucket —

    p(t) = (count(t) + alpha) / (total + alpha·(V + 1))

where V is the reference vocabulary size and the "+1" is the OOV
bucket's share; an unseen token scores p(OOV) = alpha / denominator.

Scale shape (all JVM-side, no Python):
- model: one exploded aggregation over the reference corpus (map-side
  partial agg), then total/V attached via a vocab-sized window — the
  model never leaves the plan and broadcasts to the scoring join
  (unigram vocabularies are ~10⁵-10⁶ rows);
- scoring: explode scored docs' tokens, broadcast-join the model,
  per-doc mean of -log2 p — one shuffle keyed by doc id, carrying one
  double per token.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# The vocab-sized model frames (unigram counts, bigram counts) are staged
# with one lazy localCheckpoint each so their corpus explode+aggregate
# subtrees run ONCE instead of once per consumer. The r13 lm2 plan dump
# shows the corpus term-count subtree planned 4× and the bigram-count
# subtree 2× with NO runtime exchange reuse (each copy prunes
# differently, so the exchanges never canonicalize equal). Vocab-sized
# frames are exactly what a 100 TB pipeline persists between passes;
# values are integer counts (order-free).


def _tokens(text_col: str):
    return F.filter(F.split(F.col(text_col), " "), lambda t: t != "")


def unigram_model(
    ref_docs: DataFrame,
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """(token, logp, oov_logp): smoothed log2 probability per reference
    token; ``oov_logp`` (identical on every row) is the score an unseen
    token receives — carried as a column so a scorer can recover it from
    any one row without a second aggregation over the reference."""
    counts = (
        ref_docs.select(F.explode(_tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    w = Window.partitionBy()
    denom = (
        F.sum("__n").over(w).cast("double")
        + F.lit(alpha) * (F.count(F.lit(1)).over(w) + F.lit(1.0))
    )
    return counts.select(
        "token",
        F.log2((F.col("__n") + F.lit(alpha)) / denom).alias("logp"),
        F.log2(F.lit(alpha) / denom).alias("oov_logp"),
    )


def unigram_cross_entropy(
    docs: DataFrame,
    ref_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """(doc_id, n_tokens, bits_per_token) — mean -log2 p(token) per
    document under ``ref_docs``'s unigram model (default: score the
    corpus against itself, the self-perplexity quality signal).
    Zero-token documents keep their row with NULL ``bits_per_token``
    (the encode_documents row contract)."""
    model = unigram_model(ref_docs if ref_docs is not None else docs,
                          text_col, alpha)
    # two consumers (scoring join + the oov picker aggregate) —
    # stage the vocab-sized model once (module-head note)
    model = model.localCheckpoint(eager=False)
    toks = docs.select(
        F.col(id_col), F.explode(_tokens(text_col)).alias("token")
    )
    # oov_logp is constant across the model; min() is just a picker
    oov = model.agg(F.min("oov_logp").alias("__oov"))
    scored = (
        toks.join(F.broadcast(model.select("token", "logp")), "token", "left")
        .crossJoin(F.broadcast(oov))
        .select(
            id_col,
            F.coalesce("logp", F.col("__oov")).alias("__logp"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(-F.avg("__logp"), 4).alias("bits_per_token"),
        )
    )
    return docs.select(id_col).join(scored, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
        F.col("bits_per_token"),
    )


def _bigrams(arr):
    """Adjacent (t1, t2) structs, extracted ROW-LOCALLY as a zip of the
    array with its own shift — no posexplode self-join, so extraction
    costs zero shuffles, and each slice/zip pass is O(tokens). (The
    first formulation indexed positions via transform/element_at;
    element_at on an array is an O(n) walk, making extraction O(n²) per
    document — measured 8 s just to COUNT the sf0.1 corpus bigrams,
    ~15× slower than this zip. Guard stays for size<2: F.sequence(2, 1)
    counts DOWN rather than producing empty.)"""
    return F.when(
        F.size(arr) >= 2,
        F.zip_with(
            F.slice(arr, 1, F.size(arr) - 1),
            F.slice(arr, 2, F.size(arr) - 1),
            lambda a, b: F.struct(a.alias("t1"), b.alias("t2")),
        ),
    ).otherwise(F.array().cast("array<struct<t1:string,t2:string>>"))


def bigram_interpolated_cross_entropy(
    docs: DataFrame,
    ref_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    lam: float = 0.7,
) -> DataFrame:
    """(doc_id, n_tokens, bits_per_token) under an interpolated bigram
    model of ``ref_docs`` (default self) — one rung up the CCNet/KenLM
    ladder from :func:`unigram_cross_entropy`:

        p(t_i | t_{i-1}) = lam · p_bi + (1 - lam) · p_uni
        p_bi = (c(t_{i-1}, t_i) + alpha) / (c(t_{i-1}·) + alpha·(V + 1))
        p_uni = (c(t_i) + alpha) / (total + alpha·(V + 1))

    with the document's first token scored by the unigram model alone
    (no left context) and V the reference vocabulary size. The
    interpolation (Jelinek-Mercer) is what makes the bigram usable:
    unseen bigrams fall back to corpus-frequency mass instead of the
    bare smoothing floor.

    Scale shape: bigram extraction is row-local (``_bigrams``); the
    model is two exploded aggregations over the reference (map-side
    partial agg). The bigram table is NOT broadcast — distinct bigrams
    grow ~linearly with corpus size (10⁸⁺ rows at 100 TB, far beyond
    broadcast), so scoring equi-joins shuffle keyed by (t1, t2)/t1 and
    AQE picks broadcast only when the model side actually fits. The
    unigram side reuses :func:`unigram_model`'s broadcastable shape.
    Zero-token docs keep their row with NULL bits (the shared row
    contract)."""
    ref = ref_docs if ref_docs is not None else docs
    toks = _tokens(text_col)

    uni_counts = (
        ref.select(F.explode(_tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("__nu"))
    )
    # three consumers (vocab_stats, first-token join, t2 join) —
    # stage the vocab-sized count frame once (module-head note)
    uni_counts = uni_counts.localCheckpoint(eager=False)
    # one row: (V, total) — attached everywhere via broadcast cross join
    vocab_stats = uni_counts.agg(
        F.count(F.lit(1)).cast("double").alias("__V"),
        F.sum("__nu").cast("double").alias("__total"),
    )
    bi_ref = ref.select(F.explode(_bigrams(toks)).alias("bg")).select(
        "bg.t1", "bg.t2"
    )
    c12 = bi_ref.groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("__n12"))
    # two consumers (the scoring join and the c1 prefix rollup)
    c12 = c12.localCheckpoint(eager=False)
    c1 = c12.groupBy("t1").agg(F.sum("__n12").alias("__n1"))

    base = docs.select(F.col(id_col), toks.alias("__toks"))
    first = base.filter(F.size("__toks") >= 1).select(
        id_col, F.element_at("__toks", 1).alias("token")
    )
    first_scored = (
        first.join(F.broadcast(uni_counts), "token", "left")
        .crossJoin(F.broadcast(vocab_stats))
        .select(
            id_col,
            F.log2(
                (F.coalesce("__nu", F.lit(0)) + F.lit(alpha))
                / (F.col("__total") + F.lit(alpha) * (F.col("__V") + 1.0))
            ).alias("__logp"),
        )
    )
    bi = base.select(
        F.col(id_col), F.explode(_bigrams(F.col("__toks"))).alias("bg")
    ).select(id_col, "bg.t1", "bg.t2")
    # join scale split: c12 is bigram-vocab-sized (NOT broadcastable at
    # scale — the one keyed shuffle in this path, see docstring), but
    # the prefix counts c1 and the unigram counts are UNIGRAM-vocab-
    # sized — the same broadcastable shape lm1's model rides on — so
    # they broadcast explicitly and the token stream shuffles ONCE (on
    # the bigram key) instead of three times. Measured ~35% off the lm2
    # bench row (6.0 → 3.9 s in-suite).
    bi_scored = (
        bi.join(c12, ["t1", "t2"], "left")
        .join(F.broadcast(c1), "t1", "left")
        .join(
            F.broadcast(uni_counts.withColumnRenamed("token", "t2")),
            "t2",
            "left",
        )
        .crossJoin(F.broadcast(vocab_stats))
        .select(
            id_col,
            F.log2(
                F.lit(lam)
                * (
                    (F.coalesce("__n12", F.lit(0)) + F.lit(alpha))
                    / (
                        F.coalesce("__n1", F.lit(0))
                        + F.lit(alpha) * (F.col("__V") + 1.0)
                    )
                )
                + F.lit(1.0 - lam)
                * (
                    (F.coalesce("__nu", F.lit(0)) + F.lit(alpha))
                    / (F.col("__total") + F.lit(alpha) * (F.col("__V") + 1.0))
                )
            ).alias("__logp"),
        )
    )
    scored = (
        first_scored.unionByName(bi_scored)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(-F.avg("__logp"), 4).alias("bits_per_token"),
        )
    )
    return docs.select(id_col).join(scored, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
        F.col("bits_per_token"),
    )


def kneser_ney_cross_entropy(
    docs: DataFrame,
    ref_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
    alpha: float = 0.5,
) -> DataFrame:
    """(doc_id, n_tokens, bits_per_token) under an interpolated
    Kneser-Ney bigram of ``ref_docs`` (default self) — the top rung of
    this module's ladder and the smoothing KenLM actually ships:

        p(t2|t1) = max(c12 − d, 0)/c1 + (d · N1+(t1,·)/c1) · p_cont(t2)
        p_cont(t2) = (N1+(·,t2) + α) / (B + α·(V + 1))

    where N1+(t1,·) / N1+(·,t2) are the CONTINUATION type counts (how
    many distinct bigrams the token starts / ends — "how many contexts
    has this word followed", the insight that demotes 'Francisco'-style
    tokens frequent only in one context), B the distinct-bigram count,
    and d the absolute discount. An unseen prefix backs off wholly to
    p_cont; the first token scores on the add-α unigram as in the other
    scorers; the continuation distribution itself is add-α smoothed so
    unseen tokens stay finite (KenLM's <unk> role). Zero-token docs keep
    their row with NULL bits.

    Scale split mirrors :func:`bigram_interpolated_cross_entropy`: the
    bigram count table joins by key (never broadcast — it grows with the
    corpus); prefix totals, forward/backward continuation counts (all
    unigram-vocab-sized) and the one-row (B, V) aggregate broadcast.
    Every count is an exploded partial-agg'd aggregation; no Python."""
    ref = ref_docs if ref_docs is not None else docs
    toks = _tokens(text_col)

    uni_counts = (
        ref.select(F.explode(_tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("__nu"))
    )
    uni_counts = uni_counts.localCheckpoint(eager=False)
    bi_ref = ref.select(F.explode(_bigrams(toks)).alias("bg")).select(
        "bg.t1", "bg.t2"
    )
    c12 = bi_ref.groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("__n12"))
    # four consumers (scoring join, c1, cont, the B constant)
    c12 = c12.localCheckpoint(eager=False)
    # per prefix: total count AND distinct continuation types
    c1 = c12.groupBy("t1").agg(
        F.sum("__n12").alias("__n1"),
        F.count(F.lit(1)).alias("__fwd_types"),
    )
    cont = c12.groupBy("t2").agg(F.count(F.lit(1)).alias("__bwd_types"))
    consts = c12.agg(
        F.count(F.lit(1)).cast("double").alias("__B"),
    ).crossJoin(
        uni_counts.agg(
            F.count(F.lit(1)).cast("double").alias("__V"),
            F.sum("__nu").cast("double").alias("__total"),
        )
    )

    base = docs.select(F.col(id_col), toks.alias("__toks"))
    first_scored = (
        base.filter(F.size("__toks") >= 1)
        .select(id_col, F.element_at("__toks", 1).alias("token"))
        .join(F.broadcast(uni_counts), "token", "left")
        .crossJoin(F.broadcast(consts))
        .select(
            id_col,
            F.log2(
                (F.coalesce("__nu", F.lit(0)) + F.lit(alpha))
                / (F.col("__total") + F.lit(alpha) * (F.col("__V") + 1.0))
            ).alias("__logp"),
        )
    )
    bi = base.select(
        F.col(id_col), F.explode(_bigrams(F.col("__toks"))).alias("bg")
    ).select(id_col, "bg.t1", "bg.t2")
    p_cont = (
        (F.coalesce("__bwd_types", F.lit(0)) + F.lit(alpha))
        / (F.col("__B") + F.lit(alpha) * (F.col("__V") + 1.0))
    )
    seen_prefix = F.col("__n1").isNotNull() & (F.col("__n1") > 0)
    p_kn = F.when(
        seen_prefix,
        F.greatest(
            F.coalesce("__n12", F.lit(0)) - F.lit(discount), F.lit(0.0)
        )
        / F.col("__n1")
        + (F.lit(discount) * F.col("__fwd_types") / F.col("__n1")) * p_cont,
    ).otherwise(p_cont)
    bi_scored = (
        bi.join(c12, ["t1", "t2"], "left")
        .join(F.broadcast(c1), "t1", "left")
        .join(F.broadcast(cont), "t2", "left")
        .crossJoin(F.broadcast(consts))
        .select(id_col, F.log2(p_kn).alias("__logp"))
    )
    scored = (
        first_scored.unionByName(bi_scored)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(-F.avg("__logp"), 4).alias("bits_per_token"),
        )
    )
    return docs.select(id_col).join(scored, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
        F.col("bits_per_token"),
    )
