"""DSIR — Data Selection via Importance Resampling (Xie et al.,
NeurIPS 2023): pick raw-corpus documents whose hashed-n-gram profile
looks like a small high-quality TARGET corpus, by (1) estimating bag-of-
hashed-n-gram unigram models for target and raw, (2) scoring every raw
document with the log importance weight ``log p_target(doc) −
log p_raw(doc)``, (3) sampling without replacement with probability
proportional to the importance weights via Gumbel top-k — the
log-space-safe equivalent of Efraimidis-Spirakis (a long document's
weight is e^±hundreds; exponentiating before sampling would over/
underflow, so the Gumbel key ``log w + G`` never leaves log space;
Vieira 2014 for the top-k equivalence).

Where it sits in the pipeline: `quality_classifier.py` learns *absolute*
quality from labels; `lm_score.py` scores fluency under one LM; DSIR
needs NO labels and no training loop — two counting passes and a
projection — and targets a *distribution* ("more like Wikipedia") rather
than a threshold. The published result is that hashed-n-gram DSIR
matches expert-curated selection for LM pretraining at a counting-pass
price, which is exactly the 100 TB regime this package optimizes for.

Features follow the paper: lowercase word unigrams + bigrams hashed
into ``n_buckets`` (10k default, the paper's setting) buckets —
CRC32+pmod here, so tests can recompute the bucketing independently in
pure Python (zlib.crc32 parity, probed in the test file).

Scale shape (100 TB raw corpus, small target):
- profiles are ``n_buckets``-row tables: the target pass is
  target-sized, the raw pass is one explode + map-side-combined count
  per corpus — the heavy pass is a COUNT, nothing iterative;
- the log-ratio table is densified to exactly ``n_buckets`` rows and
  broadcast — per-doc scoring is explode → broadcast join → one
  id-keyed partial-aggregated sum; the only corpus-sized shuffles are
  that sum and the join carrying scores back onto the input row;
- selection is one codegen'd projection (hash die + Gumbel key) and a
  global top-n (``TakeOrderedAndProject`` — no global sort
  materializes);
- everything is JVM-side; the whole operator is Python-free.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

#: Paper setting: 10k hash buckets for the n-gram feature space.
DEFAULT_N_BUCKETS = 10_000


def _grams(text_col: str) -> Column:
    """Lowercase word unigrams + bigrams as one array<string> — built
    row-locally (filtered split + an element_at zip for the bigrams,
    the `dedup.shingle_rows` projection style), no explode until the
    caller needs rows."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "\\s+"), lambda t: t != ""
    )
    n = F.size(toks)
    bi_pos = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    bigrams = F.transform(
        bi_pos,
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    return F.concat(toks, bigrams)


def _bucket(gram: Column, n_buckets: int, salt: str) -> Column:
    return F.pmod(
        F.crc32(F.concat(F.lit(salt), gram).cast("binary")),
        F.lit(int(n_buckets)),
    ).cast("long")


def hashed_ngram_profile(
    docs: DataFrame,
    n_buckets: int = DEFAULT_N_BUCKETS,
    text_col: str = "text",
    salt: str = "dsir",
) -> DataFrame:
    """(bucket, cnt) — the corpus's hashed-n-gram occurrence counts:
    one explode + one map-side-combined count, output ≤ ``n_buckets``
    rows regardless of corpus size. Multiplicity counts (unigram LM
    over the hashed feature stream), matching the paper's estimator."""
    return (
        docs.select(F.explode(_grams(text_col)).alias("__gram"))
        .select(_bucket(F.col("__gram"), n_buckets, salt).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_ngram_profiles(profiles: DataFrame) -> DataFrame:
    """Sum-merge (bucket, cnt) profile rows from any number of
    corpora/batches — hashed-n-gram counts are plain additive counters,
    so the merged profile is EXACTLY the profile of the concatenated
    corpus (no estimator error, unlike the sketch ledgers). This is
    what makes the raw-corpus side of DSIR incrementally maintainable:
    `streaming/stat_ledgers.start_ngram_profile_ledger_stream` lands
    one profile per micro-batch and reads merge through here."""
    return profiles.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def dsir_log_ratios(
    target_profile: DataFrame,
    raw_profile: DataFrame,
    n_buckets: int = DEFAULT_N_BUCKETS,
    smoothing: float = 1.0,
) -> DataFrame:
    """(bucket, log_ratio) for EVERY bucket in [0, n_buckets) — the
    broadcastable scoring table: ``log p̂_target(b) − log p̂_raw(b)``
    with add-``smoothing`` (Laplace) estimates, so buckets unseen in
    either profile get a finite, constant ratio instead of ±inf.
    Densified via ``spark.range`` so the scorer can inner-join without
    a missing-bucket default leaking into its plan. ≤ n_buckets rows
    throughout — driver-trivial, executor-broadcast."""
    if smoothing <= 0:
        raise ValueError(
            f"dsir_log_ratios: smoothing={smoothing} must be > 0 - "
            "zero smoothing puts -inf on every unseen bucket"
        )
    spark = target_profile.sparkSession
    a = float(smoothing)
    dense = spark.range(int(n_buckets)).select(
        F.col("id").alias("bucket")
    )
    t_tot = target_profile.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("__tt")
    )
    r_tot = raw_profile.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("__rt")
    )
    denom = F.lit(a * n_buckets)
    return (
        dense.join(
            F.broadcast(target_profile.withColumnRenamed("cnt", "__tc")),
            "bucket",
            "left",
        )
        .join(
            F.broadcast(raw_profile.withColumnRenamed("cnt", "__rc")),
            "bucket",
            "left",
        )
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("__tc"), F.lit(0)) + a)
                    / (F.col("__tt") + denom)
                )
                - F.log(
                    (F.coalesce(F.col("__rc"), F.lit(0)) + a)
                    / (F.col("__rt") + denom)
                )
            ).alias("log_ratio"),
        )
    )


def dsir_importance(
    corpus: DataFrame,
    log_ratios: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_N_BUCKETS,
    salt: str = "dsir",
    out_col: str = "dsir_logw",
    normalize: str = "none",
    method: str = "join",
) -> DataFrame:
    """The corpus with ``out_col`` appended: each document's log
    importance weight ``Σ_grams log_ratio(bucket(gram))`` — the log of
    the paper's per-document target/raw likelihood ratio under the
    hashed unigram models. Documents with no grams (empty text) score
    0.0 (an empty product favors neither side). Rounded to 6 dp so
    downstream selections reproduce across layouts.

    ``normalize``: the length-bias dial, stated because the sum form
    has one. ``"none"`` (default) is the paper's estimator — the
    likelihood ratio of the whole document, so a long document with a
    mild per-gram tilt can out-weigh a short one with a strong tilt
    (correct importance-sampling math: it IS more evidence). ``"per_
    gram"`` divides by the gram count — the average per-gram log
    ratio, a length-free "how target-flavored is this text" score for
    gating/ranking uses where document length should not vote
    (gramless documents still score 0.0). Use per_gram for threshold
    gates, none for `dsir_select`'s sampling weights.

    ``salt`` and ``n_buckets`` MUST match the profile build — they
    define the feature space.

    ``method`` — a CPU-vs-shuffle trade, stated with its measurement:
    - ``"join"`` (default): explode → broadcast-join the ratio table →
      id-keyed sum → left join back onto the input row. Everything
      rides whole-stage codegen; the price is that the final join-back
      shuffles the WHOLE corpus on id. Measured 3.8× faster in-core
      than rowlocal at sf0.1 (BENCH_NOTES) — the default because CPU
      is the binding constraint on the test rig and most clusters.
    - ``"rowlocal"``: collect the ratio table into ONE flat
      ``n_buckets``-double array literal (control-plane by
      construction — the table is n_buckets rows, the same data the
      join path broadcasts) and fold each row's grams against it
      (``aggregate`` + ``element_at``). ZERO shuffle, zero joins, zero
      Python — the whole operator is a projection (plan pinned) — at
      ~3.8× the per-gram CPU (higher-order folds evaluate interpreted,
      the explode path's crc32+join is codegen'd). Choose it when
      shuffle capacity, not CPU, binds: a 100 TB corpus whose id-sort
      would dominate the job, or a corpus about to be scanned anyway
      where the score should piggyback on the scan. Guarded by
      `scale_rules.dsir_rowlocal_max_buckets` (2 MiB of plan literal).
    Both paths produce identical values (pinned)."""
    if normalize not in ("none", "per_gram"):
        raise ValueError(
            f"dsir_importance: normalize={normalize!r} must be "
            "'none' | 'per_gram'"
        )
    if method == "auto":  # legacy alias for the default
        method = "join"
    if method not in ("rowlocal", "join"):
        raise ValueError(
            f"dsir_importance: method={method!r} must be "
            "'join' | 'rowlocal'"
        )
    if method == "rowlocal":
        from ..functions.scale_rules import dsir_rowlocal_max_buckets

        if n_buckets > dsir_rowlocal_max_buckets():
            raise ValueError(
                f"dsir_importance: n_buckets={n_buckets} exceeds the "
                "rowlocal literal bound "
                f"{dsir_rowlocal_max_buckets()} - use method='join' "
                "(scale_rules.dsir_rowlocal_max_buckets has the cost "
                "model)"
            )
        ordered = (
            log_ratios.orderBy("bucket")
            .select("bucket", "log_ratio")
            .collect()
        )
        if len(ordered) != n_buckets or any(
            r["bucket"] != i for i, r in enumerate(ordered)
        ):
            raise ValueError(
                "dsir_importance: log_ratios must be the densified "
                f"[0, {n_buckets}) table dsir_log_ratios builds - got "
                f"{len(ordered)} rows"
            )
        arr = F.lit([float(r["log_ratio"]) for r in ordered])
        grams = _grams(text_col)
        total = F.aggregate(
            grams,
            F.lit(0.0),
            lambda acc, g: acc
            + F.element_at(arr, (_bucket(g, n_buckets, salt) + 1).cast("int")),
        )
        raw = (
            total
            if normalize == "none"
            else F.when(F.size(grams) > 0, total / F.size(grams))
        )
        return corpus.withColumn(
            out_col, F.round(F.coalesce(raw, F.lit(0.0)), 6)
        )
    scores = (
        corpus.select(
            F.col(id_col),
            F.explode(_grams(text_col)).alias("__gram"),
        )
        .select(
            id_col,
            _bucket(F.col("__gram"), n_buckets, salt).alias("bucket"),
        )
        .join(F.broadcast(log_ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("log_ratio").alias("__lw"),
            F.count(F.lit(1)).alias("__ng"),
        )
    )
    raw = (
        F.col("__lw")
        if normalize == "none"
        else F.col("__lw") / F.col("__ng")
    )
    return (
        corpus.join(scores, id_col, "left")
        .withColumn(out_col, F.round(F.coalesce(raw, F.lit(0.0)), 6))
        .drop("__lw", "__ng")
    )


def dsir_select(
    scored: DataFrame,
    n: int,
    logw_col: str = "dsir_logw",
    id_col: str = "doc_id",
    salt: str = "dsir-select",
    group_col: str | None = None,
) -> DataFrame:
    """``n`` documents sampled without replacement with probability
    proportional to ``exp(logw_col)``, never leaving log space: Gumbel
    top-k — key ``log w + G`` with ``G = −ln(−ln u)`` and ``u`` the
    stable md5 hash die (`splits.hash_fraction`), take the n largest
    (ties on the key break by id). A pure function of (data, salt):
    rerun-, layout-, and engine-stable, like every sampler in this
    package. NULL log weights drop — no evidence, no mass.

    ``group_col``: per-group budgets instead of one global draw — ``n``
    per group (source, language, domain), the mixture-quota form of
    DSIR (global selection lets one target-adjacent domain crowd out
    every other; per-group budgets compose with
    `splits.weighted_mixture` policy). Same key, same determinism —
    the global draw restricted to a group equals the group's own draw
    only in distribution, not row-for-row, so pick the form the recipe
    needs and keep it.

    One projection + a global top-n (``TakeOrderedAndProject`` — no
    global sort materializes) or, grouped, one group-keyed rank
    window."""
    if n <= 0:
        raise ValueError("dsir_select: n must be > 0")
    from .splits import hash_fraction

    u = hash_fraction(id_col, salt)
    # hash_fraction is [0, 1); clamp both ends so -ln(-ln u) is finite
    u = F.least(F.greatest(u, F.lit(1e-12)), F.lit(1.0 - 1e-12))
    gumbel = -F.log(-F.log(u))
    key = F.col(logw_col) + gumbel
    live = scored.filter(F.col(logw_col).isNotNull()).withColumn(
        "__gk", key
    )
    if group_col is None:
        return (
            live.orderBy(F.desc("__gk"), F.asc(id_col))
            .limit(int(n))
            .drop("__gk")
        )
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.desc("__gk"), F.asc(id_col)
    )
    return (
        live.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= int(n))
        .drop("__gk", "__rk")
    )


def python_gumbel_key(logw: float, doc_id, salt: str = "dsir-select"):
    """The selection key recomputed OUTSIDE Spark (tests' independent
    model; import-free of pyspark): md5 die → clamped u → logw + G."""
    import hashlib

    hex6 = hashlib.md5(f"{salt}{doc_id}".encode()).hexdigest()[:6]
    u = int(hex6, 16) / float(16**6)
    u = min(max(u, 1e-12), 1.0 - 1e-12)
    return logw + (-math.log(-math.log(u)))
