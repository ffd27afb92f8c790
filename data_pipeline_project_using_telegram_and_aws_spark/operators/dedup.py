"""Deduplication operators for large-scale text corpora (north-star
extension, SURVEY.md §7 Phase 4).

All operators are pure DataFrame compositions — shuffles only on the keys
that matter, no Python in the hot path — and every hash primitive is
``md5`` so a SQL oracle can reproduce results exactly.

Scale design (100 TB corpus):
- exact dedup: one hash-aggregate on a 32-byte digest, not the full text
  (shuffle carries the digest + doc id only).
- shingling: per-row ``transform(sequence(...))`` — no explode until after
  ``array_distinct``, so the shuffle sees each (doc, shingle) once.
- MinHash: salted-md5 mins computed as plain aggregate columns inside
  whole-stage codegen; partial (map-side) agg reduces the shuffle to one
  |salts|-wide row per doc per map partition. The band join only pairs
  docs sharing a band bucket — the classic sub-quadratic near-dup path —
  and signatures ride through the join so verification is row-local.
- SimHash: fingerprint is a single int per doc; near-dup candidates join
  on the fingerprint (or banded substrings of it at scale).

Hard-won engine note: Catalyst higher-order functions (``transform`` /
``filter`` lambdas) are never whole-stage-codegen'd — they evaluate
interpreted, per element, at ~100× the cost of the same expression in a
codegen'd projection. Keep HOFs off any path whose element count scales
with corpus size (shingles×salts, candidate pairs). Shingling therefore
explodes *positions* (``explode(sequence(1, n_tokens-n+1))``) and builds
each gram with ordinary ``element_at``/``concat_ws`` projections — fully
codegen'd; measured 4-6× faster end-to-end than the
``transform(sequence(...), i -> ...)`` array build at sf0.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

N_SALTS = 16  # minhash permutations (md5-salted lexicographic min)


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition up to the session's parallelism when the source scan
    yields fewer partitions (e.g. one small parquet file locally). The heavy
    per-row work (shingling, md5 signatures) otherwise runs in a single
    task. On a real multi-file 100 TB scan the input is already wide and
    this is a no-op. (r13: promoted to the shared
    ``functions/spread.spread`` so every compute-heavy operator family
    uses one implementation; this alias keeps the module's call sites.)"""
    from ..functions.spread import spread

    return spread(df, key)


def with_text_hash(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("text_hash", F.md5(F.col(text_col).cast("binary")))


def exact_dedup_keep_first(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the lowest-id document per distinct text (hash group-by)."""
    return (
        with_text_hash(df, text_col)
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def shingle_rows(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text",
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles as exploded ``(id, shingle)`` rows.

    Explodes gram *positions* and assembles each gram with codegen'd
    ``element_at`` projections (see module docstring — the HOF array build
    this replaces evaluated interpreted, per element). Texts shorter than
    *n* tokens produce no rows (empty position sequence drops with the
    explode). ``distinct=False`` skips the per-doc dedup shuffle for
    consumers where duplicates can't change the answer (MinHash: the min
    over a multiset equals the min over its support).
    """
    toks = F.split(F.col(text_col), " ")
    pos = F.when(
        F.size("__toks") >= n, F.sequence(F.lit(1), F.size("__toks") - n + 1)
    ).otherwise(F.array().cast("array<int>"))
    gram = F.concat_ws(
        " ", *[F.element_at("__toks", F.col("__i") + k) for k in range(n)]
    )
    out = (
        df.select(F.col(id_col), toks.alias("__toks"))
        .select(F.col(id_col), "__toks", F.explode(pos).alias("__i"))
        .select(F.col(id_col), gram.alias("shingle"))
    )
    return out.dropDuplicates([id_col, "shingle"]) if distinct else out


def ngram_jaccard_pairs(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard via an inverted shingle index (equi-join on
    shingle — never a cross join).

    One scan computes the distinct (doc, shingle) rows, a window count
    attaches per-doc sizes (one extra linear shuffle of the shingle rows —
    measured cheaper than the interpreted-HOF array build it replaced, and
    at 100 TB a linear shuffle beats 100× CPU on every gram), and the
    result is checkpointed; the self-join on `shingle` meets only docs
    sharing a shingle, and one shuffle aggregates
    common-shingle counts per pair. Doc sizes ride along in the exploded
    rows, so there is no size-table join and no broadcast job.

    ``max_df`` (optional, default off to keep exact semantics) drops
    shingles whose document frequency exceeds the cap — the standard
    hot-shingle guard at 100 TB, where one boilerplate phrase shared by
    1e6 docs would otherwise emit ~5e11 pairs. The filter runs BEFORE
    per-doc sizes are attached, so the result is the exact Jaccard over
    the *filtered* shingle sets (not a denominator that still counts
    dropped shingles).

    Memory bound of the ``max_df=None`` fast path, stated: the
    ``collect_set`` materializes one document's whole DEDUPED shingle
    set as a single array row inside one task buffer (it cannot spill
    mid-group) — ~|distinct grams| × gram bytes per doc, i.e. bounded
    by document length, the same per-row bound the text column itself
    already imposes within a small constant (shingle bytes ≈ n ×
    text bytes deduped). Pathological single documents far beyond
    normal text lengths (GB-scale blobs) should take the ``max_df``
    branch, whose distinct-rows shape never builds a per-doc array —
    the `scale_rules.collected_group_max_rows` cost model is the
    sizing reference.
    """
    if max_df is None:
        # r13 (guide §2.4): per-doc dedup + size in ONE doc-keyed
        # aggregation instead of dropDuplicates(id, shingle) + a size
        # window — two exchanges become one, and that one carries each
        # doc's DEDUPED gram array instead of its exploded rows (a doc's
        # exploded rows are co-located — explode is row-local — so the
        # map-side partial collect_set completes the dedup before the
        # wire). Locally the spread's id-partitioning is reused, so the
        # aggregation adds ZERO exchanges. Values identical: sizes and
        # pair counts are integers; set order never surfaces (rows are
        # re-exploded). Measured 0.36 → 0.29 s warm on dd2 at sf0.1.
        sets = (
            shingle_rows(
                _spread(df, id_col), n, id_col, text_col, distinct=False
            )
            .groupBy(id_col)
            .agg(F.collect_set("shingle").alias("__s"))
        )
        sh = sets.select(
            F.col(id_col).alias("doc_id"),
            F.size("__s").alias("n_shingles"),
            F.explode("__s").alias("shingle"),
        ).localCheckpoint(eager=False)
    else:
        # the hot-shingle guard must count df over distinct (doc, gram)
        # rows and filter BEFORE sizes attach (the docstring's exact-
        # over-filtered-sets contract), so this path keeps the
        # distinct-rows shape
        sh = shingle_rows(
            _spread(df, id_col), n, id_col, text_col, distinct=True
        ).withColumnRenamed(id_col, "doc_id")
        hot = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        sh = sh.join(
            F.broadcast(hot.filter(F.col("__df") > max_df)), "shingle", "left_anti"
        )
        sh = (
            sh.withColumn(
                "n_shingles",
                F.count(F.lit(1)).over(Window.partitionBy("doc_id")),
            )
            # materialize the shingle rows executor-side so the
            # self-join's two sides don't each redo the shingling (the
            # 100 TB analog is persisting the shingle table to the lake
            # between the two passes)
            .localCheckpoint(eager=False)
        )
    a = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"), "shingle"
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"), "shingle"
    )
    return (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("common"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common")
                / (F.col("size_a") + F.col("size_b") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )


def minhash_signatures(
    df: DataFrame, n: int = 3, n_salts: int = N_SALTS,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """MinHash signature: for each salt, the lexicographic min of
    md5(salt || shingle) — a valid min-wise permutation family, chosen over
    integer hashing because md5 exists identically in the SQL oracle.
    Output: (doc_id, salt, minhash) — the exploded view of
    :func:`minhash_sig_array` (see its docstring for the plan-shape
    rationale).
    """
    sig = minhash_sig_array(df, n, n_salts, id_col, text_col)
    return (
        sig.select(F.col(id_col), F.posexplode("sig").alias("salt", "minhash"))
        .select(id_col, F.col("salt").cast("long").alias("salt"), "minhash")
    )


def minhash_sig_array(
    df: DataFrame, n: int = 3, n_salts: int = N_SALTS,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """(id, sig: array<string>[n_salts]) — the whole signature in one row.

    Plan shape, chosen deliberately: explode to (doc, shingle) rows once
    (non-distinct — duplicate shingles can't change a min), then compute
    the n_salts salted-md5 mins as *plain aggregate columns* over a
    ``groupBy(doc)``. Every expression on the per-gram path (position
    explode, ``element_at`` gram build, salted hashes) is an ordinary
    projection running inside whole-stage codegen; both HOF formulations —
    ``transform(sequence(salts), s -> array_min(transform(shingles, ..)))``
    and even just building the gram array with ``transform`` — evaluate
    through Catalyst's *interpreted* higher-order-function path (HOF
    lambdas are never codegen'd) at ~100× the per-call cost. Partial
    (map-side) aggregation reduces the shuffle to one |n_salts|-wide row
    per doc per map partition, so the explode never hits the wire. Rows
    with no shingles (texts shorter than *n* tokens) vanish with the
    explode.
    """
    sh = shingle_rows(
        _spread(df, id_col), n, id_col, text_col, distinct=False
    ).withColumnRenamed("shingle", "__shingle")
    # r14 construction-cost fix (driver-side plan-build, guide §7.3):
    # one JVM-parsed expression string per salt instead of a five-call
    # py4j Column chain each — identical expression tree, measured
    # 0.174 → 0.046 s of pure DataFrame-construction time per build
    # (paid by dd4/cc1/cu1 on every invocation).
    mins = [
        F.expr(f"min(md5(concat('{s}|', __shingle))) AS __m{s}")
        for s in range(n_salts)
    ]
    return (
        sh.groupBy(id_col)
        .agg(*mins)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"__m{s}") for s in range(n_salts)]).alias("sig"),
        )
    )


def minhash_lsh_candidates(
    df: DataFrame, n: int = 3, n_salts: int = N_SALTS, rows_per_band: int = 2,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Banded LSH over minhash signatures: docs sharing any band bucket
    become candidate pairs; est_jaccard = fraction of matching salts.

    The band join is the sub-quadratic step: bucket key =
    (band, md5(concat of the band's minhashes)). Only bucket collisions are
    paired — at 100 TB this is the difference between feasible and not.

    Single-pass plan: the signature array is computed once (row-local, no
    shuffle), band buckets are derived from it row-locally, and the full
    signature rides through the band self-join so the estimated Jaccard is
    a row-local ``zip_with`` on the joined pair — no post-hoc signature
    re-join, no recomputation of the md5 work.
    """
    # bucket string mirrors the exploded formulation (and the SQL oracle):
    # sorted 'lpad(salt):minhash' entries of the band joined with ','
    bands = band_rows(df, n, n_salts, rows_per_band, id_col, text_col)
    left = bands.select(
        F.col(id_col).alias("doc_a"), F.col("sig").alias("sig_a"), "band", "bucket"
    )
    right = bands.select(
        F.col(id_col).alias("doc_b"), F.col("sig").alias("sig_b"), "band", "bucket"
    )
    est = (
        F.expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x <=> y), v -> v))")
        / F.lit(float(n_salts))
    )
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.round(est, 4).alias("est_jaccard"))
        .groupBy("doc_a", "doc_b")  # dedup pairs colliding in >1 band
        .agg(F.max("est_jaccard").alias("est_jaccard"))
    )


def band_rows(
    df: DataFrame, n: int = 3, n_salts: int = N_SALTS, rows_per_band: int = 2,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """(doc_id, band, bucket, sig) exploded band-bucket rows — the LSH
    index representation. Same bucket rule as
    :func:`minhash_lsh_candidates` (they must collide identically); the
    full signature rides along so a probe can estimate Jaccard
    row-locally without a second signature join."""
    n_bands = n_salts // rows_per_band
    sigs = minhash_sig_array(df, n, n_salts, id_col, text_col)
    buckets = F.expr(
        f"transform(sequence(0, {n_bands - 1}), b -> "
        f"md5(array_join(array_sort(transform(sequence(0, {rows_per_band - 1}), "
        f"r -> concat(lpad(cast(b * {rows_per_band} + r as string), 4, '0'), "
        f"':', element_at(sig, b * {rows_per_band} + r + 1)))), ',')))"
    )
    return sigs.select(
        F.col(id_col), F.col("sig"), F.posexplode(buckets).alias("band", "bucket")
    )


def build_minhash_index_table(
    docs: DataFrame, table: str, n: int = 3, n_salts: int = N_SALTS,
    rows_per_band: int = 2, buckets: int = 16,
    id_col: str = "doc_id", text_col: str = "text",
) -> None:
    """Persist the corpus LSH index as a catalog table BUCKETED on
    (band, bucket) — the incremental-dedup layout at 100 TB.

    Signatures are computed ONCE at index-build time; every daily batch
    then probes the table instead of re-shingling the corpus. Hash
    bucketing on the join key means a probe join reads the index
    co-located: only the (small) new batch shuffles, the corpus index
    never moves after the write (pinned: tests/test_dedup.py asserts the
    probe plan has exactly one Exchange, on the probe side)."""
    from ..sources.bucketing import write_bucketed

    rows = band_rows(docs, n, n_salts, rows_per_band, id_col, text_col)
    write_bucketed(rows, table, buckets, ["band", "bucket"])


def dedup_against_index(
    spark, new_docs: DataFrame, table: str, n: int = 3,
    n_salts: int = N_SALTS, rows_per_band: int = 2,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Incremental near-dup: (new_doc_id, corpus_doc_id, est_jaccard)
    for every new document colliding with the persisted index in any
    band. The new batch is shingled/signed fresh (it is small by
    definition); the corpus side is the bucketed index table, read
    in place. Downstream policy joins this anti-style to admit only
    non-duplicates, then appends the admitted docs' band rows to the
    index — the index grows with the corpus, signatures never recompute.
    """
    probe = band_rows(new_docs, n, n_salts, rows_per_band, id_col, text_col)
    index = spark.table(table)
    est = (
        F.expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x <=> y), v -> v))")
        / F.lit(float(n_salts))
    )
    return (
        probe.select(
            F.col(id_col).alias("new_doc_id"),
            F.col("sig").alias("sig_a"),
            "band",
            "bucket",
        )
        .join(
            index.select(
                F.col(id_col).alias("corpus_doc_id"),
                F.col("sig").alias("sig_b"),
                "band",
                "bucket",
            ),
            ["band", "bucket"],
        )
        .select(
            "new_doc_id",
            "corpus_doc_id",
            F.round(est, 4).alias("est_jaccard"),
        )
        .groupBy("new_doc_id", "corpus_doc_id")
        .agg(F.max("est_jaccard").alias("est_jaccard"))
    )


def simhash16(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """16-bit SimHash fingerprint per document.

    Bit *i* is the sign of the token-weighted sum of ±1 votes, where the
    vote of a token for bit *i* is the high bit of hex digit *i* of
    md5(token) — fully reproducible in ANSI SQL (no engine-specific
    integer hash), which is the point: near-dup fingerprints stay
    oracle-checkable. Scale: one explode + one 16-column hash-agg.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).filter(F.col("token") != "")
    hashed = toks.withColumn("h", F.md5(F.col("token").cast("binary")))
    votes = [
        F.sum(
            F.when(
                F.substring("h", i + 1, 1).isin(*list("89abcdef")), 1
            ).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(16)
    ]
    sums = hashed.groupBy(id_col).agg(*votes)
    bits = sum(
        (F.when(F.col(f"v{i}") >= 0, 2**i).otherwise(0) for i in range(16)),
        F.lit(0),
    )
    return sums.select(F.col(id_col), bits.cast("long").alias("simhash"))


def span_exact_dedup(
    docs: DataFrame,
    span_tokens: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sub-document exact dedup (the FineWeb/Dolma line-dedup shape at
    span granularity): split each document into fixed non-overlapping
    ``span_tokens``-token spans, keep only each span's FIRST global
    occurrence (ordered by (doc_id, span position) — deterministic), and
    reassemble the survivors in position order. Boilerplate repeated
    across documents (headers, footers, license blocks) disappears from
    every copy but the first, while document-level dedup would have kept
    all of them (the docs differ overall).

    Output: one row per input document — (id, text, n_spans,
    n_dropped_spans); a document whose every span was seen before comes
    back with empty text rather than vanishing (the shared row
    contract).

    Scale shape: span extraction is row-local (slice over the token
    array); first-occurrence selection is ONE hash-keyed window (the
    same shuffle an exact-dedup groupBy pays, but on span hashes —
    ~tokens/span_tokens rows per doc); reassembly is one doc-keyed
    aggregation. No all-pairs anywhere; a hot boilerplate span lands on
    one partition only for its (tiny) first-occurrence rank, not for
    the payload — the window carries (hash, doc_id, pos), not text."""
    arr = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    n_spans_expr = F.ceil(F.size(arr) / F.lit(span_tokens)).cast("int")
    spans = docs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_spans_expr, F.lit(1))),
                lambda i: F.concat_ws(
                    " ",
                    F.slice(
                        arr, (i - 1) * span_tokens + 1, span_tokens
                    ),
                ),
            )
        ).alias("__pos", "__span"),
    ).filter(F.col("__span") != "")
    w = Window.partitionBy(F.md5(F.col("__span").cast("binary"))).orderBy(
        id_col, "__pos"
    )
    ranked = spans.withColumn("__rank", F.row_number().over(w))
    member = F.struct(F.col("__pos"), F.col("__span"))
    rebuilt = (
        ranked.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.when(F.col("__rank") == 1, member))
            ).alias("__kept"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("__rank") > 1).cast("long")).alias("n_dropped_spans"),
        )
        .select(
            F.col(id_col),
            F.array_join(
                F.transform(F.col("__kept"), lambda m: m["__span"]), " "
            ).alias(text_col),
            F.col("n_spans").cast("long"),
            "n_dropped_spans",
        )
    )
    return docs.select(id_col).join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce(text_col, F.lit("")).alias(text_col),
        F.coalesce("n_spans", F.lit(0).cast("long")).alias("n_spans"),
        F.coalesce("n_dropped_spans", F.lit(0).cast("long")).alias(
            "n_dropped_spans"
        ),
    )


def ngram_containment_pairs(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
    min_containment: float = 0.0,
) -> DataFrame:
    """Directed n-gram CONTAINMENT: |A∩B| / |A| for every shingle-
    sharing ordered pair — the asymmetric complement of
    :func:`ngram_jaccard_pairs` for SUBSET duplication. A short quote
    fully embedded in a long article scores containment ≈ 1 from the
    quote's side while Jaccard stays near zero (the intersection drowns
    in the article's size), so symmetric dedup never sees it; this is
    the signal for "document A is contained in B" drops and
    quote/boilerplate inclusion audits.

    Same inverted-index plan as the Jaccard path (one shingle scan,
    sizes riding the exploded rows, equi-join on shingle, one pair
    aggregation, the same ``max_df`` hot-shingle guard) — only the
    denominator changes, and both directions emit (containment is not
    symmetric). ``min_containment`` prunes the output pair list
    in-aggregation."""
    if max_df is None:
        # same one-aggregation dedup+size shape as ngram_jaccard_pairs
        # above (r13) — see that branch's rationale
        sets = (
            shingle_rows(
                _spread(df, id_col), n, id_col, text_col, distinct=False
            )
            .groupBy(id_col)
            .agg(F.collect_set("shingle").alias("__s"))
        )
        sh = sets.select(
            F.col(id_col).alias("doc_id"),
            F.size("__s").alias("n_shingles"),
            F.explode("__s").alias("shingle"),
        ).localCheckpoint(eager=False)
    else:
        sh = shingle_rows(
            _spread(df, id_col), n, id_col, text_col, distinct=True
        ).withColumnRenamed(id_col, "doc_id")
        hot = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        sh = sh.join(
            F.broadcast(hot.filter(F.col("__df") > max_df)),
            "shingle",
            "left_anti",
        )
        sh = sh.withColumn(
            "n_shingles", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        ).localCheckpoint(eager=False)
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_shingles").alias("size_a"),
        "shingle",
    )
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "size_a")
        .agg(F.count(F.lit(1)).alias("common"))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("common") / F.col("size_a"), 6).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= min_containment)
    )


def cross_source_dup_matrix(
    docs: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(source_a, source_b, n_shared_texts, share_of_a, share_of_b):
    for every unordered source pair, the EXACT count of distinct texts
    present in both — the precise twin of
    `sketches.theta_overlap_matrix` (run the sketch screen first; run
    this where the screen lights up, or wholesale when one aggregation
    over the corpus is affordable anyway).

    Plan: one distinct (text_hash, source) projection-aggregation, one
    per-hash source-set aggregation (set size ≤ source count — tiny),
    a row-local pairwise expansion of that set (≤ sources² structs per
    hash), and one pair-keyed count. Nothing is ever all-pairs in
    DOCUMENTS; the quadratic is over the bounded source list only.
    ``share_of_X`` = n_shared / distinct texts of X."""
    hashed = (
        with_text_hash(docs, text_col)
        .select("text_hash", F.col(source_col).alias("__src"))
        .dropDuplicates(["text_hash", "__src"])
    )
    per_source = hashed.groupBy("__src").agg(
        F.count(F.lit(1)).alias("__n_texts")
    )
    sets = hashed.groupBy("text_hash").agg(
        F.array_sort(F.collect_set("__src")).alias("__s")
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("__s"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("__s"),
                            i + 2,
                            F.greatest(
                                F.size("__s") - i - 1, F.lit(0)
                            ),
                        ),
                        lambda y: F.struct(
                            x.alias("source_a"), y.alias("source_b")
                        ),
                    ),
                )
            )
        ).alias("__p")
    ).select("__p.source_a", "__p.source_b")
    counts = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared_texts")
    )
    a_tot = per_source.select(
        F.col("__src").alias("source_a"), F.col("__n_texts").alias("__na")
    )
    b_tot = per_source.select(
        F.col("__src").alias("source_b"), F.col("__n_texts").alias("__nb")
    )
    return (
        counts.join(F.broadcast(a_tot), "source_a")
        .join(F.broadcast(b_tot), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared_texts",
            F.round(F.col("n_shared_texts") / F.col("__na"), 6).alias(
                "share_of_a"
            ),
            F.round(F.col("n_shared_texts") / F.col("__nb"), 6).alias(
                "share_of_b"
            ),
        )
        .orderBy(F.desc("n_shared_texts"), "source_a", "source_b")
    )
