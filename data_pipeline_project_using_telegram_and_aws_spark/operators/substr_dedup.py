"""Exact-substring dedup — the ExactSubstr family (Lee et al.,
"Deduplicating Training Data Makes Language Models Better",
arXiv:2107.06499): find every maximal character span whose length-k
windows all repeat somewhere in the corpus, and cut every occurrence.
The paper builds one giant suffix array; that is a single-machine
design. The Spark-shaped equivalent below is an inverted index over
ALL k-gram positions plus per-document island stitching — every step
a keyed shuffle, nothing global, which is what survives a 100 TB
corpus sharded over 1000 executors.

Relationship to `winnowing` (dd7): winnowing SAMPLES k-grams (window
minima) to make candidate FINDING cheap and probabilistic; this module
keeps every position to make span MARKING exact. Use winnowing to find
which documents overlap; use this when the task is "delete every
repeated ≥L-char run from the corpus", the pretraining-dedup step the
paper showed removes memorization fuel.

Contract (stated precisely because the k-gram form is an
approximation of suffix-array maximal repeats):

- NO FALSE NEGATIVES at ≥ k: any substring of length ≥ k that occurs
  twice anywhere (across documents or twice within one) is fully
  covered by reported spans in BOTH places.
- Over-extension is possible (chimeras): a span is reported when each
  of its k-windows repeats SOMEWHERE — adjacent windows may match
  different sources, so a reported span need not occur contiguously
  elsewhere as a whole. For corpus hygiene this errs on the side of
  removing slightly more, the same trade the public Spark/BigQuery
  reimplementations of ExactSubstr make.
- Hash collisions: grams are compared by 64-bit ``xxhash64`` (r13
  optimization — the old 48-bit md5-prefix recipe spent ~2× the whole
  pipeline's remaining CPU on md5 + hex + conv per corpus character;
  measured 3.45 s → 1.62 s for the gram projection alone at sf0.1).
  A collision can mark a non-repeated gram (~n²/2⁶⁵ expected false
  grams — 256× fewer than the md5-prefix recipe, and harmless: one
  extra marked window). The registered oracle (sx1) groups on the raw
  gram STRING, so it verifies the hashing against true string
  equality every round regardless of the hash function.

Plan shape (r13): one explode (|text| rows/doc) → ONE hash-keyed
shuffle with a count window over the gram hash (dup mark) → one
per-doc window for island stitching. `remove_spans` is a join + one
fold (merge overlaps, cut) — zero Python end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _gram_hash(text, pos, k: int):
    """64-bit ``xxhash64`` of the char k-gram at 1-based ``pos``.

    r13 optimization (guide §1.2 "per-task work"): was the 48-bit
    md5-prefix recipe shared with `winnowing.winnow_fingerprints` —
    md5 → hex string → substring → base-16 conv per corpus character,
    measured 2.1× the cost of the entire rest of the span pipeline at
    sf0.1. The hash is engine-internal (every registered/pytest oracle
    of this family compares raw gram strings or end-result spans, never
    hash values), so only determinism and collision rate matter:
    xxhash64 is deterministic across sessions/partitions and 64-bit.
    The md5-prefix recipe remains in `winnowing` where SQL
    reproducibility is the stated design goal."""
    return F.xxhash64(F.substring(text, pos, k))


def exact_substring_spans(
    df: DataFrame,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """(id, span_start, span_length) — maximal spans (1-based start)
    whose every k-window occurs ≥ ``min_count`` times corpus-wide
    (within-document repeats count). Documents shorter than ``k``
    yield nothing. Spans from distinct islands may overlap by up to
    ``k - 1`` chars (islands are maximal runs of duplicated window
    STARTS); `remove_spans` merges them before cutting.

    Scale: the gram-hash shuffle carries one row per character of
    corpus — the honest cost of exactness (the suffix array pays the
    same n log n on one machine). The 64-bit hash spreads DISTINCT
    grams uniformly, but key MULTIPLICITY is the corpus's: the count
    window co-locates every occurrence of one gram in one task, so a
    duplication-heavy corpus (a boilerplate line repeated 10⁸ times)
    concentrates that gram's rows on one spilling straggler — the
    same co-location the previous groupBy+join shape forced, now
    named. If that regime is the workload, split the mark into a
    partial count + filter two-pass before the window.

    Plan shape (r13 optimization, guide §2.4 "remove shuffles
    outright"): dup marking is ONE count window over the gram hash —
    every position whose hash appears ≥ ``min_count`` times survives
    the filter directly. This replaces the previous
    groupBy(count) + self-join shape, which (a) executed the
    explode+hash subtree TWICE (once per join side), (b) paid two
    full-size exchanges plus both SMJ sorts, and (c) needed a
    deliberate merge-strategy pin because Catalyst statically
    broadcast the data-dependent dup-hash aggregate and OOMed the JVM
    at the r12 200k-doc probe. The window shape is structurally
    immune to that planner hazard (no join exists to mis-strategize),
    shuffles the 20-byte (id, pos, hash) rows exactly once, and
    measured 10.0 s → 2.7 s on sx1 at sf0.1 together with the
    xxhash64 change (plan: 2 Exchange + 2 Sort + SMJ → 1 Exchange +
    1 window Sort on the gram path). Per-hash window groups hold the
    occurrence count of one 30-char gram — bounded by duplication
    multiplicity, the same co-location the join shape already forced."""
    from ..functions.spread import spread

    # spread before the per-character explode+hash (functions/spread.py):
    # ~|text| xxhash64 rows per doc run pre-exchange, i.e. on the 1-3
    # cores a small local scan plans without this; measured 5.6 → 3.8 s
    # end-to-end at sf0.1. Hash/integer work only — values unchanged.
    text = F.col(text_col)
    n_pos = F.length(text) - k + 1
    pos_seq = F.when(n_pos >= 1, F.sequence(F.lit(1), n_pos)).otherwise(
        F.array().cast("array<int>")
    )
    # (id, __p, __h): one row per k-gram position (1-based), hashed
    grams = spread(df, id_col).select(
        F.col(id_col), text.alias("__t"), F.explode(pos_seq).alias("__p")
    ).select(
        F.col(id_col),
        F.col("__p"),
        _gram_hash(F.col("__t"), F.col("__p"), k).alias("__h"),
    )
    marked = (
        grams.withColumn(
            "__n", F.count(F.lit(1)).over(Window.partitionBy("__h"))
        )
        .filter(F.col("__n") >= min_count)
        .select(id_col, "__p")
    )
    # gaps and islands: consecutive marked positions share p - row_number
    rn = F.row_number().over(Window.partitionBy(id_col).orderBy("__p"))
    return (
        marked.withColumn("__island", F.col("__p") - rn)
        .groupBy(id_col, "__island")
        .agg(
            F.min("__p").alias("span_start"),
            (F.max("__p") - F.min("__p") + k).alias("span_length"),
        )
        .drop("__island")
    )


def remove_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cut every reported span out of every document (the paper's
    policy: ALL occurrences go — §4.2 of arXiv:2107.06499 found no
    benefit to keeping one copy) and return ``df`` with ``text_col``
    rewritten (documents with no spans pass through unchanged).
    Overlapping/adjacent spans are merged first, then the kept pieces
    are stitched with one fold — array HOFs only, no Python, no
    window: per-document span lists are collected by a keyed groupBy
    and documents are wide, not deep."""
    text = F.col(text_col)
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"),
                    (F.col("span_start") + F.col("span_length")).alias(
                        "e"
                    ),
                )
            )
        ).alias("__spans")
    )
    # merge overlapping/adjacent [s, e) intervals with one fold
    merged = F.aggregate(
        F.col("__spans"),
        F.expr("cast(array() as array<struct<s:int,e:int>>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (x["s"] <= F.element_at(acc, -1)["e"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.greatest(
                            F.element_at(acc, -1)["e"], x["e"]
                        ).alias("e"),
                    )
                ),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    out = df.join(per_doc, id_col, "left").withColumn("__m", merged)
    # fold over merged spans: carry (kept-so-far, cursor); finish by
    # appending the tail after the last span
    cut = F.aggregate(
        F.col("__m"),
        F.struct(
            F.lit("").alias("kept"), F.lit(1).alias("cur")
        ),
        lambda acc, x: F.struct(
            F.concat(
                acc["kept"],
                F.substring(text, acc["cur"], x["s"] - acc["cur"]),
            ).alias("kept"),
            x["e"].alias("cur"),
        ),
        lambda acc: F.concat(
            acc["kept"],
            F.substring(
                text, acc["cur"], F.length(text) - acc["cur"] + 1
            ),
        ),
    )
    return out.withColumn(
        text_col, F.when(F.col("__m").isNull(), text).otherwise(cut)
    ).drop("__spans", "__m")
