"""Document-frequency boilerplate removal (the CCNet/Dolma line-level
filter): drop every line that appears in "too many" documents — cookie
banners, navigation chrome, license headers, template footers — from
EVERY document, then reassemble.

Complementary to `dedup.span_exact_dedup`, deliberately: span dedup
keeps each repeated span's FIRST occurrence (dedup semantics — one
copy survives), while boilerplate is defined by ubiquity and the right
number of surviving copies is ZERO. A cookie banner in 90% of a crawl
is not content that deserves one keeper; it is noise in all of them.

Threshold semantics: a line is boilerplate when its document frequency
is ≥ max(``min_docs``, ``frac`` · corpus size). The ``min_docs`` floor
keeps tiny corpora from flagging every shared line; the fraction keeps
the rule scale-relative. Blank lines never count and never drop.

Scale shape, with the bound stated: lines explode row-locally; the DF
table is one partial-agg'd countDistinct over (line_hash); the HOT set
— lines above threshold — is broadcast-safe BY CONSTRUCTION, because
at most (total lines) / (frac · n_docs) ≈ avg_lines_per_doc / frac
lines can clear a frac-of-corpus bar (a quantity independent of corpus
row count; ~thousands at frac=0.01). Removal is then one broadcast
hash join on the exploded lines and reassembly one doc-keyed
aggregation — two shuffles total (the DF agg and the reassembly),
both keyed, nothing all-pairs, no Python anywhere.

Matching is on the TRIMMED line (leading/trailing whitespace doesn't
make a banner a different banner) but reassembly preserves the
original line bytes of survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _exploded_lines(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias(
            "__pos", "__line"
        ),
    ).withColumn("__key", F.md5(F.trim(F.col("__line")).cast("binary")))


def _hot_lines(
    lines: DataFrame,
    id_col: str,
    n_docs: int,
    min_docs: int,
    frac: float,
) -> DataFrame:
    threshold = max(min_docs, int(-(-frac * n_docs // 1)))  # ceil
    return (
        lines.filter(F.trim(F.col("__line")) != "")
        .groupBy("__key")
        .agg(F.countDistinct(id_col).alias("line_df"))
        .filter(F.col("line_df") >= threshold)
    )


def boilerplate_report(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 5,
    frac: float = 0.5,
) -> DataFrame:
    """Audit surface: (line, line_df, doc_share) for every line above
    the boilerplate threshold — what WOULD be removed, with its reach.
    The line text shown is one representative rendering (min — trimmed
    variants collapse to one row)."""
    n_docs = docs.count()
    lines = _exploded_lines(docs, id_col, text_col)
    hot = _hot_lines(lines, id_col, n_docs, min_docs, frac)
    return (
        lines.join(F.broadcast(hot), "__key")
        .groupBy("__key")
        .agg(
            F.min(F.trim(F.col("__line"))).alias("line"),
            F.first("line_df").alias("line_df"),
        )
        .select(
            "line",
            "line_df",
            (F.col("line_df") / F.lit(float(max(n_docs, 1)))).alias(
                "doc_share"
            ),
        )
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 5,
    frac: float = 0.5,
) -> DataFrame:
    """One row per input document: (id, text, n_lines,
    n_dropped_lines) with every above-threshold line removed and the
    survivors rejoined in original order. A document that was ALL
    boilerplate comes back with empty text rather than vanishing (the
    `span_exact_dedup` row contract). Idempotent: a second pass over
    the output drops nothing (the hot lines are gone, so no line can
    clear the threshold it already cleared)."""
    if not 0.0 < frac <= 1.0:
        raise ValueError("remove_boilerplate_lines: frac must be in (0, 1]")
    n_docs = docs.count()
    lines = _exploded_lines(docs, id_col, text_col)
    hot = _hot_lines(lines, id_col, n_docs, min_docs, frac)
    flagged = lines.join(
        F.broadcast(hot.select("__key", F.lit(True).alias("__hot"))),
        "__key",
        "left",
    )
    member = F.struct(F.col("__pos"), F.col("__line"))
    rebuilt = (
        flagged.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.when(F.col("__hot").isNull(), member))
            ).alias("__kept"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.coalesce("__hot", F.lit(False)).cast("long")).alias(
                "n_dropped_lines"
            ),
        )
        .select(
            F.col(id_col),
            F.array_join(
                F.transform(F.col("__kept"), lambda m: m["__line"]), "\n"
            ).alias(text_col),
            F.col("n_lines").cast("long"),
            "n_dropped_lines",
        )
    )
    return docs.select(id_col).join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce(text_col, F.lit("")).alias(text_col),
        F.coalesce("n_lines", F.lit(0).cast("long")).alias("n_lines"),
        F.coalesce("n_dropped_lines", F.lit(0).cast("long")).alias(
            "n_dropped_lines"
        ),
    )


def dedup_lines_within_doc(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Intra-document line dedup: within EACH document, keep only the
    first occurrence of every repeated (trimmed) non-blank line — the
    scraped-page artifact where navigation or a quote block repeats
    inside one page. Scope is the complement of this module's corpus
    filter and of `dedup.span_exact_dedup`'s global keep-first: here
    each document is judged only against itself, so the operator is a
    PURE PROJECTION — an array fold per row, zero shuffles, trivially
    scale-free (pinned: no Exchange in the plan).

    Blank lines always survive (they are structure, not content — and
    deduping them would silently merge paragraphs). Matching ignores
    surrounding whitespace; the kept first occurrence preserves its
    original bytes. Output: (id, text, n_lines, n_dropped_lines).

    The fold is O(lines²) worst-case per document (array_contains over
    the seen-set) — row-local work bounded by document size, the same
    stance as the winnowing/chunking row-local passes."""
    lines = F.split(F.col(text_col), "\n")
    zero = F.struct(
        F.array().cast("array<string>").alias("seen"),
        F.array().cast("array<string>").alias("kept"),
    )

    def step(acc, x):
        t = F.trim(x)
        is_blank = t == ""
        is_dup = (~is_blank) & F.array_contains(acc["seen"], t)
        return F.struct(
            F.when(is_blank, acc["seen"])
            .otherwise(F.array_union(acc["seen"], F.array(t)))
            .alias("seen"),
            F.when(is_dup, acc["kept"])
            .otherwise(F.concat(acc["kept"], F.array(x)))
            .alias("kept"),
        )

    folded = F.aggregate(lines, zero, step)
    return docs.select(
        F.col(id_col),
        F.array_join(folded["kept"], "\n").alias(text_col),
        F.size(lines).cast("long").alias("n_lines"),
        (F.size(lines) - F.size(folded["kept"]))
        .cast("long")
        .alias("n_dropped_lines"),
    )


def update_line_df_ledger(
    batch: DataFrame,
    ledger_path: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Incremental twin of the corpus-global DF pass — the daily-batch
    shape: each batch reduces to per-line document-frequency increments
    landed under its own ``ingest_batch`` partition (dynamic overwrite
    ⇒ at-least-once replay rewrites, never double-counts — the ledger
    pattern; DF increments are sums, so partition idempotence is the
    ONLY replay layer, as with the CMS ledger).

    Row layout per partition: (line_key, line, line_df, n_docs) line
    rows carry a NULL n_docs; ONE metadata row (NULL line_key) carries
    the batch's document count — total corpus size is the sum of
    metadata rows, cumulative DF the per-key sum of line rows. Both
    reads are ledger-sized."""
    spark = batch.sparkSession
    lines = _exploded_lines(batch, id_col, text_col)
    incr = (
        lines.filter(F.trim(F.col("__line")) != "")
        .groupBy("__key")
        .agg(
            F.countDistinct(id_col).alias("line_df"),
            F.min(F.trim(F.col("__line"))).alias("line"),
        )
        .select(
            F.col("__key").alias("line_key"),
            "line",
            "line_df",
            F.lit(None).cast("long").alias("n_docs"),
        )
    )
    meta = batch.agg(F.count(F.lit(1)).alias("n_docs")).select(
        F.lit(None).cast("string").alias("line_key"),
        F.lit(None).cast("string").alias("line"),
        F.lit(None).cast("long").alias("line_df"),
        F.col("n_docs"),
    )
    rows = incr.unionByName(meta).withColumn(
        "ingest_batch", F.lit(int(batch_id))
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (
        rows.write.mode("overwrite")
        .partitionBy("ingest_batch")
        .parquet(ledger_path)
    )


def remove_boilerplate_against_ledger(
    batch: DataFrame,
    ledger_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 5,
    frac: float = 0.5,
) -> DataFrame:
    """Clean a batch against the CUMULATIVE line-DF ledger: thresholds
    use all-time document counts, so a banner that is rare inside any
    single day but ubiquitous across the corpus still drops — the
    recall the per-batch-only threshold structurally misses (pinned).
    Same output contract as :func:`remove_boilerplate_lines`; the hot
    set keeps the broadcast-safe bound (≤ avg_lines/frac entries of
    the CUMULATIVE corpus). Typical daily flow: `update_line_df_ledger`
    with today's batch, then this against the grown ledger."""
    if not 0.0 < frac <= 1.0:
        raise ValueError(
            "remove_boilerplate_against_ledger: frac must be in (0, 1]"
        )
    spark = batch.sparkSession
    ledger = spark.read.parquet(ledger_path)
    n_docs = (
        ledger.filter(F.col("line_key").isNull())
        .agg(F.sum("n_docs"))
        .collect()[0][0]
        or 0
    )
    threshold = max(min_docs, int(-(-frac * n_docs // 1)))  # ceil
    hot = (
        ledger.filter(F.col("line_key").isNotNull())
        .groupBy("line_key")
        .agg(F.sum("line_df").alias("line_df"))
        .filter(F.col("line_df") >= threshold)
        .select(F.col("line_key").alias("__key"), F.lit(True).alias("__hot"))
    )
    lines = _exploded_lines(batch, id_col, text_col)
    flagged = lines.join(F.broadcast(hot), "__key", "left")
    member = F.struct(F.col("__pos"), F.col("__line"))
    rebuilt = (
        flagged.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.when(F.col("__hot").isNull(), member))
            ).alias("__kept"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.coalesce("__hot", F.lit(False)).cast("long")).alias(
                "n_dropped_lines"
            ),
        )
        .select(
            F.col(id_col),
            F.array_join(
                F.transform(F.col("__kept"), lambda m: m["__line"]), "\n"
            ).alias(text_col),
            F.col("n_lines").cast("long"),
            "n_dropped_lines",
        )
    )
    return batch.select(id_col).join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce(text_col, F.lit("")).alias(text_col),
        F.coalesce("n_lines", F.lit(0).cast("long")).alias("n_lines"),
        F.coalesce("n_dropped_lines", F.lit(0).cast("long")).alias(
            "n_dropped_lines"
        ),
    )
