"""Drift between two snapshots of an EMBEDDING column — the vector
complement of `operators/drift.py` (numeric PSI) and its categorical
twin: an upstream encoder retrain, a normalization change, or a
population shift moves vectors in ways no scalar column shows (same
row counts, same lengths, different geometry).

Three signals per slice, each with a precise meaning:

- **centroid_cos** — cosine similarity between the two snapshots' mean
  vectors: the direction of the slice moved. 1.0 = same direction;
  an encoder swap or population shift drops it.
- **norm_psi** — PSI between the L2-norm distributions (baseline fixes
  the binning, per slice; edge-bin clamping as in `drift.py`): catches
  re-scaling and normalization regressions even when the direction is
  unchanged (centroid_cos is scale-blind by construction).
- **mean_norm_base / mean_norm_cur** — the first moment of the norm,
  for reading WHICH way the scale moved.

Plan shape, all JVM-side: norms are a row-local ``aggregate`` fold
(no shuffle); per-slice norm stats and histograms are partial-agg'd
aggregations joined bins-wise (everything after the scans is
slices × bins); centroids cost one posexplode to (slice, pos) — the
one rows × dim expansion, partial-agged to dim-sized rows per slice —
and a dim-sized ``collect_list`` per (slice, side), bounded by the
embedding DIMENSION (a model constant, never data-sized), then a
row-local zip_with/aggregate cosine. Mixed dimensions within a side
raise in-plan (``assert_true`` on the per-slice min/max of
``size(vec)``) — a mixed-dim slice means two encoders' outputs were
unioned, and every signal here would silently blend them.

Slices join NULL-SAFELY: group keys ride inside ONE struct column, and
Spark's struct equality treats NULL fields as equal in joins/groupBy —
so a NULL slice value is one slice, not a row that full-outer-joins
past itself every time (applied by construction instead of by
eqNullSafe plumbing)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .drift import EPS


def _norm(vec):
    return F.sqrt(
        F.aggregate(
            vec, F.lit(0.0), lambda acc, x: acc + x.cast("double") ** 2
        )
    )


def _cosine(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


def _centroid(df: DataFrame, name: str) -> DataFrame:
    """One dim-sized centroid array per slice: posexplode →
    (slice, pos) partial-agg'd means → ordered re-assembly. The
    collect_list operand is exactly ``dim`` structs per slice."""
    e = df.select(
        "__k", F.posexplode(F.col("__vec")).alias("__pos", "__v")
    )
    means = e.groupBy("__k", "__pos").agg(
        F.avg(F.col("__v").cast("double")).alias("__m")
    )
    return means.groupBy("__k").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__pos", "__m"))),
            lambda s: s["__m"],
        ).alias(name)
    )


def embedding_drift_report(
    baseline: DataFrame,
    current: DataFrame,
    vec_col: str = "embedding",
    by: list[str] | None = None,
    norm_bins: int = 20,
) -> DataFrame:
    """One row per slice (or one total row with ``by=None``):
    (by..., n_base, n_cur, centroid_cos, mean_norm_base,
    mean_norm_cur, norm_psi). NULL vectors are excluded from every
    signal (their rate is scalar drift — `drift.psi_report` on an
    is-null flag covers it); a slice present on only one side reports
    NULL centroid_cos and norm_psi with the surviving side's counts.
    Degenerate baseline norm ranges (all-equal norms) report NULL
    norm_psi rather than inventing a binning."""
    keys = list(by or [])

    def prep(df: DataFrame) -> DataFrame:
        k = (
            F.struct(*[F.col(c) for c in keys])
            if keys
            else F.struct(F.lit(0).alias("__all"))
        )
        return df.filter(F.col(vec_col).isNotNull()).select(
            k.alias("__k"), F.col(vec_col).alias("__vec")
        )

    base, cur = prep(baseline), prep(current)

    def stats(df: DataFrame, tag: str) -> DataFrame:
        s = df.select(
            "__k",
            _norm(F.col("__vec")).alias("__n"),
            F.size("__vec").alias("__d"),
        ).groupBy("__k").agg(
            F.count(F.lit(1)).alias(f"n_{tag}"),
            F.avg("__n").alias(f"mean_norm_{tag}"),
            F.min("__n").alias(f"__lo_{tag}"),
            F.max("__n").alias(f"__hi_{tag}"),
            F.min("__d").alias("__dmin"),
            F.max("__d").alias("__dmax"),
        )
        # in-plan mixed-dimension guard (module docstring)
        return s.filter(
            F.assert_true(
                F.col("__dmin") == F.col("__dmax"),
                F.concat_ws(
                    " ",
                    F.lit(
                        f"embedding_drift_report: {tag} slice has mixed "
                        "vector dimensions"
                    ),
                    F.col("__dmin").cast("string"),
                    F.lit(".."),
                    F.col("__dmax").cast("string"),
                    F.lit("- two encoders' outputs were unioned?"),
                ),
            ).isNull()
        ).drop("__dmin", "__dmax")

    sb = stats(base, "base")
    sc = stats(cur, "cur")

    # per-slice norm histograms with the BASELINE fixing the binning
    edges = sb.select(
        "__k",
        F.col("__lo_base").alias("__lo"),
        F.col("__hi_base").alias("__hi"),
    )

    def hist(df: DataFrame, tag: str) -> DataFrame:
        j = df.join(edges, "__k").filter(F.col("__hi") > F.col("__lo"))
        width = (F.col("__hi") - F.col("__lo")) / norm_bins
        idx = F.least(
            F.greatest(
                F.floor(
                    (_norm(F.col("__vec")) - F.col("__lo")) / width
                ).cast("long"),
                F.lit(0),
            ),
            F.lit(norm_bins - 1),
        )
        return j.groupBy("__k", idx.alias("__bin")).agg(
            F.count(F.lit(1)).alias(f"__n_{tag}")
        )

    hb, hc = hist(base, "b"), hist(cur, "c")
    # PSI per slice: the bins-sized cell list folds row-locally — the
    # collect_list operand is ≤ norm_bins structs per slice
    bins = (
        hb.join(hc, ["__k", "__bin"], "full_outer")
        .select(
            "__k",
            F.coalesce("__n_b", F.lit(0)).alias("nb"),
            F.coalesce("__n_c", F.lit(0)).alias("nc"),
        )
        .groupBy("__k")
        .agg(
            F.sum("nb").alias("tb"),
            F.sum("nc").alias("tc"),
            F.collect_list(F.struct("nb", "nc")).alias("__cells"),
        )
        .select(
            "__k",
            F.aggregate(
                "__cells",
                F.lit(0.0),
                lambda acc, s: acc
                + (
                    s["nb"] / F.greatest(F.col("tb"), F.lit(1))
                    - s["nc"] / F.greatest(F.col("tc"), F.lit(1))
                )
                * F.log(
                    (
                        s["nb"] / F.greatest(F.col("tb"), F.lit(1))
                        + F.lit(EPS)
                    )
                    / (
                        s["nc"] / F.greatest(F.col("tc"), F.lit(1))
                        + F.lit(EPS)
                    )
                ),
            ).alias("norm_psi"),
        )
    )

    cb = _centroid(base, "__cb")
    cc = _centroid(cur, "__cc")
    return (
        sb.join(sc, "__k", "full_outer")
        .join(cb, "__k", "left")
        .join(cc, "__k", "left")
        .join(bins, "__k", "left")
        .select(
            *[F.col(f"__k.{c}").alias(c) for c in keys],
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
            F.when(
                F.col("__cb").isNotNull() & F.col("__cc").isNotNull(),
                F.round(_cosine(F.col("__cb"), F.col("__cc")), 6),
            ).alias("centroid_cos"),
            F.round("mean_norm_base", 6).alias("mean_norm_base"),
            F.round("mean_norm_cur", 6).alias("mean_norm_cur"),
            # PSI against a missing side is the ε-floor talking, not
            # the data — one-sided slices report NULL (their story is
            # already told by the zero count)
            F.when(
                F.col("n_base").isNotNull() & F.col("n_cur").isNotNull(),
                F.round("norm_psi", 6),
            ).alias("norm_psi"),
        )
    )
