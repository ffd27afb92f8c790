"""Similarity search over embedding columns (north-star extension,
SURVEY.md §7 Phase 4).

Three tiers, mirroring how ANN works on a real cluster:

- **Brute force** (baseline): query-set × corpus with the query side
  broadcast — the corpus is never shuffled, each executor scans its
  partitions once per batch of queries. Exact, O(|Q|·|C|·d); right when
  |Q| is small or as the reranker behind a candidate generator.
- **Hyperplane LSH** (all-pairs scale path): ``n_planes`` deterministic
  random hyperplanes (signs derived from md5(p_d), so a SQL oracle
  reproduces them bit-for-bit) hash each vector to sign bits, split into
  **bands** (MinHash-style): a pair is a candidate iff it matches all
  bits of at least one band. Geometry is a *parameter* with two dials:
  ``rows_per_band`` (bits per band → 2^rpb buckets per band) controls
  bucket occupancy and must grow ~log2(corpus) so candidates stay
  ~linear — a fixed bucket count is quadratic-per-bucket at 100 TB;
  band count controls recall (and only multiplies candidates). Measured
  in ``tools/scale_probe.py``: at N=2k/8k/32k, fixed 16-plane geometry
  grows 18k→293k→4.7M candidate pairs (quadratic) while log2-scaled
  rows_per_band grows 18k→83k→375k (~linear).
- **IVF** (query-time scale path): vectors are assigned to inverted lists
  under k centroids (trained by :func:`train_centroids_lloyd` — a few
  Lloyd iterations expressed as pure DataFrame ops); queries probe their
  ``nprobe`` nearest lists and exact-rerank only those.

Plane weights are computed driver-side with :mod:`hashlib` md5 — the
*same* public derivation the SQL oracle runs (md5 of ``"{p}_{d}"``,
first hex digit >= '8' → +1) — and baked in as constant-array literals:
bit computation is posexplode(vector) → ONE groupBy(id) with n_planes
conditional-sum columns (``element_at`` into the literal weight array),
map-side partial agg → a single n_planes-wide shuffled row per vector.
(Two alternatives were measured and rejected: a fully-unrolled
±element_at projection — n_planes×dims terms blow the whole-stage-
codegen method limits and run interpreted, ~5× slower; and a broadcast
weights-table join — amplifies the explode to dims×planes rows and
needs a second shuffle for banding.) All vector math is JVM-side
expressions (functions/vectors.py) — no Python UDF in any hot path.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions.vectors import cosine, cosine_with_norms, norm

N_PLANES = 8
DIMS = 64


def plane_weights(n_planes: int, dims: int) -> list[list[float]]:
    """±1 hyperplane weights from the public md5 rule (reproduced verbatim
    by the SQL oracle): w[p][d] = +1 iff the first hex digit of
    md5("{p}_{d}") is >= '8'."""
    return [
        [
            1.0
            if hashlib.md5(f"{p}_{d}".encode()).hexdigest()[0] >= "8"
            else -1.0
            for d in range(dims)
        ]
        for p in range(n_planes)
    ]


def _plane_projections(
    vectors: DataFrame,
    n_planes: int,
    dims: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, __proj0..__projN): one row per vector with every hyperplane
    projection v · w_p as a column.

    Plan shape: posexplode the vector once (dims rows per vector — NOT
    dims×planes; weights are constant-array literals indexed by
    ``element_at``, no weights-table join amplification), then ONE
    groupBy(id) with n_planes codegen'd conditional-sum columns;
    map-side partial agg makes the shuffle a single n_planes-wide row
    per vector per partition."""
    # NOTE (r13 spread screening): an input spread was tried here and
    # measured SLOWER on ss3 (interleaved A/B: 2.10 vs 1.74 s) — the
    # conditional-sum projection is fully codegen'd (~2M cheap ops at
    # sf0.1), so parallelizing it cannot repay the inserted exchange;
    # the groupBy's own shuffle already redistributes the final agg.
    # Contrast ivf_assign below, whose interpreted cosine folds are
    # ~100× heavier per element and DO repay the spread.
    ws = plane_weights(n_planes, dims)
    elems = vectors.select(
        id_col, F.posexplode(vec_col).alias("d", "e")
    ).withColumn("e", F.col("e").cast("double"))
    # r14 construction-cost fix (driver-side plan-build, guide §7.3):
    # the weight literals were built as n_planes × dims individual
    # F.lit() py4j calls (1024 round trips at 16×64) — one JVM-parsed
    # expression string per plane builds the IDENTICAL expression tree
    # ("1.0D" parses to the exact double literal) at 0.905 → 0.127 s of
    # pure construction per build, paid by ss3/ss4/dd6 every invocation.
    aggs = []
    for p in range(n_planes):
        arr = ",".join(f"{w}D" for w in ws[p])
        aggs.append(
            F.expr(f"sum(e * element_at(array({arr}), d + 1)) AS __proj{p}")
        )
    return elems.groupBy(id_col).agg(*aggs)


def hyperplane_buckets(
    vectors: DataFrame,
    spark: SparkSession | None = None,
    n_planes: int = N_PLANES,
    dims: int = DIMS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector its LSH bucket id = sum(bit_p * 2^p) over all
    planes (single-band code) — row-local from the projection columns,
    one shuffle total. ``spark`` is accepted for call-site compatibility
    but unused (the session comes from ``vectors``)."""
    projs = _plane_projections(vectors, n_planes, dims, id_col, vec_col)
    bucket = sum(
        (
            (F.col(f"__proj{p}") >= 0).cast("long") * (2 ** p)
            for p in range(n_planes)
        ),
        F.lit(0),
    )
    return projs.select(id_col, bucket.cast("long").alias("bucket"))


def banded_buckets(
    vectors: DataFrame,
    n_planes: int = 16,
    rows_per_band: int = 8,
    dims: int = DIMS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MinHash-style banding of the hyperplane bits: one (id, band,
    bucket) row per band, bucket = the band's bits packed into an int —
    derived row-locally from the projection columns (one shuffle total).
    Pairs matching any full band become candidates — each band join is
    sub-quadratic and recall comes from the band union."""
    assert n_planes % rows_per_band == 0
    n_bands = n_planes // rows_per_band
    projs = _plane_projections(vectors, n_planes, dims, id_col, vec_col)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                sum(
                    (
                        (F.col(f"__proj{b * rows_per_band + r}") >= 0).cast(
                            "long"
                        )
                        * (2 ** r)
                        for r in range(rows_per_band)
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    return projs.select(id_col, F.explode(bands).alias("bb")).select(
        id_col,
        F.col("bb.band").cast("long").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Ranking uses the *rounded* cosine (4 dp) with the neighbor id as
    tie-break, so results are reproducible across engines and runs.
    Norms are computed once per vector and carried through the cross
    join (``cosine_with_norms``), so per pair only the dot fold runs —
    bit-identical values at a third of the interpreted-HOF work.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias("__qvec"),
            norm(F.col(vec_col)).alias("__qn"),
        )
    )
    from ..functions.spread import spread

    # spread before the |Q|× row amplification + interpreted cosine
    # folds (functions/spread.py) — row-local math, values unchanged
    withn = spread(corpus, id_col).withColumn("__vn", norm(F.col(vec_col)))
    pairs = withn.crossJoin(q).filter(F.col(id_col) != F.col(query_id_col))
    scored = pairs.select(
        query_id_col,
        id_col,
        F.round(
            cosine_with_norms(
                F.col(vec_col), F.col("__qvec"), F.col("__vn"), F.col("__qn")
            ),
            4,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("neighbor_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neighbor_rank") <= k)
        .orderBy(query_id_col, "neighbor_rank")
    )


def blocked_neardup_pairs(
    vectors: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_rows: int | None = None,
    salt: int = 4,
) -> DataFrame:
    """All cosine-scored pairs WITHIN each block — the documented
    O(block²) near-dup baseline (ss2's path): correct, simple, and the
    reference point the banded-LSH path (:func:`lsh_banded_neardup_pairs`)
    is measured against. NOT the scale path: a block of B rows expands
    to B(B-1)/2 pairs.

    ``max_block_rows`` (default: the cost-model bound
    ``scale_rules.blocked_pairs_max_block_rows`` ≈ 10⁴ rows ≈ 5·10⁷
    pairs/block) is enforced IN-PLAN with ``assert_true`` over a
    per-block count window, so oversized blocks fail loudly at execution
    time on any caller path — before the pair expansion runs, instead of
    OOMing an executor hours into a 100 TB job. Raise it explicitly only
    with the cost model in hand.

    ``salt`` (r13, guide §2.5 skew): a block's pair expansion is
    otherwise ONE task — the hot-cluster straggler. The a-side keys each
    row by ``pmod(xxhash64(id), salt)`` (deterministic — never rand();
    retried tasks reproduce the assignment), the b-side replicates
    ``salt`` ways, and the join key becomes (block, salt): each
    unordered pair (i, j), i<j, meets exactly once — in the (block,
    hash(i)) partition — so the result set is identical while the hot
    block's quadratic work spreads over ``salt`` tasks. Cost: the
    b-side shuffles ×salt (rows, not pairs — linear, and dwarfed by the
    quadratic work it parallelizes; measured 1.07 → 0.53 s on sd1's
    pair scan at sf0.1 with salt=4 ≈ salt=8). ``salt=1`` restores the
    unsalted single-task-per-block shape."""
    if max_block_rows is None:
        from ..functions.scale_rules import blocked_pairs_max_block_rows

        max_block_rows = blocked_pairs_max_block_rows()
    guarded = (
        vectors.select(block_col, id_col, vec_col)
        .withColumn(
            "__bn", F.count(F.lit(1)).over(Window.partitionBy(block_col))
        )
        # filter-on-assert keeps the guard un-prunable: assert_true
        # yields NULL for every passing row (isNull keeps all), raises
        # on the first oversized block
        .filter(
            F.assert_true(
                F.col("__bn") <= F.lit(max_block_rows),
                F.concat_ws(
                    " ",
                    F.lit("blocked_neardup_pairs: block"),
                    F.col(block_col).cast("string"),
                    F.lit("has"),
                    F.col("__bn").cast("string"),
                    F.lit(
                        f"rows > max_block_rows={max_block_rows}; the "
                        "O(block^2) baseline is capped by the "
                        "scale_rules.blocked_pairs_max_block_rows cost "
                        "model - use lsh_banded_neardup_pairs at scale"
                    ),
                ),
            ).isNull()
        )
        .drop("__bn")
    )
    # norms once per VECTOR before the pair expansion (B rows), not per
    # pair (B²/2 rows × 2): inside the quadratic join only the dot fold
    # runs — measured ~2× on the sf0.1 semantic-dedup pair scan.
    # r13: explicit block-keyed repartition to session parallelism —
    # the pair join's input is block-keyed and tiny in BYTES, so AQE's
    # byte-based coalescing was re-serializing the whole quadratic
    # pair expansion + interpreted cosine folds onto ONE task (bytes
    # are a bad proxy for a stage whose row count is quadratic in its
    # input). A user repartition is exempt from AQE coalescing and the
    # window guard + self-join both reuse the block partitioning, so
    # this adds no extra exchange; on a real corpus whose blocks
    # already arrive wide it is the same single block-keyed shuffle
    # the join always paid. Values untouched (cosines are row-local,
    # the guard count is an integer).
    n_parts = vectors.sparkSession.sparkContext.defaultParallelism
    withn = guarded.repartition(n_parts, block_col).withColumn(
        "__n", norm(F.col(vec_col))
    )
    salt = max(1, int(salt))
    a = withn.select(
        F.col(block_col),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt)).alias("__salt"),
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = withn.select(
        F.col(block_col),
        F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("__salt"),
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    return (
        a.join(b, [block_col, "__salt"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            block_col,
            "vec_a",
            "vec_b",
            F.round(
                cosine_with_norms(
                    F.col("__va"), F.col("__vb"),
                    F.col("__na"), F.col("__nb"),
                ),
                4,
            ).alias("cos_sim"),
        )
    )


def train_centroids_lloyd(
    vectors: DataFrame,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int | None = None,
) -> DataFrame:
    """K-means centroids via ``iters`` Lloyd iterations, pure DataFrame
    ops, engine-deterministic end to end (DuckDB reproduces every step):

    - training set: with ``sample_n`` set, the ``sample_n`` vectors with
      the smallest ``md5(cast(id as string))`` — a deterministic
      pseudo-random sample, checkpointed once so the iterations never
      rescan the corpus. This is the index-build scale bound: Lloyd cost
      becomes O(sample_n · k · iters) regardless of corpus size, which
      is what makes training affordable at 100 TB (full-corpus Lloyd per
      index build is a scale-killer; a bounded sample loses nothing for
      k ≪ sample_n centroids);
    - seed: the k vectors with the smallest ``md5(cast(id as string))``
      (ties by id) — the first k of the same ordering, so adding
      ``sample_n`` does not move the seeds;
    - assign: nearest centroid by cosine rounded to 4 dp, centroid id as
      tie-break (broadcast centroids — the corpus never shuffles for the
      scoring; a row-local literal-argmin variant was measured SLOWER at
      this scale: k·dims literal expression trees cost more in analysis
      and interpreted evaluation than the k× row amplification costs in
      the broadcast join);
    - update: per-dimension mean of members as an exact scaled-long sum
      (order-independent) with two deterministic double divisions.

    Output: (centroid_id, cvec: array<double>) — centroid_id is the seed
    vector's id; a centroid that loses all members drops out. Each
    iteration is checkpointed (k×dims rows) so the plan stays flat; per
    iteration the shuffles are the per-vector argmin window and the
    k×dims-cell mean aggregation.

    Caching note (measured, sf0.1): persisting ``vectors`` across the
    iterations — the textbook iterative-ML idiom, right at 100 TB where
    it replaces 2×iters lake scans with MEMORY_AND_DISK reads — was
    tried and ran ~1.7× SLOWER here (warm 10.8 s vs 6.2 s for the full
    ss5): at bench scale the InMemoryRelation build + columnar-cache
    scan costs more than the parquet re-reads it saves. Re-add the
    persist only behind a size threshold if training ever runs at real
    scale in this codebase.
    """
    train = vectors
    if sample_n is not None:
        train = (
            vectors.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
            .limit(sample_n)
            .localCheckpoint(eager=True)
        )
    cents = (
        train.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("cvec"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        # out_id must follow id_col or the member join below only
        # resolves for the default "vec_id" (latent until the r13
        # two-level path trained over a (__fid, __fvec) frame)
        best = ivf_assign(train, cents, 1, id_col, vec_col, out_id=id_col)
        members = train.join(best, id_col).select(
            "centroid_id", F.posexplode(vec_col).alias("d", "e")
        )
        # exact fixed-point mean (functions/exact.py rationale): scaled
        # integer sum, then two deterministic double divisions — the
        # oracle reproduces the identical arithmetic
        means = members.groupBy("centroid_id", "d").agg(
            (
                F.sum(
                    F.round(F.col("e").cast("double") * 1000000.0)
                    .cast("long")
                )
                / 1000000.0
                / F.count("e")
            ).alias("m")
        )
        cents = (
            means.groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("dm"))
            .select(
                "centroid_id",
                F.transform("dm", lambda x: x.getField("m")).alias("cvec"),
            )
            .localCheckpoint(eager=True)
        )
    return cents


def train_centroids_hierarchical(
    vectors: DataFrame,
    k: int = 256,
    iters: int = 3,
    coarse_k: int | None = None,
    coarse_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int | None = None,
) -> DataFrame:
    """Two-level Lloyd training — the index-BUILD half of the r13
    two-level scale path. `train_centroids_lloyd` deliberately costs
    O(sample·k·iters): at the 16-per-centroid sample rule that is
    O(k²·iters), which gates the k ∝ n^(2/3) sizing rule
    `hierarchical_ivf_assign` unlocks (measured: k=737 trains in
    155 s vs 13 s at k=200, BENCH_NOTES r13). This trainer cuts the
    per-iteration term to O(sample·√k): train ~√k COARSE centroids on
    the sample (flat Lloyd, O(sample·√k)), partition the sample into
    coarse cells once, then run the fine Lloyd iterations with each
    vector scoring only ITS CELL's fine centroids (a k-row
    broadcastable join on the cell id, per-vector amplification
    ~k/√k = √k).

    Approximation vs flat training, stated: fine centroids never
    migrate across coarse-cell boundaries, so cells quantize their
    own region — the standard two-level k-means trade (cluster
    quality differs at cell boundaries; for IVF/SemDeDup consumers
    the downstream assignment is what matters, and it re-scores
    against the FULL fine-centroid set via flat or probed
    assignment). Determinism: same md5 sample/seed ordering and the
    same scaled-long exact mean arithmetic as the flat trainer; seeds
    are the first ceil(k/coarse_k) members of each cell in md5
    order, so centroid_id remains the seed vector's id. A cell with
    fewer members than its quota yields fewer centroids (total ≤ k,
    the flat trainer's empty-centroid drop generalized).

    Output schema identical to `train_centroids_lloyd`:
    (centroid_id, cvec: array<double>)."""
    if coarse_k is None:
        coarse_k = max(2, int(math.isqrt(k)))
    train = vectors
    if sample_n is not None:
        train = (
            vectors.orderBy(
                F.md5(F.col(id_col).cast("string")), F.col(id_col)
            )
            .limit(sample_n)
            .localCheckpoint(eager=True)
        )
    if coarse_k >= k:
        return train_centroids_lloyd(
            train, k, iters, id_col, vec_col, sample_n=None
        )
    from ..functions.scale_rules import ivf_sample_n

    coarse = train_centroids_lloyd(
        train, coarse_k, coarse_iters, id_col, vec_col,
        sample_n=ivf_sample_n(coarse_k),
    )
    cell = ivf_assign(
        train, coarse, 1, id_col, vec_col, out_id=id_col
    ).withColumnRenamed("centroid_id", "__cell")
    part = train.join(cell, id_col).localCheckpoint(eager=True)
    quota = -(-k // coarse_k)  # ceil: per-cell fine-centroid budget
    ws = Window.partitionBy("__cell").orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    cents = (
        part.withColumn("__rn", F.row_number().over(ws))
        .filter(F.col("__rn") <= quota)
        .select(
            "__cell",
            F.col(id_col).alias("centroid_id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias(
                "cvec"
            ),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        scored = (
            part.join(
                F.broadcast(
                    cents.select(
                        "__cell", "centroid_id", "cvec",
                        norm(F.col("cvec")).alias("__cn"),
                    )
                ),
                "__cell",
            )
            .select(
                F.col(id_col), "centroid_id", "__cell",
                F.round(
                    cosine_with_norms(
                        F.col(vec_col), F.col("cvec"),
                        norm(F.col(vec_col)), F.col("__cn"),
                    ), 4,
                ).alias("__cos"),
            )
        )
        wb = Window.partitionBy(id_col).orderBy(
            F.desc("__cos"), F.asc("centroid_id")
        )
        best = (
            scored.withColumn("__bn", F.row_number().over(wb))
            .filter(F.col("__bn") == 1)
            .select(id_col, "centroid_id", "__cell")
        )
        members = part.select(id_col, vec_col).join(best, id_col).select(
            "centroid_id", "__cell",
            F.posexplode(vec_col).alias("d", "e"),
        )
        # identical exact fixed-point mean arithmetic as the flat
        # trainer (scaled-long sum, two deterministic divisions)
        means = members.groupBy("centroid_id", "__cell", "d").agg(
            (
                F.sum(
                    F.round(F.col("e").cast("double") * 1000000.0)
                    .cast("long")
                )
                / 1000000.0
                / F.count("e")
            ).alias("m")
        )
        cents = (
            means.groupBy("centroid_id", "__cell")
            .agg(F.array_sort(
                F.collect_list(F.struct("d", "m"))
            ).alias("dm"))
            .select(
                "__cell", "centroid_id",
                F.transform("dm", lambda x: x.getField("m")).alias(
                    "cvec"
                ),
            )
            .localCheckpoint(eager=True)
        )
    return cents.select("centroid_id", "cvec")


# (cache_key, k, iters, sample_n, session_id) -> checkpointed centroids
# DataFrame. Session id is part of the key because a localCheckpoint is
# only valid inside the SparkContext that produced it.
_IVF_INDEX_CACHE: dict[tuple, DataFrame] = {}


def build_ivf_index(
    vectors: DataFrame,
    k: int | None = 16,
    iters: int = 3,
    sample_n: int | None = 256,
    cache_key: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    two_level: bool = False,
) -> DataFrame:
    """IVF index build, split from the query lifecycle.

    ``k=None`` derives the centroid count from the probe-backed rule
    ``scale_rules.ivf_n_centroids`` (``sqrt(nprobe·N)``, measured curve
    in that module) using one ``count()`` of the corpus — an extra
    action, affordable precisely because this is the build lifecycle,
    not the query path; ``sample_n`` is then raised to the rule's
    per-centroid training minimum (``ivf_sample_n``) unless the caller
    asked for full-corpus training with ``sample_n=None``.

    Index build and query are different lifecycles: the index is trained
    ONCE per corpus (here: per ``cache_key`` per Spark session) and every
    subsequent query reuses the trained centroids — at 100 TB the
    centroids would live as a catalog table and the corpus assignments as
    a table bucketed by ``centroid_id`` (sources/bucketing.py is that
    layout), so a query touches nprobe buckets and never retrains.
    Round 2 measured the cost of conflating the two: inline Lloyd was
    ~4.5 s of ss5's 5.8 s bench time, re-paid on every invocation.

    The cached object is the ``localCheckpoint``-ed centroid DataFrame —
    k×dims values of index *metadata* (16×64 doubles here), not corpus
    data; nothing is collected to the driver. With ``cache_key=None``
    the cache is bypassed (always retrain).

    ``two_level=True`` (r14) builds an index intended for two-level
    assignment consumers (`semantic_dedup`'s default dispatch above
    `scale_rules.ivf_two_level_min_k`): with ``k=None`` the sizing rule
    becomes ``ivf_n_centroids_two_level`` (k ∝ n^(2/3) — the balance
    two-level assignment unlocks) and training runs
    `train_centroids_hierarchical` (flat Lloyd is O(k²) under the
    per-centroid sample rule and becomes the build bottleneck exactly
    in the k range where two-level pays).
    """
    if k is None:
        from ..functions.scale_rules import (
            ivf_n_centroids,
            ivf_n_centroids_two_level,
            ivf_sample_n,
        )

        n = vectors.count()
        # r14: an index whose consumers run two-level assignment wants
        # the k ∝ n^(2/3) sizing (assignment n·√k balances pairs n²/k
        # at Θ(n^(4/3)) — scale_rules.ivf_n_centroids_two_level); the
        # flat rule k ∝ √n re-exposes the Θ(n^1.5) pair wall (measured
        # exponent 1.36 at 200k→600k, BENCH_NOTES r14).
        k = ivf_n_centroids_two_level(n) if two_level else ivf_n_centroids(n)
        if sample_n is not None:
            sample_n = max(sample_n, ivf_sample_n(k))

    def _train():
        if two_level:
            # flat Lloyd is O(k²) under the per-centroid sample rule —
            # the two-level trainer keeps the build O(sample·√k)
            cents = train_centroids_hierarchical(
                vectors, k=k, iters=iters, id_col=id_col,
                vec_col=vec_col, sample_n=sample_n,
            )
        else:
            cents = train_centroids_lloyd(
                vectors, k, iters, id_col, vec_col, sample_n=sample_n
            )
        cents._spark_graft_k = k  # control-plane: consumers dispatch
        return cents              # on k without paying a count job

    if cache_key is None:
        return _train()
    spark = vectors.sparkSession
    key = (cache_key, k, iters, sample_n, two_level,
           id(spark.sparkContext))
    cached = _IVF_INDEX_CACHE.get(key)
    if cached is None:
        cached = _train()
        _IVF_INDEX_CACHE[key] = cached
    return cached


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    max_rank: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "vec_id",
    keep_score: bool = False,
    keep_vec: bool = False,
) -> DataFrame:
    """Assign each vector to its ``max_rank`` nearest centroids by cosine
    (rounded to 4 dp, centroid id as tie-break — deterministic across
    engines). ``centroids`` has schema (centroid_id, cvec). Centroids are
    broadcast; the corpus never shuffles for the scoring, only
    |vectors|×|centroids| scored rows enter the per-vector top-k window.
    Norms ride the join (computed once per vector/centroid), so per pair
    only the dot fold runs.

    ``keep_vec`` (r13) carries ``vec_col`` through the ranking window
    and emits it after the id — consumers that need (id, vec, cell)
    rows (SemDeDup's pair scan, kNN blocks) then skip an id-keyed
    re-join against the corpus: the window's one shuffle replaces
    join + exchange. Dial, not default: the carried vector multiplies
    the window's shuffle bytes by the vector width, the right trade
    when the consumer would otherwise shuffle the vectors for the
    join anyway."""
    from ..functions.spread import spread

    c = F.broadcast(
        centroids.select(
            "centroid_id", "cvec", norm(F.col("cvec")).alias("__cn")
        )
    )
    carried = [F.col(vec_col)] if keep_vec else []
    # spread before the k× row amplification + interpreted cosine folds
    # (functions/spread.py): the scoring projection runs pre-exchange,
    # so without this a small scan computes every |vectors|·k cosine on
    # 1-3 cores. Row-local math — values unchanged.
    scored = (
        spread(vectors, id_col).withColumn("__vn", norm(F.col(vec_col)))
        .crossJoin(c)
        .select(
            F.col(id_col).alias(out_id),
            *carried,
            "centroid_id",
            F.round(
                cosine_with_norms(
                    F.col(vec_col), F.col("cvec"),
                    F.col("__vn"), F.col("__cn"),
                ),
                4,
            ).alias("__cos"),
        )
    )
    w = Window.partitionBy(out_id).orderBy(
        F.desc("__cos"), F.asc("centroid_id")
    )
    ranked = scored.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= max_rank
    )
    cols = [out_id] + ([vec_col] if keep_vec else []) + ["centroid_id"]
    if keep_score:
        # callers ranking WITHIN a cell (prototypicality pruning) need
        # the similarity itself, not just the cell id
        return ranked.select(*cols, F.col("__cos").alias("cos"))
    return ranked.select(*cols)


def hierarchical_ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    probes: int = 4,
    coarse_k: int | None = None,
    coarse_iters: int = 2,
    max_rank: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "vec_id",
    keep_score: bool = False,
) -> DataFrame:
    """Two-level (coarse-quantized) centroid assignment — the scale
    path past `ivf_assign`'s flat n·k scoring. The r13 SemDeDup probe
    measured the flat design's honest asymptote: with the k ∝ √n
    sizing rule, assignment (n·k) and in-cluster pairs (n²/k) balance
    at Θ(n^1.5) — wall exponent 1.12 and climbing at 200k vectors
    (BENCH_NOTES r13; the earlier 0.61 readings were fixture-floor).
    Standard IVF fix: cluster the k fine centroids into ~√k COARSE
    cells (Lloyd over the k-row centroid frame — index-sized, cheap),
    route each vector to its ``probes`` nearest coarse cells, and
    score only those cells' fine centroids: per-vector scored
    centroids drop from k to ~probes·√k + √k. With two-level
    assignment the balanced sizing rule improves to k ∝ n^(2/3)
    (assignment n·√k against pairs n²/k → both Θ(n^(4/3))).

    Approximation contract, stated: EXACT whenever ``probes >=
    coarse_k`` (every cell probed); otherwise a vector whose true
    nearest fine centroid lives outside its probed coarse cells gets
    its best PROBED centroid — the standard IVF recall trade,
    boundary-perturbation only for clustering consumers (SemDeDup
    blocks). Falls back to flat `ivf_assign` when k is too small for
    two levels to pay (k < 4·probes). The one driver action is a
    ``count()`` of the CENTROID frame (index-sized by construction).
    Plan shape: coarse Lloyd + two corpus-keyed windows (coarse
    top-probes, fine top-``max_rank``); centroids and the
    cell→members map are broadcast — the corpus never shuffles except
    through its own id-keyed windows, same property as the flat
    path."""
    k = centroids.count()
    if coarse_k is None:
        coarse_k = max(2, int(math.isqrt(k)))
    if k < 4 * probes or coarse_k >= k:
        return ivf_assign(
            vectors, centroids, max_rank, id_col, vec_col, out_id,
            keep_score,
        )
    fine = centroids.select(
        F.col("centroid_id").alias("__fid"),
        F.col("cvec").alias("__fvec"),
        norm(F.col("cvec")).alias("__fn"),
    )
    coarse = train_centroids_lloyd(
        fine, k=coarse_k, iters=coarse_iters,
        id_col="__fid", vec_col="__fvec",
    ).select(
        F.col("centroid_id").alias("__coarse"),
        F.col("cvec").alias("__cv"),
        norm(F.col("cvec")).alias("__cn"),
    )
    # fine centroid → its coarse cell; then one broadcastable k-row
    # map (coarse cell → member fine centroids with norms)
    c2c = (
        fine.crossJoin(F.broadcast(coarse))
        .select(
            "__fid", "__fvec", "__fn", "__coarse",
            F.round(
                cosine_with_norms(
                    F.col("__fvec"), F.col("__cv"),
                    F.col("__fn"), F.col("__cn"),
                ), 4,
            ).alias("__cos"),
        )
    )
    wc = Window.partitionBy("__fid").orderBy(
        F.desc("__cos"), F.asc("__coarse")
    )
    cells = (
        c2c.withColumn("__rn", F.row_number().over(wc))
        .filter(F.col("__rn") == 1)
        .groupBy("__coarse")
        .agg(F.collect_list(
            F.struct("__fid", "__fvec", "__fn")
        ).alias("__members"))
    )
    # level 1: each vector's `probes` nearest coarse cells (the vec
    # rides through this window so level 2 never re-joins the corpus)
    v = vectors.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).alias("__v"),
        norm(F.col(vec_col)).alias("__vn"),
    )
    s1 = v.crossJoin(F.broadcast(coarse)).select(
        out_id, "__v", "__vn", "__coarse",
        F.round(
            cosine_with_norms(
                F.col("__v"), F.col("__cv"),
                F.col("__vn"), F.col("__cn"),
            ), 4,
        ).alias("__cos1"),
    )
    w1 = Window.partitionBy(out_id).orderBy(
        F.desc("__cos1"), F.asc("__coarse")
    )
    probed = (
        s1.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= probes)
        .select(out_id, "__v", "__vn", "__coarse")
    )
    # level 2: score only the probed cells' fine centroids
    s2 = (
        probed.join(F.broadcast(cells), "__coarse")
        .select(out_id, "__v", "__vn",
                F.explode("__members").alias("__m"))
        .select(
            out_id,
            F.col("__m.__fid").alias("centroid_id"),
            F.round(
                cosine_with_norms(
                    F.col("__v"), F.col("__m.__fvec"),
                    F.col("__vn"), F.col("__m.__fn"),
                ), 4,
            ).alias("__cos"),
        )
    )
    w2 = Window.partitionBy(out_id).orderBy(
        F.desc("__cos"), F.asc("centroid_id")
    )
    ranked = s2.withColumn("__rn", F.row_number().over(w2)).filter(
        F.col("__rn") <= max_rank
    )
    if keep_score:
        return ranked.select(
            out_id, "centroid_id", F.col("__cos").alias("cos")
        )
    return ranked.select(out_id, "centroid_id")


def build_ivf_assignments_table(
    vectors: DataFrame,
    centroids: DataFrame,
    table: str,
    buckets: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF inverted lists as a catalog table BUCKETED by
    ``centroid_id`` — the 100 TB index layout.

    The one-time build assigns every vector to its nearest centroid and
    writes (centroid_id, id, vector, norm) hash-bucketed on centroid_id
    (sources/bucketing.py: one file per bucket). Query time then:

    - the probes ⋈ assignments join on centroid_id needs NO shuffle of
      the corpus — the table's bucket spec IS the join partitioning, so
      only the tiny probe side moves (pinned: tests/test_similarity.py
      asserts the executed plan has no Exchange on the assignment scan);
    - a query touches at most ``nprobe`` buckets' files instead of the
      whole corpus, and the vectors + norms ride in the table so the
      rerank is row-local.

    Bucket count bounds probe parallelism (one task per bucket) — size
    it ≥ k at real scale so hot lists split across files.
    """
    assigned = ivf_assign(
        vectors, centroids, 1, id_col, vec_col, out_id=id_col
    ).join(
        vectors.select(
            id_col, vec_col, norm(F.col(vec_col)).alias("__vn")
        ),
        id_col,
    )
    from ..sources.bucketing import write_bucketed

    write_bucketed(assigned, table, buckets, "centroid_id")


def append_ivf_assignments(
    new_vectors: DataFrame,
    centroids: DataFrame,
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally grow a persisted IVF index: assign ONLY the new
    batch against the frozen centroids (broadcast scoring, no corpus
    touch) and append into the bucketed table — Spark's append to a
    bucketed catalog table keeps the bucket spec, so probe joins stay
    co-located.

    Two documented trades of append-vs-rebuild: (a) each append adds one
    file per bucket, so the one-file-per-bucket sort-elision guarantee
    degrades to plain co-location (restore it periodically with
    ``sources.bucketing.compact_bucketed_table``, exactly like the
    lake's small-file compaction); (b) centroids are NOT retrained —
    drift between the frozen codebook and new data shows up as rising
    residual distance, the standard reindex trigger."""
    spark = new_vectors.sparkSession
    assigned = ivf_assign(
        new_vectors, centroids, 1, id_col, vec_col, out_id=id_col
    ).join(
        new_vectors.select(
            id_col, vec_col, norm(F.col(vec_col)).alias("__vn")
        ),
        id_col,
    )
    # a bucketed append must re-declare the exact bucket spec of the
    # target (Spark refuses a mismatched — or missing — spec); read it
    # from the catalog so callers can't drift from the build-time layout
    desc = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    }
    n_buckets = int(desc["Num Buckets"])
    bucket_cols = [c.strip("` ") for c in desc["Bucket Columns"].strip("[]").split(",")]
    sort_cols = [c.strip("` ") for c in desc["Sort Columns"].strip("[]").split(",")]
    (
        assigned.select(*spark.table(table).columns)
        .repartition(n_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode("append")
        .bucketBy(n_buckets, bucket_cols[0], *bucket_cols[1:])
        .sortBy(sort_cols[0], *sort_cols[1:])
        .format("parquet")
        .saveAsTable(table)
    )


def ivf_residual_stats(
    spark: SparkSession,
    table: str,
    centroids: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-centroid residual audit of a persisted IVF index: list size
    and mean/max residual (1 − cosine(vector, its centroid)) — the
    reindex trigger :func:`append_ivf_assignments` documents. Rising
    residuals mean the frozen codebook has drifted from the data; a fat
    max on one list means a hot, impure bucket.

    One pass over the lists table joined to the broadcast centroids;
    norms already ride in the table (``__vn``), so per row only the dot
    fold runs. Residuals are rounded (4 dp) for run determinism."""
    c = F.broadcast(
        centroids.select(
            "centroid_id", "cvec", norm(F.col("cvec")).alias("__cn")
        )
    )
    lists = spark.table(table)
    res = F.round(
        1
        - cosine_with_norms(
            F.col(vec_col), F.col("cvec"), F.col("__vn"), F.col("__cn")
        ),
        4,
    )
    return (
        lists.join(c, "centroid_id")
        .select("centroid_id", res.alias("__r"))
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("list_size"),
            F.round(F.avg("__r"), 4).alias("mean_residual"),
            F.max("__r").alias("max_residual"),
        )
        .orderBy("centroid_id")
    )


def ivf_topk_from_table(
    spark: SparkSession,
    table: str,
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_ids: list[int] | None = None,
) -> DataFrame:
    """IVF query over a persisted bucketed assignments table
    (:func:`build_ivf_assignments_table`): probe selection against the
    broadcast centroids, then a centroid_id join against the bucketed
    lists (the corpus side never shuffles), then row-local rerank.
    Returns the same (query_id, vec_id, cos_sim, ivf_rank) shape as
    :func:`ivf_topk`.

    ``probe_ids`` is the bucket-PRUNING dial: Spark prunes buckets only
    on literal equality/IN filters, so when the caller materializes the
    probed centroid ids (k·nprobe integers — planning metadata from a
    millisecond pre-query, the ANN equivalent of partition pruning by a
    known date) the lists scan reads just those buckets' files —
    ``SelectedBucketsCount: n of B`` in the executed plan (pinned in
    tests). Without it the plan is still shuffle-free on the corpus
    (broadcast probes) but scans every bucket."""
    lists = spark.table(table)
    if probe_ids is not None:
        lists = lists.filter(F.col("centroid_id").isin(*probe_ids))
    probes = ivf_assign(
        queries, centroids, nprobe, id_col, vec_col, out_id="query_id"
    )
    qv = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            norm(F.col(vec_col)).alias("__qn"),
        )
    )
    scored = (
        lists.join(F.broadcast(probes), "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .join(qv, "query_id")
        .select(
            "query_id",
            id_col,
            F.round(
                cosine_with_norms(
                    F.col(vec_col), F.col("__qvec"),
                    F.col("__vn"), F.col("__qn"),
                ),
                4,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("ivf_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("ivf_rank") <= k)
        .orderBy("query_id", "ivf_rank")
    )


def ivf_topk(
    vectors: DataFrame,
    n_centroids: int = 16,
    n_queries: int = 5,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors.

    Index: every vector is assigned to its nearest centroid (the inverted
    lists). Query: each query probes its ``nprobe`` nearest centroids and
    exact-reranks only those lists — the classic recall/cost dial. Pass
    ``centroids`` from :func:`train_centroids_lloyd` for a real index;
    the default (None) falls back to the id < n_centroids stand-in.

    At 100 TB the inverted lists are the partition key: assignments are
    written bucketed by centroid_id, so a query touches nprobe partitions
    instead of the whole corpus.
    """
    if centroids is None:
        centroids = vectors.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("centroid_id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("cvec"),
        )
    queries = vectors.filter(F.col(id_col) < n_queries)

    lists = ivf_assign(
        vectors, centroids, 1, id_col, vec_col, out_id=id_col
    )
    probes = ivf_assign(
        queries, centroids, nprobe, id_col, vec_col, out_id="query_id"
    )
    cand = (
        probes.join(lists, "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col)
    )
    qv = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            norm(F.col(vec_col)).alias("__qn"),
        )
    )
    scored = (
        cand.join(
            vectors.select(
                id_col, vec_col, norm(F.col(vec_col)).alias("__vn")
            ),
            id_col,
        )
        .join(qv, "query_id")
        .select(
            "query_id",
            id_col,
            F.round(
                cosine_with_norms(
                    F.col(vec_col), F.col("__qvec"),
                    F.col("__vn"), F.col("__qn"),
                ),
                4,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("ivf_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("ivf_rank") <= k)
        .orderBy("query_id", "ivf_rank")
    )


def lsh_neardup_pairs(
    vectors: DataFrame,
    spark: SparkSession | None = None,
    top: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    dims: int = DIMS,
) -> DataFrame:
    """All-pairs near-duplicate search, single-band LSH-bucketed then
    exactly reranked. Prefer :func:`lsh_banded_neardup_pairs` at scale —
    this single-code variant trades recall for simplicity and its bucket
    count must be tuned (~log2 N planes) to stay sub-quadratic."""
    buckets = hyperplane_buckets(
        vectors, n_planes=n_planes, dims=dims, id_col=id_col, vec_col=vec_col
    )
    vb = vectors.withColumn("__n", norm(F.col(vec_col))).join(buckets, id_col)
    a = vb.select(
        F.col(id_col).alias("vec_a"), F.col(vec_col).alias("__va"),
        F.col("__n").alias("__na"), "bucket",
    )
    b = vb.select(
        F.col(id_col).alias("vec_b"), F.col(vec_col).alias("__vb"),
        F.col("__n").alias("__nb"), "bucket",
    )
    cand = a.join(b, "bucket").filter(F.col("vec_a") < F.col("vec_b"))
    return (
        cand.select(
            "bucket",
            "vec_a",
            "vec_b",
            F.round(
                cosine_with_norms(
                    F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
                ),
                4,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_a", "vec_b")
        .limit(top)
    )


def lsh_banded_neardup_pairs(
    vectors: DataFrame,
    n_planes: int = 16,
    rows_per_band: int = 8,
    top: int | None = 20,
    threshold: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = DIMS,
) -> DataFrame:
    """Banded-LSH near-dup pairs: candidates collide on all bits of at
    least one band; exact cosine (4 dp) reranks. The banded join is the
    scale path — grow ``rows_per_band`` with log2(corpus) so the 2^rpb
    buckets per band keep occupancy O(1) (candidates ~linear, see
    tools/scale_probe.py for the measured curve), and use band count for
    recall.

    Embeddings ride through the band join and pair-dedup happens on the
    (vec_a, vec_b) group-by — no signature re-join. ``threshold`` filters
    on cosine; ``top`` keeps the global best pairs (either may be None).
    """
    bb = banded_buckets(
        vectors, n_planes, rows_per_band, dims, id_col, vec_col
    )
    # no checkpoint on vb: measured at sf0.1, Spark's ReusedExchange
    # already shares the (vector, norm, band, bucket) subplan between the
    # two self-join sides (2.03 s vs 2.06 s checkpointed) — unlike cu1's
    # ledger union, whose branches shuffle differently and cannot reuse
    vb = (
        vectors.select(id_col, vec_col)
        .withColumn("__n", norm(F.col(vec_col)))
        .join(bb, id_col)
    )
    a = vb.select(
        F.col(id_col).alias("vec_a"), F.col(vec_col).alias("__va"),
        F.col("__n").alias("__na"), "band", "bucket",
    )
    b = vb.select(
        F.col(id_col).alias("vec_b"), F.col(vec_col).alias("__vb"),
        F.col("__n").alias("__nb"), "band", "bucket",
    )
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .groupBy("vec_a", "vec_b")
        .agg(
            F.round(
                F.first(
                    cosine_with_norms(
                        F.col("__va"), F.col("__vb"),
                        F.col("__na"), F.col("__nb"),
                    )
                ),
                4,
            ).alias("cos_sim")
        )
    )
    if threshold is not None:
        pairs = pairs.filter(F.col("cos_sim") >= threshold)
    pairs = pairs.orderBy(F.desc("cos_sim"), "vec_a", "vec_b")
    return pairs.limit(top) if top is not None else pairs
