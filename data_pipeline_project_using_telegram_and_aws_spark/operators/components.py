"""Connected components over candidate-pair edges — the exact transitive
closure for near-dup clusters.

``curation.py``'s default near-dup semantics are single-pass
drop-every-doc_b: no iteration, but NOT a transitive closure — a chain
2~5, 3~5 (canonical pairs (2,5) and (3,5)) drops only 5, keeping 3 even
though it is transitively similar to the kept 2. This module computes the
true closure: every document labeled with the minimum id reachable
through the candidate graph, so a cluster keeps exactly its lowest id.

Algorithm: iterative min-label propagation (the hash-min variant of
MapReduce connected components). Each round every node takes the min of
its own label and its neighbors' labels; a fixpoint is reached after
~graph-diameter rounds. Near-dup clusters are shallow in practice
(duplicates of a common source form star/clique shapes, diameter ≤ ~3),
so the loop usually converges in 2-3 rounds; ``max_iters`` bounds the
pathological chain. Each round is one join + one groupBy on node id —
both shuffles keyed by node, no all-pairs anywhere — and the label frame
is ``localCheckpoint``-ed per round to keep the plan flat (the iterative
lineage would otherwise double per round). Convergence is detected with
one tiny count aggregate per round.

At 100 TB the same shape holds: the edge list (LSH candidates over
threshold) is orders of magnitude smaller than the corpus, rounds are
bounded by cluster diameter (not corpus size), and the classic
large-star/small-star optimization (log N rounds on adversarial graphs)
slots into the same loop if ever needed — a documented dial, not a
rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 20,
    driver_max_edges: int | None = None,
    algorithm: str = "hashmin",
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    ``component`` is the minimum node id reachable through the undirected
    edge set. Raises if ``max_iters`` rounds do not reach the fixpoint
    (an unconverged labeling silently merges nothing — better loud).

    Below ``driver_max_edges`` (default: the measured
    ``scale_rules.cc_driver_max_edges`` crossover, ~5·10⁵) the closure
    runs as a DRIVER-side union-find over one collect of the edge list:
    near-dup candidate graphs are orders of magnitude smaller than the
    corpus, and a sub-megabyte fixpoint pays cluster-round scheduling
    for nothing — the same judgment that broadcasts a small dimension
    table instead of shuffling for it (measured: the driver pass costs
    ~3 µs/edge; a single hash-min round costs ~0.3-0.5 s of scheduling
    before any work happens). Pass ``driver_max_edges=0`` to force the
    iterative path (the tests exercise both and pin their equivalence).

    ``algorithm`` picks the distributed loop above the crossover:

    - ``"hashmin"`` (default): O(diameter) rounds, one join+groupBy
      each — the cheap-per-round choice for the shallow star/clique
      graphs near-dup candidates form (diameter ≤ ~3, so 2-4 rounds).
    - ``"star"``: alternating large-star/small-star (Kiveris et al.
      2014), O(log n) rounds on ANY shape at ~2× the per-round cost —
      the right side of the crossover when components can CHAIN:
      link graphs from the crawl surface, transitively-connected
      snapshot families, adversarial long paths. Rule of thumb: if
      the expected component diameter exceeds ~8 (hash-min's rounds >
      star's ~log₂ n rounds × 2 cost), pick star; equivalence on
      random + chain graphs is pinned in tests/test_components.py.
    """
    if algorithm not in ("hashmin", "star"):
        raise ValueError(
            f"connected_components: algorithm must be hashmin | star, "
            f"got {algorithm!r}"
        )
    if driver_max_edges is None:
        from ..functions.scale_rules import cc_driver_max_edges

        driver_max_edges = cc_driver_max_edges()
    if driver_max_edges > 0:
        # checkpoint BEFORE the dispatch probe: the candidate-edge
        # lineage (LSH signatures, pair scans) is the expensive part,
        # and the probe would otherwise recompute it for any later pass
        edges = edges.localCheckpoint(eager=False)
        # r13: ONE bounded job replaces the old count() + collect()
        # pair — collect at most driver_max_edges+1 rows; ≤ the bound
        # means we already hold the complete edge list (a limit past
        # the frame's size returns everything), > the bound falls
        # through to the cluster loop having fetched only bound+1 rows.
        # Same memory bound as before, one fewer job per invocation
        # (sd1/cc1 pay this dispatch every run).
        head = edges.select(a_col, b_col).limit(
            driver_max_edges + 1
        ).collect()
        if len(head) <= driver_max_edges:
            return _driver_union_find_rows(
                head, edges, a_col, b_col
            )
    if algorithm == "star":
        return connected_components_star(
            edges, a_col=a_col, b_col=b_col, max_iters=max_iters
        )
    sym = edges.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).union(
        edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    sym = sym.distinct().localCheckpoint(eager=False)
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iters):
        neighbor_min = (
            sym.join(labels, sym["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("__nmin"))
        )
        # LAZY checkpoint: the convergence aggregate below is the job
        # that materializes it, so each round costs ONE job (an eager
        # checkpoint + separate count was two; measured ~2x on the
        # scheduling-bound bench graphs with identical results)
        updated = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("__nmin", "component")
                ).alias("component"),
                (F.coalesce("__nmin", "component") < F.col("component")).alias(
                    "__changed"
                ),
            )
            .localCheckpoint(eager=False)
        )
        changed = updated.agg(
            F.sum(F.col("__changed").cast("int")).alias("n")
        ).collect()[0].n
        labels = updated.drop("__changed")
        if not changed:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds — "
        "graph diameter exceeds the bound; raise max_iters or switch to "
        "connected_components_star"
    )


def _driver_union_find_rows(
    collected: list, edges: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Union-find with path compression over the edge rows the bounded
    collect in :func:`connected_components` already fetched; labels =
    min id per component (exactly the iterative loop's contract).
    ``edges`` is only consulted for the output schema."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent.get(root, root)
        while parent.get(x, x) != x:
            parent[x], x = root, parent.get(x, x)
        return root

    nodes = set()
    for r in collected:
        a, b = r[0], r[1]
        nodes.add(a)
        nodes.add(b)
        if a == b:
            continue  # self-loop-only nodes still label themselves
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict = {}
    for x in nodes:
        r = find(x)
        if r not in comp_min or x < comp_min[r]:
            comp_min[r] = x
    rows = [(x, comp_min[find(x)]) for x in sorted(nodes)]
    spark = edges.sparkSession
    schema = edges.select(
        edges[a_col].alias("node"), edges[a_col].alias("component")
    ).schema
    return spark.createDataFrame(rows, schema)


def connected_components_star(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 30,
) -> DataFrame:
    """Same contract as :func:`connected_components` — (node, component)
    with component = min reachable id — via alternating large-star /
    small-star rounds (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond"): each round rewires every node toward the
    minimum of its neighborhood, which contracts path length
    multiplicatively, so convergence is O(log n) rounds on ANY graph
    shape — the dial for adversarial long-chain graphs where hash-min's
    O(diameter) rounds hurt. Per round the work is two node-keyed
    groupBy/join passes over the (candidate-sized) edge list; the same
    scale story as the hash-min loop, with more fixed cost per round and
    fewer rounds. Measured on cc1's real candidate graph (sf0.1, 256
    edges, diameter ≤ ~4): hash-min ~1.0-1.8 s vs star ~2.1-2.5 s — the
    shallow near-dup graphs this repo's rows produce are hash-min
    territory; reach for this variant when the graph can chain (e.g.
    transitively-linked crawl snapshots).

    large-star(u): every strictly-larger neighbor of u re-attaches to
    min(Γ(u) ∪ u);
    small-star(u), on edges canonicalized smaller←larger: u and its
    smaller neighbors re-attach to the minimum among them.

    Converged when the small-star pass is a no-op (the edge set is a
    union of min-rooted stars); labels then read directly off the star
    edges, isolated self-pairs included."""
    raw = edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    # node set BEFORE dropping self-loops: a self-loop-only node still
    # labels itself (the hash-min/union-find contract)
    nodes = (
        raw.select("u").union(raw.select(F.col("v").alias("u"))).distinct()
    )
    sym = raw.filter(F.col("u") != F.col("v"))
    # canonical directed form: (u, v) with v < u
    e = (
        sym.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iters):
        start = e
        # ---- large-star: centers u over FULL neighborhoods ----
        adj = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = adj.groupBy("u").agg(F.min("v").alias("__mv"))
        m = F.least(F.col("__mv"), F.col("u")).alias("__m")
        e = (
            adj.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        # ---- small-star on the canonical form ----
        smins = e.groupBy("u").agg(F.min("v").alias("__m"))
        rewired = (
            e.join(smins, "u")
            .select(
                F.col("v").alias("u"), F.col("__m").alias("v")
            )  # smaller neighbors -> min
            .union(smins.select("u", F.col("__m").alias("v")))  # u -> min
            .filter(F.col("u") != F.col("v"))
            .select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        # converged iff the FULL iteration (large + small) changed
        # nothing vs the round's start — comparing only against the
        # post-large-star set stops early on chains (set equality via
        # one anti-join count each way; both frames are candidate-sized)
        delta = (
            rewired.exceptAll(start).count()
            + start.exceptAll(rewired).count()
        )
        e = rewired
        if delta == 0:
            labels = e.select(
                F.col("u").alias("node"), F.col("v").alias("component")
            )
            centers = (
                nodes.select(F.col("u").alias("node"))
                .join(e.select(F.col("u").alias("node")), "node", "left_anti")
                .withColumn("component", F.col("node"))
            )
            return labels.unionByName(centers)
    raise RuntimeError(
        f"connected_components_star did not converge in {max_iters} "
        "rounds — with O(log n) contraction this indicates a bug or a "
        "pathological id distribution; investigate before raising the "
        "bound"
    )
