"""Connected components (operators/components.py) and the exact-closure
near-dup mode it gives curation."""

from __future__ import annotations

import pytest

from data_pipeline_project_using_telegram_and_aws_spark.operators import components
from data_pipeline_project_using_telegram_and_aws_spark.operators.components import (
    connected_components,
)
from data_pipeline_project_using_telegram_and_aws_spark.operators.curation import (
    curate_corpus,
)


def _cc(spark, pairs):
    """Runs BOTH closure paths (driver union-find shortcut and the
    iterative hash-min loop) and asserts they agree before returning —
    every fixture doubles as an equivalence check."""
    edges = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    fast = {
        r.node: r.component for r in connected_components(edges).collect()
    }
    dist = {
        r.node: r.component
        for r in connected_components(edges, driver_max_edges=0).collect()
    }
    assert fast == dist
    return fast


def test_components_basic_clusters(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)])
    assert got == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_components_long_chain_converges(spark):
    # a 12-node path needs ~diameter rounds — well inside max_iters
    got = _cc(spark, [(i, i + 1) for i in range(12)])
    assert set(got.values()) == {0} and len(got) == 13


def test_components_star_through_high_id_hub(spark):
    # 2~5 and 3~5: the min (2) reaches 3 only THROUGH the larger hub 5 —
    # the case single-pass drop-all-doc_b cannot close
    got = _cc(spark, [(2, 5), (3, 5)])
    assert got == {2: 2, 3: 2, 5: 2}


def test_components_unconverged_raises(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(8)],
                                  ["doc_a", "doc_b"])
    with pytest.raises(RuntimeError, match="converge"):
        # force the iterative loop: the driver shortcut has no rounds
        connected_components(edges, max_iters=2, driver_max_edges=0)


def test_edges_above_a_small_driver_bound_take_the_cluster_loop(
    spark, monkeypatch
):
    """The driver shortcut collects at most ``driver_max_edges + 1``
    rows. A graph with more edges than the bound falls through to the
    cluster loop, and its labels equal the forced loop's
    (``driver_max_edges=0``) and the driver union-find's."""
    driver_rows = []
    real = components._driver_union_find_rows

    def spy(collected, *args):
        driver_rows.append(len(collected))
        return real(collected, *args)

    monkeypatch.setattr(components, "_driver_union_find_rows", spy)
    pairs = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)]  # 5 edges
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")

    def labels(**kw):
        return sorted(
            (r.node, r.component)
            for r in connected_components(edges, **kw).collect()
        )

    above = labels(driver_max_edges=3)
    assert driver_rows == []  # the cluster loop, not the driver
    assert above == labels(driver_max_edges=0)
    assert above == labels(driver_max_edges=5)  # at the bound: driver
    assert driver_rows == [5]
    assert above == [
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    ]


def test_curation_components_closure_drops_transitive_cluster(spark):
    """Docs 2 and 3 are both near-dups of 5 but not of each other (the
    hub shape: 5 concatenates 2's and 3's disjoint halves): drop_all
    keeps {2, 3}, the components closure keeps only the cluster
    representative 2."""
    half_a = " ".join(f"alpha{i}" for i in range(12))
    half_b = " ".join(f"delta{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (2, half_a, "en"),
            (3, half_b, "en"),
            (5, half_a + " " + half_b, "en"),
            (9, "completely unrelated content about query engines and "
                "distributed joins", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    kw = dict(jaccard_threshold=0.4, min_tokens=1)
    kept_d, _ = curate_corpus(docs, **kw)
    kept_c, ledger_c = curate_corpus(docs, near_dup_closure="components", **kw)
    assert sorted(r.doc_id for r in kept_d.collect()) == [2, 3, 9]
    assert sorted(r.doc_id for r in kept_c.collect()) == [2, 9]
    near = {r.doc_id: r for r in ledger_c.collect() if r.stage == "near_dedup"}
    assert set(near) == {3, 5}
    assert all(
        r.kept_alive and r.reason == "minhash component vs doc 2"
        for r in near.values()
    )


def test_unknown_closure_rejected(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f", "en")], ["doc_id", "text", "lang"]
    )
    with pytest.raises(ValueError, match="near_dup_closure"):
        curate_corpus(docs, near_dup_closure="greedy")


# ---- randomized closure property (r4 verdict item 6) ----------------------
# The fixture graphs above are hand-shaped (hub/chain/clique); this pins
# the closure on arbitrary graphs against an independent union-find, and
# pins partition-count invariance (a distributed-correctness bug — e.g.
# per-partition instead of global min propagation — would pass on 1
# partition and fail on 7).

from hypothesis import HealthCheck, given, settings, strategies as st


def _union_find_labels(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots = {}
    for n in parent:
        roots.setdefault(find(n), []).append(n)
    return {
        n: min(members) for members in roots.values() for n in members
    }


@settings(
    max_examples=6, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=15),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_components_match_union_find_on_random_graphs(spark, edges):
    want = _union_find_labels(edges)
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    for n_parts in (1, 7):
        got = {
            r.node: r.component
            for r in connected_components(df.repartition(n_parts)).collect()
        }
        assert got == want, (n_parts, edges)


def _cc_star(spark, pairs):
    from data_pipeline_project_using_telegram_and_aws_spark.operators.components import (
        connected_components_star,
    )

    edges = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    return {
        r.node: r.component
        for r in connected_components_star(edges).collect()
    }


def test_star_variant_basic_clusters(spark):
    got = _cc_star(spark, [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)])
    assert got == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_star_variant_handles_long_chain_in_few_rounds(spark):
    """The O(log n) contraction is the point of this variant: a 40-node
    path (diameter 40) must converge well inside max_iters=30 — hash-min
    would need ~40 rounds here."""
    got = _cc_star(spark, [(i, i + 1) for i in range(40)])
    assert set(got.values()) == {0} and len(got) == 41


def test_star_variant_matches_hash_min_on_random_graphs(spark):
    """Equivalence with the hash-min loop (itself property-tested against
    union-find) on random graphs, including high-id hubs and multiple
    components."""
    import random

    rng = random.Random(13)
    for trial in range(4):
        n = rng.randint(8, 28)
        ids = rng.sample(range(1000), n)
        pairs = [
            (rng.choice(ids), rng.choice(ids))
            for _ in range(rng.randint(4, 2 * n))
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        if not pairs:
            continue
        assert _cc_star(spark, pairs) == _cc(spark, pairs), pairs


def test_algorithm_dial_dispatch_and_equivalence(spark):
    """Round 11 (r10 verdict #4): connected_components(algorithm=)
    dispatches the distributed loop; hash-min and star agree on random
    graphs, adversarial chains, and self-loop-only nodes, both through
    the dial and below the driver crossover."""
    import random

    from data_pipeline_project_using_telegram_and_aws_spark.operators.components import (
        connected_components,
    )

    def run(pairs, **kw):
        edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        return sorted(
            (r.node, r.component)
            for r in connected_components(edges, **kw).collect()
        )

    rng = random.Random(11)
    cases = [
        [(i, i + 1) for i in range(60)],                  # chain: 61 nodes
        [(rng.randrange(30), rng.randrange(30)) for _ in range(40)],
        [(5, 5), (9, 9), (1, 2)],                         # self-loop-only
    ]
    for pairs in cases:
        want = run(pairs)  # driver union-find (below crossover)
        got_hm = run(pairs, driver_max_edges=0, algorithm="hashmin",
                     max_iters=100)
        got_star = run(pairs, driver_max_edges=0, algorithm="star")
        assert want == got_hm == got_star, pairs

    # the chain that blows hash-min's round budget converges for star
    chain = [(i, i + 1) for i in range(60)]
    with pytest.raises(RuntimeError, match="converge"):
        run(chain, driver_max_edges=0, algorithm="hashmin", max_iters=5)
    assert run(chain, driver_max_edges=0, algorithm="star") == [
        (i, 0) for i in range(61)
    ]
    with pytest.raises(ValueError, match="algorithm"):
        run(chain, algorithm="bfs")
