"""Pointer-doubling (pointer-jumping) fixpoint clustering.

Claims: (1) composing propagation with a pointer jump converges in
O(log diameter) rounds where plain min-label propagation needs
O(diameter) — shown on a synthetic chain component, the shape that
stalls propagation at scale; (2) the fixpoint loop, which always jumps,
gives q50's bounded result on the real corpus and the exact connected
components on chains far longer than its round count, on random graphs
and on an empty pair list.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sbs_suptech_etl_v2_spark.operators.dedup import (
    MAX_FIXPOINT_ROUNDS,
    _bidirectional_edges,
    _fixpoint_clusters_from_pairs,
    _initial_labels,
    _pointer_jump,
    _propagate_min_label,
    neardup_clusters,
    neardup_clusters_fixpoint,
)

CHAIN_N = 17  # diameter 16: propagation needs 16 rounds, doubling ~5


def _chain_edges(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(CHAIN_N - 1)], "doc_a bigint, doc_b bigint"
    )
    return _bidirectional_edges(pairs)


def _labels_after(edges, rounds, jump):
    labels = _initial_labels(edges)
    for _ in range(rounds):
        labels = _propagate_min_label(labels, edges)
        if jump:
            labels = _pointer_jump(labels)
        # cut lineage each round — the pure unroll would branch 2^rounds
        labels = labels.localCheckpoint(eager=True)
    return {r["doc_id"]: r["label"] for r in labels.collect()}


def test_doubling_converges_in_log_rounds_where_propagation_does_not(spark):
    edges = _chain_edges(spark)
    converged = {i: 0 for i in range(CHAIN_N)}
    # 5 rounds: propagate+jump >= 3-hops-per-round reach -> converged
    assert _labels_after(edges, 5, jump=True) == converged
    # plain propagation moves the min one hop per round: after 5 rounds
    # the chain's far end still carries a non-min label
    assert _labels_after(edges, 5, jump=False) != converged
    assert _labels_after(edges, CHAIN_N - 1, jump=False) == converged


def _chain_clusters(spark, n, max_rounds):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a bigint, doc_b bigint"
    ).localCheckpoint(eager=True)
    return sorted(
        map(
            tuple,
            _fixpoint_clusters_from_pairs(pairs, max_rounds)
            .select("doc_id", "cluster_id", "cluster_size")
            .collect(),
        )
    )


def test_fixpoint_matches_bounded_q50_on_corpus(spark, sf_dir):
    base = neardup_clusters(spark, sf_dir)
    fixpoint = neardup_clusters_fixpoint(spark, sf_dir)
    key = ["doc_id", "cluster_id", "cluster_size"]
    assert sorted(map(tuple, base.select(*key).collect())) == sorted(
        map(tuple, fixpoint.select(*key).collect())
    )


def test_fixpoint_loop_converges_past_the_seed(spark):
    # this chain does NOT converge inside the seed (diameter 16 >> seed
    # 2), so the test drives the per-round checkpoint loop through the
    # exact production path and checks the final labeling is the
    # component minimum everywhere
    assert _chain_clusters(spark, CHAIN_N, 25) == sorted(
        (i, 0, CHAIN_N) for i in range(CHAIN_N)
    )


def test_fixpoint_clusters_chain_longer_than_max_rounds(spark):
    # a 40-node chain has diameter 39, about twice MAX_FIXPOINT_ROUNDS:
    # propagation alone (one hop per round) would leave its far end
    # split off; with a jump after every round it converges in a few
    n = 40
    assert n - 1 > MAX_FIXPOINT_ROUNDS
    assert _chain_clusters(spark, n, MAX_FIXPOINT_ROUNDS) == sorted(
        (i, 0, n) for i in range(n)
    )


def test_fixpoint_of_no_pairs_is_empty(spark):
    pairs = spark.createDataFrame([], "doc_a bigint, doc_b bigint").localCheckpoint(
        eager=True
    )
    assert _fixpoint_clusters_from_pairs(pairs, MAX_FIXPOINT_ROUNDS).collect() == []


def test_fixpoint_respects_max_rounds_valve(spark):
    # max_rounds below the chain diameter must still return a valid
    # (partial) labeling without hanging: every label is within the
    # component and monotone <= doc_id
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(CHAIN_N - 1)], "doc_a bigint, doc_b bigint"
    ).localCheckpoint(eager=True)
    rows = _fixpoint_clusters_from_pairs(pairs, 4).collect()
    assert rows  # chain stays one (partial) cluster family
    assert all(r["cluster_id"] <= r["doc_id"] for r in rows)


def test_fixpoint_matches_union_find_on_random_graphs(spark):
    # property: on arbitrary pair graphs the production fixpoint
    # computes exactly the connected components a plain
    # union-find computes. Deterministic seed batch instead of
    # @given — each case spins real Spark jobs, so a handful of
    # adversarial shapes (chains, stars, cliques-by-parity, random)
    # beats hypothesis' hundreds of tiny examples here.
    import random

    def union_find_components(n_nodes, pairs):
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp: dict[int, list[int]] = {}
        for x in set(a for p in pairs for a in p):
            comp.setdefault(find(x), []).append(x)
        return sorted(
            (m, root, len(members))
            for root, members in comp.items()
            if len(members) > 1
            for m in members
        )

    rng = random.Random(20260814)
    cases = [
        [(i, i + 1) for i in range(12)],  # chain
        [(0, i) for i in range(1, 10)],  # star
        [(a, b) for a in range(6) for b in range(a + 1, 6)],  # clique
        [(rng.randrange(30), rng.randrange(30)) for _ in range(25)],
        [(rng.randrange(40), rng.randrange(40)) for _ in range(15)],
    ]
    for pairs in cases:
        pairs = [(a, b) for a, b in pairs if a != b]
        pdf = spark.createDataFrame(pairs, "doc_a bigint, doc_b bigint")
        want = union_find_components(max(max(p) for p in pairs) + 1, pairs)
        got = sorted(
            map(
                tuple,
                _fixpoint_clusters_from_pairs(pdf.localCheckpoint(eager=True), 60)
                .select("doc_id", "cluster_id", "cluster_size")
                .collect(),
            )
        )
        assert got == want, pairs


def test_jump_is_label_monotone(spark):
    # label(label(u)) <= label(u): a jump never moves a label away from
    # the component minimum, so jumping between rounds keeps the loop
    # monotone
    edges = _chain_edges(spark)
    labels = _propagate_min_label(_initial_labels(edges), edges).localCheckpoint()
    before = {r["doc_id"]: r["label"] for r in labels.collect()}
    after = {r["doc_id"]: r["label"] for r in _pointer_jump(labels).collect()}
    assert all(after[d] <= before[d] for d in before)
