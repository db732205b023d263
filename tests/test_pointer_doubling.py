"""Pointer-doubling (pointer-jumping) fixpoint clustering.

Claims: (1) composing propagation with a pointer jump converges in
O(log diameter) rounds where plain min-label propagation needs
O(diameter) — shown on a synthetic chain component, the shape that
stalls propagation at scale; (2) the fixpoint loop, which always jumps,
gives the exact connected components on chains far longer than its
round count, on random graphs and on an empty pair list, and agrees
row for row with the recursive-CTE oracle ``components_sql``; (3) the
queries built on the loop (q92, q93) collapse a duplicate chain wider
than the loop's seed into one cluster.
"""

from __future__ import annotations

import duckdb
import pytest

from sbs_suptech_etl_v2_spark.io import table
from sbs_suptech_etl_v2_spark.operators import dedup, similarity
from sbs_suptech_etl_v2_spark.operators.dedup import (
    MAX_FIXPOINT_ROUNDS,
    _bidirectional_edges,
    _initial_labels,
    _pointer_jump,
    _propagate_min_label,
    components_sql,
    fixpoint_clusters_from_pairs,
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
            fixpoint_clusters_from_pairs(pairs, max_rounds)
            .select("doc_id", "cluster_id", "cluster_size")
            .collect(),
        )
    )


_ORACLE_CASES = {
    "chain40": [(i, i + 1) for i in range(39)],
    "cycle": [(3, 7), (7, 5), (5, 9), (9, 3)],
    "star_min_leaf": [(8, 2), (8, 11), (8, 5), (8, 14)],
    "two_components": [(1, 4), (4, 6), (20, 30), (30, 25)],
}


@pytest.mark.parametrize("case", sorted(_ORACLE_CASES))
def test_components_sql_matches_fixpoint(spark, case):
    # the exact oracle (recursive reachability closure) and the Spark
    # loop must give the same rows on shapes the 2-round seed cannot
    # settle: a 40-chain, a cycle, a star whose centre is not the
    # minimum, and disjoint components
    pairs = _ORACLE_CASES[case]
    con = duckdb.connect()
    con.execute("CREATE TABLE pair_list (doc_a BIGINT, doc_b BIGINT)")
    con.executemany("INSERT INTO pair_list VALUES (?, ?)", pairs)
    want = sorted(
        con.execute(
            components_sql("SELECT * FROM pair_list", "doc_a", "doc_b", "doc_id")
        ).fetchall()
    )
    con.close()
    pdf = spark.createDataFrame(pairs, "doc_a bigint, doc_b bigint")
    got = sorted(
        map(
            tuple,
            fixpoint_clusters_from_pairs(pdf.localCheckpoint(eager=True))
            .select("doc_id", "cluster_id", "cluster_size")
            .collect(),
        )
    )
    assert got == want
    assert len({r[1] for r in want}) == (2 if case == "two_components" else 1)


@pytest.mark.parametrize("query", ["q92", "q93"])
def test_duplicate_chain_wider_than_seed_collapses(spark, sf_dir, monkeypatch, query):
    # a 4-document duplicate chain a-b-c-d (diameter 3, one past the
    # 2-round seed) over real lake ids: q92 must keep only its minimum
    # and q93 must report it as ONE 4-member cluster
    tbl, id_col = ("documents", "doc_id") if query == "q92" else ("embeddings", "vec_id")
    ids = [r[0] for r in table(spark, sf_dir, tbl).select(id_col).orderBy(id_col).limit(4).collect()]
    chain = list(zip(ids, ids[1:]))
    if query == "q92":
        monkeypatch.setattr(
            dedup,
            "minhash_neardup",
            lambda spark, sf_dir: spark.createDataFrame(chain, "doc_a bigint, doc_b bigint"),
        )
        rows = dedup.dedup_keep_canonical(spark, sf_dir).collect()
        kept = {r["doc_id"]: r["status"] for r in rows if r["doc_id"] in ids}
        assert kept == {ids[0]: "canonical"}
    else:
        monkeypatch.setattr(
            similarity,
            "embedding_neardup",
            lambda spark, sf_dir: spark.createDataFrame(chain, "vec_a bigint, vec_b bigint"),
        )
        rows = similarity.semantic_dedup(spark, sf_dir).collect()
        assert sorted(map(tuple, rows)) == [(i, ids[0], 4) for i in ids]


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
    assert fixpoint_clusters_from_pairs(pairs, MAX_FIXPOINT_ROUNDS).collect() == []


def test_fixpoint_respects_max_rounds_valve(spark):
    # max_rounds below the chain diameter must still return a valid
    # (partial) labeling without hanging: every label is within the
    # component and monotone <= doc_id
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(CHAIN_N - 1)], "doc_a bigint, doc_b bigint"
    ).localCheckpoint(eager=True)
    rows = fixpoint_clusters_from_pairs(pairs, 4).collect()
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
                fixpoint_clusters_from_pairs(pdf.localCheckpoint(eager=True), 60)
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
