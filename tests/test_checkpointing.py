"""Checkpoint-durability strategy — results must not depend on it.

``checkpointing.materialize`` is the single lineage-cut point for every
iterative / self-join operator. The default (``local``) keeps blocks in
executor memory; a 100 TB job switches to ``reliable`` (storage-backed
``checkpoint()``). This suite pins that the heaviest user — near-dup
clustering, which checkpoints the pair list and the final labels —
produces identical rows under either strategy, that the fixpoint
loop's per-round convergence observation also arrives through a
reliable ``checkpoint(eager=True)``, and that the strategy plumbing
itself behaves (scoping, validation, missing-dir error).

Ordering note: the fail-fast test must run before any test that sets a
real checkpoint dir on the shared session (pytest runs tests in
definition order within a module).
"""

from __future__ import annotations

import pytest

from sbs_suptech_etl_v2_spark import checkpointing as ck
from sbs_suptech_etl_v2_spark.operators.dedup import (
    MAX_FIXPOINT_ROUNDS,
    fixpoint_clusters_from_pairs,
    neardup_clusters,
)


def test_unknown_strategy_rejected():
    with pytest.raises(ValueError, match="unknown checkpoint strategy"):
        ck.set_checkpoint_strategy("flaky")


def test_strategy_scoping_restores_default(spark):
    assert ck.get_checkpoint_strategy() == "local"
    with ck.checkpoint_strategy("reliable", "/tmp/unused-ckpt-dir"):
        assert ck.get_checkpoint_strategy() == "reliable"
    assert ck.get_checkpoint_strategy() == "local"


def test_reliable_without_dir_fails_fast(spark):
    df = spark.range(3)
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("session already has a checkpoint dir")
    with ck.checkpoint_strategy("reliable"):
        with pytest.raises(RuntimeError, match="needs a checkpoint dir"):
            ck.materialize(df)


def test_reliable_strategy_matches_local(spark, sf_dir, tmp_path):
    local_rows = sorted(map(tuple, neardup_clusters(spark, sf_dir).collect()))
    with ck.checkpoint_strategy("reliable", str(tmp_path / "ckpt")):
        reliable_rows = sorted(map(tuple, neardup_clusters(spark, sf_dir).collect()))
    assert reliable_rows == local_rows
    assert len(local_rows) > 0
    # checkpoint files actually landed in the reliable dir
    assert any((tmp_path / "ckpt").rglob("*"))


def test_reliable_fixpoint_converges_on_long_chain(spark, tmp_path):
    # every fixpoint round reads its convergence sums from the
    # observation on its eager cut; under "reliable" that cut is
    # df.checkpoint(eager=True), so a 40-node chain (many rounds past
    # the seed) must still come out as one 40-member cluster
    n = 40
    with ck.checkpoint_strategy("reliable", str(tmp_path / "ckpt")):
        pairs = ck.materialize(
            spark.createDataFrame(
                [(i, i + 1) for i in range(n - 1)], "doc_a bigint, doc_b bigint"
            )
        )
        rows = sorted(
            map(tuple, fixpoint_clusters_from_pairs(pairs, MAX_FIXPOINT_ROUNDS).collect())
        )
    assert rows == [(i, 0, n) for i in range(n)]
