"""Pluggable DataFrame materialization — local vs reliable checkpoints.

Several operators cut the lineage of an expensive intermediate before a
self-join re-executes it (MinHash signatures before the band join, the
banded embedding frame, the synthesized block graph, label-propagation
rounds). ``localCheckpoint`` is the right default for a benchmark
contract — no storage round-trip — but its blocks live in *executor
memory*: on a 1000-executor cluster a lost executor kills the job
instead of recomputing, because lineage was truncated.

This module makes the durability posture injectable without touching
the operators:

- ``local`` (default) — ``df.localCheckpoint(eager)``; fastest, blocks
  are executor-memory/disk resident, not fault-tolerant to executor
  loss.
- ``reliable`` — ``df.checkpoint(eager)`` against
  ``sc.setCheckpointDir`` (HDFS/S3 in production); survives executor
  loss, costs one write+read of the materialized frame.

Production posture at 100 TB: wrap the job in
``checkpoint_strategy("reliable", "s3://bucket/ckpt")`` (or call
``set_checkpoint_strategy`` once at startup) and every operator
checkpoint becomes durable. Results are identical under either
strategy — ``tests/test_checkpointing.py`` pins that for the heaviest
user (near-dup clustering).
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator, Optional

from pyspark.sql import DataFrame

_STRATEGIES = ("local", "reliable", "none")
_strategy: str = "local"
_checkpoint_dir: Optional[str] = None
# Dir last handed to sc.setCheckpointDir by this module. Spark appends a
# random UUID subdirectory to whatever it is given, so the applied path
# can never be recovered by comparing sc.getCheckpointDir() against the
# user-supplied value — track it ourselves instead.
_applied_dir: Optional[str] = None


def set_checkpoint_strategy(strategy: str, checkpoint_dir: Optional[str] = None) -> None:
    """Select how ``materialize`` cuts lineage for the whole process.

    ``reliable`` requires ``checkpoint_dir`` (a shared filesystem /
    object-store path on a real cluster) unless the SparkContext
    already has one set.
    """
    global _strategy, _checkpoint_dir
    if strategy not in _STRATEGIES:
        raise ValueError(f"unknown checkpoint strategy {strategy!r}; use one of {_STRATEGIES}")
    _strategy = strategy
    _checkpoint_dir = checkpoint_dir


def get_checkpoint_strategy() -> str:
    return _strategy


@contextmanager
def checkpoint_strategy(strategy: str, checkpoint_dir: Optional[str] = None) -> Iterator[None]:
    """Scoped override: run a block of queries under another strategy."""
    prev, prev_dir = _strategy, _checkpoint_dir
    set_checkpoint_strategy(strategy, checkpoint_dir)
    try:
        yield
    finally:
        set_checkpoint_strategy(prev, prev_dir)


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage under the process-wide strategy.

    Operators call this instead of ``localCheckpoint`` directly so the
    durability decision is a deployment concern, not an operator one.
    """
    if _strategy == "reliable":
        global _applied_dir
        sc = df.sparkSession.sparkContext
        if _checkpoint_dir is not None and _applied_dir != _checkpoint_dir:
            sc.setCheckpointDir(_checkpoint_dir)
            _applied_dir = _checkpoint_dir
        if sc.getCheckpointDir() is None:
            raise RuntimeError(
                "reliable checkpoint strategy needs a checkpoint dir: pass it to "
                "set_checkpoint_strategy(...) or call sc.setCheckpointDir(...)"
            )
        return df.checkpoint(eager=eager)
    if _strategy == "none":
        # No lineage cut: accept recomputation. PLAN-INSPECTION ONLY —
        # the plan-quality tests use it to see through checkpoints to
        # the underlying exchange shapes. It is NOT a deployment
        # posture: operators whose structure depends on the cut either
        # force a local cut regardless through materialize_required
        # (the dedup fixpoint loop, whose plan would otherwise double
        # per round and whose eager per-round cut is the job that
        # delivers its convergence observation) or may silently degrade
        # (multi-consumer sampled layouts would depend on exchange
        # reuse).
        return df
    return df.localCheckpoint(eager=eager)


def materialize_required(df: DataFrame, eager: bool = True) -> DataFrame:
    """Lineage cut that CANNOT be disabled — for call sites where the
    cut is a correctness/boundedness requirement, not an optimization
    (e.g. per-round truncation in iterative loops, where skipping it
    doubles the logical plan every round until the driver OOMs).
    Honors the ``reliable`` strategy; treats ``none`` as ``local``.
    """
    if _strategy == "reliable":
        return materialize(df, eager=eager)
    return df.localCheckpoint(eager=eager)
