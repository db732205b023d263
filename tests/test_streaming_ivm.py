"""Streaming ⇔ batch ⇔ oracle equivalence for incremental view
maintenance (§2.10 × q119).

The foreachBatch streaming maintainer applies the additive merge law
(state ⊕ delta) over N micro-batches; its view must equal q119's one
text, the single-pass recompute that Spark and the DuckDB oracle both
run. A replayed epoch must not double-count.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sbs_suptech_etl_v2_spark.io import table
from sbs_suptech_etl_v2_spark.operators.relational import (
    incremental_totals_batch_fn,
    read_incremental_totals,
)
from sbs_suptech_etl_v2_spark.registry import QUERIES
from sbs_suptech_etl_v2_spark.streaming.ingress import (
    foreach_batch_pipeline,
    stop_quietly,
)


def _rows(df):
    return sorted(
        (r["o_orderpriority"], r["n_orders"], round(r["revenue"], 4))
        for r in df.collect()
    )


def test_streaming_view_equals_full_recompute(spark, sf_dir, tmp_path):
    orders = table(spark, sf_dir, "orders")
    in_dir = str(tmp_path / "in")
    # three arrival waves by order-date thirds
    lo, hi = orders.agg(F.min("o_orderdate"), F.max("o_orderdate")).first()
    span = (hi - lo) / 3
    waves = [
        orders.filter(
            (F.col("o_orderdate") >= F.lit(lo + i * span))
            & (
                F.col("o_orderdate") < F.lit(lo + (i + 1) * span)
                if i < 2
                else F.lit(True)
            )
        )
        for i in range(3)
    ]
    for i, w in enumerate(waves):
        w.coalesce(1).write.mode("overwrite").parquet(f"{in_dir}/wave={i}")
    contrib = str(tmp_path / "contrib")
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{in_dir}/wave=*")
    )
    q = foreach_batch_pipeline(
        stream,
        incremental_totals_batch_fn(contrib),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    stop_quietly(q, timeout_s=300)

    streaming_view = _rows(read_incremental_totals(spark, contrib))
    full_recompute = _rows(QUERIES["q119_incremental_totals"](spark, sf_dir))
    assert streaming_view == full_recompute
    # and >1 epoch actually contributed
    n_epochs = (
        spark.read.parquet(contrib).select("ingest_batch").distinct().count()
    )
    assert n_epochs >= 2


def test_epoch_replay_does_not_double_count(spark, sf_dir, tmp_path):
    orders = table(spark, sf_dir, "orders").limit(500)
    contrib = str(tmp_path / "contrib")
    fn = incremental_totals_batch_fn(contrib)
    fn(orders, 0)
    before = _rows(read_incremental_totals(spark, contrib))
    fn(orders, 0)  # at-least-once replay of the same epoch
    assert _rows(read_incremental_totals(spark, contrib)) == before
