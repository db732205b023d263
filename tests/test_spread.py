"""io.spread — an unconditional round-robin to ``defaultParallelism``:
narrow scans are widened, wider frames are cut back to that width (the
one exchange spread costs them), and data never changes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sbs_suptech_etl_v2_spark.io import spread, table


def test_spread_widens_narrow_scan(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    wide = spread(docs)
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # same rows, only placement changed
    assert sorted(r["doc_id"] for r in wide.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in docs.select("doc_id").collect()
    )


@pytest.mark.parametrize("extra", [None, 2], ids=["narrow_scan", "wider_than_target"])
def test_spread_yields_default_parallelism(spark, sf_dir, extra):
    target = spark.sparkContext.defaultParallelism
    docs = table(spark, sf_dir, "documents")
    df = docs if extra is None else docs.repartition(target + extra)
    out = spread(df)
    assert out.rdd.getNumPartitions() == target
    assert sorted(out.select("doc_id").collect()) == sorted(docs.select("doc_id").collect())


def test_spread_keeps_kernel_results_content_stable(spark, sf_dir):
    # order-insensitive consumers see identical results either way —
    # the contract every spread call site relies on
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    direct = {
        r["doc_id"]: r["h"]
        for r in docs.select("doc_id", F.md5("text").alias("h")).collect()
    }
    via_spread = {
        r["doc_id"]: r["h"]
        for r in spread(docs).select("doc_id", F.md5("text").alias("h")).collect()
    }
    assert direct == via_spread
