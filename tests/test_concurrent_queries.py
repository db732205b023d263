"""Session thread-safety — concurrent queries on one SparkSession.

An analytics engine serves concurrent callers from a shared session
(BI servers, notebook kernels, the streaming foreachBatch thread next
to ad-hoc queries). Spark supports concurrent actions; what can break
is ENGINE-side shared mutable state. The one instance this repo had:
q60 registered its input under the fixed temp-view name ``orders_v``
— temp views are session-global across threads, so two threads
running q60 against DIFFERENT sf_dirs could silently read each
other's input mid-plan. Fixed by passing the DataFrame as a
``spark.sql`` parameter (internally unique substitution, nothing left
in the catalog); these tests pin both the fix and the general
no-shared-state property over a mixed query batch.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from sbs_suptech_etl_v2_spark.registry import QUERIES

MIXED = [
    "q60_grouping_sets",  # the spark.sql surface (the fixed race)
    "q40_nation_set_ops",
    "q14_scalar_refinement",
    "q83_nation_presence",
    "q08_priority_rollup",
]


def _rows(spark, name, sf_dir):
    return sorted(map(tuple, QUERIES[name](spark, sf_dir).collect()), key=str)


def test_mixed_queries_concurrently_match_serial(spark, sf_dir):
    serial = {name: _rows(spark, name, sf_dir) for name in MIXED}
    with ThreadPoolExecutor(max_workers=len(MIXED)) as pool:
        futures = {
            name: pool.submit(_rows, spark, name, sf_dir) for name in MIXED
        }
        concurrent = {name: f.result() for name, f in futures.items()}
    assert concurrent == serial


def test_q60_concurrent_across_sf_dirs_reads_its_own_input(
    spark, sf_dir, oracle_sf_dir
):
    """The pinned race: with the fixed temp-view name, one thread's
    view replaced the other's input; with parameterized spark.sql each
    call is bound to its own DataFrame."""
    expected = {
        d: _rows(spark, "q60_grouping_sets", d)
        for d in (sf_dir, oracle_sf_dir)
    }
    assert expected[sf_dir] != expected[oracle_sf_dir]  # inputs differ
    for _ in range(3):
        with ThreadPoolExecutor(max_workers=2) as pool:
            futures = {
                d: pool.submit(_rows, spark, "q60_grouping_sets", d)
                for d in (sf_dir, oracle_sf_dir)
            }
            got = {d: f.result() for d, f in futures.items()}
        assert got == expected


def test_new_session_reads_its_own_tables(spark, sf_dir):
    """A ``newSession()`` builds on tables read by itself, not on the
    DataFrames its parent session cached: the ``spark.sql`` parameter
    views resolve in its own catalog, and its own configuration (AQE
    off) plans the query."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    for name in ("q60_grouping_sets", "q83_nation_presence"):
        expected = _rows(spark, name, sf_dir)  # the parent reads sf_dir first
        df = QUERIES[name](s2, sf_dir)
        assert "AdaptiveSparkPlan" not in df._jdf.queryExecution().executedPlan().toString()
        assert _rows(s2, name, sf_dir) == expected
