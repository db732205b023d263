"""Mirror of the driver's t2 gate: every declared query must hash-match
its DuckDB oracle at sf0.01 (exact canonical equality here, which is
stronger than the driver's hash).

The same pass pins each query's shape: ``plans/shape.json`` holds
``{query: [build_jobs, jobs]}`` — the Spark jobs the builder call runs
and the jobs of the ``collect()`` — as this session (local[4],
``SPARK_GRAFT_SHUFFLE=8``) reads them at sf0.01 with the table catalog
warm.  A pin element may be a list of every value the count is known to
take.  Any other count fails, naming the query with the pinned and live
pair; a deliberate plan change commits the new pair to
``plans/shape.json`` together with its before/after ``explain`` output.
"""

from __future__ import annotations

import json
import os

import pytest

from sbs_suptech_etl_v2_spark import io
from sbs_suptech_etl_v2_spark.paritycheck import compare, oracle_connection
from sbs_suptech_etl_v2_spark.profile import counted
from sbs_suptech_etl_v2_spark.registry import ORACLE, QUERIES
from tests.parity import assert_verdict

SHAPE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    "shape.json",
)
with open(SHAPE_PATH) as _fh:
    SHAPE = json.load(_fh)


@pytest.fixture(scope="module")
def oracle_con(spark, oracle_sf_dir):
    # warm the table catalog first: a query's first read of a table
    # otherwise adds schema-inference jobs to its builder count
    io.load(spark, oracle_sf_dir, *io.TABLES)
    with oracle_connection(oracle_sf_dir) as con:
        yield con


def _assert_pinned(name: str, live: list[int]) -> None:
    pin = SHAPE[name]
    held = all(
        got in (want if isinstance(want, list) else [want])
        for got, want in zip(live, pin)
    )
    assert held, (
        f"{name}: [build_jobs, jobs] pinned {pin} in plans/shape.json, "
        f"live {live}"
    )


def test_shape_pins_cover_the_registry():
    assert set(SHAPE) == set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(spark, oracle_sf_dir, oracle_con, name):
    sdf, build_jobs = counted(spark, lambda: QUERIES[name](spark, oracle_sf_dir))
    verdict, jobs = counted(spark, lambda: compare(sdf, ORACLE[name], oracle_con))
    assert_verdict(verdict, name)
    _assert_pinned(name, [build_jobs, jobs])


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE)))
def test_no_oracle_query_is_pinned(spark, oracle_sf_dir, oracle_con, name):
    sdf, build_jobs = counted(spark, lambda: QUERIES[name](spark, oracle_sf_dir))
    rows, jobs = counted(spark, sdf.collect)
    assert rows, f"{name}: empty result"
    _assert_pinned(name, [build_jobs, jobs])


def test_every_query_declared_in_oracle_or_documented():
    undocumented = set(QUERIES) - set(ORACLE)
    # non-SQL-expressible ops may omit the oracle; keep the list explicit
    allowed_weak = {"q43_notification_ids"}  # C7 uuid() — nondeterministic
    assert undocumented <= allowed_weak, f"missing oracle SQL for: {undocumented}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"l_returnflag", "sum_qty", "count_order"}
