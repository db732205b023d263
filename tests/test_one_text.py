"""One SQL text is both builder and oracle (``registry.sql_query``).

A query the helper builds runs its oracle text in Spark, so the oracle
compares two engines on one text. That holds only while its ``ORACLE``
entry is the builder's text with the table names filled in, every
placeholder names a test table, and relational.py does not grow the
deleted DataFrame builder back as a second implementation the oracle
would no longer see.

No SparkSession — pure registry assertions.
"""

from __future__ import annotations

import re

from sbs_suptech_etl_v2_spark.io import TABLES
from sbs_suptech_etl_v2_spark.operators import relational as R
from sbs_suptech_etl_v2_spark.registry import ORACLE, QUERIES

# each one-text query -> the DataFrame builder it had before
OLD_BUILDERS = {
    "q02_metadata_lookup_join": "metadata_lookup_join",
    "q03_top_orders_per_customer": "top_orders_per_customer",
    "q04_semi_join_open_orders": "customers_with_open_orders",
    "q05_anti_join_no_orders": "customers_without_orders",
    "q08_priority_rollup": "order_priority_rollup",
    "q10_running_window": "running_order_totals",
    "q11_positional_pick": "positional_pick",
    "q13_events_tumbling": "events_tumbling_window",
    "q40_nation_set_ops": "nation_set_ops",
    "q46_events_session": "events_session_window",
    "q49_promo_revenue": "promo_revenue_share",
    "q52_status_cube": "order_status_cube",
    "q53_approx_distinct": "segment_distinct_customers",
    "q60_grouping_sets": "status_priority_grouping_sets",
    "q66_small_qty_revenue": "small_quantity_brand_revenue",
    "q67_acctbal_deciles": "acctbal_deciles",
    "q70_brand_argmax": "top_brand_per_size",
    "q82_distribution_windows": "order_distribution_windows",
    "q83_nation_presence": "nation_presence_reconcile",
    "q120_monthly_momentum": "monthly_revenue_momentum",
}

ONE_TEXT = {n: fn.sql_text for n, fn in QUERIES.items() if hasattr(fn, "sql_text")}
PLACEHOLDER = re.compile(r"\{(\w+)\}")


def test_one_text_queries_are_the_converted_set():
    assert set(ONE_TEXT) == set(OLD_BUILDERS)


def test_oracle_is_the_builder_text_with_table_names():
    for name, text in ONE_TEXT.items():
        assert ORACLE[name] == PLACEHOLDER.sub(r"\1", text), name
        assert "{" not in ORACLE[name], name


def test_every_placeholder_is_a_test_table():
    for name, text in ONE_TEXT.items():
        tables = set(PLACEHOLDER.findall(text))
        assert tables, name
        assert tables <= set(TABLES), (name, tables - set(TABLES))


def test_relational_defines_no_builder_under_the_old_names():
    left = {q: fn for q, fn in OLD_BUILDERS.items() if hasattr(R, fn)}
    assert not left, f"one-text queries grew a DataFrame builder back: {left}"
