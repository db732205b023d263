"""One SQL text is both builder and oracle (``registry.sql_query``).

A query the helper builds runs its oracle text in Spark, so the oracle
compares two engines on one text. That holds only while its ``ORACLE``
entry is the builder's text with the table names filled in, every
placeholder names a test table, and relational.py does not grow the
deleted DataFrame builder back as a second implementation the oracle
would no longer see.

Every other relational oracle text that Spark can analyze keeps its
DataFrame builder only with a measured reason (``KEEPERS``, the keeper
table in plans/one_text/README.md). Only that check needs a
SparkSession, and it runs analysis alone, no Spark job.
"""

from __future__ import annotations

import re

from pyspark.errors import AnalysisException

from sbs_suptech_etl_v2_spark.io import TABLES, table
from sbs_suptech_etl_v2_spark.operators import relational as R
from sbs_suptech_etl_v2_spark.profile import counted
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
    "q69_status_pivot": "status_priority_pivot",
    "q98_user_snapshot_diff": "user_snapshot_diff",
    "q106_idle_rich_customers": "idle_rich_customers",
    "q116_cumulative_distinct": "cumulative_distinct_users",
    "q119_incremental_totals": "incremental_priority_totals",
}

# each relational query whose oracle text Spark runs unchanged but which
# keeps its DataFrame builder -> why (the measurements are in the keeper
# table of plans/one_text/README.md and on the line above each builder)
KEEPERS = {
    "q01_pricing_summary": "faster at sf0.1: salted BIGINT moments",
    "q06_revenue_by_nation": "faster at sf0.1: lineitem aggregates before the join",
    "q09_distinct_agg": "faster at sf0.01, one keyed exchange fewer",
    "q12_set_ops": "the text plans 3 keyed exchanges against 1",
    "q58_salted_agg": "the only caller of functions.skew.salted_agg; "
    "its oracle is the plain GROUP BY on purpose",
    "q68_interval_join": "the text fails test_q68_interval_join_is_bucketed_equi_join",
    "q72_status_unpivot": "the text adds a keyed exchange and a job",
    "q87_surrogate_keys": "the text is a global SinglePartition window "
    "(test_q87_surrogate_keys_avoid_global_sort)",
    "q94_quantity_price_stats": "faster at sf0.1: two-level salted moments",
    "q96_only_late_supplier": "the text plans 5 keyed exchanges against 2",
    "q103_funnel_conversion": "the text plans 8 keyed exchanges against 2",
    "q109_activity_history_scd2": "the text fails test_q109_single_user_exchange",
    "q110_join_key_skew_profile": "faster at sf0.1",
    "q118_part_pair_baskets": "the text adds a keyed exchange and a job",
    "q121_cusum_changepoints": "the text adds a keyed exchange and a job",
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


def _relational_oracles() -> dict[str, str]:
    texts = {v for k, v in vars(R).items() if k.endswith("_SQL")}
    return {
        n: text
        for n, text in ORACLE.items()
        if text in texts or ONE_TEXT.get(n) in texts
    }


def test_every_text_spark_analyzes_is_one_text_or_a_keeper(spark, sf_dir):
    frames = {t: table(spark, sf_dir, t) for t in TABLES}

    def analyzable() -> set[str]:
        # the oracle texts name bare tables: analyze them over temp views
        # of the test tables, dropped again before the next test
        for t, df in frames.items():
            df.createOrReplaceTempView(t)
        try:
            ok = set()
            for name, text in _relational_oracles().items():
                try:
                    spark.sql(text)  # parse + analysis only
                except AnalysisException:  # parse errors included
                    continue
                ok.add(name)
            return ok
        finally:
            for t in frames:
                spark.catalog.dropTempView(t)

    runs, jobs = counted(spark, analyzable)
    assert jobs == 0, f"analysis started {jobs} Spark jobs"
    undecided = sorted(runs - set(ONE_TEXT) - set(KEEPERS))
    assert not undecided, (
        f"Spark runs these relational oracle texts, but each keeps a "
        f"DataFrame builder with no KEEPERS reason: {undecided}"
    )
    assert set(ONE_TEXT) | set(KEEPERS) <= runs
    assert not set(ONE_TEXT) & set(KEEPERS)
    for name in KEEPERS:
        fn = QUERIES[name]
        assert not hasattr(fn, "sql_text"), name
        assert getattr(R, fn.__name__, None) is fn, name
