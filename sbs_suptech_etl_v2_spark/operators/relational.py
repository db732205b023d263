"""Relational operator family (SURVEY §2.3-2.7 + absent-op coverage).

The reference has one join shape (J1 broadcast lookup), one grouping
shape (G1 by-type bucketing) and no explicit sort/set ops; the driver
harness checks the full relational surface over the TPC-H-ish test
tables, so this module provides the declared query set: filters,
projections, joins in all modes, hash aggregation, distinct agg,
rollup, windows (ranking + running frames), sort/limit/offset, set ops,
and event-time tumbling windows (batch-expressible, SURVEY §2.10).

Determinism rules (SURVEY §5): money aggregates are summed as
``decimal`` (order-independent exact arithmetic — double sums vary
run-to-run with partial-agg order) then cast back to double; every
top-k window orders by a unique tie-breaker; no uuid()/now() in checked
columns.

One text per query where Spark runs it unchanged: a ``*_SQL`` constant
that names its tables as ``{orders}``-style placeholders (``{{orders}}``
inside f-strings) has no DataFrame builder here. ``registry.sql_query``
binds each placeholder to its table as a ``spark.sql`` DataFrame
parameter, and ``registry.oracle_text`` gives DuckDB the same text with
the table names filled in, so the oracle compares two engines on one
text. The other queries keep a builder: either their text uses
DuckDB-only functions, or their builder plans better or runs faster (a
keeper says why on the line above its ``def``; the measurements are in
plans/one_text/README.md).

Scale notes (100 TB posture): each builder states its shuffle shape.
Catalyst/AQE pick broadcast vs sort-merge joins; explicit
``F.broadcast`` only where a side is known-small by construction
(dimension tables), mirroring the reference's J1 metadata lookup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sbs_suptech_etl_v2_spark.checkpointing import materialize
from sbs_suptech_etl_v2_spark.io import load, table


def _dec(col: F.Column, scale: int = 6) -> F.Column:
    """Cast a double expression to an exact decimal for order-independent SUM."""
    return col.cast(f"decimal(18,{scale})")


# Keeps its builder: salted BIGINT moments, 0.54 s vs the text's 0.77 s at sf0.1.
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped pricing summary over lineitem.

    Covers filter pushdown (F-class), hash aggregation with partial
    (map-side) combine (G-class absent-ops), and derived averages.
    One fact-sized shuffle on the salted group key; at 100 TB the
    map-side partial agg reduces that shuffle to |groups| × salts ×
    |partitions| rows.

    Accumulation is the q94 two-level salted shape: per-row values
    quantize once through the decimal cast (HALF_UP on the exact
    double expansion — identical to the oracle's CAST), the quantized
    integers sum as BIGINT per (group, salt) — long adds in the agg
    buffer instead of four decimal(28) accumulators — and the salt
    partials merge as decimal(28,0). The merge result is re-cast to
    the exact (precision, scale) the one-level decimal sums produced,
    so every output double is bit-identical to the flat form.
    """
    # SQL-text form (guide §5; plan unchanged —
    # plans/r17/q01_pricing_summary_*.txt)
    li = table(spark, sf_dir, "lineitem")
    disc_price = "l_extendedprice * (1 - l_discount)"
    charge = f"({disc_price}) * (1 + l_tax)"
    q4 = "cast(cast(l_quantity as decimal(18,4)) * 10000 as bigint)"
    b4 = "cast(cast(l_extendedprice as decimal(18,4)) * 10000 as bigint)"
    d6 = f"cast(cast({disc_price} as decimal(18,6)) * 1000000 as bigint)"
    c6 = f"cast(cast({charge} as decimal(18,6)) * 1000000 as bigint)"
    partial = (
        li.filter("l_shipdate <= cast('1998-09-02 00:00:00' as timestamp)")
        .groupBy(
            "l_returnflag",
            "l_linestatus",
            # salt over columns the aggregate already reads — never
            # widen the pruned scan for the salt
            F.expr(
                f"pmod(hash(l_extendedprice, l_quantity), {_MOMENT_SALTS})"
            ).alias("_salt"),
        )
        .agg(
            F.expr(f"sum({q4}) AS _pq"),
            F.expr(f"sum({b4}) AS _pb"),
            F.expr(f"sum({d6}) AS _pd"),
            F.expr(f"sum({c6}) AS _pc"),
            F.expr("count(1) AS _pn"),
        )
    )
    agg = partial.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr("cast(sum(cast(_pq as decimal(28,0))) / 10000 as decimal(28,4)) AS _sum_qty"),
        F.expr("cast(sum(cast(_pb as decimal(28,0))) / 10000 as decimal(28,4)) AS _sum_base"),
        F.expr("cast(sum(cast(_pd as decimal(28,0))) / 1000000 as decimal(28,6)) AS _sum_disc"),
        F.expr("cast(sum(cast(_pc as decimal(28,0))) / 1000000 as decimal(28,6)) AS _sum_charge"),
        F.expr("sum(_pn) AS count_order"),
    )
    return agg.selectExpr(
        "l_returnflag",
        "l_linestatus",
        "cast(_sum_qty as double) AS sum_qty",
        "cast(_sum_base as double) AS sum_base_price",
        "cast(_sum_disc as double) AS sum_disc_price",
        "cast(_sum_charge as double) AS sum_charge",
        "cast(_sum_qty as double) / count_order AS avg_qty",
        "cast(_sum_base as double) / count_order AS avg_price",
        "count_order",
    )


PRICING_SUMMARY_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST((l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# J1 analog: the reference fetches the existing item per outgoing row
# (dynamo_loader_document.py:36-48); set-oriented, a left lookup join.
METADATA_LOOKUP_JOIN_SQL = """
SELECT
  o.o_custkey AS custkey,
  c.c_name AS cust_name,
  n.n_name AS nation_name,
  o.order_count,
  o.total_spend
FROM (
  SELECT o_custkey,
         COUNT(*) AS order_count,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_spend
  FROM {orders} GROUP BY o_custkey
) o
LEFT JOIN {customer} c ON o.o_custkey = c.c_custkey
LEFT JOIN {nation} n ON c.c_nationkey = n.n_nationkey
"""


# W1 analog: row_number top-3 per partition, the first-N-pages cap
# (textract_extractor_document.py:58-59); o_orderkey breaks ties.
TOP_ORDERS_PER_CUSTOMER_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM {orders}
)
WHERE rn <= 3
"""


# Semi join (EXISTS), SURVEY §2.4 absent-op coverage.
CUSTOMERS_WITH_OPEN_ORDERS_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM {customer} c
WHERE EXISTS (SELECT 1 FROM {orders} o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
"""


# Anti join (NOT EXISTS), SURVEY §2.4; the right side is big urgent
# orders so the result is non-vacuous at every SF.
CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM {customer} c
WHERE NOT EXISTS (SELECT 1 FROM {orders} o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 200000
                    AND o.o_orderpriority LIKE '1%')
"""


# Keeps its builder: lineitem aggregates before the join, 0.66 s vs 0.84 s at sf0.1.
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join (5 tables) + agg — TPC-H Q5 shape.

    lineitem pre-aggregates to one (orderkey, revenue, items) row
    BEFORE the join — the orderkey shuffle happens either way, but the
    join input and every downstream exchange shrink ~4× (avg lineitems
    per order). Decimal partial sums re-aggregate exactly, so the
    two-level sum is bit-identical to the flat one.
    ``nation``/``region`` are bounded dims (25/5 rows at any SF) and
    get explicit broadcast hints; ``customer`` scales with SF — it is
    fact-sized at 100×, so AQE chooses its join strategy (broadcast
    while small, shuffle when it grows) instead of a hint that would
    OOM executors at scale.
    """
    li, orders, customer, nation, region = load(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "region"
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # per-row micros quantize once via the decimal cast (same HALF_UP
    # as the oracle), then the fact-sized per-order aggregate sums
    # BIGINT — long adds instead of a decimal(28,6) accumulator (the
    # q94 discipline; per-order micros are basket-bounded, no salt
    # needed). The nation-level merge re-sums as decimal and re-casts
    # to the decimal(38,6) the flat form produced, so the output
    # doubles are bit-identical.
    rev_micros = (_dec(revenue) * 1000000).cast("bigint")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(rev_micros).alias("_rev_u"),
        F.count(F.lit(1)).alias("_items"),
    )
    return (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            (F.sum(F.col("_rev_u").cast("decimal(28,0)")) / 1000000)
            .cast("decimal(38,6)")
            .cast("double")
            .alias("revenue"),
            F.sum("_items").alias("n_items"),
        )
    )


REVENUE_BY_NATION_SQL = """
SELECT r_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def order_branches_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/§2.7 analog — type-routed branches re-merged with unionByName.

    The orchestrator routes documents by type through distinct flows and
    merges results (workflow_orchestator.py:166-188); here orders are
    routed by status through branch-specific derivations and unioned.
    Branch filters are disjoint → no dedup needed (UNION ALL).
    """
    orders = table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority").startswith("1")).select(
        "o_orderkey",
        F.lit("urgent_flow").alias("flow"),
        (F.col("o_totalprice") * F.lit(1.10)).alias("adjusted_price"),
    )
    high = orders.filter(F.col("o_orderpriority").startswith("2")).select(
        "o_orderkey",
        F.lit("high_flow").alias("flow"),
        (F.col("o_totalprice") * F.lit(1.05)).alias("adjusted_price"),
    )
    rest = orders.filter(~F.col("o_orderpriority").rlike("^[12]")).select(
        "o_orderkey",
        F.lit("default_flow").alias("flow"),
        F.col("o_totalprice").alias("adjusted_price"),
    )
    return urgent.unionByName(high).unionByName(rest)


ORDER_BRANCHES_UNION_SQL = """
SELECT o_orderkey, 'urgent_flow' AS flow, o_totalprice * 1.10 AS adjusted_price
FROM orders WHERE o_orderpriority LIKE '1%'
UNION ALL
SELECT o_orderkey, 'high_flow' AS flow, o_totalprice * 1.05 AS adjusted_price
FROM orders WHERE o_orderpriority LIKE '2%'
UNION ALL
SELECT o_orderkey, 'default_flow' AS flow, o_totalprice AS adjusted_price
FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[12]')
"""


# ROLLUP aggregation, SURVEY §2.5 grouping sets.
ORDER_PRIORITY_ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM {orders}
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


# Keeps its builder: 0.107 s vs the text's 0.180 s at sf0.01 (1 keyed exchange vs 2).
def supplier_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) + per-group min/max — distinct aggregation coverage.

    Two ``countDistinct`` columns make Catalyst Expand every input row
    3× (one projection per distinct column + one for the plain aggs) —
    measured 1.8× slower than a single-pass ``size(collect_set(...))``,
    which map-side-combines sets and shuffles once. The set form holds
    each group's distinct values in the aggregation buffer, so it wants
    bounded per-group cardinality (true here: parts-per-supplier is
    capped by the part table); for unbounded groups fall back to the
    Expand form (it spills) or ``approx_count_distinct`` (exercised by
    q53, with the exactness caveat).
    """
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.size(F.collect_set("l_partkey")).cast("bigint").alias("distinct_parts"),
        F.size(F.collect_set("l_orderkey")).cast("bigint").alias("distinct_orders"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


SUPPLIER_DISTINCT_PARTS_SQL = """
SELECT l_suppkey,
       COUNT(DISTINCT l_partkey) AS distinct_parts,
       COUNT(DISTINCT l_orderkey) AS distinct_orders,
       MIN(l_shipdate) AS first_ship,
       MAX(l_shipdate) AS last_ship
FROM lineitem
GROUP BY l_suppkey
"""


# Running ROWS frame + lag per customer; decimal sums keep it exact.
RUNNING_ORDER_TOTALS_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
       CAST(LAG(CAST(o_totalprice AS DECIMAL(18,6)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS prev_price,
       CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS order_seq
FROM {orders}
"""


# F9/W2 analog: positional pick by a unique global order
# (s3_poller_document.py:53-54); plans as TakeOrderedAndProject.
POSITIONAL_PICK_SQL = """
SELECT pos, o_orderkey, o_totalprice, o_orderstatus
FROM (
  SELECT ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS pos,
         o_orderkey, o_totalprice, o_orderstatus
  FROM {orders}
)
WHERE pos > 10 AND pos <= 15
"""


# Keeps its builder: the text plans 3 keyed exchanges vs 1; 0.10 s vs 0.19 s at sf0.01.
def segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segmentation — set semantics in single-scan form (§2.7).

    Big-spending customers that also ordered recently, minus those with
    any open order. The set-algebra formulation (three DISTINCT key
    sets → INTERSECT → EXCEPT ALL — kept verbatim in the oracle SQL)
    is equivalent to one ``groupBy(o_custkey)`` computing all three
    segment flags and a conjunction filter: one scan + one shuffle
    instead of three of each. (A branch-per-set Spark form defeats
    exchange reuse because per-branch column pruning specializes each
    aggregate.) The physical intersect/exceptAll operators are
    exercised by q40 over bounded dimensions.
    """
    customer, orders = load(spark, sf_dir, "customer", "orders")
    flags = orders.groupBy("o_custkey").agg(
        F.expr("max(cast(o_totalprice > 100000 as int)) AS is_big"),
        F.expr(
            "max(cast(o_orderdate >= cast('1997-01-01 00:00:00' as timestamp)"
            " as int)) AS is_recent"
        ),
        F.expr("max(cast(o_orderstatus = 'O' as int)) AS is_open"),
    )
    keys = flags.filter(
        "is_big = 1 AND is_recent = 1 AND is_open = 0"
    ).select("o_custkey")
    return keys.join(customer, keys.o_custkey == customer.c_custkey).select(
        "c_custkey", "c_name"
    )


SEGMENT_SET_OPS_SQL = """
WITH keys AS (
  (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 100000
   INTERSECT
   SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
  EXCEPT ALL
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
)
SELECT c_custkey, c_name
FROM keys JOIN customer ON o_custkey = c_custkey
"""


# TPC-H Q14 shape: fact-dimension join + conditional decimal sum per
# ship month (the salted form measured a wash here).
PROMO_REVENUE_SHARE_SQL = """
SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
       CAST(SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                     ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) * 100
         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
         AS promo_share_pct,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
         AS total_revenue,
       COUNT(*) AS n_items
FROM {lineitem} JOIN {part} ON l_partkey = p_partkey
GROUP BY 1
"""


# Physical INTERSECT / EXCEPT ALL (§2.7) over bounded (<=25) key sets.
NATION_SET_OPS_SQL = """
WITH keys AS (
  (SELECT DISTINCT c_nationkey AS nationkey FROM {customer}
   INTERSECT
   SELECT DISTINCT s_nationkey FROM {supplier})
  EXCEPT ALL
  SELECT n_nationkey FROM {nation} WHERE n_regionkey = 0
)
SELECT n_nationkey AS nationkey, n_name AS nation_name
FROM keys JOIN {nation} ON nationkey = n_nationkey
"""


# Event-time tumbling hour windows (SURVEY §2.10), batch form.
EVENTS_TUMBLING_WINDOW_SQL = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       COUNT(DISTINCT user_id) AS distinct_users
FROM {events}
GROUP BY 1, 2
"""


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (§2.10) — 1 h size / 30 min hop.

    Each event lands in exactly two overlapping windows; Spark's
    ``window(ts, '1 hour', '30 minutes')`` does the assignment
    (streaming-identical semantics — add ``withWatermark`` and this
    plan runs unchanged under ``readStream``). The oracle reproduces
    the assignment by exploding the two candidate starts per event.
    One shuffle on (window, type); map-side partial agg first.
    """
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


EVENTS_SLIDING_WINDOW_SQL = """
WITH assigned AS (
  SELECT e.event_type, e.value, t.window_start
  FROM events e,
       unnest([
         time_bucket(INTERVAL '30 minutes', e.ts),
         time_bucket(INTERVAL '30 minutes', e.ts) - INTERVAL '30 minutes'
       ]) AS t(window_start)
)
SELECT window_start, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM assigned
GROUP BY 1, 2
"""


SESSION_GAP_MIN = 30


# Session windows (§2.10) as gaps-and-islands: a new session starts
# after a gap longer than SESSION_GAP_MIN minutes.
EVENTS_SESSION_WINDOW_SQL = f"""
WITH ordered AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL {SESSION_GAP_MIN} MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM {{events}}
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM ordered
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM sessions
GROUP BY user_id, session_id
"""


# CUBE aggregation: one Expand + one hash aggregate (with q08 and q60,
# the grouping-sets family).
ORDER_STATUS_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM {orders}
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# approx_count_distinct checked against the exact count: engines'
# sketches differ, so only the within-10% verdict is compared.
SEGMENT_DISTINCT_CUSTOMERS_SQL = """
SELECT c_mktsegment,
       COUNT(DISTINCT c_custkey) AS exact_customers,
       abs(approx_count_distinct(c_custkey) - COUNT(DISTINCT c_custkey))
         <= 0.1 * COUNT(DISTINCT c_custkey) AS approx_within_10pct
FROM {customer}
GROUP BY c_mktsegment
"""


def purchase_asof_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — SURVEY §2.4 absent-op coverage (range/as-of family).

    Every purchase event pairs with the user's most recent click at or
    before the purchase timestamp (NULL when none). Spark lacks a
    native ASOF JOIN; the scale-correct formulation is the union +
    running-``last(ignorenulls)`` window — ONE shuffle on user_id and
    a per-user sort, no range-join row explosion (a naive t1<=t2 theta
    join is quadratic per user). Clicks sort before purchases at equal
    timestamps, matching the inclusive ``>=`` of DuckDB's ASOF JOIN
    oracle. The same plan shape handles any as-of/range lookup (quotes
    to trades, sensor snapshots); in streaming it becomes a
    watermarked stream-stream interval join.

    Tie semantics: among several clicks sharing one (user_id, ts) the
    window's ``orderBy(ts, is_purchase, event_id)`` + running ``last``
    deterministically picks the MAX event_id. DuckDB's ASOF JOIN leaves
    the duplicate-timestamp choice unspecified, so the oracle collapses
    click ties to ``max(event_id)`` per (user_id, ts) first — same
    semantics, fully specified on both engines even if the corpus ever
    grows tied click timestamps (today it has none).
    """
    ev = table(spark, sf_dir, "events")
    sides = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_type") == "purchase").alias("is_purchase"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_purchase", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    click_id = F.when(~F.col("is_purchase"), F.col("event_id"))
    click_ts = F.when(~F.col("is_purchase"), F.col("ts"))
    return (
        sides.select(
            "user_id",
            "ts",
            "event_id",
            "is_purchase",
            F.last(click_id, ignorenulls=True).over(w).alias("click_event_id"),
            F.last(click_ts, ignorenulls=True).over(w).alias("click_ts"),
        )
        .filter(F.col("is_purchase"))
        .select(
            F.col("event_id").alias("purchase_event_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "click_event_id",
            "click_ts",
        )
    )


PURCHASE_ASOF_CLICK_SQL = """
SELECT p.event_id AS purchase_event_id,
       p.user_id,
       p.ts AS purchase_ts,
       c.event_id AS click_event_id,
       c.ts AS click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (
  -- collapse (user_id, ts) click ties to the max event_id: ASOF JOIN's
  -- pick among duplicate right-side timestamps is unspecified, and the
  -- Spark window deterministically keeps the max
  SELECT user_id, ts, max(event_id) AS event_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
) c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


RANGE_FRAME_DAYS = 30


def _epoch_seconds_sql(e: str) -> str:
    """Zone-free epoch seconds of an NTZ timestamp, by field arithmetic.

    ``unix_timestamp`` interprets the wall-clock value in the SESSION
    timezone, so using it for epoch math either silently depends on the
    caller's zone or forces the operator to mutate session conf (a
    side effect that outlives the query — the plan executes lazily, so
    save/restore around plan construction cannot work). Date + time
    fields of a TIMESTAMP_NTZ are zone-independent; this is exactly
    DuckDB's ``epoch(ts)`` for its (NTZ-semantics) TIMESTAMP type,
    including pre-1970 values (negative day count + positive
    seconds-of-day). SQL text, so a builder composes it into one
    JVM-side parse (``F.expr`` or ``selectExpr``).
    """
    return (
        f"(cast(datediff(to_date({e}), cast('1970-01-01' as date)) as bigint)"
        f" * 86400 + cast(hour({e}) as bigint) * 3600"
        f" + cast(minute({e}) as bigint) * 60 + cast(second({e}) as bigint))"
    )


def _epoch_micros_sql(e: str) -> str:
    """Zone-free epoch MICROseconds of an NTZ timestamp.

    Same field-arithmetic contract as ``_epoch_seconds_sql`` (DuckDB's
    ``epoch_us``), extended below the second: ``date_part('SECOND')``
    yields DECIMAL(8,6) seconds including the fraction, so the
    micro component is exact decimal arithmetic, never a float.
    """
    return (
        f"(cast(datediff(to_date({e}), cast('1970-01-01' as date)) as bigint)"
        f" * 86400000000 + cast(hour({e}) as bigint) * 3600000000"
        f" + cast(minute({e}) as bigint) * 60000000"
        f" + cast(date_part('SECOND', {e}) * 1000000 as bigint))"
    )


def rolling_spend_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window — SURVEY §2.6 frame-spec coverage beyond
    q10's ROWS frame: per customer, each order's trailing
    {RANGE_FRAME_DAYS}-day spend (value-based frame bounds, so gaps
    between order dates matter — a ROWS frame cannot express this).

    Spark's ``rangeBetween`` needs a numeric ordering column: order by
    epoch seconds and bound by the interval in seconds — exactly the
    window DuckDB runs with ``RANGE BETWEEN INTERVAL ... PRECEDING``
    over the timestamp (mirrored via the same epoch arithmetic in the
    oracle to keep tie/bound semantics byte-identical). One shuffle on
    the partition key; decimal sums keep the rolling totals exact.
    """
    orders = table(spark, sf_dir, "orders")
    # NTZ timestamps don't cast to long; _epoch_seconds_sql gives zone-free
    # epoch seconds (a session-zone-interpreted epoch would shift an
    # order across the exact 30-day bound under a DST zone, and pinning
    # the session zone from inside an operator is a side effect on the
    # caller's session).
    ts = F.expr(_epoch_seconds_sql("o_orderdate"))
    w = (
        W.partitionBy("o_custkey")
        .orderBy(ts)
        .rangeBetween(-RANGE_FRAME_DAYS * 86400, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(_dec(F.col("o_totalprice")))
        .over(w)
        .cast("double")
        .alias("trailing_30d_spend"),
        F.count(F.lit(1)).over(w).alias("trailing_30d_orders"),
    )


ROLLING_SPEND_RANGE_FRAME_SQL = f"""
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE)
         AS trailing_30d_spend,
       COUNT(*) OVER w AS trailing_30d_orders
FROM orders
WINDOW w AS (
  PARTITION BY o_custkey
  ORDER BY epoch(o_orderdate)
  RANGE BETWEEN {RANGE_FRAME_DAYS} * 86400 PRECEDING AND CURRENT ROW
)
"""


# Keeps its builder: the only caller of skew.salted_agg; the oracle is a plain GROUP BY.
def salted_status_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation — the salted path is
    semantics-preserving, checked against the PLAIN GROUP BY oracle.

    ``o_orderstatus`` has 3 heavily-skewed values (a worst case for a
    single-shuffle groupBy at scale: 3 reducers own everything);
    ``salted_agg`` scatters each group over 16 salts, combines
    partials, and must produce bit-identical totals because every
    aggregate in the family is re-aggregatable and the money sums run
    in exact decimal. The oracle is the plain GROUP BY — the whole
    point is that salting is invisible in the result.
    """
    from sbs_suptech_etl_v2_spark.functions.skew import salted_agg

    orders = table(spark, sf_dir, "orders")
    out = salted_agg(
        orders,
        ["o_orderstatus"],
        [
            ("n_orders", F.lit(1), "count"),
            ("total_price", _dec(F.col("o_totalprice")), "sum"),
            ("first_order", F.col("o_orderdate"), "min"),
            ("last_order", F.col("o_orderdate"), "max"),
        ],
    )
    return out.select(
        "o_orderstatus",
        "n_orders",
        F.col("total_price").cast("double").alias("total_price"),
        "first_order",
        "last_order",
    )


SALTED_STATUS_TOTALS_SQL = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price,
       MIN(o_orderdate) AS first_order,
       MAX(o_orderdate) AS last_order
FROM orders
GROUP BY o_orderstatus
"""


def priority_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (median/p90) per group — SURVEY §2.5 depth.

    ``F.percentile`` is the exact interpolated order statistic (sorts
    the group); DuckDB's ``quantile_cont`` applies the identical
    ``(1-f)·lo + f·hi`` linear interpolation, and both engines compute
    it in IEEE doubles, so the driver hash matches bit-for-bit. Exact
    percentiles shuffle every value to its group; at 100 TB switch to
    ``approx_percentile`` (t-digest sketch, map-side mergeable) — the
    same tolerance-verdict pattern q53 uses for distinct counts.
    """
    orders = table(spark, sf_dir, "orders")
    # one percentile aggregate with an array of fractions, not two
    # scalar ones: each scalar Percentile buffers and sorts the group
    # independently, so the array form halves the sort work — the same
    # values, read off one sorted buffer at two offsets. The group's
    # rows are non-empty by construction (groupBy keys come from the
    # rows), so the [0]/[1] lookups can never see a short array.
    pcts = F.percentile(F.col("o_totalprice"), F.array(F.lit(0.5), F.lit(0.9)))
    return (
        orders.groupBy("o_orderpriority")
        .agg(pcts.alias("_p"), F.count(F.lit(1)).alias("n_orders"))
        .select(
            "o_orderpriority",
            F.col("_p")[0].alias("p50_price"),
            F.col("_p")[1].alias("p90_price"),
            "n_orders",
        )
    )


PRIORITY_PRICE_PERCENTILES_SQL = """
SELECT o_orderpriority,
       quantile_cont(o_totalprice, 0.5) AS p50_price,
       quantile_cont(o_totalprice, 0.9) AS p90_price,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
"""


# GROUPING SETS ((status), (priority)): the cube minus two of its sets.
# Source keys are non-null, so the padded NULLs tag each row's set.
STATUS_PRIORITY_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM {orders}
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
"""


# TPC-H Q17 shape: the correlated per-part threshold decorrelated into
# a per-part aggregate joined back on the equi key.
SMALL_QUANTITY_BRAND_REVENUE_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
           AS avg_qty
  FROM {lineitem} GROUP BY l_partkey
)
SELECT p_brand,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
         AS small_qty_revenue,
       COUNT(*) AS n_items
FROM {lineitem}
JOIN per_part USING (l_partkey)
JOIN {part} ON l_partkey = p_partkey
WHERE l_quantity < 0.5 * avg_qty
GROUP BY p_brand
"""


# ntile / percent_rank per segment, summarized per (segment, decile).
ACCTBAL_DECILES_SQL = """
WITH ranked AS (
  SELECT c_mktsegment, c_acctbal,
         ntile(10) OVER (PARTITION BY c_mktsegment
                         ORDER BY c_acctbal, c_custkey) AS decile,
         percent_rank() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal, c_custkey) AS pr
  FROM {customer}
)
SELECT c_mktsegment, decile,
       COUNT(*) AS n_customers,
       MIN(c_acctbal) AS min_bal,
       MAX(c_acctbal) AS max_bal,
       MAX(pr) AS max_percent_rank
FROM ranked
GROUP BY c_mktsegment, decile
"""


# Keeps its builder: the oracle text plans without the 2-bucket Generate
# that turns the range join into an equi-join, and fails
# tests/test_plan_quality.py::test_q68_interval_join_is_bucketed_equi_join.
def click_purchase_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (absent-op): clicks within 10 min before a purchase.

    The naive form joins on user_id alone and filters the time range —
    quadratic in per-user event count. The scale-correct form buckets
    time into interval-width buckets and equi-joins on (user_id,
    bucket): each click lands in exactly ONE bucket, each purchase
    probes its own and the previous bucket, so every qualifying click
    is found exactly once and bucket size — not per-user history —
    bounds the join fan-out. The range predicate lives in the join
    condition (a left join keeps zero-click purchases). Epoch bucketing
    is offset-invariant: both sides use the same epoch function, and
    clicks in ``[p.ts - W, p.ts)`` always fall in bucket(p) or
    bucket(p)-1 regardless of timezone offset.
    """
    # SQL-text form (guide §5; plan unchanged —
    # plans/r17/q68_interval_join_*.txt)
    window_s = 600
    ev = table(spark, sf_dir, "events")
    clicks = ev.where("event_type = 'click'").selectExpr(
        "user_id AS c_user",
        "ts AS c_ts",
        "event_id AS click_id",
        f"cast({_epoch_seconds_sql('ts')} / {window_s} as bigint) AS bucket",
    )
    purchases = ev.where("event_type = 'purchase'").selectExpr(
        "event_id",
        "user_id AS p_user",
        "ts AS p_ts",
        f"cast({_epoch_seconds_sql('ts')} / {window_s} as bigint) AS p_bucket",
    )
    probes = purchases.withColumn(
        "bucket", F.expr("explode(array(p_bucket - 1, p_bucket))")
    )
    joined = probes.join(
        clicks,
        [
            probes.p_user == clicks.c_user,
            probes.bucket == clicks.bucket,
            clicks.c_ts >= probes.p_ts - F.expr(f"INTERVAL {window_s} SECOND"),
            clicks.c_ts < probes.p_ts,
        ],
        "left",
    )
    return joined.groupBy("event_id").agg(
        F.count("click_id").alias("clicks_10m")
    )


CLICK_PURCHASE_INTERVAL_JOIN_SQL = """
SELECT p.event_id,
       COUNT(c.event_id) AS clicks_10m
FROM events p
LEFT JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 10 MINUTE
 AND c.ts < p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id
"""


# PIVOT: order counts per priority across the three status columns, as
# FILTER aggregates in one pass (a missing combination counts 0).
STATUS_PRIORITY_PIVOT_SQL = """
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
FROM {orders}
GROUP BY o_orderpriority
"""


# ARGMAX: best-revenue brand per part size over the bounded
# (size, brand) aggregate; higher brand name wins ties.
TOP_BRAND_PER_SIZE_SQL = """
WITH per AS (
  SELECT p_size, p_brand,
         SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS rev
  FROM {lineitem} JOIN {part} ON l_partkey = p_partkey
  GROUP BY p_size, p_brand
),
ranked AS (
  SELECT p_size, p_brand, rev,
         ROW_NUMBER() OVER (PARTITION BY p_size
                            ORDER BY rev DESC, p_brand DESC) AS rn,
         COUNT(*) OVER (PARTITION BY p_size) AS n_brands
  FROM per
)
SELECT p_size, p_brand AS top_brand,
       CAST(rev AS DOUBLE) AS top_revenue,
       n_brands
FROM ranked WHERE rn = 1
"""


# Keeps its builder: the text adds a keyed exchange (3 vs 2) and a job.
def status_counts_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (absent-op): wide per-status counts back to long rows.

    Pivots order counts wide (q69's shape), then melts the three status
    columns back to (priority, status, n) with the native ``unpivot``
    operator — physically an Expand node (3 output rows per input, no
    shuffle beyond the pivot aggregate). The round-trip is the point:
    wide↔long reshaping both directions through declared operators,
    names preserved exactly.
    """
    orders = table(spark, sf_dir, "orders")
    zero = F.lit(0).cast("bigint")
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    wide = piv.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), zero).alias("n_f"),
        F.coalesce(F.col("O"), zero).alias("n_o"),
        F.coalesce(F.col("P"), zero).alias("n_p"),
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_f", "n_o", "n_p"],
        variableColumnName="status_col",
        valueColumnName="n_orders",
    )


STATUS_COUNTS_UNPIVOT_SQL = """
WITH wide AS (
  SELECT o_orderpriority,
         COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
         COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
         COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
  FROM orders
  GROUP BY o_orderpriority
)
SELECT o_orderpriority, 'n_f' AS status_col, n_f AS n_orders FROM wide
UNION ALL
SELECT o_orderpriority, 'n_o' AS status_col, n_o AS n_orders FROM wide
UNION ALL
SELECT o_orderpriority, 'n_p' AS status_col, n_p AS n_orders FROM wide
"""


def order_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar-function breadth — the calendar verbs an
    analytics user expects day one (C-class extension; the reference's
    only date logic is regex month parsing, C1-C3).

    Map-only projection over orders: month end, quarter, ISO week,
    ISO day-of-week, clamped month arithmetic, day difference from a
    fixed anchor. Engine-parity notes baked into the choices: Spark
    ``weekday()+1`` == DuckDB ``isodow`` (Spark's ``dayofweek`` is
    Sunday-based), ``add_months`` clamps end-of-month exactly like
    interval month addition, ``weekofyear`` is ISO in both.
    """
    orders = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.last_day(d).alias("month_end"),
        F.quarter(d).cast("bigint").alias("order_quarter"),
        F.weekofyear(d).cast("bigint").alias("iso_week"),
        (F.weekday(d) + 1).cast("bigint").alias("iso_dow"),
        F.add_months(d, 2).alias("plus_two_months"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("bigint").alias(
            "days_since_epoch_start"
        ),
    )


ORDER_CALENDAR_SQL = """
SELECT o_orderkey,
       last_day(o_orderdate) AS month_end,
       CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter,
       CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
       CAST(isodow(o_orderdate) AS BIGINT) AS iso_dow,
       CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus_two_months,
       CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS BIGINT)
         AS days_since_epoch_start
FROM orders
"""


PATH_TOP_K = 20


def session_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized path analysis — the funnel query over event streams.

    Composition of three declared capabilities: gaps-and-islands
    sessionization (lag → new-session flag → running sum, the batch
    twin of q46's session_window), an ORDERED string aggregation per
    session (sort_array over (ts, event_id, type) structs — Spark has
    no ordered string_agg, struct sort + transform + array_join is the
    deterministic equivalent), and a top-k on path frequency
    (TakeOrderedAndProject, unique path tie-break). Shuffles: one on
    user_id for the session windows (reused by the per-session
    aggregate — same key prefix), one bounded shuffle on the path key.
    Gap comparison uses zone-free epoch arithmetic (_epoch_seconds_sql) so
    no session-zone assumption — or mutation — is needed.
    """
    ev = table(spark, sf_dir, "events")
    w_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.expr(f"{_epoch_seconds_sql('ts')} - {_epoch_seconds_sql('prev_ts')}")
    new_session = F.when(
        gap_s.isNull() | (gap_s > SESSION_GAP_MIN * 60), 1
    ).otherwise(0)
    sessions = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.lag("ts").over(w_user).alias("prev_ts"),
    ).withColumn(
        "session_id",
        F.sum(new_session).over(w_user.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    paths = sessions.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(PATH_TOP_K)
    )


SESSION_EVENT_PATHS_SQL = f"""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM ordered
),
paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sessions GROUP BY user_id, session_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT {PATH_TOP_K}
"""


def order_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / lead — the §2.6 ranking trio not covered by
    row_number (q03) and lag (q76).

    Per customer: value-based ranks over order totals (rank leaves
    gaps after ties, dense_rank does not — both are value-determined,
    so ties cannot break determinism) and the days-to-next-order gap
    via lead over the (date, orderkey) sequence. One shuffle on
    o_custkey shared by both window specs (same partition key — one
    Exchange, two Window passes).
    """
    orders = table(spark, sf_dir, "orders")
    w_price = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    w_seq = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w_price).cast("bigint").alias("price_rank"),
        F.dense_rank().over(w_price).cast("bigint").alias("price_dense_rank"),
        F.datediff(F.lead("o_orderdate").over(w_seq), F.col("o_orderdate"))
        .cast("bigint")
        .alias("days_to_next_order"),
    )


ORDER_RANK_FUNCTIONS_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(rank() OVER w_price AS BIGINT) AS price_rank,
       CAST(dense_rank() OVER w_price AS BIGINT) AS price_dense_rank,
       CAST(datediff('day', o_orderdate,
                     lead(o_orderdate) OVER w_seq) AS BIGINT)
         AS days_to_next_order
FROM orders
WINDOW w_price AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC),
       w_seq AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# cume_dist / percent_rank / nth_value / first_value / last_value over
# one (priority, price) ordering: one exchange, one sort.
ORDER_DISTRIBUTION_WINDOWS_SQL = """
SELECT o_orderkey, o_orderpriority,
       cume_dist() OVER w AS price_cume_dist,
       percent_rank() OVER w AS price_percent_rank,
       nth_value(o_orderkey, 3) OVER (
         PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS third_cheapest_so_far,
       first_value(o_orderkey) OVER w_all AS cheapest_in_priority,
       last_value(o_orderkey) OVER w_all AS priciest_in_priority
FROM {orders}
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey),
       w_all AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# thresholds chosen inside the account-balance distribution so BOTH
# one-sided outcomes occur: some nations have premium customers but no
# flush suppliers and vice versa — the full outer join's null-extension
# paths are genuinely exercised, not vacuous.
PREMIUM_CUST_BAL = 9700.0
FLUSH_SUPP_BAL = 5000.0


# FULL OUTER join of two per-nation aggregates (SURVEY §2.6).
NATION_PRESENCE_RECONCILE_SQL = f"""
WITH c AS (
  SELECT c_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_premium_cust
  FROM {{customer}} WHERE c_acctbal > {PREMIUM_CUST_BAL}
  GROUP BY c_nationkey
),
s AS (
  SELECT s_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_flush_supp
  FROM {{supplier}} WHERE s_acctbal > {FLUSH_SUPP_BAL}
  GROUP BY s_nationkey
)
SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
       COALESCE(n_premium_cust, 0) AS n_premium_cust,
       COALESCE(n_flush_supp, 0) AS n_flush_supp,
       CASE WHEN n_premium_cust IS NOT NULL AND n_flush_supp IS NOT NULL THEN 'both'
            WHEN n_premium_cust IS NOT NULL THEN 'cust_only'
            ELSE 'supp_only' END AS presence
FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
"""


SK_PARTITIONS = 8  # range partitions for the surrogate-key sort


# Keeps its builder: the text numbers rows in a global SinglePartition window.
def surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense global sequence ids WITHOUT a global sort (§2.8 absent-op:
    the scale form of ``ROW_NUMBER() OVER (ORDER BY ...)``).

    A single-partition window over 100 TB is the canonical anti-plan.
    The distributed recipe: range-repartition on the order key (range
    partition i holds strictly smaller keys than i+1), sort within
    partitions, then global_id = (rows in earlier partitions) + local
    position. Local positions come free from
    ``monotonically_increasing_id`` — after the sort it counts rows
    from 0 consecutively inside each partition — and the per-partition
    offsets are a TINY aggregate (one row per partition) cumulated by
    a single-partition window that is bounded by the partition count,
    not the data. The only data-sized movements are the range exchange
    and the in-partition sorts.

    Determinism: the sampled range boundaries vary run to run, but the
    emitted (key -> id) mapping is invariant — partition order follows
    key order whatever the cut points, and the sort key includes the
    unique o_orderkey tie-breaker. The oracle checks the mapping with
    a plain ROW_NUMBER.
    """
    orders = table(spark, sf_dir, "orders")
    # materialize(): the offsets aggregate and the data side both
    # consume this frame. Range boundaries come from non-deterministic
    # sampling, so the two branches MUST see the same physical layout;
    # cutting lineage here makes that explicit instead of relying on
    # Spark's exchange-reuse planning the sampled shuffle exactly once
    # (which spark.sql.exchange.reuse=false would silently break).
    sorted_rows = materialize(
        orders.select("o_orderkey", "o_orderdate")
        .repartitionByRange(SK_PARTITIONS, "o_orderdate", "o_orderkey")
        .sortWithinPartitions("o_orderdate", "o_orderkey")
        .select(
            "o_orderkey",
            "o_orderdate",
            F.spark_partition_id().alias("pid"),
            F.monotonically_increasing_id().alias("mid"),
        )
    )
    # mid = (pid << 33) + local_row within each task after the sort
    local = sorted_rows.withColumn(
        "local_row", F.col("mid") - (F.col("pid").cast("bigint") * (1 << 33))
    )
    offsets = (
        local.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("n").over(
                    W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("pid", "offset")
    )
    return (
        local.join(F.broadcast(offsets), "pid")
        .select(
            "o_orderkey",
            "o_orderdate",
            (F.col("offset") + F.col("local_row") + 1).alias("seq_id"),
        )
    )


SURROGATE_KEYS_SQL = """
SELECT o_orderkey, o_orderdate,
       CAST(ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS BIGINT)
         AS seq_id
FROM orders
"""


COGROUP_WINDOW_S = 600  # look-back for the cogrouped attribution
COGROUP_BUCKETS = 64  # users per kernel call: amortizes per-group overhead


def cogroup_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map attribution — §2.11's CoGroupedMap UDF surface.

    ``clicks.cogroup(purchases).applyInPandas``: both sides shuffle
    ONCE on the group key and arrive as aligned pandas frames in the
    same task — the escape hatch for per-key logic joins can't express
    (sequence alignment, per-user sessioner state, custom matchers).

    The group key is a HASH BUCKET of users, not the user itself:
    applyInPandas invokes the kernel once per key, so keying by raw
    user_id would pay one Python call per user (measured 4 s at sf0.1
    for ~5k users — per-call overhead, not compute). Bucketing packs
    ~users/{COGROUP_BUCKETS} users per call and the kernel stays
    vectorized ACROSS users with a merged-rank pass: clicks and the
    two probe points per purchase (window start, purchase instant)
    are lexsorted together on (user, ts_us, probe-before-click); a
    cumulative click count then yields, for every probe, the number
    of clicks lexicographically before it, and the difference of the
    two probes is exactly the per-user in-window count — other users'
    clicks cancel because both probes share the purchase's user. No
    composite integer key exists, so arbitrary int64 user ids and
    microsecond timestamps are safe (no overflow), and the window
    comparisons happen at full microsecond precision, matching the
    oracle's ``c_ts >= p_ts - 600s AND c_ts < p_ts`` exactly. The
    reported gap truncates both instants to seconds to match DuckDB's
    ``date_diff('second', ...)`` boundary-count semantics. This is
    the production shape for high-cardinality cogroups; per-purchase
    semantics are oracle-checked against plain SQL.
    """
    ev = table(spark, sf_dir, "events")
    bucket = F.pmod(F.hash("user_id"), F.lit(COGROUP_BUCKETS)).alias("bucket")
    clicks = ev.where(F.col("event_type") == "click").select(
        bucket, "user_id", F.col("ts").alias("c_ts")
    )
    # The explicit self-alias on user_id is LOAD-BEARING: both cogroup
    # sides derive from the same cached DataFrame, and a pass-through
    # (unaliased) column resolves to the SAME attribute id on both
    # sides. Spark's DeduplicateRelations then re-aliases the right
    # child while the FlatMapCoGroupsInPandas argument list keeps the
    # left side's id — under a count-only (column-pruned) plan the
    # right child silently DROPS its user_id and the kernel crashes
    # with KeyError (observed on Spark 4.1: collect() fine, count()
    # broken). The alias mints a fresh attribute id for the right
    # side, so nothing is shared and every plan shape keeps the
    # column. Regression-pinned by test_q89_survives_count_only_plan.
    purchases = ev.where(F.col("event_type") == "purchase").select(
        bucket, F.col("user_id").alias("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )

    return (
        clicks.groupBy("bucket")
        .cogroup(purchases.groupBy("bucket"))
        .applyInPandas(
            _attribution_kernel,
            "user_id bigint, purchase_id bigint, n_clicks_before bigint, "
            "nearest_click_gap_s double",
        )
    )


def _attribution_kernel(cl: "pd.DataFrame", pu: "pd.DataFrame") -> "pd.DataFrame":
    """Vectorized per-bucket attribution over aligned click/purchase frames.

    Merged-rank formulation: sort clicks and probe points together on
    (user, ts_us) with probes ordering before clicks at exact ties, so
    a running click count gives strict ``clicks < probe`` ranks. For a
    purchase, rank(p_ts) - rank(p_ts - W) = clicks in [p_ts-W, p_ts)
    for that user (earlier users' clicks appear in both ranks and
    cancel). Safe for any int64 user_id and any timestamp — there is
    no composite key to overflow — and correct for empty click sets.
    """
    import numpy as np
    import pandas as pd

    if len(pu) == 0:
        return pd.DataFrame(
            {
                "user_id": pd.Series(dtype="int64"),
                "purchase_id": pd.Series(dtype="int64"),
                "n_clicks_before": pd.Series(dtype="int64"),
                "nearest_click_gap_s": pd.Series(dtype="float64"),
            }
        )

    def _us(col: "pd.Series") -> "np.ndarray":
        return col.to_numpy(dtype="datetime64[us]").astype("int64")

    p_user = pu["user_id"].to_numpy(dtype="int64")
    p_ts = _us(pu["p_ts"])
    n_p = len(pu)
    n_c = len(cl)
    if n_c:
        c_user = cl["user_id"].to_numpy(dtype="int64")
        c_ts = _us(cl["c_ts"])
        c_order = np.lexsort((c_ts, c_user))
        c_user_s = c_user[c_order]
        c_ts_s = c_ts[c_order]
        w_us = COGROUP_WINDOW_S * 1_000_000
        users = np.concatenate([c_user_s, p_user, p_user])
        times = np.concatenate([c_ts_s, p_ts - w_us, p_ts])
        isclick = np.concatenate(
            [np.ones(n_c, dtype=np.int8), np.zeros(2 * n_p, dtype=np.int8)]
        )
        order = np.lexsort((isclick, times, users))
        clicks_before = np.cumsum(isclick[order]) - isclick[order]
        pos = np.empty(len(order), dtype=np.int64)
        pos[order] = np.arange(len(order))
        lo = clicks_before[pos[n_c : n_c + n_p]]
        hi = clicks_before[pos[n_c + n_p :]]
        n = (hi - lo).astype("int64")
        gap = np.full(n_p, np.nan)
        m = n > 0
        if m.any():
            # DuckDB date_diff('second') counts second boundaries: truncate
            # both instants to seconds before differencing.
            gap[m] = (
                p_ts[m] // 1_000_000 - c_ts_s[hi[m] - 1] // 1_000_000
            ).astype("float64")
    else:
        n = np.zeros(n_p, dtype="int64")
        gap = np.full(n_p, np.nan)
    # np.nan here is the MISSING sentinel: applyInPandas's NaN->NULL
    # serialization is load-bearing (the oracle's no-ELSE CASE yields
    # NULL for zero-click purchases) — do NOT "restore" NaN the way
    # similarity._bucket_pair_scores must; a genuine NaN cannot arise
    # from these integer-derived timestamps.
    return pd.DataFrame(
        {
            "user_id": p_user,
            "purchase_id": pu["purchase_id"].to_numpy(),
            "n_clicks_before": n,
            "nearest_click_gap_s": gap,
        }
    )


COGROUP_ATTRIBUTION_SQL = f"""
WITH clicks AS (
  SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, event_id AS purchase_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.purchase_id,
       CAST(COUNT(c.c_ts) AS BIGINT) AS n_clicks_before,
       CASE WHEN COUNT(c.c_ts) > 0
            THEN CAST(date_diff('second', MAX(c.c_ts), p.p_ts) AS DOUBLE)
            END AS nearest_click_gap_s
FROM purchases p
LEFT JOIN clicks c
  ON c.user_id = p.user_id
 AND c.c_ts < p.p_ts
 AND c.c_ts >= p.p_ts - INTERVAL {COGROUP_WINDOW_S} SECONDS
GROUP BY p.user_id, p.purchase_id, p.p_ts
"""


_MOMENT_SALTS = 1024  # q94: bigint partial-sum buckets per group


# Keeps its builder: two-level salted moments, 1.00 s vs the text's 1.76 s at sf0.1.
def quantity_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr / covar_pop / stddev_pop) with EXACT
    moment sums — absent-op coverage for the stats-aggregate family.

    Built-in ``corr``/``stddev`` fold doubles in partition order, so
    their last ulps are nondeterministic under shuffle and differ
    across engines (merge formulas differ too) — unusable under a
    value-hash contract. Instead the five raw moments (Σx, Σy, Σx²,
    Σy², Σxy) accumulate as DECIMAL sums (exact, order-free; per-term
    products computed in IEEE double then cast, the q01 pattern) and
    the statistics derive from the exact moments with scalar double
    arithmetic — bit-identical in any engine, any partitioning. This
    is also the 100 TB shape: one map-side-combined aggregate per
    group, statistics as post-projection.

    Moment scales are chosen so every sum's UNSCALED value stays below
    2^53 at the bench scale: decimal→double conversion is then exactly
    rounded in both engines, where a larger unscaled value makes the
    two engines' two-step vs one-step conversions differ in the last
    ulp (observed before this scale budget was applied). The moments
    are DEFINED at this quantization (cents for x/y/x²/xy, units for
    y²); scale up the precision budget with the data volume.

    Accumulation is TWO-LEVEL: per (group, salt) partials sum the
    quantized per-row integers as BIGINT (long adds in the hash-agg
    buffer — 1.7 s -> 1.2 s at sf0.1 vs five decimal(28) accumulators,
    which fall off Spark's long-backed update path), then the
    _MOMENT_SALTS salt partials per group merge as decimal(28,0).
    Both levels are exact integer arithmetic, so the result is
    bit-identical to the one-level decimal form at any partitioning.
    Scale: a salt bucket overflows long only past ~9e18 of unscaled
    sum (sf0.1 peak: 7.4e14 over 1024 salts); raise _MOMENT_SALTS
    with volume — under ANSI mode an overflow RAISES rather than
    corrupting, so the budget is fail-loud. The merge level is
    |groups| x salts rows — trivial at any scale.
    """
    # SQL-text form (guide §5; plan unchanged —
    # plans/r17/q94_quantity_price_stats_*.txt)
    li = table(spark, sf_dir, "lineitem")
    # quantized per-row integers: decimal cast (HALF_UP on the exact
    # double expansion, matching the oracle's CAST) then exact *100
    xc = "cast(cast(l_quantity as decimal(18,2)) * 100 as bigint)"
    yc = "cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)"
    xxc = "cast(cast(l_quantity * l_quantity as decimal(18,2)) * 100 as bigint)"
    yyc = "cast(cast(l_extendedprice * l_extendedprice as decimal(18,0)) as bigint)"
    xyc = "cast(cast(l_quantity * l_extendedprice as decimal(18,2)) * 100 as bigint)"
    # salt from the two columns the moments already scan (hash of the
    # value pair spreads 600k rows over 1024 buckets fine at sf0.1 and
    # prices stay near-unique at any SF) — salting on a key column
    # would widen the pruned 3-column scan for nothing
    partial = li.groupBy(
        "l_returnflag",
        F.expr(
            f"pmod(hash(l_quantity, l_extendedprice), {_MOMENT_SALTS})"
        ).alias("_salt"),
    ).agg(
        F.expr("cast(count(1) as bigint) AS _n"),
        F.expr(f"sum({xc}) AS _px"),
        F.expr(f"sum({yc}) AS _py"),
        F.expr(f"sum({xxc}) AS _pxx"),
        F.expr(f"sum({yyc}) AS _pyy"),
        F.expr(f"sum({xyc}) AS _pxy"),
    )
    agg = partial.groupBy("l_returnflag").agg(
        F.expr("sum(_n) AS n_rows"),
        F.expr("sum(cast(_px as decimal(28,0))) AS _sx"),
        F.expr("sum(cast(_py as decimal(28,0))) AS _sy"),
        F.expr("sum(cast(_pxx as decimal(28,0))) AS _sxx"),
        F.expr("sum(cast(_pyy as decimal(28,0))) AS _syy"),
        F.expr("sum(cast(_pxy as decimal(28,0))) AS _sxy"),
    )
    n = F.col("n_rows").cast("double")

    # un-quantize: cents sums -> natural units. The division by 100 is
    # an exact scale shift; re-casting to decimal(28,2) BEFORE the
    # double cast keeps the unscaled value below 2^53 (the division
    # result's scale-6 type would put sxy's unscaled at ~2.7e17, where
    # decimal->double conversion differs in the last ulp between
    # engines — the _exact_double trap), making the final double the
    # same correctly-rounded value the one-level decimal form produced.
    def _cents(col: str):
        return (F.col(col) / 100).cast("decimal(28,2)").cast("double")

    sx = _cents("_sx")
    sy = _cents("_sy")
    sxx = _cents("_sxx")
    syy = F.col("_syy").cast("decimal(28,0)").cast("double")
    sxy = _cents("_sxy")
    # corr is undefined when either variance is zero (constant column
    # in the group): the denominator is exactly 0 there, which RAISES
    # under Spark's default ANSI mode while DuckDB returns NULL —
    # guard to NULL on both sides (exact integer moments make the
    # zero test exact, no epsilon needed)
    denom = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    return agg.select(
        "l_returnflag",
        "n_rows",
        F.when(denom > 0, (n * sxy - sx * sy) / denom).alias("corr_qty_price"),
        ((n * sxy - sx * sy) / (n * n)).alias("covar_pop"),
        (F.sqrt(n * sxx - sx * sx) / n).alias("std_qty"),
        (F.sqrt(n * syy - sy * sy) / n).alias("std_price"),
    )


QUANTITY_PRICE_STATS_SQL = """
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
         SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,2))) AS sxx,
         SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,0))) AS syy,
         SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,2))) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n_rows,
       -- NULL when either variance is zero (see the Spark-side guard)
       CASE WHEN (sqrt(CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(CAST(n_rows AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) > 0
       THEN (CAST(n_rows AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (sqrt(CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * sqrt(CAST(n_rows AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END AS corr_qty_price,
       (CAST(n_rows AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)) AS covar_pop,
       sqrt(CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         / CAST(n_rows AS DOUBLE) AS std_qty,
       sqrt(CAST(n_rows AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
         / CAST(n_rows AS DOUBLE) AS std_price
FROM m
"""


def order_calendar_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse→dense time-series resampling with forward fill — the gap
    of the temporal family (§2 windows cover frames, not re-gridding).

    Daily order counts/revenue per priority land on a COMPLETE daily
    calendar (generated from the data's own min/max — no hardcoded
    range), missing days carry n_orders = 0 and the last previously
    known revenue (``last(..., ignorenulls=True)`` over an unbounded
    preceding frame — days before a priority's first order stay NULL).
    Plan: the calendar is a 1-row aggregate exploded to |days| rows and
    broadcast against the |priorities| dimension; the only real
    shuffle is the daily aggregate + the per-priority fill window —
    grid size is |priorities| × |days|, independent of order volume,
    so the operator's cost at 100 TB is the daily pre-aggregation.
    """
    base = _priority_day_grid(table(spark, sf_dir, "orders"))
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return base.select(
        "o_orderpriority",
        "day",
        F.coalesce(F.col("n_orders"), F.lit(0).cast("bigint")).alias("n_orders"),
        F.last("revenue", ignorenulls=True).over(w).alias("last_known_revenue"),
    )


def _priority_day_grid(o: DataFrame) -> DataFrame:
    """Dense (priority × day) grid over the data's own date bounds,
    left-joined with the daily order count/revenue aggregate — the
    shared re-gridding base of q95 (forward fill) and q104 (linear
    interpolation). Calendar = 1-row bounds aggregate exploded and
    broadcast against the priority dimension; grid size is
    |priorities| × |days|, independent of order volume.
    """
    day = F.to_date("o_orderdate")
    # ONE pass over the fact: bounds and the priority dimension both
    # derive from the materialized daily aggregate (grid-sized, not
    # order-sized) — the previous form re-scanned orders three times
    # (daily agg + bounds agg + distinct priorities), three stages that
    # at 100 TB are three full fact reads for two values and five rows
    daily = materialize(
        o.groupBy(F.col("o_orderpriority"), day.alias("day")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(_dec(F.col("o_totalprice"), 4)).cast("double").alias("revenue"),
        )
    )
    calendar = (
        daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    grid = (
        daily.select("o_orderpriority").distinct()
        .crossJoin(F.broadcast(calendar))
    )
    return grid.join(F.broadcast(daily), ["o_orderpriority", "day"], "left")


ORDER_CALENDAR_RESAMPLE_SQL = """
WITH daily AS (
  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1, 2
),
bounds AS (
  SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
         CAST(MAX(o_orderdate) AS DATE) AS hi
  FROM orders
),
calendar AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
grid AS (
  SELECT p.o_orderpriority, c.day
  FROM (SELECT DISTINCT o_orderpriority FROM orders) p, calendar c
)
SELECT g.o_orderpriority, g.day,
       COALESCE(d.n_orders, CAST(0 AS BIGINT)) AS n_orders,
       last_value(d.revenue IGNORE NULLS) OVER (
         PARTITION BY g.o_orderpriority ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS last_known_revenue
FROM grid g
LEFT JOIN daily d
  ON d.o_orderpriority = g.o_orderpriority AND d.day = g.day
"""


LATE_DAYS = 60  # q96: "late" = shipped > this many days after order date


# Keeps its builder: the text plans 5 keyed exchanges vs 2.
def only_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS chain — SURVEY §2.4 decorrelated-
    subquery coverage in TPC-H Q21 shape (reference analogue: the
    multi-stage "which party alone blocked the pipeline" audit).

    For each multi-supplier order, find the supplier that was the ONLY
    late one (shipped > {LATE_DAYS} days after the order date), and
    count such orders per supplier. The oracle states it the natural
    way — EXISTS another supplier on the order, NOT EXISTS another
    LATE supplier — while the Spark plan is the hand-decorrelated
    form Catalyst itself would target: instead of two correlated
    probes per candidate (each a join against the same fact), compute
    per-(order, supplier) lateness ONCE, then derive both existential
    facts from a second per-order AGGREGATE on the same exchange —
    ``n_supp > 1`` ⟺ the EXISTS, ``n_late = 1`` ⟺ the NOT EXISTS for
    the late candidate, and ``max(when(late, suppkey))`` recovers that
    single late supplier without keeping per-supplier rows around. Two
    chained hash aggregates on one order-key exchange replace two
    self-joins — and, vs the earlier window form, drop the per-
    partition SORT a window requires (1.4 s -> 1.2 s at sf0.1); the
    supplier-name lookup is a broadcast. At 100 TB the fact never
    shuffles twice and no candidate row is amplified.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {LATE_DAYS} DAYS"
    )
    # Partition the joined fact ONCE on the order key: HashPartitioning
    # on a subset of the grouping keys satisfies the (l_orderkey,
    # l_suppkey) aggregate AND the per-order aggregate below, so both
    # reuse this single exchange instead of each planning their own
    # (verified by the plan guard, which also pins that no window —
    # and therefore no per-partition sort — appears in the plan).
    per_supp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("l_orderkey", "l_suppkey", late.alias("late"))
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("late"))
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.col("late").cast("int")).alias("n_late"),
        F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias("late_supp"),
    )
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .groupBy("late_supp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .join(F.broadcast(sup), F.col("late_supp") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
    )


ONLY_LATE_SUPPLIER_SQL = f"""
WITH late AS (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE l.l_shipdate > o.o_orderdate + INTERVAL {LATE_DAYS} DAY
),
allsup AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
SELECT s.s_suppkey, s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM late t JOIN supplier s ON s.s_suppkey = t.l_suppkey
WHERE EXISTS (SELECT 1 FROM allsup a
              WHERE a.l_orderkey = t.l_orderkey
                AND a.l_suppkey <> t.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l2
                  WHERE l2.l_orderkey = t.l_orderkey
                    AND l2.l_suppkey <> t.l_suppkey)
GROUP BY s.s_suppkey, s.s_name
"""


# q98: consecutive one-week activity snapshots (the events table spans
# 2024-01; both windows sit fully inside it at every SF)
SNAPSHOT_PREV = ("2024-01-08", "2024-01-15")
SNAPSHOT_CURR = ("2024-01-15", "2024-01-22")

# Snapshot diff (CDC): per-user (event count, exact value total) in each
# window, pre-aggregated before a FULL OUTER join on the user key, then
# classified new / churned / stable / changed.
USER_SNAPSHOT_DIFF_SQL = f"""
WITH prev AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
  FROM {{events}}
  WHERE ts >= TIMESTAMP '{SNAPSHOT_PREV[0]}' AND ts < TIMESTAMP '{SNAPSHOT_PREV[1]}'
  GROUP BY user_id
),
curr AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
  FROM {{events}}
  WHERE ts >= TIMESTAMP '{SNAPSHOT_CURR[0]}' AND ts < TIMESTAMP '{SNAPSHOT_CURR[1]}'
  GROUP BY user_id
)
SELECT COALESCE(p.user_id, c.user_id) AS user_id,
       p.n_events AS n_events_prev,
       p.total_value AS value_prev,
       c.n_events AS n_events_curr,
       c.total_value AS value_curr,
       CASE WHEN p.user_id IS NULL THEN 'new'
            WHEN c.user_id IS NULL THEN 'churned'
            WHEN p.n_events = c.n_events AND p.total_value = c.total_value
              THEN 'stable'
            ELSE 'changed' END AS change_type
FROM prev p FULL OUTER JOIN curr c ON p.user_id = c.user_id
"""


NEAREST_WINDOW_S = 14400  # q100: match radius (4 hours either side)


def purchase_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-event join — the |Δt|-minimizing sibling of q54's
    backward as-of join (SURVEY §2.4 as-of/range family).

    Every purchase pairs with the user's temporally CLOSEST click
    within ±{NEAREST_WINDOW_S} s (before or after), ties broken toward
    the earlier click then the lower event id. A backward-only scan
    (q54) can't express this, and the naive per-user theta join is
    quadratic; the scale form buckets time at the radius width and
    probes {{b-1, b, b+1}} — every click within the radius shares a
    bucket with the probe by construction, so candidate fan-out is
    bounded by bucket population, and the argmin is one row_number
    over (purchase, |Δt|). Δt is exact integer microseconds
    (``_epoch_micros_sql``), so the argmin and the oracle's agree bit-for-
    bit — no float in the ordering key.
    """
    # SQL-text form (guide §5; plan unchanged —
    # plans/r17/q100_purchase_nearest_click_*.txt)
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter("event_type = 'click'").selectExpr(
        "user_id AS c_user",
        "ts AS click_ts",
        "event_id AS click_event_id",
        f"{_epoch_micros_sql('ts')} AS c_us",
        f"cast({_epoch_seconds_sql('ts')} / {NEAREST_WINDOW_S} as bigint) AS bucket",
    )
    purchases = ev.filter("event_type = 'purchase'").selectExpr(
        "event_id AS purchase_event_id",
        "user_id AS p_user",
        "ts AS purchase_ts",
        f"{_epoch_micros_sql('ts')} AS p_us",
        f"cast({_epoch_seconds_sql('ts')} / {NEAREST_WINDOW_S} as bigint) AS p_bucket",
    )
    probes = purchases.withColumn(
        "bucket", F.expr("explode(array(p_bucket - 1, p_bucket, p_bucket + 1))")
    )
    radius_us = NEAREST_WINDOW_S * 1_000_000
    cand = probes.join(
        clicks,
        [
            probes.p_user == clicks.c_user,
            probes.bucket == clicks.bucket,
            F.abs(clicks.c_us - probes.p_us) <= radius_us,
        ],
    ).selectExpr(
        "purchase_event_id",
        "p_user AS user_id",
        "purchase_ts",
        "click_event_id",
        "click_ts",
        "abs(c_us - p_us) AS abs_diff_us",
    )
    # argmin as an aggregate, not a window: struct comparison is
    # field-by-field, so min(struct(|Δt|, ts, id)) IS the tie-broken
    # nearest candidate — and unlike row_number it combines map-side,
    # shuffling one row per purchase instead of every candidate.
    return (
        cand.groupBy("purchase_event_id", "user_id", "purchase_ts")
        .agg(F.expr("min(struct(abs_diff_us, click_ts, click_event_id)) AS best"))
        .selectExpr(
            "purchase_event_id",
            "user_id",
            "purchase_ts",
            "best.click_event_id AS click_event_id",
            "best.click_ts AS click_ts",
            "best.abs_diff_us AS abs_diff_us",
        )
    )


PURCHASE_NEAREST_CLICK_SQL = f"""
WITH cand AS (
  SELECT p.event_id AS purchase_event_id,
         p.user_id,
         p.ts AS purchase_ts,
         c.event_id AS click_event_id,
         c.ts AS click_ts,
         abs(epoch_us(c.ts) - epoch_us(p.ts)) AS abs_diff_us
  FROM events p
  JOIN events c
    ON c.user_id = p.user_id
   AND c.event_type = 'click'
   AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= {NEAREST_WINDOW_S * 1_000_000}
  WHERE p.event_type = 'purchase'
)
SELECT purchase_event_id, user_id, purchase_ts,
       click_event_id, click_ts, abs_diff_us
FROM (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY purchase_event_id
           ORDER BY abs_diff_us, click_ts, click_event_id) AS rn
  FROM cand
)
WHERE rn = 1
"""


# Keeps its builder: the text plans 8 keyed exchanges vs 2.
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis — stage-by-stage user conversion with
    strict event ordering (view → click after the view → purchase
    after that click).

    An unordered pivot of per-type minimum timestamps gets this WRONG
    (a click before the first view must not count); the exact form
    chains per-user stage states: each stage is the MIN event time of
    its type that is strictly after the previous stage's time. Each
    stage frame is pre-aggregated to one row per user before the next
    join, so the shuffles carry user-level states, never raw events,
    and the final counts are three 1-row aggregates unioned with
    exact-integer conversion ratios.
    """
    # r17 restructure (guide §2.4 — remove shuffles outright): the
    # original chained three per-stage aggregates through two joins,
    # scanning the fact three times and shuffling user-level state
    # three times (10 Spark jobs). The chain is per-user arithmetic:
    # click_ts = min click AFTER the user's first view, purchase_ts =
    # min purchase AFTER that click — so ONE user-keyed aggregate can
    # carry (min view ts, click-ts array, purchase-ts array) and the
    # stage chain evaluates per row with array_min(filter(...)) (a
    # comparison against NULL filters to empty, reproducing the inner
    # joins' "no prior stage -> no row"). One fact scan, one user
    # shuffle, then a 1-row rollup. Measured 10 jobs -> 3 and
    # 8 Exchanges -> 2 (plans/r17/q103_*, confirmed by the r17 driver
    # leg's n_jobs map); results hash-identical against the UNCHANGED
    # oracle at sf0.01/sf0.1.
    #
    # SKEW GUARD (VERDICT r17 #1): the per-user click/purchase arrays
    # are bounded by that user's event count — the same rows the old
    # join form shuffled — but they land in ONE aggregation buffer row,
    # so a pathological hot user (10^7+ events) concentrates its whole
    # history in a single reducer row where the old min-per-stage form
    # reduced to scalars via streaming partial aggs and could spill.
    # tests/test_adversarial_inputs.py::test_q103_hot_user_skew pins
    # the behavior at a 10^5-event hot user (output exact, one
    # aggregate). If user skew at deployment scale exceeds executor
    # row budgets, fall back to the two-phase form: pre-aggregate
    # (user_id, ts) distinct per stage, or restore the per-stage
    # min-aggregate chain (the pre-r17 plan) for the hot keys only.
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    # has_view alongside min(view ts) (ADVICE r17): stage 1 counts users
    # with ANY view event — the oracle's COUNT(*) FROM views counts a
    # user whose view events all carry NULL ts (its MIN(ts) row exists
    # with view_ts NULL), where count(view_ts) would skip it. The
    # synthetic corpus has non-null ts, so results are unchanged here —
    # this closes the latent NULL-ts divergence only. max() over the
    # boolean is false (not NULL) for a user with no view events, so
    # count_if below is well-defined for every per_user row.
    per_user = ev.groupBy("user_id").agg(
        F.expr("min(CASE WHEN event_type = 'view' THEN ts END) AS view_ts"),
        F.expr("max(event_type = 'view') AS has_view"),
        F.expr(
            "collect_list(CASE WHEN event_type = 'click' THEN ts END) AS clicks"
        ),
        F.expr(
            "collect_list(CASE WHEN event_type = 'purchase' THEN ts END)"
            " AS purchases"
        ),
    )
    staged = per_user.selectExpr(
        "has_view",
        "view_ts",
        "array_min(filter(clicks, c -> c > view_ts)) AS click_ts",
        "purchases",
    ).selectExpr(
        "has_view",
        "view_ts",
        "click_ts",
        "array_min(filter(purchases, p -> p > click_ts)) AS purchase_ts",
    )
    counts = staged.agg(
        F.expr("cast(count_if(has_view) as bigint) AS v"),
        F.expr("cast(count(click_ts) as bigint) AS c"),
        F.expr("cast(count(purchase_ts) as bigint) AS p"),
    ).selectExpr(
        "stack(3, cast(1 as bigint), 'view', v,"
        " cast(2 as bigint), 'click_after_view', c,"
        " cast(3 as bigint), 'purchase_after_click', p)"
        " AS (stage, stage_name, n_users)"
    )
    # guard the ratio on prev > 0: an empty prior stage would divide by
    # zero, where Spark's double division yields Infinity but DuckDB
    # yields NULL — a latent cross-engine divergence the corpus never
    # exercises (stage 1 reports NULL via lag's missing predecessor)
    return counts.selectExpr(
        "stage",
        "stage_name",
        "n_users",
        "CASE WHEN lag(n_users, 1) OVER (ORDER BY stage) > 0"
        " THEN n_users / lag(n_users, 1) OVER (ORDER BY stage)"
        " END AS conv_from_prev",
    )


FUNNEL_CONVERSION_SQL = """
WITH views AS (
  SELECT user_id, MIN(ts) AS view_ts
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
clicks AS (
  SELECT e.user_id, MIN(e.ts) AS click_ts
  FROM events e JOIN views v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.view_ts
  GROUP BY e.user_id
),
purchases AS (
  SELECT e.user_id, MIN(e.ts) AS purchase_ts
  FROM events e JOIN clicks c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
  GROUP BY e.user_id
),
counts AS (
  SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name,
         CAST(COUNT(*) AS BIGINT) AS n_users FROM views
  UNION ALL
  SELECT CAST(2 AS BIGINT), 'click_after_view',
         CAST(COUNT(*) AS BIGINT) FROM clicks
  UNION ALL
  SELECT CAST(3 AS BIGINT), 'purchase_after_click',
         CAST(COUNT(*) AS BIGINT) FROM purchases
)
SELECT stage, stage_name, n_users,
       CASE WHEN lag(n_users, 1) OVER (ORDER BY stage) > 0
            THEN n_users / lag(n_users, 1) OVER (ORDER BY stage)
            END AS conv_from_prev
FROM counts
"""


def revenue_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill by LINEAR INTERPOLATION — the value-estimating sibling
    of q95's last-known carry-forward resample.

    Same dense (priority × day) grid; a missing day's revenue is the
    linear blend of the nearest known revenues on either side,
    weighted by day distance. Edge policy: before the first known
    point carry the next known value back, after the last carry
    forward. Two windows per partition (trailing last-known and
    leading first-known for both value and day) over the
    broadcast-joined grid — order volume never crosses the grid
    product, and the blend is pure double arithmetic over exact
    decimal-sum inputs and integer day distances (bit-identical on
    both engines).
    """
    base = _priority_day_grid(table(spark, sf_dir, "orders")).drop("n_orders")
    wb = (
        W.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    # the forward scan runs as a RUNNING frame over descending day:
    # first_value over (CURRENT ROW .. UNBOUNDED FOLLOWING) makes Spark
    # re-scan the remainder of the partition for every row (quadratic
    # per partition — measured ~1.7 s of the query at sf0.1), while the
    # reversed unbounded-PRECEDING frame is incremental O(n) and
    # reuses the same per-priority exchange (one extra sort, no extra
    # shuffle)
    wf = (
        W.partitionBy("o_orderpriority")
        .orderBy(F.desc("day"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    known_day = F.when(F.col("revenue").isNotNull(), F.col("day"))
    prev_v = F.last("revenue", ignorenulls=True).over(wb)
    prev_d = F.last(known_day, ignorenulls=True).over(wb)
    next_v = F.last("revenue", ignorenulls=True).over(wf)
    next_d = F.last(known_day, ignorenulls=True).over(wf)
    span = F.datediff(next_d, prev_d).cast("double")
    frac = F.datediff(F.col("day"), prev_d).cast("double") / span
    interp = (
        F.when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .when(span == 0, prev_v)
        .otherwise(prev_v + (next_v - prev_v) * frac)
    )
    return base.select(
        "o_orderpriority",
        "day",
        F.col("revenue").alias("revenue_known"),
        interp.alias("revenue_interp"),
    )


REVENUE_INTERPOLATION_SQL = """
WITH daily AS (
  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1, 2
),
bounds AS (
  SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
         CAST(MAX(o_orderdate) AS DATE) AS hi
  FROM orders
),
calendar AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
grid AS (
  SELECT p.o_orderpriority, c.day
  FROM (SELECT DISTINCT o_orderpriority FROM orders) p, calendar c
),
filled AS (
  SELECT g.o_orderpriority, g.day, d.revenue,
         last_value(d.revenue IGNORE NULLS) OVER (
           PARTITION BY g.o_orderpriority ORDER BY g.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         last_value(CASE WHEN d.revenue IS NOT NULL THEN g.day END IGNORE NULLS)
           OVER (PARTITION BY g.o_orderpriority ORDER BY g.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
         first_value(d.revenue IGNORE NULLS) OVER (
           PARTITION BY g.o_orderpriority ORDER BY g.day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         first_value(CASE WHEN d.revenue IS NOT NULL THEN g.day END IGNORE NULLS)
           OVER (PARTITION BY g.o_orderpriority ORDER BY g.day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
  FROM grid g
  LEFT JOIN daily d
    ON d.o_orderpriority = g.o_orderpriority AND d.day = g.day
)
SELECT o_orderpriority, day,
       revenue AS revenue_known,
       CASE WHEN prev_v IS NULL THEN next_v
            WHEN next_v IS NULL THEN prev_v
            WHEN date_diff('day', prev_d, next_d) = 0 THEN prev_v
            ELSE prev_v + (next_v - prev_v)
                 * (CAST(date_diff('day', prev_d, day) AS DOUBLE)
                    / CAST(date_diff('day', prev_d, next_d) AS DOUBLE))
       END AS revenue_interp
FROM filled
"""


ZSCORE_TRAIL_DAYS = 7  # q105: trailing window width (days, current excluded)
ZSCORE_MIN_N = 3  # need this many trailing observations to score
ZSCORE_FLAG = 2.0  # |z| above this flags an anomaly


def zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly scoring — each user-day's total value
    z-scored against that user's previous {ZSCORE_TRAIL_DAYS} days
    (current day excluded, ≥ {ZSCORE_MIN_N} observations required).

    The q94 exact-moment discipline applied to a RANGE window: the
    trailing Σx and Σx² accumulate as decimals over the window (exact
    at any partition layout), and mean/variance/z derive from the
    exact moments in scalar double arithmetic — bit-identical across
    engines. The RANGE frame is over an integer day index, so day
    gaps are respected (a ROWS frame would silently stretch across
    inactive weeks). One shuffle on user_id; daily totals are
    pre-aggregated before the window so the frame holds days, not
    events.
    """
    ev = table(spark, sf_dir, "events")
    # partition on user_id alone (subset of the grouping keys): the
    # same exchange then satisfies the per-user window below — one
    # shuffle total, as in q96
    daily = (
        ev.repartition("user_id")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.sum(_dec(F.col("value"))).cast("double").alias("day_total"))
    )
    # SQL-text form incl. the inline OVER clause (guide §5; plan
    # unchanged — plans/r17/q105_zscore_anomalies_*.txt)
    win = (
        "OVER (PARTITION BY user_id"
        " ORDER BY datediff(day, cast('1970-01-01' as date))"
        f" RANGE BETWEEN {ZSCORE_TRAIL_DAYS} PRECEDING AND 1 PRECEDING)"
    )
    scored = daily.selectExpr(
        "user_id",
        "day",
        "day_total",
        f"cast(count(day_total) {win} as bigint) AS n_trail",
        f"sum(cast(day_total as decimal(18,6))) {win} AS _s1",
        # decimal(38,4), not (18,4): x^2 passes 1e14 once a day total
        # exceeds ~1e7, and an overflowing accumulator RAISES under
        # Spark's default ANSI mode (and errors in DuckDB) — the wide
        # accumulator keeps the moment exact at any real scale
        f"sum(cast(day_total * day_total as decimal(38,4))) {win} AS _s2",
    )
    mean = "cast(_s1 as double) / cast(n_trail as double)"
    var = (
        "greatest((cast(_s2 as double) - cast(_s1 as double)"
        " * cast(_s1 as double) / cast(n_trail as double))"
        " / (cast(n_trail as double) - 1), 0.0D)"
    )
    z = f"CASE WHEN sqrt({var}) > 0 THEN (day_total - {mean}) / sqrt({var}) END"
    return scored.filter(f"n_trail >= {ZSCORE_MIN_N}").selectExpr(
        "user_id",
        "day",
        "day_total",
        "n_trail",
        f"round({z}, 6) AS z",
        f"CASE WHEN abs({z}) > {ZSCORE_FLAG}D THEN true ELSE false END"
        " AS is_anomaly",
    )


ZSCORE_ANOMALIES_SQL = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_total
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT user_id, day, day_total,
         CAST(COUNT(day_total) OVER w AS BIGINT) AS n_trail,
         SUM(CAST(day_total AS DECIMAL(18,6))) OVER w AS s1,
         SUM(CAST(day_total * day_total AS DECIMAL(38,4))) OVER w AS s2
  FROM daily
  WINDOW w AS (PARTITION BY user_id
               ORDER BY date_diff('day', DATE '1970-01-01', day)
               RANGE BETWEEN {ZSCORE_TRAIL_DAYS} PRECEDING AND 1 PRECEDING)
)
SELECT user_id, day, day_total, n_trail,
       round(CASE WHEN sqrt(greatest(
                    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                       / CAST(n_trail AS DOUBLE)) / (CAST(n_trail AS DOUBLE) - 1),
                    0.0)) > 0
             THEN (day_total - CAST(s1 AS DOUBLE) / CAST(n_trail AS DOUBLE))
                  / sqrt(greatest(
                      (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                         / CAST(n_trail AS DOUBLE)) / (CAST(n_trail AS DOUBLE) - 1),
                      0.0))
             END, 6) AS z,
       COALESCE(abs(CASE WHEN sqrt(greatest(
                    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                       / CAST(n_trail AS DOUBLE)) / (CAST(n_trail AS DOUBLE) - 1),
                    0.0)) > 0
             THEN (day_total - CAST(s1 AS DOUBLE) / CAST(n_trail AS DOUBLE))
                  / sqrt(greatest(
                      (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                         / CAST(n_trail AS DOUBLE)) / (CAST(n_trail AS DOUBLE) - 1),
                      0.0))
             END) > {ZSCORE_FLAG}, FALSE) AS is_anomaly
FROM scored
WHERE n_trail >= {ZSCORE_MIN_N}
"""


IDLE_PRIORITY = "1-URGENT"  # q106: the order class the NOT EXISTS probes

# TPC-H Q22 shape: customers whose balance beats the positive-balance
# average but who never placed an IDLE_PRIORITY order, per nation. Every
# customer has some order, so probing one class keeps the result
# non-empty. Catalyst decorrelates the scalar AVG into a one-row
# broadcast and NOT EXISTS into a left-anti join with the priority
# predicate pushed into the orders scan.
IDLE_RICH_CUSTOMERS_SQL = f"""
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_acctbal
FROM {{customer}} c
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                          / COUNT(*)
                   FROM {{customer}} WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM {{orders}} o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '{IDLE_PRIORITY}')
GROUP BY c_nationkey
"""


# q109 activity levels: daily event count -> categorical state
ACTIVITY_HIGH = 5
ACTIVITY_MED = 2


# Keeps its builder: the text plans 2 keyed exchanges vs 1 (one user exchange pinned).
def activity_history_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history build — compress each user's daily activity level
    into validity intervals (gaps-and-islands), the slowly-changing-
    dimension primitive behind every warehouse's *_history table.

    Daily event counts bucket into {low, med, high} states; a state
    change starts a new island (lag comparison -> running change
    count), and each island collapses to one row with its valid_from /
    valid_to bounds. Intervals cover OBSERVED days (a day with no
    events does not extend the previous interval). Everything is
    integer/date arithmetic — exact on both engines — and the whole
    query rides ONE user-keyed exchange: hashpartitioning(user_id)
    satisfies the daily aggregate, the lag/running windows, and the
    final island rollup (subset-of-keys rule, as q96/q105).
    """
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.repartition("user_id")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    level = (
        F.when(F.col("n_events") >= ACTIVITY_HIGH, F.lit("high"))
        .when(F.col("n_events") >= ACTIVITY_MED, F.lit("med"))
        .otherwise(F.lit("low"))
    )
    w = W.partitionBy("user_id").orderBy("day")
    wrun = w.rowsBetween(W.unboundedPreceding, 0)
    leveled = daily.select("user_id", "day", "n_events", level.alias("level"))
    changed = F.when(
        F.lag("level", 1).over(w).isNull()
        | (F.lag("level", 1).over(w) != F.col("level")),
        F.lit(1),
    ).otherwise(F.lit(0))
    islands = leveled.select(
        "user_id",
        "day",
        "n_events",
        "level",
        F.sum(changed).over(wrun).cast("bigint").alias("island"),
    )
    return islands.groupBy("user_id", "island", "level").agg(
        F.min("day").alias("valid_from"),
        F.max("day").alias("valid_to"),
        F.count(F.lit(1)).cast("bigint").alias("days_observed"),
        F.sum("n_events").cast("bigint").alias("total_events"),
    )


ACTIVITY_HISTORY_SCD2_SQL = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
leveled AS (
  SELECT user_id, day, n_events,
         CASE WHEN n_events >= {ACTIVITY_HIGH} THEN 'high'
              WHEN n_events >= {ACTIVITY_MED} THEN 'med'
              ELSE 'low' END AS level
  FROM daily
),
islands AS (
  SELECT user_id, day, n_events, level,
         CAST(SUM(CASE WHEN prev_level IS NULL OR prev_level <> level
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS island
  FROM (SELECT *, lag(level, 1) OVER (PARTITION BY user_id ORDER BY day)
                    AS prev_level
        FROM leveled)
)
SELECT user_id, island, level,
       MIN(day) AS valid_from,
       MAX(day) AS valid_to,
       CAST(COUNT(*) AS BIGINT) AS days_observed,
       CAST(SUM(n_events) AS BIGINT) AS total_events
FROM islands
GROUP BY user_id, island, level
"""


# Keeps its builder: 0.41 s vs the text's 0.48 s at sf0.1.
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics — the profile a pipeline runs
    BEFORE a big join to decide between plain hash join, salting
    (`functions/skew.py`), and AQE skew splitting.

    Per-key row counts bucket by floor(log2): each output row says
    "2^b..2^(b+1) rows per key: this many keys, this many total rows".
    floor(log2) via binary-string length, NOT floating ln(x)/ln(2)
    (whose last-ulp error misclassifies exact powers of two). Two
    aggregates: the key rollup (the profile's only fact-sized shuffle
    — map-side combined) and the log2-bucket rollup (tiny).
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    per_key = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    bucket = (F.length(F.bin(F.col("c"))) - 1).cast("bigint")
    return (
        per_key.groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum("c").cast("bigint").alias("n_rows"),
            F.min("c").cast("bigint").alias("min_rows_per_key"),
            F.max("c").cast("bigint").alias("max_rows_per_key"),
        )
    )


# floor(log2(c)) as a sum of pure-integer indicators [c >= 2^k]:
# exact for any BIGINT count, no fmt-library binary formatting (an
# engine-version surface no driver-green oracle exercises) and no
# floating log2 (whose last-ulp error misclassifies exact powers)
_LOG2_INDICATORS = " + ".join(
    f"(CASE WHEN c >= {1 << k} THEN 1 ELSE 0 END)" for k in range(1, 63)
)

JOIN_KEY_SKEW_PROFILE_SQL = f"""
WITH per_key AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY l_orderkey
)
SELECT CAST({_LOG2_INDICATORS} AS BIGINT) AS log2_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(MIN(c) AS BIGINT) AS min_rows_per_key,
       CAST(MAX(c) AS BIGINT) AS max_rows_per_key
FROM per_key
GROUP BY 1
"""


# q111 bounded BFS: seed customers + hop cap
BFS_SEED_MOD = 97  # c_custkey % this == 0 -> seed
BFS_MAX_HOPS = 4


def supplier_hops_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS over the customer–supplier bipartite graph —
    iterative graph traversal with an EXACT recursive-CTE oracle
    (complements the dedup family's connected components, q50/q75,
    which verify against a bounded-round labeling).

    Edges: (customer, supplier) pairs that share at least one order
    line. From the seed customers (c_custkey % {BFS_SEED_MOD} == 0),
    compute minimum hop distance to every reachable node within
    {BFS_MAX_HOPS} hops. The Spark form is frontier BFS: each round
    joins the CURRENT frontier (not the whole visited set) against the
    edge list, anti-joins already-visited nodes, and cuts lineage —
    the shape that scales to billion-edge graphs because per-round
    shuffle volume is the frontier × its degree, never the closure.
    The oracle is the natural WITH RECURSIVE walk + MIN(hops) rollup;
    both are exact integer computations.

    Only the EDGE LIST materializes (it feeds every round); the
    frontier/visited frames stay pure plan — with the hop bound the
    unrolled lineage is 4 levels deep over a checkpointed leaf, so one
    job runs the whole traversal instead of one per round (measured:
    4.45 s → 2.6 s at sf0.1; the rest is the edge build itself). An UNBOUNDED traversal must checkpoint
    per round instead (the q75 fixpoint pattern).
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # NO edge-level distinct: (c, s) multiplicity in this graph is
    # ~1.02 (587k distinct of 600k raw at sf0.1 — a structural TPC-H
    # constant, SF-independent), so deduping costs a full fact-wide
    # shuffle to shrink the join input 2%, while the per-round
    # frontier ``distinct`` below already collapses duplicate
    # reachments (2.8 s -> 1.6 s end-to-end at sf0.1, where AQE
    # additionally broadcasts the orders key map so the edge build
    # runs shuffle-free; at a scale where orders no longer
    # broadcasts, the build pays its one orderkey shuffle either way
    # and dropping the distinct still removes a second one). A
    # high-multiplicity graph (parallel edges >> nodes) should dedup
    # here first — then the shuffle pays for itself in every round.
    edges = materialize(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
    )
    cust = table(spark, sf_dir, "customer")
    seed = cust.filter(F.col("c_custkey") % BFS_SEED_MOD == 0).select(
        F.col("c_custkey").alias("node_id"), F.lit(0).cast("bigint").alias("hops")
    )
    # visited sets per side of the bipartition; frontier alternates
    visited_c, visited_s = seed, None
    frontier, on_customers = seed, True
    for hop in range(1, BFS_MAX_HOPS + 1):
        if on_customers:
            nxt = (
                frontier.join(edges, frontier.node_id == edges.c)
                .select(F.col("s").alias("node_id"))
                .distinct()
                .withColumn("hops", F.lit(hop).cast("bigint"))
            )
            if visited_s is not None:
                nxt = nxt.join(visited_s, "node_id", "left_anti")
            visited_s = visited_s.unionByName(nxt) if visited_s is not None else nxt
        else:
            nxt = (
                frontier.join(edges, frontier.node_id == edges.s)
                .select(F.col("c").alias("node_id"))
                .distinct()
                .withColumn("hops", F.lit(hop).cast("bigint"))
            ).join(visited_c, "node_id", "left_anti")
            visited_c = visited_c.unionByName(nxt)
        frontier, on_customers = nxt, not on_customers
    return visited_c.select(
        F.lit("c").alias("node_type"), "node_id", "hops"
    ).unionByName(
        visited_s.select(F.lit("s").alias("node_type"), "node_id", "hops")
    )


SUPPLIER_HOPS_BFS_SQL = f"""
WITH RECURSIVE edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
walk(node_type, node_id, hops) AS (
  SELECT 'c', c_custkey, 0 FROM customer
  WHERE c_custkey % {BFS_SEED_MOD} = 0
  UNION
  SELECT CASE WHEN w.node_type = 'c' THEN 's' ELSE 'c' END,
         CASE WHEN w.node_type = 'c' THEN e.s ELSE e.c END,
         w.hops + 1
  FROM walk w
  JOIN edges e
    ON (w.node_type = 'c' AND e.c = w.node_id)
    OR (w.node_type = 's' AND e.s = w.node_id)
  WHERE w.hops < {BFS_MAX_HOPS}
)
SELECT node_type, node_id, CAST(MIN(hops) AS BIGINT) AS hops
FROM walk
GROUP BY node_type, node_id
"""


DECAY_HALF_LIFE_WEEKS = 1  # q112: score halves every week of age
DECAY_AGE_CAP = 8  # ages clamp here; integer weights stay <= 2^CAP


def decayed_user_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay scoring (half-life weighting) — the
    feature-engineering primitive behind recency-weighted user/item
    ranks — computed EXACTLY.

    The trap: exp(-λ·age) makes the score depend on libm (engines
    disagree in the last ulp) and the sum on partition order. Both
    disappear by choosing the half-life as the unit and working in
    INTEGERS: quantize value once at the house scale (decimal(18,6) —
    the only rounding, engine-identical), weight it by the integer
    2^(CAP − age) (exact), sum exactly, and divide the final sum by
    2^CAP — a pure exponent shift, no mantissa rounding anywhere.
    (A first attempt cast value·2^-age straight to decimal(28,16);
    full-mantissa doubles then round differently in the two engines'
    double→decimal conversions at the 17th significant digit.) The
    anchor (max event time) is a 1-row broadcast, same pattern as
    q28's corpus count. One user-keyed aggregate; map-side combined.
    """
    ev = table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.to_date("ts")).alias("anchor_day"))
    aged = ev.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        "value",
        F.least(
            F.floor(
                F.datediff(F.col("anchor_day"), F.to_date("ts"))
                / (7 * DECAY_HALF_LIFE_WEEKS)
            ),
            F.lit(DECAY_AGE_CAP),
        ).alias("age_weeks"),
    )
    # 2^(CAP - age) by integer shift, not pow(): libm pow is exact on
    # these small powers in practice, but shiftleft is exact by
    # CONSTRUCTION on any build — nothing floating touches the weight
    weight = F.expr(
        f"shiftleft(1, cast({DECAY_AGE_CAP} - age_weeks as int))"
    ).cast("bigint")
    contrib = _dec(F.col("value")) * weight
    return aged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.sum(contrib).cast("double") / F.lit(float(2**DECAY_AGE_CAP))).alias(
            "decayed_score"
        ),
    )


# integer 2^(CAP - age) weights as CASE arms - pure integer literals,
# no pow() on the oracle side either
_DECAY_WEIGHT_CASES = " ".join(
    f"WHEN {k} THEN {1 << (DECAY_AGE_CAP - k)}"
    for k in range(DECAY_AGE_CAP + 1)
)

DECAYED_USER_SCORE_SQL = f"""
WITH anchor AS (SELECT MAX(CAST(ts AS DATE)) AS anchor_day FROM events),
aged AS (
  SELECT user_id, value,
         least(CAST(floor(date_diff('day', CAST(ts AS DATE), anchor_day)
                          / {7 * DECAY_HALF_LIFE_WEEKS}) AS BIGINT),
               {DECAY_AGE_CAP}) AS age_weeks
  FROM events, anchor
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))
                * (CASE age_weeks {_DECAY_WEIGHT_CASES} END))
            AS DOUBLE) / {float(2**DECAY_AGE_CAP)} AS decayed_score
FROM aged
GROUP BY user_id
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — users grouped by first-seen week,
    counted per week-offset since their cohort week (the
    product-analytics table every activation dashboard renders).

    One user-keyed exchange carries the whole user-level stage: the
    first-seen window, the (cohort, offset) derivation, and the
    per-user distinct-week dedup all ride hashpartitioning(user_id)
    (subset-of-keys, as q96/q105/q109); the final matrix rollup and
    the cohort-size broadcast join are cohort-count-sized. Retention
    is an exact-integer ratio.
    """
    ev = table(spark, sf_dir, "events")
    wuser = W.partitionBy("user_id")
    week = lambda c: F.floor(  # noqa: E731 — local week index
        F.datediff(c, F.lit("2024-01-01").cast("date")) / 7
    ).cast("bigint")
    staged = (
        ev.repartition("user_id")
        .select("user_id", F.to_date("ts").alias("day"))
        .select(
            "user_id",
            week(F.col("day")).alias("wk"),
        )
        .select(
            "user_id",
            "wk",
            F.min("wk").over(wuser).alias("cohort_week"),
        )
    )
    user_weeks = staged.select(
        "user_id", "cohort_week", (F.col("wk") - F.col("cohort_week")).alias("week_offset")
    ).distinct()
    matrix = user_weeks.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    size = matrix.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_users").alias("cohort_size")
    )
    return matrix.join(F.broadcast(size), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_users",
        "cohort_size",
        (F.col("n_users").cast("double") / F.col("cohort_size")).alias("retention"),
    )


COHORT_RETENTION_SQL = """
WITH staged AS (
  SELECT user_id,
         CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7)
              AS BIGINT) AS wk
  FROM events
),
cohorted AS (
  SELECT user_id, wk,
         MIN(wk) OVER (PARTITION BY user_id) AS cohort_week
  FROM staged
),
user_weeks AS (
  SELECT DISTINCT user_id, cohort_week, wk - cohort_week AS week_offset
  FROM cohorted
),
matrix AS (
  SELECT cohort_week, week_offset, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM user_weeks GROUP BY 1, 2
)
SELECT m.cohort_week, m.week_offset, m.n_users,
       s.n_users AS cohort_size,
       CAST(m.n_users AS DOUBLE) / s.n_users AS retention
FROM matrix m
JOIN (SELECT cohort_week, n_users FROM matrix WHERE week_offset = 0) s
  ON s.cohort_week = m.cohort_week
"""


# Running COUNT(DISTINCT) per event type by day, decomposed for scale:
# each user's first day (one user-keyed aggregate), new users per (type,
# day), and a running sum, so a row's state is a counter, not a user
# set. The domain is every ACTIVE (type, day): a day with events but no
# first-time user still reports its flat running total.
CUMULATIVE_DISTINCT_USERS_SQL = """
WITH first_day AS (
  SELECT user_id, event_type, MIN(CAST(ts AS DATE)) AS day
  FROM {events} GROUP BY 1, 2
),
daily_new AS (
  SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM first_day GROUP BY 1, 2
),
active_days AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day FROM {events}
),
dense AS (
  SELECT a.event_type, a.day,
         CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users
  FROM active_days a
  LEFT JOIN daily_new n
    ON n.event_type = a.event_type AND n.day = a.day
)
SELECT event_type, day, new_users,
       CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM dense
"""


def _exact_double(dec) -> Column:
    """Correctly-rounded DECIMAL→DOUBLE via the string parser.

    Direct decimal→double casts disagree between the engines in the
    last ulp once the unscaled value passes 2^53 (two-step scaled
    conversions); both engines' string→double parsers are
    correctly-rounded IEEE, so routing exact decimals through VARCHAR
    is engine-identical at ANY magnitude.
    """
    return dec.cast("string").cast("double")


def segment_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend per market segment — the
    inequality statistic behind data-mix and revenue-concentration
    dashboards, computed from the rank formula
    G = Σ(2i − n − 1)·x_i / (n·Σx) over spend sorted ascending.

    Exactness (q94's scale budget, learned the hard way): per-customer
    spend sums as DECIMAL, then converts to EXACT INTEGER cents×100.
    The rank products are widened to DECIMAL(38,0) BEFORE multiplying
    (the per-term product alone passes int64 around sf10), their sums
    stay exact to 1e38, and the final narrowing routes through
    ``_exact_double`` (string→double): direct decimal→double casts
    disagree between the engines in the last ulp above 2^53 (observed
    at sf0.1 in the first decimal version of this query), but both
    string parsers are correctly-rounded IEEE. One customer-keyed
    aggregate, one segment sort (the segment count bounds window
    width), one segment rollup.
    """
    # SQL-text form (guide §5; plan unchanged —
    # plans/r17/q117_segment_spend_gini_*.txt)
    o = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    spend = (
        o.groupBy("o_custkey")
        .agg(
            F.expr(
                "cast(sum(cast(o_totalprice as decimal(18,4))) * 10000"
                " as bigint) AS spend_c4"
            )
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    ranked = spend.selectExpr(
        "c_mktsegment",
        "spend_c4",
        "cast(row_number() OVER (PARTITION BY c_mktsegment"
        " ORDER BY spend_c4, c_custkey) as bigint) AS i",
        "cast(count(1) OVER (PARTITION BY c_mktsegment) as bigint) AS n",
    )
    return (
        ranked.groupBy("c_mktsegment")
        .agg(
            F.expr("max(n) AS n_customers"),
            F.expr(
                "sum(cast(spend_c4 as decimal(38,0)) * (2 * i - n - 1)) AS _num"
            ),
            F.expr("sum(cast(spend_c4 as decimal(38,0))) AS _tot"),
        )
        .selectExpr(
            "c_mktsegment",
            "n_customers",
            "cast(cast(_tot as string) as double) / 10000.0D AS total_spend",
            "cast(cast(_num as string) as double)"
            " / (cast(n_customers as double)"
            " * cast(cast(_tot as string) as double)) AS gini",
        )
    )


SEGMENT_SPEND_GINI_SQL = """
WITH spend AS (
  SELECT c.c_mktsegment, c.c_custkey,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT)
           AS spend_c4
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT c_mktsegment, spend_c4,
         CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                 ORDER BY spend_c4, c_custkey) AS BIGINT) AS i,
         CAST(COUNT(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n
  FROM spend
)
SELECT c_mktsegment,
       MAX(n) AS n_customers,
       CAST(CAST(SUM(spend_c4) AS VARCHAR) AS DOUBLE) / 10000.0 AS total_spend,
       CAST(CAST(SUM(CAST(spend_c4 AS HUGEINT) * (2 * i - n - 1)) AS VARCHAR)
            AS DOUBLE)
         / (CAST(MAX(n) AS DOUBLE)
            * CAST(CAST(SUM(spend_c4) AS VARCHAR) AS DOUBLE)) AS gini
FROM ranked
GROUP BY c_mktsegment
"""


BASKET_MIN_SUPPORT = 2  # q118: pairs must co-occur in >= this many orders
BASKET_TOP = 20


# Keeps its builder: the text adds a keyed exchange (3 vs 2) and a job; 1.85 vs 2.63 s.
def part_pair_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining — part pairs that co-occur within an
    order, top-{BASKET_TOP} by support (the candidate-generation step
    of frequent-itemset mining).

    Pair generation is ORDER-LOCAL and JOIN-FREE: one order-keyed
    partitioning serves the distinct AND the per-order part-set
    collect (subset-of-keys rule), then C(items, 2) pairs explode from
    the SORTED part array inside whole-stage codegen — sorted order
    makes part_a < part_b by construction, fan-out is bounded by
    basket size, and no self-join ever re-shuffles the items (a
    join-based first version spent 3.7 s at sf0.1 on two exchanges +
    a sort-merge join; this shape runs the same pairs in one exchange
    + a pair-keyed rollup).
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # collect_SET dedups duplicate lines inside the aggregate itself —
    # a separate distinct() would add a full extra pass over the fact
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    # two chained Generates (posexplode the anchor, explode the sorted
    # tail slice) instead of a nested transform-into-struct HOF: same
    # C(items, 2) pairs, but no per-row array-of-struct materialization
    # and no interpreted lambda in the hot path — measured 3.5 s → 2.3 s
    # at sf0.1 (the pair stream, ~2 pairs per lineitem, dominates)
    anchored = baskets.select(
        "parts", F.posexplode("parts").alias("i", "part_a")
    )
    pairs = anchored.select(
        "part_a",
        F.explode(
            F.slice(F.col("parts"), F.col("i") + 2, F.size("parts"))
        ).alias("part_b"),
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= BASKET_MIN_SUPPORT)
        .orderBy(F.col("support").desc(), "part_a", "part_b")
        .limit(BASKET_TOP)
    )


PART_PAIR_BASKETS_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       CAST(COUNT(*) AS BIGINT) AS support
FROM items a
JOIN items b ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
ORDER BY support DESC, part_a, part_b
LIMIT {BASKET_TOP}
"""


# The per-priority totals view that incremental maintenance keeps: its
# additive aggregates (count, decimal sum) merge exactly, so any split
# into state and deltas must equal this full recompute
# (incremental_totals_batch_fn maintains it over N micro-batches).
INCREMENTAL_PRIORITY_TOTALS_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM {orders}
GROUP BY o_orderpriority
"""


# Month-over-month revenue per priority; no predecessor gives NULL.
MONTHLY_REVENUE_MOMENTUM_SQL = """
WITH monthly AS (
  SELECT o_orderpriority,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
  FROM {orders}
  GROUP BY 1, 2
)
SELECT o_orderpriority, month, revenue,
       lag(revenue, 1) OVER w AS prev_revenue,
       (revenue - lag(revenue, 1) OVER w) / lag(revenue, 1) OVER w AS mom_change
FROM monthly
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month)
"""


def incremental_totals_batch_fn(contrib_path: str):
    """``foreachBatch`` factory — STREAMING maintenance of the q119
    view (§2.10 × q119 composition): each micro-batch's per-priority
    additive rollup lands in its own ``ingest_batch={id}`` partition.

    Replay safety is by layout, the same contract as the streaming
    dedup index (`dedup.incremental_dedup_batch_fn`): an at-least-once
    replay overwrites its own partition instead of double-counting.
    The maintained view is the rollup of the contribution tree
    (``read_incremental_totals``) — the state ⊕ delta merge law over N
    deltas, which is why it must equal q119's one text, the full
    recompute.
    """

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        rollup = batch_df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(_dec(F.col("o_totalprice"), 4)).alias("rev"),
        )
        rollup.write.mode("overwrite").parquet(
            f"{contrib_path}/ingest_batch={batch_id}"
        )

    return fn


def read_incremental_totals(spark: SparkSession, contrib_path: str) -> DataFrame:
    """The maintained q119 view over the streaming contribution tree."""
    contribs = spark.read.parquet(contrib_path)
    return contribs.groupBy("o_orderpriority").agg(
        F.sum("n").cast("bigint").alias("n_orders"),
        F.sum("rev").cast("double").alias("revenue"),
    )


CUSUM_THRESHOLD = 200.0  # q121: flag when cusum exceeds this (value units)


# Keeps its builder: the text adds a keyed exchange (2 vs 1) and a job.
def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over per-user daily activity — the
    monitoring primitive that looks inherently RECURSIVE
    (cusum_t = max(0, cusum_{t-1} + dev_t)) but is declarative via the
    prefix-sum identity: cusum_t = S_t − min_{0≤s≤t} S_s, where S is
    the running sum of deviations and the minimum ranges over prefixes
    INCLUDING the empty one (S_0 = 0). Two windows replace the
    per-row loop.

    Exactness: deviations from the per-user mean stay INTEGER by
    scaling — d_t = x_t·n − Σx in micro-units (day totals are
    decimal(18,6)-exact), so the prefix sums, running minima, and the
    threshold comparison (cusum_scaled > THRESHOLD·n·10⁶) are all
    exact int64 arithmetic; only the reported cusum narrows to double
    (one correctly-rounded division). One user-keyed exchange serves
    the daily aggregate and every window (q96/q105/q109 pattern).

    int64 budget: the scaled deviation d = x·n − Σx stays exact while
    day_total_micro_units × active_days stays below 2^63 (≈ day totals
    under ~2.5e9 value units for a 10-year user). Past that budget
    Spark's default ANSI mode raises loudly rather than wrapping;
    widen the d/s accumulators to decimal(38,0) on BOTH sides (and
    route the final narrowing through the string parser, q117-style)
    when the data demands it.
    """
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.repartition("user_id")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg((F.sum(_dec(F.col("value"))) * 1_000_000).cast("bigint").alias("x_us"))
    )
    wuser = W.partitionBy("user_id")
    word = wuser.orderBy("day")
    wrun = word.rowsBetween(W.unboundedPreceding, 0)
    staged = daily.select(
        "user_id",
        "day",
        "x_us",
        F.count(F.lit(1)).over(wuser).cast("bigint").alias("n"),
        F.sum("x_us").over(wuser).cast("bigint").alias("tot_us"),
    )
    # scaled deviation d = x·n − Σx  (exact; Σ over the user of d is 0)
    d = F.col("x_us") * F.col("n") - F.col("tot_us")
    prefixed = staged.select(
        "user_id",
        "day",
        "x_us",
        "n",
        F.sum(d).over(wrun).cast("bigint").alias("s_us"),
    )
    # the prefix-sum identity needs the IMPLICIT empty prefix S_0 = 0
    # in the running minimum (cusum_t = S_t - min(0, min_{s<=t} S_s));
    # a bare window min only sees actual rows, which understates the
    # statistic whenever the prefix sum never dips below zero (e.g. the
    # first row's true CUSUM is d_1, not 0)
    cusum_scaled = F.col("s_us") - F.least(F.min("s_us").over(wrun), F.lit(0))
    thresh_scaled = (F.lit(CUSUM_THRESHOLD) * 1_000_000 * F.col("n")).cast("bigint")
    return prefixed.select(
        "user_id",
        "day",
        (F.col("x_us").cast("double") / 1_000_000).alias("day_total"),
        (cusum_scaled.cast("double") / (F.col("n") * F.lit(1_000_000.0))).alias(
            "cusum"
        ),
        (cusum_scaled > thresh_scaled).alias("is_changepoint"),
    )


CUSUM_CHANGEPOINTS_SQL = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS x_us
  FROM events GROUP BY 1, 2
),
staged AS (
  SELECT user_id, day, x_us,
         CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
         CAST(SUM(x_us) OVER (PARTITION BY user_id) AS BIGINT) AS tot_us
  FROM daily
),
prefixed AS (
  SELECT user_id, day, x_us, n,
         CAST(SUM(x_us * n - tot_us) OVER (
                PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS s_us
  FROM staged
)
SELECT user_id, day,
       CAST(x_us AS DOUBLE) / 1000000 AS day_total,
       -- LEAST(..., 0): the running min must include the implicit
       -- empty-prefix S_0 = 0 (see the Spark-side comment)
       CAST(s_us - LEAST(MIN(s_us) OVER (
              PARTITION BY user_id ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
            AS DOUBLE) / (n * 1000000.0) AS cusum,
       (s_us - LEAST(MIN(s_us) OVER (
          PARTITION BY user_id ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0))
         > CAST({CUSUM_THRESHOLD} * 1000000 * n AS BIGINT) AS is_changepoint
FROM prefixed
"""
