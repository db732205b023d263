"""Unit + fuzz coverage for the round-8 parity gates (paritycheck.py).

The gates exist to make the q65/q88 class of driver-RED — an oracle
output TYPE that diverges from Spark's under DuckDB's pandas/arrow
fetch paths while fetchall() hides it — a LOCAL failure. These tests
pin the gate itself:

* the family mapping flags HUGEINT (and decimal width skew) and
  accepts every family the 121-query registry actually emits;
* ``canon_pandas_cell`` renders fetchdf() cells identically to the
  fetchall() rendering for every type DuckDB can hand back, across a
  fuzzed value range (the NaN/NaT/ndarray/midnight-date traps);
* ``compare`` flips exactly the verdict flag each kind of divergence
  belongs to, on a tiny Spark frame against DuckDB ``VALUES`` SQL.
"""

from __future__ import annotations

import math
import random
from decimal import Decimal

import duckdb
import pytest
from pyspark.sql import types as T

from sbs_suptech_etl_v2_spark.paritycheck import (
    VERDICT_FLAGS,
    canon_grid,
    canon_pandas_cell,
    compare,
    duckdb_family,
    oracle_connection,
    spark_family,
    type_mismatches,
)


def test_hugeint_is_always_a_mismatch():
    schema = T.StructType([T.StructField("s", T.LongType())])
    desc = [("s", "HUGEINT")]
    assert type_mismatches(schema, desc) == [("s", "int", "HUGEINT")]


def test_decimal_width_skew_is_a_mismatch():
    schema = T.StructType([T.StructField("d", T.DecimalType(28, 6))])
    assert type_mismatches(schema, [("d", "DECIMAL(28,6)")]) == []
    assert type_mismatches(schema, [("d", "DECIMAL(38,6)")]) != []
    assert type_mismatches(schema, [("d", "DECIMAL(28,2)")]) != []


def test_absent_column_is_reported_not_skipped():
    schema = T.StructType([T.StructField("a", T.LongType())])
    mism = type_mismatches(schema, [("a", "BIGINT"), ("b", "BIGINT")])
    assert ("b", "<absent>", "int") in mism


def test_family_mapping_covers_registry_surface():
    # every (spark, duckdb) pair the registry emits must family-match
    pairs = [
        (T.LongType(), "BIGINT"),
        (T.IntegerType(), "INTEGER"),
        (T.DoubleType(), "DOUBLE"),
        (T.StringType(), "VARCHAR"),
        (T.DateType(), "DATE"),
        (T.TimestampNTZType(), "TIMESTAMP"),
        (T.BooleanType(), "BOOLEAN"),
        (T.BinaryType(), "BLOB"),
        (T.ArrayType(T.DoubleType()), "DOUBLE[]"),
    ]
    for sdt, ddt in pairs:
        assert spark_family(sdt) == duckdb_family(ddt), (sdt, ddt)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_fetchdf_and_fetchall_render_identically(seed):
    """Fuzz: one relation exercising every scalar type the oracles
    output (BIGINT incl. NULL, DOUBLE incl. NaN-free floats, DECIMAL,
    VARCHAR, DATE, TIMESTAMP, BOOLEAN, DOUBLE[]) must canonicalize to
    the same grid through fetchdf() as through fetchall().

    NOTE: nullable BIGINT is deliberately EXCLUDED — DuckDB's pandas
    path widens it to float64, which is exactly the divergence the
    typed gate exists to keep out of integer-typed oracle outputs
    consumed by a pandas fetch; the registry's three nullable-int
    oracles are driver-green because the driver fetch is arrow-shaped
    (playbook r08), and the repo-level leg therefore compares the two
    DuckDB fetches only on dtype-faithful columns.
    """
    rng = random.Random(seed)
    con = duckdb.connect()
    rows = []
    for i in range(200):
        rows.append(
            f"({i}, "
            f"CAST({rng.uniform(-1e6, 1e6)!r} AS DOUBLE), "
            f"CAST({rng.uniform(0, 1e4):.4f} AS DECIMAL(18,4)), "
            f"'s{rng.randrange(10)}', "
            f"DATE '1995-01-01' + INTERVAL {rng.randrange(1000)} DAY, "
            f"TIMESTAMP '2024-01-01 00:00:00' + INTERVAL {rng.randrange(86400)} SECOND, "
            f"{str(rng.random() < 0.5).lower()}, "
            # explicit DOUBLE casts: a bare high-precision literal is
            # inferred as DECIMAL, and DuckDB's fetchdf() converts
            # DECIMAL to float64 WITHOUT correct rounding (observed:
            # last-ulp skew vs float(Decimal)) — which is exactly why
            # the registry bans DECIMAL-typed oracle OUTPUTS (see
            # test_no_oracle_outputs_decimal_or_hugeint)
            f"[CAST({rng.uniform(-1, 1)!r} AS DOUBLE), "
            f"CAST({rng.uniform(-1, 1)!r} AS DOUBLE)])"
        )
    sql = (
        "SELECT * FROM (VALUES " + ", ".join(rows) + ") "
        "t(id, x, d, s, dt, ts, b, arr)"
    )
    desc_rows = con.execute("DESCRIBE " + sql).fetchall()
    types = {r[0]: str(r[1]) for r in desc_rows}
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    fgrid = canon_grid(cols, cur.fetchall(), types)
    pdf = con.execute(sql).fetchdf()
    pgrid = canon_grid(cols, pdf.itertuples(index=False, name=None), types)
    con.close()
    assert pgrid == fgrid


def test_null_nan_and_midnight_date_normalization():
    con = duckdb.connect()
    sql = (
        "SELECT CAST(NULL AS VARCHAR) AS s, "
        "CAST('nan' AS DOUBLE) AS f, "
        "DATE '2020-02-29' AS d, "
        "CAST(NULL AS TIMESTAMP) AS ts"
    )
    desc = {r[0]: str(r[1]) for r in con.execute("DESCRIBE " + sql).fetchall()}
    row = con.execute(sql).fetchall()[0]
    prow = next(
        con.execute(sql).fetchdf().itertuples(index=False, name=None)
    )
    con.close()
    cols = ["s", "f", "d", "ts"]
    a = [canon_pandas_cell(row[i], desc[cols[i]]) for i in range(4)]
    b = [canon_pandas_cell(prow[i], desc[cols[i]]) for i in range(4)]
    assert a == b
    assert a[0] == "NULL" and a[1] == "NULL" and a[3] == "NULL"
    assert a[2] == "2020-02-29"


def test_no_oracle_outputs_decimal_or_hugeint(sf_dir):
    """Registry-wide output-type discipline (the q65/q88 lesson, made
    permanent): no oracle may OUTPUT a HUGEINT (pandas fetch renders
    float64, arrow renders decimal128 — both diverge from Spark's
    int64) or a DECIMAL column (exact through arrow, but DuckDB's
    pandas fetch converts DECIMAL to float64 without correct rounding
    — observed last-ulp skew vs float(Decimal)). Decimals are for
    INTERNAL exact accumulation; outputs narrow to DOUBLE or BIGINT on
    both engines.
    """
    from sbs_suptech_etl_v2_spark.registry import ORACLE

    with oracle_connection(sf_dir) as con:
        offenders = []
        for name, sql in sorted(ORACLE.items()):
            for cname, ctype, *_ in con.execute("DESCRIBE " + sql).fetchall():
                s = str(ctype).upper()
                if "HUGEINT" in s or "DECIMAL" in s:
                    offenders.append((name, cname, s))
        assert not offenders, offenders


def test_float_rendering_matches_parity_canon():
    # the %.17g float discipline every compare() leg renders with
    assert canon_pandas_cell(0.1, "DOUBLE") == "%.17g" % 0.1
    assert canon_pandas_cell(float("nan"), "DOUBLE") == "NULL"
    assert canon_pandas_cell(Decimal("1.500000"), "DECIMAL(18,6)") == "1.5"
    assert canon_pandas_cell(math.pi, "DOUBLE") == "%.17g" % math.pi


_ROWS = [(1, "a", 2.5), (2, "b", 0.5), (3, None, 1.0)]
_SCHEMA = "k long, s string, x double"
_ORACLE = (
    "SELECT * FROM (VALUES (1, 'a', 2.5::DOUBLE), (2, 'b', 0.5::DOUBLE), "
    "(3, NULL, 1.0::DOUBLE)) t(k, s, x)"
)
# DuckDB's SUM over an integer column is HUGEINT; Spark's is bigint
_SUM_ORACLE = "SELECT k, SUM(k) AS total FROM (VALUES (1), (2), (3)) t(k) GROUP BY k"


@pytest.mark.parametrize(
    "rows, schema, sql, failed",
    [
        (_ROWS, _SCHEMA, _ORACLE, set()),
        (_ROWS[:2], _SCHEMA, _ORACLE, {"rows_match", "hash_match"}),
        ([(1, "a", 2.5), (2, "b", 0.75), (3, None, 1.0)], _SCHEMA, _ORACLE, {"hash_match"}),
        # "t" sorts where "s" did, so the value grid is unchanged
        (_ROWS, "k long, t string, x double", _ORACLE, {"schema_match"}),
        ([(1, 1), (2, 2), (3, 3)], "k long, total long", _SUM_ORACLE, {"types_match"}),
    ],
    ids=["identical", "dropped_row", "changed_value", "renamed_column", "hugeint_sum"],
)
def test_compare_flips_only_the_diverging_flag(spark, rows, schema, sql, failed):
    with duckdb.connect() as con:
        verdict = compare(spark.createDataFrame(rows, schema), sql, con)
    assert verdict["oracle_rows"] == 3
    assert {f for f in VERDICT_FLAGS if not verdict[f]} == failed, verdict
