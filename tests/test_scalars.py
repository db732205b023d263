"""Unit + property tests for the C1-C12 scalar semantics (SURVEY §5.3).

Every builder is driven through ``F.expr`` — the form the registry
queries and the document-ETL pipeline run. Edge cases target the
reference's traps: the ``""``-vs-NULL regexp_extract behavior, the
``refine_month`` "None"-string bug (we implement the intended NULL),
non-4-digit years, map-merge precedence. The hypothesis property drives
batches of random strings through ONE Spark job per case and compares
against a plain-Python reference implementation of the same semantics.
"""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sbs_suptech_etl_v2_spark.functions.scalars import (
    SPANISH_MONTHS,
    format_text_key_sql,
    map_merge_new_wins_sql,
    refine_dates_sql,
    refine_month_sql,
    refine_period_sql,
    refine_year_sql,
    sql_quote_literal,
    stringify_map_values_sql,
)


def _run_scalar(spark, values, fn):
    df = spark.createDataFrame([(v,) for v in values], "x string")
    return [r["y"] for r in df.select(F.expr(fn("x")).alias("y")).collect()]


def test_refine_dates_edges(spark):
    cases = {
        "Emitido el 01/02/2023 en Lima": "01/02/2023",
        "dos fechas 03/04/2021 y 05/06/2022": "03/04/2021",  # first match
        "98/99/0000 valid shape": "98/99/0000",  # reference regex is shape-only
        "1/2/2023 short": None,  # needs dd/mm/yyyy
        "word123/45/6789x": None,  # \b boundaries
        "sin fecha": None,
        "": None,
        None: None,
    }
    got = _run_scalar(spark, list(cases), refine_dates_sql)
    assert got == list(cases.values())


def test_refine_month_edges(spark):
    cases = {
        "Enero": "1",
        "  DICIEMBRE  ": "12",
        "septiembre": "9",
        "setiembre": None,  # Peruvian variant NOT in the reference dict
        "Birmingham": None,  # intended semantics: unknown -> NULL, not "None"
        "": None,
        None: None,
    }
    got = _run_scalar(spark, list(cases), refine_month_sql)
    assert got == list(cases.values())


def test_refine_year_edges(spark):
    cases = {
        "2023": "2023",
        " 2024 ": "2024",
        "20 23": None,
        "abc": None,
        "123": None,
        "12345": None,
        "-2023": None,
        "": None,
        None: None,
    }
    got = _run_scalar(spark, list(cases), refine_year_sql)
    assert got == list(cases.values())


def test_refine_period_edges(spark):
    cases = {
        "Mayo 2023": ("5", "2023"),
        "  DICIEMBRE 1999": (None, None),  # leading spaces: not two tokens
        "Mayo 23": ("5", None),
        "Birmingham 2023": (None, "2023"),
        "Mayo 2023 bis": (None, None),
        "badfolder": (None, None),
        "": (None, None),
        None: (None, None),
    }
    month, year = refine_period_sql("x")
    df = spark.createDataFrame([(v,) for v in cases], "x string")
    got = [(r["m"], r["y"]) for r in df.select(
        F.expr(month).alias("m"), F.expr(year).alias("y")
    ).collect()]
    assert got == list(cases.values())


def test_format_text_key(spark):
    got = _run_scalar(spark, ["abc", "r-1"], format_text_key_sql)
    assert got == ["txt/abc.txt", "txt/r-1.txt"]


def test_map_merge_precedence_and_nulls(spark):
    df = spark.createDataFrame(
        [
            ({"a": "1", "b": "old"}, {"b": "new", "c": "3"}),
            ({"a": "1"}, None),
            (None, {"z": "9"}),
            (None, None),
        ],
        "old map<string,string>, new map<string,string>",
    )
    got = [
        dict(r["m"]) if r["m"] is not None else None
        for r in df.select(
            F.expr(map_merge_new_wins_sql("old", "new")).alias("m")
        ).collect()
    ]
    assert got == [
        {"a": "1", "b": "new", "c": "3"},
        {"a": "1"},
        {"z": "9"},
        {},
    ]


def test_stringify_map_values(spark):
    df = spark.createDataFrame([({"a": 1.5, "b": 2.0},)], "m map<string,double>")
    got = dict(
        df.select(F.expr(stringify_map_values_sql("m")).alias("s")).collect()[0]["s"]
    )
    assert got == {"a": "1.5", "b": "2.0"}


# --- python reference implementations for the properties ---------------

DATE_RE = re.compile(r"\b(\d{2}/\d{2}/\d{4})\b")


def _py_refine_dates(s: str | None) -> str | None:
    if s is None:
        return None
    m = DATE_RE.search(s)
    return m.group(1) if m else None


def _py_refine_month(s: str | None) -> str | None:
    if s is None:
        return None
    n = SPANISH_MONTHS.get(s.strip().lower())
    return str(n) if n is not None else None


def _py_refine_year(s: str | None) -> str | None:
    if s is None:
        return None
    t = s.strip()
    return t if re.fullmatch(r"[0-9]{4}", t) else None


TEXT = st.one_of(
    st.none(),
    st.text(
        alphabet=st.sampled_from(list("0123456789/abcdef ENEROenero ")), max_size=30
    ),
)


@settings(max_examples=6, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=40))
def test_scalar_properties_match_python_reference(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "x string")
    got = df.select(
        F.expr(refine_dates_sql("x")).alias("d"),
        F.expr(refine_month_sql("x")).alias("m"),
        F.expr(refine_year_sql("x")).alias("y"),
    ).collect()
    for v, row in zip(values, got):
        assert row["d"] == _py_refine_dates(v), v
        assert row["m"] == _py_refine_month(v), v
        assert row["y"] == _py_refine_year(v), v


def test_sql_quote_literal_roundtrips_through_the_parser(spark):
    """ADVICE r17: constants interpolated into single-quoted Spark SQL
    literals must survive quotes and backslashes. Pin that the escape
    round-trips byte-exactly through the actual parser for every
    character class the *_sql builders could ever interpolate — and that
    today's clean constants are emitted unchanged (plan stability)."""
    cases = [
        "plain",
        "it's",
        "back\\slash",
        "both\\'mixed''",
        "",
    ]
    for s in cases:
        got = spark.sql(f"SELECT '{sql_quote_literal(s)}' AS v").collect()[0]["v"]
        assert got == s, repr(s)
    # clean constants (no quote, no backslash) pass through unchanged,
    # so every committed plan that interpolates them stays byte-stable
    assert sql_quote_literal("the") == "the"
