"""The DuckDB oracle harness: every Spark-vs-oracle comparison goes
through :func:`oracle_connection` and :func:`compare`.

:func:`compare` returns the per-query verdict ``parity.py`` writes and
the tests assert on: row count, column names, values, output types, and
a second fetch of the oracle through ``fetchdf()``.  Both sides are
rendered by one function, :func:`canon_grid`.

Why the type and pandas legs exist (round-7 forensics): the only two
driver-RED queries were exactly the only two oracles whose OUTPUT
contained a DuckDB HUGEINT column (uncast ``SUM`` over integer types).
DuckDB's pandas fetch renders HUGEINT as float64 and its Arrow fetch as
decimal128(38,0) — either way a dtype divergence from Spark's int64
that a dtype/repr-sensitive driver canonicalizer hashes differently,
while a ``fetchall()``-only comparison (HUGEINT → exact Python int)
could never see it.  Hence:

* :func:`type_mismatches` — compare the Spark result schema against
  ``DESCRIBE <oracle sql>`` column-by-column, mapping both to a family
  string; HUGEINT maps to its own family so an uncast integer SUM can
  never sneak into an oracle output again.  Decimal compares exact
  (precision, scale) — a width skew is a divergence risk too.
* :func:`canon_pandas_cell` — canonicalize one cell (numpy scalars,
  ndarray lists, NaT, midnight-Timestamp dates, Spark's bytearray) to
  one string rendering, so the ``fetchall()`` grid, the ``fetchdf()``
  grid and the Spark grid compare under the same rules.

Empirical ground truth (duckdb 1.0.0 / pyarrow):
HUGEINT → pandas float64 / arrow decimal128(38,0); nullable BIGINT →
pandas float64 (NaN) but arrow int64 — and q54/q77/q82, the three
oracles with nullable-int outputs, are driver-GREEN, so the driver's
fetch is Arrow-shaped: nullable ints are safe, HUGEINT is not.  The
typed gate therefore fails HUGEINT (and any family mismatch) but not
nullability; the pandas leg compares VALUES under the integral-float-
collapsing renderer, which q54/q77/q82 pass.
"""

from __future__ import annotations

import datetime as _dt
import math
import re
from decimal import Decimal

_DUCK_INTS = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}
_DECIMAL_RE = re.compile(r"DECIMAL\((\d+),\s*(\d+)\)")


def spark_family(datatype) -> str:
    """Map a Spark ``DataType`` to a comparison family string."""
    s = datatype.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if s in ("float", "double"):
        return "float"
    if s.startswith("decimal"):
        return s  # exact (p,s): decimal width skew is a divergence risk
    if s == "string":
        return "str"
    if s == "date":
        return "date"
    if s.startswith("timestamp"):
        return "ts"
    if s == "boolean":
        return "bool"
    if s == "binary":
        return "bin"
    if s.startswith("array"):
        return "arr"
    if s.startswith(("map", "struct")):
        return "nest"
    return s


def duckdb_family(type_str: str) -> str:
    """Map a DuckDB ``DESCRIBE`` column_type to a comparison family."""
    s = str(type_str).upper()
    if s in _DUCK_INTS:
        return "int"
    if s in ("HUGEINT", "UHUGEINT"):
        return "HUGEINT"  # own family -> always a mismatch vs Spark
    if s in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if s.startswith("DECIMAL"):
        m = _DECIMAL_RE.match(s)
        return f"decimal({m.group(1)},{m.group(2)})" if m else "decimal"
    if s == "VARCHAR":
        return "str"
    if s == "DATE":
        return "date"
    if s.startswith("TIMESTAMP"):
        return "ts"
    if s == "BOOLEAN":
        return "bool"
    if s == "BLOB":
        return "bin"
    if s.endswith("[]"):
        return "arr"
    if s.startswith(("STRUCT", "MAP")):
        return "nest"
    return s


def type_mismatches(spark_schema, describe_rows) -> list[tuple[str, str, str]]:
    """(column, spark_family, duckdb_family) for every family mismatch.

    ``describe_rows`` is the fetchall() of ``DESCRIBE <oracle sql>``
    (column_name, column_type, ...).  Columns are matched by name; a
    column present on only one side is reported with family ``<absent>``
    on the other (schema_match catches name sets separately, but the
    gate should not silently skip them).
    """
    sfam = {f.name: spark_family(f.dataType) for f in spark_schema.fields}
    dfam = {r[0]: duckdb_family(r[1]) for r in describe_rows}
    out = []
    for c in sorted(set(sfam) | set(dfam)):
        a = sfam.get(c, "<absent>")
        b = dfam.get(c, "<absent>")
        if a != b:
            out.append((c, a, b))
    return out


def canon_grid(
    cols: list[str], rows, duck_types: dict[str, str]
) -> list[tuple[str, ...]]:
    """Sorted canonical grid over any row iterable (fetchall tuples or
    ``itertuples`` rows), rendering every cell with
    :func:`canon_pandas_cell` under the column's DESCRIBE type.

    The one renderer for the Spark rows and both oracle fetches — the
    rendering rules live in ONE place, so the legs cannot silently
    diverge from each other.
    """
    types = [duck_types.get(c, "") for c in cols]
    return sorted(
        tuple(canon_pandas_cell(row[i], types[i]) for i in range(len(cols)))
        for row in rows
    )


VERDICT_FLAGS = ("rows_match", "schema_match", "hash_match", "types_match", "pandas_match")


def oracle_connection(sf_dir: str):
    """In-memory DuckDB connection with one view per ``io.TABLES``
    parquet file under ``sf_dir`` — the only oracle setup in the repo."""
    import duckdb

    from .io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _by_name(cols: list[str], rows, types: dict[str, str]):
    """(name-sorted columns, canonical grid with cells in that order)."""
    idx = sorted(range(len(cols)), key=cols.__getitem__)
    names = [cols[i] for i in idx]
    return names, canon_grid(names, (tuple(r[i] for i in idx) for r in rows), types)


def compare(sdf, sql: str, con) -> dict:
    """Collect ``sdf`` and run its oracle ``sql`` on ``con``; return the
    verdict: one boolean per :data:`VERDICT_FLAGS` entry plus both row
    counts.  A query matches when every flag is True.

    * ``rows_match`` / ``schema_match`` — same row count / same
      name-sorted column names;
    * ``hash_match`` — equal order-insensitive value grids (cells in
      name-sorted column order), so any hash of the same cells agrees;
    * ``types_match`` — every column present on both sides falls in
      the same :func:`type_mismatches` family (names are
      ``schema_match``'s concern);
    * ``pandas_match`` — the oracle re-fetched through ``fetchdf()``
      renders to the same grid as its ``fetchall()`` (the dtype-lossy
      pandas path).  ``DESCRIBE`` only binds, so the oracle executes
      twice, once per fetch path.

    On failure the verdict also carries ``type_mismatches`` and
    ``first_diffs`` (up to 3 differing spark/oracle row pairs).
    """
    srows = sdf.collect()
    desc = con.execute("DESCRIBE " + sql).fetchall()
    types = {r[0]: str(r[1]) for r in desc}
    cur = con.execute(sql)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    pdf = con.execute(sql).fetchdf()
    scols, sgrid = _by_name(sdf.columns, srows, types)
    dcols, dgrid = _by_name(ocols, orows, types)
    _, pgrid = _by_name(ocols, pdf.itertuples(index=False, name=None), types)
    mism = [list(m) for m in type_mismatches(sdf.schema, desc) if "<absent>" not in m]
    verdict = {
        "rows_match": len(sgrid) == len(dgrid),
        "schema_match": scols == dcols,
        "hash_match": sgrid == dgrid,
        "types_match": not mism,
        "pandas_match": pgrid == dgrid,
        "spark_rows": len(sgrid),
        "oracle_rows": len(dgrid),
    }
    if mism:
        verdict["type_mismatches"] = mism
    if sgrid != dgrid:
        verdict["first_diffs"] = [
            [list(a), list(b)] for a, b in zip(sgrid, dgrid) if a != b
        ][:3]
    return verdict


def canon_pandas_cell(v, duck_type: str) -> str:
    """Render one cell — Spark, ``fetchall()`` or ``fetchdf()`` — with
    the parity string rules.

    Floats render via %.17g with integral collapse, NaN/None/NaT ->
    NULL, bytes as hex; the pandas-specific representations are
    normalized too: numpy scalars,
    ndarray list cells, and DATE columns that pandas widens to
    midnight Timestamps (``duck_type`` — the DESCRIBE column_type —
    says whether the column is a DATE).
    """
    # ndarray / list cells first: `v != v` on them is elementwise
    if hasattr(v, "tolist") and not hasattr(v, "item"):
        v = v.tolist()
    elif hasattr(v, "item") and not isinstance(
        v, (bool, int, float, Decimal, str, bytes, _dt.date, _dt.datetime)
    ):
        try:
            if getattr(v, "ndim", 0):  # 1+-dim ndarray also has .item
                v = v.tolist()
            else:
                v = v.item()  # numpy scalar -> python scalar
        except (ValueError, AttributeError):
            pass
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_pandas_cell(x, "") for x in v) + "]"
    if isinstance(v, dict):
        return (
            "{"
            + ",".join(
                f"{k}:{canon_pandas_cell(v[k], '')}" for k in sorted(v)
            )
            + "}"
        )
    if v is None:
        return "NULL"
    try:
        if v != v:  # NaN and NaT
            return "NULL"
    except (TypeError, ValueError):
        pass
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "%.17g" % v
    if isinstance(v, Decimal):
        return "%.17g" % float(v)
    if isinstance(v, _dt.datetime):
        # pandas widens DATE columns to midnight Timestamps; render
        # them back as dates so the leg matches Spark's datetime.date
        if str(duck_type).upper() == "DATE":
            return v.date().isoformat()
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):  # Spark hands BINARY back as bytearray
        return v.hex()
    return str(v)
