"""Scalar expression builders — SURVEY §2.8 (C1-C12).

Each builder mirrors a scalar behavior of the reference's
``workflow_service`` / loaders / poller, re-expressed as Spark SQL text
for a *built-in expression* so it stays inside whole-stage codegen (no
Python UDFs in the hot path). Citations are paths in the reference
repository.

Divergences from reference bugs (SURVEY §7 "reference bugs"): we build
the *intended* semantics — e.g. ``refine_month_sql`` of an unknown
month is NULL, not the string ``"None"``
(src/domain/services/workflow_service.py:16-36 stringifies a Python
None via ``str(dict.get(...))``).
"""

from __future__ import annotations

# Spanish month-name dimension (J3: src/domain/services/workflow_service.py:17-36).
# Small enough for a map literal — at any scale this is a broadcast-free
# constant folded into codegen, cheaper than a dimension join.
SPANISH_MONTHS: dict[str, int] = {
    "enero": 1,
    "febrero": 2,
    "marzo": 3,
    "abril": 4,
    "mayo": 5,
    "junio": 6,
    "julio": 7,
    "agosto": 8,
    "septiembre": 9,
    "octubre": 10,
    "noviembre": 11,
    "diciembre": 12,
}

DATE_PATTERN = r"\b(\d{2}/\d{2}/\d{4})\b"


def sql_quote_regex(pattern: str) -> str:
    """Escape a Java regex for embedding in a Spark SQL string literal.

    Spark's parser processes C-style escapes inside ``'...'`` literals
    (default ``spark.sql.parser.escapedStringLiterals=false``), so every
    backslash in the regex must be doubled to survive parsing — the
    parsed string is then byte-identical to the raw Python pattern.
    """
    return pattern.replace("\\", "\\\\")


def sql_quote_literal(s: str) -> str:
    """Escape an arbitrary string for embedding in a single-quoted
    Spark SQL literal (ADVICE r17): backslashes first (the parser
    processes C-style escapes inside ``'...'`` by default), then
    single quotes doubled per the SQL standard. Every ``*_sql`` builder
    that interpolates a Python string (stopwords, language profiles,
    query terms, month names, listing prefixes) routes through this, so
    a string containing a quote cannot break parsing or silently alter
    the query. Today's constants contain neither character, so the
    emitted SQL — and therefore every committed plan — is
    byte-identical."""
    return s.replace("\\", "\\\\").replace("'", "''")


# --- expression builders ---------------------------------------------
# Each returns Spark SQL text over embeddable expressions, so a caller
# composes a whole projection into one ``selectExpr`` parsed JVM-side in
# one py4j round trip (guide §5). The registry queries (q14/q15/q17/q37)
# and the document-ETL pipeline call the same builders.


def refine_dates_sql(expr: str) -> str:
    """C1 — first ``dd/mm/yyyy`` token in the string, else NULL.

    Reference: src/domain/services/workflow_service.py:8-14.
    ``regexp_extract`` returns ``""`` on no-match, so wrap in ``nullif``
    to reproduce the reference's None.
    """
    return f"nullif(regexp_extract({expr}, '{sql_quote_regex(DATE_PATTERN)}', 1), '')"


def _month_map_sql() -> str:
    entries = ", ".join(
        f"'{sql_quote_literal(k)}', '{v}'" for k, v in SPANISH_MONTHS.items()
    )
    return f"map({entries})"


def refine_month_sql(expr: str) -> str:
    """C2 — Spanish month name (any case, padded) → "1".."12" string;
    unknown/NULL → NULL.

    Reference: src/domain/services/workflow_service.py:16-36 (intended
    semantics; the reference stringifies None to "None" — a bug we fix).
    """
    return f"element_at({_month_map_sql()}, lower(trim({expr})))"


def refine_year_sql(expr: str) -> str:
    """C3 — trimmed 4-digit year kept, anything else NULL.

    Reference: src/domain/services/workflow_service.py:38-44.
    """
    return f"CASE WHEN trim({expr}) RLIKE '^[0-9]{{4}}$' THEN trim({expr}) END"


def refine_period_sql(folder: str) -> tuple[str, str]:
    """F7 + C2/C3 — ``(month_sql, year_sql)`` of a ``"{Month} {Year}"``
    folder name: both tokens only when the folder splits into exactly
    two, then refined; a NULL or unparseable folder gives NULL for both.

    Reference: src/infrastructure/adapters/pollers/s3_poller_document.py:29-41.
    """
    parts = f"split({folder}, ' ')"
    month, year = (f"CASE WHEN size({parts}) = 2 THEN get({parts}, {i}) END" for i in (0, 1))
    return refine_month_sql(month), refine_year_sql(year)


def format_text_key_sql(record_id: str) -> str:
    """C5 — S3 text-artifact key ``txt/{record_id}.txt``.

    Reference: src/application/use_cases/workflows/workflow_polizas.py:85.
    """
    return f"format_string('txt/%s.txt', {record_id})"


def stringify_map_values_sql(expr: str) -> str:
    """C10 — cast every map value to string (DynamoDB loader normalizes
    all metadata values with ``str(value)``).

    Reference: src/infrastructure/adapters/loaders/dynamo_loader_document.py:45-46.
    """
    return f"transform_values({expr}, (k, v) -> cast(v as string))"


_EMPTY_MAP_SQL = (
    "map_from_arrays(cast(array() as array<string>),"
    " cast(array() as array<string>))"
)


def map_merge_new_wins_sql(old: str, new: str) -> str:
    """C11 — python ``dict.update`` semantics: keys union, new wins.

    Spark's ``map_concat`` raises on duplicate keys (by default), so the
    merge is ``map_zip_with + coalesce(new, old)`` (SURVEY §2.8 C11).
    Reference: src/infrastructure/adapters/loaders/dynamo_loader_document.py:48.
    NULL maps are treated as empty.
    """
    o = f"coalesce({old}, {_EMPTY_MAP_SQL})"
    n = f"coalesce({new}, {_EMPTY_MAP_SQL})"
    return (
        f"map_filter(map_zip_with({o}, {n}, (k, ov, nv) -> coalesce(nv, ov)),"
        " (k, v) -> v IS NOT NULL)"
    )
