"""Document-pipeline operator family (SURVEY §2.3, §2.8, §2.9).

The reference's per-document imperative pipeline, re-expressed as
set-oriented DataFrame plans over the driver's ``documents``/``customer``
/``orders`` tables so each op is oracle-checkable:

- path decomposition + listing filters (F1/F2/F7 —
  s3_poller_document.py:14-55)
- scalar refinements (C1/C2/C3 — workflow_service.py:8-44)
- page fan-out + ordered first-N concat (A6/A7/W1/G3/G4 —
  extract_async_helper.py:48-58, textract_extractor_document.py:45-70)
- metadata stringify + merge-upsert, exploded for checking
  (C10/C11/K2 — dynamo_loader_document.py:33-58)
- stage gates → success conjunction → notification projection
  (F4/A11/F10 — workflow_polizas.py:55-115, workflow_orchestator.py:147-163)

Inputs that the reference gets from its environment (S3 keys, month
folders, metadata maps) are derived deterministically from table
columns so Spark and the DuckDB oracle compute them identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sbs_suptech_etl_v2_spark.functions.scalars import (
    format_text_key_sql,
    map_merge_new_wins_sql,
    refine_dates_sql,
    refine_month_sql,
    refine_period_sql,
    refine_year_sql,
    sql_quote_literal,
    stringify_map_values_sql,
)
from sbs_suptech_etl_v2_spark.io import table

# Spanish month literals used to synthesize folder names (mixed case to
# exercise C2's lower(trim(...)) normalization).
_MONTHS_MIXED = [
    "Enero",
    "FEBRERO",
    " marzo ",
    "Abril",
    "mayo",
    "JUNIO",
    "Julio",
    "agosto",
    "Septiembre",
    "OCTUBRE",
    "noviembre",
    "Diciembre",
]


def _month_case(expr: str) -> str:
    """SQL CASE mapping doc_id%12 → mixed-case Spanish month literal."""
    whens = "\n".join(
        f"    WHEN {i} THEN '{m}'" for i, m in enumerate(_MONTHS_MIXED)
    )
    return f"CASE {expr}\n{whens}\n  END"


def scalar_refinement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/C2/C3 — regex date pick, Spanish-month map, year validation.

    Inputs are synthesized per doc_id: a free-text sentence that may or
    may not embed a dd/mm/yyyy date, a month string (valid Spanish /
    garbage / NULL), and a year string (valid / padded / split / alpha /
    NULL). All refinements are built-in SQL expressions — no UDFs.
    """
    # SQL-text form (two selectExprs instead of ~150 py4j round trips
    # of Column algebra — guide §5 driver-work note; analyzed plan is
    # unchanged, see plans/r17/q14_scalar_refinement_{before,after}.txt)
    docs = table(spark, sf_dir, "documents")
    raw = docs.selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 3 <> 0"
        " THEN format_string('Emitido el %02d/%02d/%04d en Lima',"
        " cast(doc_id % 28 + 1 as int), cast(doc_id % 12 + 1 as int),"
        " cast(doc_id % 30 + 2000 as int))"
        " ELSE 'sin fecha registrada' END AS date_text",
        "CASE WHEN doc_id % 14 = 12 THEN 'Birmingham'"
        f" WHEN doc_id % 14 <> 13 THEN {_month_case('doc_id % 14')}"
        " END AS month_raw",  # %14==13 → NULL
        "CASE doc_id % 5 WHEN 0 THEN '2023' WHEN 1 THEN ' 2024 '"
        " WHEN 2 THEN '20 23' WHEN 3 THEN 'abc' END AS year_raw",  # %5==4 → NULL
    )
    return raw.selectExpr(
        "doc_id",
        f"{refine_dates_sql('date_text')} AS refined_date",
        f"{refine_month_sql('month_raw')} AS refined_month",
        f"{refine_year_sql('year_raw')} AS refined_year",
    )


SCALAR_REFINEMENT_SQL = f"""
WITH raw AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 <> 0
         THEN printf('Emitido el %02d/%02d/%04d en Lima',
                     CAST(doc_id % 28 + 1 AS INT),
                     CAST(doc_id % 12 + 1 AS INT),
                     CAST(doc_id % 30 + 2000 AS INT))
         ELSE 'sin fecha registrada' END AS date_text,
    CASE WHEN doc_id % 14 = 12 THEN 'Birmingham'
         WHEN doc_id % 14 <> 13 THEN {_month_case("doc_id % 14")}
         END AS month_raw,
    CASE doc_id % 5 WHEN 0 THEN '2023' WHEN 1 THEN ' 2024 '
                    WHEN 2 THEN '20 23' WHEN 3 THEN 'abc' END AS year_raw
  FROM documents
)
SELECT doc_id,
  NULLIF(regexp_extract(date_text, '\\b(\\d{{2}}/\\d{{2}}/\\d{{4}})\\b', 1), '') AS refined_date,
  CASE lower(trim(month_raw))
    WHEN 'enero' THEN '1' WHEN 'febrero' THEN '2' WHEN 'marzo' THEN '3'
    WHEN 'abril' THEN '4' WHEN 'mayo' THEN '5' WHEN 'junio' THEN '6'
    WHEN 'julio' THEN '7' WHEN 'agosto' THEN '8' WHEN 'septiembre' THEN '9'
    WHEN 'octubre' THEN '10' WHEN 'noviembre' THEN '11' WHEN 'diciembre' THEN '12'
    END AS refined_month,
  CASE WHEN regexp_full_match(trim(year_raw), '[0-9]{{4}}')
       THEN trim(year_raw) END AS refined_year
FROM raw
"""


def path_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F7 — S3-listing filters + path decomposition.

    Synthesizes listing keys (valid pdf, uppercase .PDF, directory key,
    wrong extension, unparseable folder), applies the reference's
    listing filters (skip dirs, keep *.pdf case-insensitively), then
    splits ``Prefix/{Mes YYYY}/name.ext`` into refined period columns.
    Null-safe: unparseable folders yield NULL month/year
    (s3_poller_document.py:29-41).
    """
    # SQL-text form (was ~230 py4j round trips of Column algebra;
    # guide §5 — plan unchanged, see plans/r17/q15_path_parse_*.txt)
    docs = table(spark, sf_dir, "documents")
    folder = (
        f"concat(trim({_month_case('doc_id % 12')}), ' ',"
        " cast(doc_id % 6 + 2020 as string))"
    )
    listed = docs.selectExpr(
        "doc_id",
        "CASE"
        f" WHEN doc_id % 5 = 0 THEN concat('Polizas/', {folder}, '/doc_', doc_id, '.pdf')"
        f" WHEN doc_id % 5 = 1 THEN concat('Inscripciones/', {folder}, '/doc_', doc_id, '.PDF')"
        f" WHEN doc_id % 5 = 2 THEN concat('Tasaciones/', {folder}, '/')"
        f" WHEN doc_id % 5 = 3 THEN concat('Polizas/', {folder}, '/doc_', doc_id, '.docx')"
        " ELSE concat('Polizas/badfolder/doc_', doc_id, '.pdf') END AS key",
    )
    kept = listed.filter(
        "NOT endswith(key, '/') AND endswith(lower(key), '.pdf')"
    )
    period_month, period_year = refine_period_sql("get(split(key, '/'), 1)")
    return kept.selectExpr(
        "doc_id",
        "key",
        "get(split(key, '/'), 0) AS prefix",
        "get(split(key, '/'), size(split(key, '/')) - 1) AS basename",
        f"{period_month} AS period_month",
        f"{period_year} AS period_year",
    )


PATH_PARSE_SQL = f"""
WITH listing AS (
  SELECT doc_id,
    CASE doc_id % 5
      WHEN 0 THEN 'Polizas/' || folder || '/doc_' || doc_id || '.pdf'
      WHEN 1 THEN 'Inscripciones/' || folder || '/doc_' || doc_id || '.PDF'
      WHEN 2 THEN 'Tasaciones/' || folder || '/'
      WHEN 3 THEN 'Polizas/' || folder || '/doc_' || doc_id || '.docx'
      ELSE 'Polizas/badfolder/doc_' || doc_id || '.pdf' END AS key
  FROM (
    SELECT doc_id,
           trim({_month_case("doc_id % 12")}) || ' ' ||
           CAST(doc_id % 6 + 2020 AS VARCHAR) AS folder
    FROM documents
  )
),
kept AS (
  SELECT * FROM listing
  WHERE NOT ends_with(key, '/') AND ends_with(lower(key), '.pdf')
),
parsed AS (
  SELECT doc_id, key,
    str_split(key, '/')[1] AS prefix,
    str_split(key, '/')[len(str_split(key, '/'))] AS basename,
    CASE WHEN len(str_split(str_split(key, '/')[2], ' ')) = 2
         THEN str_split(str_split(key, '/')[2], ' ')[1] END AS month_tok,
    CASE WHEN len(str_split(str_split(key, '/')[2], ' ')) = 2
         THEN str_split(str_split(key, '/')[2], ' ')[2] END AS year_tok
  FROM kept
)
SELECT doc_id, key, prefix, basename,
  CASE lower(trim(month_tok))
    WHEN 'enero' THEN '1' WHEN 'febrero' THEN '2' WHEN 'marzo' THEN '3'
    WHEN 'abril' THEN '4' WHEN 'mayo' THEN '5' WHEN 'junio' THEN '6'
    WHEN 'julio' THEN '7' WHEN 'agosto' THEN '8' WHEN 'septiembre' THEN '9'
    WHEN 'octubre' THEN '10' WHEN 'noviembre' THEN '11' WHEN 'diciembre' THEN '12'
    END AS period_month,
  CASE WHEN regexp_full_match(trim(year_tok), '[0-9]{{4}}')
       THEN trim(year_tok) END AS period_year
FROM parsed
"""

PAGE_WORDS = 10  # words per simulated page
FIRST_PAGES = 2  # W1 analog cap (reference caps at 20 real pages)


def n_pages_sql(words: str) -> str:
    """Page count of a word array, ``PAGE_WORDS`` words per page."""
    return f"cast(ceil(size({words}) / {PAGE_WORDS}) as int)"


def first_pages_sql(words: str) -> str:
    """W1 — the first ``FIRST_PAGES`` pages of a word array joined by
    ``"\\n\\n"`` (textract_extractor_document.py:58-68); q16 and doc_etl."""
    return (
        f"array_join(transform(sequence(1, least({n_pages_sql(words)}, {FIRST_PAGES})),"
        f" p -> array_join(slice({words}, (p - 1) * {PAGE_WORDS} + 1, {PAGE_WORDS}), ' ')),"
        " '\\n\\n')"
    )


def pages_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/W1/G3/G4 — per-page text + first-N concat, shuffle-free.

    Documents are paginated into 10-word chunks (the reference's
    Textract pages) and re-aggregated: page count, word count, and the
    first-2-pages ordered concat with "\\n\\n" (the reference's
    first-20-pages cap, textract_extractor_document.py:58-60).

    Every output is derivable per-row from ``text``, so the plan is
    pure array expressions — ``split`` once, then
    ``sequence``/``transform``/``slice``/``array_join`` — zero explode,
    zero shuffle. At 100 TB of text this is a narrow map-only stage;
    the word-level explode + double groupBy alternative (kept as
    q19_pages_explode for explicit G2 coverage) shuffles every word.
    """
    # SQL-text form (one selectExpr, JVM-side parse — guide §5; plan
    # unchanged, see plans/r17/q16_pages_concat_*.txt)
    docs = table(spark, sf_dir, "documents")
    words = "split(text, ' ')"
    return docs.selectExpr(
        "doc_id",
        f"{n_pages_sql(words)} AS n_pages",
        f"cast(size({words}) as bigint) AS n_words",
        f"{first_pages_sql(words)} AS first_pages",
    )


PAGES_CONCAT_SQL = f"""
WITH arr AS (
  SELECT doc_id, str_split(text, ' ') AS words FROM documents
)
SELECT doc_id,
       CAST(ceil(len(words)/{PAGE_WORDS}.0) AS INTEGER) AS n_pages,
       CAST(len(words) AS BIGINT) AS n_words,
       array_to_string(
         list_transform(
           range(1, least(CAST(ceil(len(words)/{PAGE_WORDS}.0) AS BIGINT), {FIRST_PAGES}) + 1),
           p -> array_to_string(list_slice(words, (p-1)*{PAGE_WORDS}+1, p*{PAGE_WORDS}), ' ')),
         chr(10) || chr(10)) AS first_pages
FROM arr
"""


def pages_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/A8/G2/G4 — explicit page fan-out + ordered list re-aggregation.

    The distributed explode pattern the reference performs per Textract
    page (one row per page, then per-document re-aggregation with
    page-order preserved): posexplode word positions → page rows →
    ``sort_array(collect_list(struct(page_no, ...)))`` concat —
    q16_pages_concat is the shuffle-free production form; this query
    exists to exercise G2 (list-concat accumulation) and A7/A8
    (fan-out + re-parenting) as real physical operators. Ref:
    extract_async_helper.py:48-58, workflow_orchestator.py:79-93.

    ONE shuffle, placed before the fan-out: repartitioning by doc_id
    ahead of the explode moves each document's raw text over the wire
    exactly once, and hashpartitioning(doc_id) satisfies the clustering
    requirement of BOTH downstream aggregates ((doc_id, page_no) is a
    superset of the partition key), so the page agg and the document
    rollup run exchange-free where the naive plan shuffles exploded
    per-word structs twice — the difference between ~1× and ~3× text
    bytes on the wire at 100 TB.
    """
    # no spread() here: the hash repartition below collapses any
    # round-robin redistribution anyway (CollapseRepartition), so a
    # spread would add nothing to the plan
    #
    # Expressions are SQL-text (selectExpr / F.expr with SQL lambdas),
    # not Column algebra: the Column/HOF form issued ~420 py4j round
    # trips to assemble this exact plan (~0.4 s of driver latency per
    # build on the bench box — guide §5, the driver should do almost
    # no work); the string form parses JVM-side in ~12 calls and
    # resolves to the same analyzed plan (pinned by the committed
    # plans/r17 explain pair).
    docs = table(spark, sf_dir, "documents").repartition("doc_id")
    words = docs.selectExpr(
        "doc_id", "posexplode(split(text, ' ')) AS (pos, word)"
    )
    pages = (
        words.selectExpr(
            "doc_id",
            f"cast(pos / {PAGE_WORDS} as int) + 1 AS page_no",
            "pos",
            "word",
        )
        .groupBy("doc_id", "page_no")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(pos, word))),"
                " s -> s.word), ' ') AS page_text"
            ),
            F.expr("count(1) AS page_words"),
        )
    )
    return pages.groupBy("doc_id").agg(
        F.expr("cast(max(page_no) as int) AS n_pages"),
        F.expr("cast(sum(page_words) as bigint) AS n_words"),
        F.expr(
            "array_join(transform(filter(array_sort(collect_list("
            f"struct(page_no, page_text))), s -> s.page_no <= {FIRST_PAGES}),"
            " s -> s.page_text), '\\n\\n') AS first_pages"
        ),
    )


PAGES_EXPLODE_SQL = f"""
WITH arr AS (
  SELECT doc_id, str_split(text, ' ') AS words FROM documents
),
pages AS (
  SELECT doc_id, t.page_no,
         array_to_string(
           list_slice(words, (t.page_no-1)*{PAGE_WORDS}+1, t.page_no*{PAGE_WORDS}),
           ' ') AS page_text,
         len(list_slice(words, (t.page_no-1)*{PAGE_WORDS}+1, t.page_no*{PAGE_WORDS})) AS page_words
  FROM arr,
       unnest(generate_series(1, CAST(ceil(len(words)/{PAGE_WORDS}.0) AS BIGINT))) AS t(page_no)
)
SELECT doc_id,
       CAST(MAX(page_no) AS INTEGER) AS n_pages,
       CAST(SUM(page_words) AS BIGINT) AS n_words,
       string_agg(CASE WHEN page_no <= {FIRST_PAGES} THEN page_text END, chr(10) || chr(10)
                  ORDER BY page_no) AS first_pages
FROM pages
GROUP BY doc_id
"""


def metadata_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10/C11/K2 — stringify-all + dict.update-style map merge, exploded.

    Existing metadata (3 keys/customer) merged with an update batch
    (2 keys for 2/3 of customers — new wins on ``acctbal``); result is
    exploded to (custkey, meta_key, meta_value) rows so the oracle can
    hash plain strings instead of maps. The oracle computes the same
    merge relationally (new rows + old rows anti-joined on key).
    """
    # SQL-text form (was ~330 py4j round trips — the map lambdas are
    # especially chatty through the Column API; guide §5. Plan
    # unchanged, see plans/r17/q17_metadata_merge_*.txt)
    customer = table(spark, sf_dir, "customer")
    # values pre-cast to string (C10's str(value)) — create_map would
    # otherwise coerce mixed value types to a common non-string type
    old_map = stringify_map_values_sql(
        "map('document_type', c_mktsegment,"
        " 'acctbal', cast(c_acctbal as string),"
        " 'legacy', concat('old_', c_custkey))"
    )
    new_map = (
        "CASE WHEN c_custkey % 3 <> 0 THEN "
        + stringify_map_values_sql(
            "map('acctbal', cast(round(c_acctbal * 2, 2) as string),"
            " 'status', CASE WHEN c_acctbal > 0 THEN 'active' ELSE 'frozen' END)"
        )
        + " END"
    )
    merged = customer.selectExpr(
        "c_custkey AS custkey",
        f"{map_merge_new_wins_sql(old_map, new_map)} AS meta",
    )
    return merged.selectExpr(
        "custkey", "explode(meta) AS (meta_key, meta_value)"
    )


METADATA_MERGE_SQL = """
WITH old AS (
  SELECT c_custkey AS custkey, 'document_type' AS meta_key, c_mktsegment AS meta_value FROM customer
  UNION ALL
  SELECT c_custkey, 'acctbal', CAST(c_acctbal AS VARCHAR) FROM customer
  UNION ALL
  SELECT c_custkey, 'legacy', 'old_' || c_custkey FROM customer
),
new AS (
  SELECT c_custkey AS custkey, 'acctbal' AS meta_key,
         CAST(round(c_acctbal * 2, 2) AS VARCHAR) AS meta_value
  FROM customer WHERE c_custkey % 3 <> 0
  UNION ALL
  SELECT c_custkey, 'status', CASE WHEN c_acctbal > 0 THEN 'active' ELSE 'frozen' END
  FROM customer WHERE c_custkey % 3 <> 0
)
SELECT custkey, meta_key, meta_value FROM new
UNION ALL
SELECT o.custkey, o.meta_key, o.meta_value
FROM old o ANTI JOIN new n ON o.custkey = n.custkey AND o.meta_key = n.meta_key
"""


NOTIFICATION_TYPE = "regulatory-compliance-prompts.insert-metadata"


def stage_gate_notifications(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/A11/F10 — stage-success conjunction → notification projection.

    Stage flags are derived deterministically per order (the reference
    sets them per pipeline stage); only rows where extract & transform &
    load all succeed produce a notification row with the constant type
    string (workflow_orchestator.py:147-163). uuid() is intentionally
    NOT in the checked output (nondeterministic — C7).
    """
    # SQL-text form (guide §5; plan unchanged —
    # plans/r17/q18_stage_gate_notifications_*.txt)
    orders = table(spark, sf_dir, "orders")
    flagged = orders.selectExpr(
        "o_orderkey",
        "o_custkey",
        "o_totalprice > 5000 AS extract_success",
        "o_orderkey % 7 <> 0 AS transform_success",
        "o_orderkey % 11 <> 0 AS load_success",
    )
    ok = flagged.filter(
        "extract_success AND transform_success AND load_success"
    )
    return ok.selectExpr(
        "cast(o_orderkey as string) AS recordId",
        "concat('parent_', o_custkey) AS parentId",
        "concat('session_', o_custkey % 10) AS sessionId",
        f"'{sql_quote_literal(NOTIFICATION_TYPE)}' AS type",
    )


STAGE_GATE_NOTIFICATIONS_SQL = f"""
SELECT CAST(o_orderkey AS VARCHAR) AS "recordId",
       'parent_' || o_custkey AS "parentId",
       'session_' || (o_custkey % 10) AS "sessionId",
       '{NOTIFICATION_TYPE}' AS "type"
FROM orders
WHERE o_totalprice > 5000 AND o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0
"""


def artifact_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5/C6 + F6/F8 — S3 text-artifact projection before the load stage.

    The pólizas load step formats ``txt/{record_id}.txt``, UTF-8-encodes
    the content for S3, then nulls the big text columns so only slim
    metadata reaches DynamoDB (workflow_polizas.py:85-92). Here: the
    key format (C5), the ``encode`` to BinaryType with its exact byte
    length and sha-256 digest (C6 — checked via the digest, not raw
    bytes), and an explicit ``drop`` of the content columns (F6/F8) so
    the output projection carries no text — Catalyst prunes the
    dropped columns out of the scan entirely.
    """
    # SQL-text form (guide §5; plan unchanged —
    # plans/r17/q37_artifact_keys_*.txt)
    docs = table(spark, sf_dir, "documents")
    record_id = "concat('rec_', cast(doc_id as string))"
    body = "encode(text, 'utf-8')"
    staged = docs.selectExpr(
        f"{record_id} AS record_id",
        f"{format_text_key_sql(record_id)} AS s3_key",
        f"cast(length({body}) as bigint) AS body_bytes",
        f"sha2({body}, 256) AS body_sha256",
        "text",
        "lang",
    )
    # F6/F8 — anti-projection: content dropped before the metadata sink
    return staged.drop("text", "lang")


ARTIFACT_KEYS_SQL = """
SELECT 'rec_' || doc_id AS record_id,
       'txt/rec_' || doc_id || '.txt' AS s3_key,
       octet_length(encode(text)) AS body_bytes,
       sha256(text) AS body_sha256
FROM documents
"""
