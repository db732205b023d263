"""Structured-extraction operators — A2/A3/A4 + A8 (SURVEY §2.9).

The reference's core transform: document text → typed fields via an
LLM port. Here the port runs inside ``mapInPandas`` (Arrow-batched —
the UDTF-shaped boundary SURVEY §2.11 prescribes for table-producing
ports) under A9 bounded concurrency from the ports layer. The A10
throttling retry lives in the port itself (``ProductionTransformer``
wraps every call, as the reference adapter does), so this layer calls
each port method once per row and never retries on top. The
deterministic ``FakeTransformer`` implements the prompts' extraction
intent as regexes, so the DuckDB oracle can check every row with
``regexp_extract``.

Document contents are synthesized deterministically from ``doc_id``
(the driver tables carry no Spanish policy text); both engines build
byte-identical strings with concat/lpad only — no printf dialect risk.

Scale notes: the extraction itself is embarrassingly parallel (one
Arrow batch at a time per task, ≤4 concurrent external calls per task
via ``bounded_map`` — executors × 4 in-flight requests cluster-wide).
Keep ``spark.sql.execution.arrow.maxRecordsPerBatch`` small for real
LLM ports so a task failure re-runs a bounded number of calls.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING, Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sbs_suptech_etl_v2_spark.io import spread, table
from sbs_suptech_etl_v2_spark.ports.transformer import FakeTransformer, bounded_map

if TYPE_CHECKING:
    import pandas as pd

POLIZAS_SCHEMA = (
    "doc_id bigint, policy_number string, policy_name string, "
    "policy_start_date string, policy_end_date string"
)
TASACIONES_SCHEMA = (
    "doc_id bigint, expert_warranty_name string, tasacion_date string, "
    "commercial_value string, realization_value string, tasacion_owner string"
)
INSCRIPCIONES_SCHEMA = (
    "doc_id bigint, page_no int, inscription_number string, "
    "legal_name string, inscription_date string"
)


def extract_structured(
    docs: DataFrame,
    method: Column,
    out_schema: str,
    key_cols: tuple[str, ...] = ("doc_id",),
    content_col: str = "content",
    port_factory: Callable[[], Any] | None = None,
) -> DataFrame:
    """Run a transform-port method over every row via ``mapInPandas``.

    One Arrow batch in → one extracted batch out; within a batch each
    row's port method runs once under ``bounded_map`` (A9) — the A10
    retry is the port's own, so an error it gives up on fails the task.
    The port instance is constructed inside the task via
    ``port_factory`` (never serialized from the driver) — the
    production port holds an unpicklable client. Default:
    ``FakeTransformer``.

    ``method`` is each row's port method name: ``F.lit(name)`` for a
    single-type batch, an expression for a batch that mixes document
    types. A field a row's method does not return comes out NULL, so
    ``out_schema`` may be the union of several methods' fields. A row
    whose method is NULL makes no port call and comes out with its key
    columns and NULL fields — the reference's transform is a no-op on a
    failed extract (F4, workflow_polizas.py:55-57).
    """

    value_cols = [
        f.strip().split(" ")[0]
        for f in out_schema.split(",")
        if f.strip().split(" ")[0] not in key_cols
    ]
    method_name_col = "_port_method"
    factory = port_factory if port_factory is not None else FakeTransformer

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        port = factory()

        def call(item: tuple[str, str | None]) -> dict:
            content, name = item
            return {} if name is None else getattr(port, name)(content)

        for pdf in batches:
            extracted = bounded_map(
                call, zip(pdf[content_col].tolist(), pdf[method_name_col].tolist())
            )
            # explicit columns: an empty batch must still match the schema,
            # and a field the row's method lacks is None, not a float NaN
            out = pd.DataFrame(
                [[row.get(c) for c in value_cols] for row in extracted],
                columns=value_cols,
            )
            for i, k in enumerate(key_cols):
                out.insert(i, k, pdf[k].values)
            yield out

    # fan the external-call batches across every core: the port
    # wraps a remote service, so width = throughput (and on the
    # single-row-group test files the scan arrives 1-partition)
    return spread(docs).withColumn(method_name_col, method).mapInPandas(run, out_schema)


def _lpad2(c: Column) -> Column:
    return F.lpad(c.cast("string"), 2, "0")


def _polizas_content() -> Column:
    """Deterministic pólizas document text from doc_id (oracle-identical)."""
    did = F.col("doc_id")
    mm = _lpad2(did % 12 + 1)
    yyyy = (did % 10 + 2015).cast("string")
    yyyy2 = (did % 10 + 2016).cast("string")
    asegurado = F.when(did % 13 == 0, F.lit("")).otherwise(
        F.concat(F.lit(" | Asegurado: CLIENTE "), (did % 97).cast("string"))
    )
    return F.concat(
        F.lit("POLIZA DE SEGURO POL-"),
        did.cast("string"),
        asegurado,
        F.lit(" | Vigencia desde el 01/"),
        mm,
        F.lit("/"),
        yyyy,
        F.lit(" hasta el 01/"),
        mm,
        F.lit("/"),
        yyyy2,
    )


_POLIZAS_CONTENT_SQL = """
  'POLIZA DE SEGURO POL-' || doc_id
  || CASE WHEN doc_id % 13 = 0 THEN ''
          ELSE ' | Asegurado: CLIENTE ' || (doc_id % 97) END
  || ' | Vigencia desde el 01/' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
  || '/' || (doc_id % 10 + 2015)
  || ' hasta el 01/' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
  || '/' || (doc_id % 10 + 2016)
"""


def extract_polizas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — pólizas structured extraction through the transform port.

    Fields per EtlPolizasState (etl_polizas_state.py:6-10): policy
    number/name/start/end. Every 13th document omits the holder section
    → NULL policy_name (the no-match path the LLM also hits).
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", _polizas_content().alias("content")
    )
    return extract_structured(docs, F.lit("llm_caller_polizas"), POLIZAS_SCHEMA)


EXTRACT_POLIZAS_SQL = f"""
WITH txt AS (
  SELECT doc_id, {_POLIZAS_CONTENT_SQL} AS content FROM documents
)
SELECT doc_id,
       NULLIF(regexp_extract(content, 'POL-\\d+'), '') AS policy_number,
       NULLIF(regexp_extract(content, 'Asegurado: ([A-Z]+ \\d+)', 1), '') AS policy_name,
       NULLIF(regexp_extract(content, 'desde el (\\d{{2}}/\\d{{2}}/\\d{{4}})', 1), '')
         AS policy_start_date,
       NULLIF(regexp_extract(content, 'hasta el (\\d{{2}}/\\d{{2}}/\\d{{4}})', 1), '')
         AS policy_end_date
FROM txt
"""


def _tasaciones_content() -> Column:
    did = F.col("doc_id")
    dd = _lpad2(did % 28 + 1)
    mm = _lpad2(did % 12 + 1)
    yyyy = (did % 10 + 2015).cast("string")
    v1 = (did * 137) % 900000 + 100000
    v2 = v1 - 25000
    propietario = F.when(did % 11 == 0, F.lit("")).otherwise(
        F.concat(F.lit(" | Propietario: SOC "), (did % 89).cast("string"))
    )
    return F.concat(
        F.lit("INFORME DE TASACION | Perito: ING "),
        (did % 53).cast("string"),
        F.lit(" | Fecha de tasacion: "),
        dd, F.lit("/"), mm, F.lit("/"), yyyy,
        F.lit(" | Valor comercial: S/ "),
        v1.cast("string"),
        F.lit(" | Valor de realizacion: S/ "),
        v2.cast("string"),
        propietario,
    )


_TASACIONES_CONTENT_SQL = """
  'INFORME DE TASACION | Perito: ING ' || (doc_id % 53)
  || ' | Fecha de tasacion: ' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
  || '/' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
  || '/' || (doc_id % 10 + 2015)
  || ' | Valor comercial: S/ ' || ((doc_id * 137) % 900000 + 100000)
  || ' | Valor de realizacion: S/ ' || ((doc_id * 137) % 900000 + 75000)
  || CASE WHEN doc_id % 11 = 0 THEN ''
          ELSE ' | Propietario: SOC ' || (doc_id % 89) END
"""


def extract_tasaciones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — tasaciones structured extraction through the transform port.

    Fields per EtlTasacionesState (etl_tasaciones_state.py:7-11):
    appraiser, date, commercial/realization values (kept as strings —
    the reference's money-as-string type system, SURVEY §1.2), owner.
    Every 11th document omits the owner → NULL tasacion_owner.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", _tasaciones_content().alias("content")
    )
    return extract_structured(docs, F.lit("llm_caller_tasaciones"), TASACIONES_SCHEMA)


EXTRACT_TASACIONES_SQL = f"""
WITH txt AS (
  SELECT doc_id, {_TASACIONES_CONTENT_SQL} AS content FROM documents
)
SELECT doc_id,
       NULLIF(regexp_extract(content, 'Perito: ([A-Z]+ \\d+)', 1), '')
         AS expert_warranty_name,
       NULLIF(regexp_extract(content, 'Fecha de tasacion: (\\d{{2}}/\\d{{2}}/\\d{{4}})', 1), '')
         AS tasacion_date,
       NULLIF(regexp_extract(content, 'Valor comercial: S/ (\\d+)', 1), '')
         AS commercial_value,
       NULLIF(regexp_extract(content, 'Valor de realizacion: S/ (\\d+)', 1), '')
         AS realization_value,
       NULLIF(regexp_extract(content, 'Propietario: ([A-Z]+ \\d+)', 1), '') AS tasacion_owner
FROM txt
"""


def extract_inscripciones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 + A7/A8 — per-page inscripciones extraction with re-parenting.

    The inscripciones flow extracts one child per *page*, not per
    document (workflow_inscripciones.py:57-64): synthesize 1-3 pages
    per document (each holding one SUNARP partida), explode to page
    rows, run the port per page, and carry the parent ``doc_id`` onto
    every child (A8, workflow_service.py:46-62). The explode is an
    array-expression fan-out — the shuffle-free A7 form — and the
    extraction stays one Arrow batch per task.
    """
    did = F.col("doc_id")
    n_pages = (did % 3 + 1).cast("int")
    docs = table(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n_pages),
                lambda p: F.concat(
                    F.lit("Partida N "),
                    (did * 10 + p).cast("string"),
                    F.lit(" presentado el "),
                    _lpad2((did + p) % 28 + 1),
                    F.lit("/"),
                    _lpad2(did % 12 + 1),
                    F.lit("/"),
                    (did % 10 + 2015).cast("string"),
                    F.lit(" a favor de BANCO "),
                    ((did + p) % 50).cast("string"),
                ),
            )
        ).alias("page_idx", "content"),
    ).select(
        "doc_id", (F.col("page_idx") + 1).cast("int").alias("page_no"), "content"
    )
    return extract_structured(
        pages, F.lit("llm_caller_inscripciones"), INSCRIPCIONES_SCHEMA,
        key_cols=("doc_id", "page_no"),
    )


def ocr_extract_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 + A6 — full OCR extract pipeline: binary doc → blocks → pages.

    Document bytes (the multimodal binary column standing in for the
    S3 PDF) go through the extractor port (``mapInPandas`` UDTF fan-out,
    one doc → N block rows), then the A6 aggregation materializes
    per-page text: LINE filter, ordered ``collect_list`` concat,
    line count — the textract_extractor_document.py:28-72 →
    extract_async_helper.py:48-58 chain as one declarative plan. The
    binary payload dies at the port boundary; only text rows shuffle.
    """
    from sbs_suptech_etl_v2_spark.ports.extractor import extract_blocks

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("content")
    )
    blocks = extract_blocks(docs)
    return (
        blocks.filter(F.col("block_type") == "LINE")
        .groupBy("doc_id", "page_no")
        .agg(
            F.count(F.lit(1)).alias("lines_count"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_no", "text"))),
                    lambda s: s.text,
                ),
                "\n",
            ).alias("page_text"),
        )
    )


OCR_EXTRACT_PAGES_SQL = """
WITH arr AS (
  SELECT doc_id, str_split(text, ' ') AS words FROM documents
),
lines AS (
  SELECT doc_id,
         CAST((i - 1) // 4 + 1 AS INTEGER) AS page_no,
         CAST((i - 1) % 4 + 1 AS INTEGER) AS line_no,
         array_to_string(list_slice(words, (i - 1) * 5 + 1, i * 5), ' ') AS text
  FROM arr,
       unnest(generate_series(1, CAST(ceil(len(words) / 5.0) AS BIGINT))) AS t(i)
)
SELECT doc_id, page_no, COUNT(*) AS lines_count,
       string_agg(text, chr(10) ORDER BY line_no) AS page_text
FROM lines
GROUP BY doc_id, page_no
"""


EXTRACT_INSCRIPCIONES_SQL = """
WITH pages AS (
  SELECT doc_id, CAST(p AS INTEGER) AS page_no,
         'Partida N ' || (doc_id * 10 + p)
         || ' presentado el ' || lpad(CAST((doc_id + p) % 28 + 1 AS VARCHAR), 2, '0')
         || '/' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
         || '/' || (doc_id % 10 + 2015)
         || ' a favor de BANCO ' || ((doc_id + p) % 50) AS content
  FROM documents, unnest(generate_series(1, doc_id % 3 + 1)) AS t(p)
)
SELECT doc_id, page_no,
       NULLIF(regexp_extract(content, 'Partida N (\\d+)', 1), '') AS inscription_number,
       NULLIF(regexp_extract(content, 'a favor de ([A-Z]+ \\d+)', 1), '') AS legal_name,
       NULLIF(regexp_extract(content, 'presentado el (\\d{2}/\\d{2}/\\d{4})', 1), '')
         AS inscription_date
FROM pages
"""
