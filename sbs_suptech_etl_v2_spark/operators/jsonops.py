"""JSON codec operators — C8/C9 + F10 (SURVEY §2.8).

Every reference ingress decodes JSON (Kafka value →
``ProcessDocumentRequest``, kafka_event_controller.py:66-71) and every
egress encodes it (nested ``Notification`` with camelCase aliases,
notification.py:5-29 / sqs_notification.py:31-33). Spark-first:
``from_json`` with an explicit camelCase schema + rename to
snake_case on the way in; ``to_json(struct(...))`` with aliased fields
on the way out (``notification_body_sql``, which the document-ETL
notify stage calls too). Both are built-in expressions (whole-stage
codegen, no Python in the loop).

Oracle note: DuckDB's json serializer and Spark's ``to_json`` agree on
compact separators, but the oracle builds the expected JSON by string
concatenation instead — asserting the exact bytes Spark must produce,
not whatever a second serializer happens to emit (values here contain
no characters needing escapes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sbs_suptech_etl_v2_spark.functions.scalars import sql_quote_literal
from sbs_suptech_etl_v2_spark.io import table
from sbs_suptech_etl_v2_spark.operators.documents import NOTIFICATION_TYPE

# Wire DTO schema — camelCase aliases of DocumentContractState
# (process_document.py:5-12).
REQUEST_SCHEMA = T.StructType(
    [
        T.StructField("recordId", T.StringType()),
        T.StructField("parentId", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("sessionId", T.StringType()),
        T.StructField("documentType", T.StringType()),
        T.StructField("periodMonth", T.StringType()),
        T.StructField("periodYear", T.StringType()),
    ]
)


def notification_body_sql(session: str, record: str, parent: str) -> str:
    """K3/C9 — the JSON message body ``{sessionId, type, data:{recordId,
    parentId}}`` (notification.py:5-29); q35 and the doc_etl notify
    stage. ``struct(... AS name)`` keeps the aliased-struct plan."""
    return (
        f"to_json(struct({session} AS sessionId,"
        f" '{sql_quote_literal(NOTIFICATION_TYPE)}' AS type,"
        f" struct({record} AS recordId, {parent} AS parentId) AS data))"
    )


def notification_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9/F10 — nested Notification encoded with ``to_json``.

    Mirrors ``Notification{id, message:{sessionId, type,
    data:{recordId, parentId}}}`` (notification.py:5-29) minus the
    nondeterministic uuid id (C7 — excluded from checked columns, as in
    q18). Gated on the same stage-success conjunction as the reference
    (workflow_orchestator.py:147-163).
    """
    orders = table(spark, sf_dir, "orders")
    ok = orders.filter(
        (F.col("o_totalprice") > 5000)
        & (F.col("o_orderkey") % 7 != 0)
        & (F.col("o_orderkey") % 11 != 0)
    )
    body = notification_body_sql(
        "concat('session_', o_custkey % 10)",
        "cast(o_orderkey as string)",
        "concat('parent_', o_custkey)",
    )
    return ok.selectExpr("cast(o_orderkey as string) AS recordId", f"{body} AS body")


NOTIFICATION_ENCODE_SQL = f"""
SELECT CAST(o_orderkey AS VARCHAR) AS "recordId",
       '{{"sessionId":"session_' || (o_custkey % 10)
       || '","type":"{NOTIFICATION_TYPE}"'
       || ',"data":{{"recordId":"' || o_orderkey
       || '","parentId":"parent_' || o_custkey || '"}}}}' AS body
FROM orders
WHERE o_totalprice > 5000 AND o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0
"""


def props_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 on real table data — decode the events JSON ``props`` column.

    ``from_json`` under an explicit schema, then a grouped aggregate
    over the extracted field — the decode stays a narrow map; the only
    shuffle is the group key. (q36 covers the synthesized request DTO;
    this one parses the driver table's own JSON.)
    """
    ev = table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json(F.col("props"), "k int").getField("k").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("k").cast("bigint")).alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


PROPS_DECODE_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract(props, '$.k') AS INTEGER)) AS min_k,
       MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k
FROM events
GROUP BY event_type
"""


def notification_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 — uuid() message ids on the notification projection.

    The reference assigns ``str(uuid.uuid4())`` per notification
    (workflow_orchestator.py:154). ``uuid()`` is nondeterministic by
    design, so this query is declared WITHOUT an oracle — the driver
    records the weaker rows-only check; the deterministic payload
    around the id is fully covered by q18/q35.
    """
    orders = table(spark, sf_dir, "orders")
    ok = orders.filter(
        (F.col("o_totalprice") > 5000)
        & (F.col("o_orderkey") % 7 != 0)
        & (F.col("o_orderkey") % 11 != 0)
    )
    return ok.select(
        F.expr("uuid()").alias("message_id"),
        F.col("o_orderkey").cast("string").alias("recordId"),
    )


def notification_ids_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 sibling — content-derived message ids in UUID format.

    The production form (q43) mirrors the reference's ``uuid.uuid4()``
    per notification (workflow_orchestator.py:154) and is inherently
    un-hashable by the oracle. This variant derives the id from the
    notification's identity — md5(recordId:sessionId) formatted as an
    8-4-4-4-12 UUID string — so retries produce the SAME id (an
    idempotency upgrade over uuid4 for an at-least-once sink) and the
    driver can hash-check the full row. Same row set as q43.
    """
    orders = table(spark, sf_dir, "orders")
    ok = orders.filter(
        (F.col("o_totalprice") > 5000)
        & (F.col("o_orderkey") % 7 != 0)
        & (F.col("o_orderkey") % 11 != 0)
    )
    digest = F.md5(
        F.concat_ws(
            ":",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
        )
    )
    # let-binding idiom: materialize the digest once per row —
    # CollapseProject would otherwise inline the md5 into all five
    # substrings (5x the hash work)
    message_id = F.get(
        F.transform(
            F.array(digest),
            lambda h: F.concat_ws(
                "-",
                h.substr(1, 8),
                h.substr(9, 4),
                h.substr(13, 4),
                h.substr(17, 4),
                h.substr(21, 12),
            ),
        ),
        0,
    )
    return ok.select(
        message_id.alias("message_id"),
        F.col("o_orderkey").cast("string").alias("recordId"),
        F.col("o_custkey").cast("string").alias("sessionId"),
    )


NOTIFICATION_IDS_DETERMINISTIC_SQL = """
SELECT concat_ws('-', substr(h, 1, 8), substr(h, 9, 4), substr(h, 13, 4),
                 substr(h, 17, 4), substr(h, 21, 12)) AS message_id,
       recordId, sessionId
FROM (
  SELECT md5(CAST(o_orderkey AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR)) AS h,
         CAST(o_orderkey AS VARCHAR) AS recordId,
         CAST(o_custkey AS VARCHAR) AS sessionId
  FROM orders
  WHERE o_totalprice > 5000 AND o_orderkey % 7 != 0 AND o_orderkey % 11 != 0
)
"""


def request_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 — camelCase JSON request decode + snake_case rename.

    Synthesizes the Kafka value (a ``ProcessDocumentRequest`` JSON,
    kafka_event_controller.py:66-71), parses it with ``from_json`` under
    the explicit camelCase schema, and projects snake_case columns —
    the alias-aware validation step (``model_validate(by_alias=True)``)
    as a schema-enforced parse. NULL-safe: every 17th payload omits
    periodMonth/periodYear → NULL columns after decode.
    """
    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    period = F.when(did % 17 == 0, F.lit("")).otherwise(
        F.concat(
            F.lit(',"periodMonth":"'), (did % 12 + 1).cast("string"),
            F.lit('","periodYear":"'), (did % 6 + 2020).cast("string"), F.lit('"'),
        )
    )
    payload = F.concat(
        F.lit('{"recordId":"rec_'), did.cast("string"),
        F.lit('","parentId":"par_'), (did % 40).cast("string"),
        F.lit('","key":"Polizas/doc_'), did.cast("string"),
        F.lit('.pdf","sessionId":"s'), (did % 10).cast("string"),
        F.lit('","documentType":"'),
        F.when(did % 3 == 0, "POLICY").when(did % 3 == 1, "REGISTRATION").otherwise("APPRAISAL"),
        F.lit('"'),
        period,
        F.lit("}"),
    )
    parsed = docs.select("doc_id", F.from_json(payload, REQUEST_SCHEMA).alias("r"))
    return parsed.select(
        "doc_id",
        F.col("r.recordId").alias("record_id"),
        F.col("r.parentId").alias("parent_id"),
        F.col("r.key").alias("key"),
        F.col("r.sessionId").alias("session_id"),
        F.col("r.documentType").alias("document_type"),
        F.col("r.periodMonth").alias("period_month"),
        F.col("r.periodYear").alias("period_year"),
    )


REQUEST_DECODE_SQL = """
WITH payloads AS (
  SELECT doc_id,
    '{"recordId":"rec_' || doc_id
    || '","parentId":"par_' || (doc_id % 40)
    || '","key":"Polizas/doc_' || doc_id
    || '.pdf","sessionId":"s' || (doc_id % 10)
    || '","documentType":"'
    || CASE doc_id % 3 WHEN 0 THEN 'POLICY' WHEN 1 THEN 'REGISTRATION'
                       ELSE 'APPRAISAL' END || '"'
    || CASE WHEN doc_id % 17 = 0 THEN ''
            ELSE ',"periodMonth":"' || (doc_id % 12 + 1)
                 || '","periodYear":"' || (doc_id % 6 + 2020) || '"' END
    || '}' AS j
  FROM documents
)
SELECT doc_id,
       json_extract_string(j, '$.recordId') AS record_id,
       json_extract_string(j, '$.parentId') AS parent_id,
       json_extract_string(j, '$.key') AS key,
       json_extract_string(j, '$.sessionId') AS session_id,
       json_extract_string(j, '$.documentType') AS document_type,
       json_extract_string(j, '$.periodMonth') AS period_month,
       json_extract_string(j, '$.periodYear') AS period_year
FROM payloads
"""
