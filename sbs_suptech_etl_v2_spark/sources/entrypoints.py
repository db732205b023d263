"""Batch sources — S2 (HTTP entry) and S3 (prefix-listing scan).

- **S2** — the HTTP ``POST /start-etl`` handler validates a list of
  camelCase request DTOs and feeds the same pipeline as Kafka
  (fast_api_controller.py:31-56). Spark-first that is simply
  ``spark.createDataFrame(rows, REQUEST_SCHEMA)`` + snake_case rename:
  no Spark-native HTTP source needed, the web layer stays outside the
  engine.
- **S3** — the poller lists ``bucket/prefix``, skips directory keys,
  keeps ``*.{ext}`` case-insensitively, and parses the
  ``"{Month} {Year}"`` folder into period columns with a positional
  pick option (s3_poller_document.py:14-55). Spark-first: a
  ``binaryFile`` scan with ``pathGlobFilter`` (partition-pruned listing
  at the source, F1/F2 pushed into the scan) + decomposition of the
  scan's ``path`` column (F7) + C2/C3 refinements. Works identically over
  ``s3a://bucket/prefix`` and local paths.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sbs_suptech_etl_v2_spark.functions.scalars import refine_period_sql, sql_quote_literal
from sbs_suptech_etl_v2_spark.operators.jsonops import REQUEST_SCHEMA
from sbs_suptech_etl_v2_spark.streaming.ingress import SNAKE_CASE


def requests_dataframe(
    spark: SparkSession, payloads: Sequence[Mapping[str, Any]]
) -> DataFrame:
    """S2 — batch-entry DataFrame from validated request payloads.

    ``payloads`` are camelCase dicts (the wire DTO); schema enforcement
    by ``createDataFrame`` replaces pydantic ``model_validate`` —
    unknown keys are dropped, missing keys become NULL.
    """
    rows = [tuple(p.get(f.name) for f in REQUEST_SCHEMA.fields) for p in payloads]
    df = spark.createDataFrame(rows, REQUEST_SCHEMA)
    return df.select(
        *[F.col(camel).alias(snake) for camel, snake in SNAKE_CASE.items()]
    )


def listing_scan(
    spark: SparkSession,
    root: str,
    prefix: str,
    extension: str = "pdf",
    position: int | None = None,
) -> DataFrame:
    """S3 — prefix-listing document scan with path decomposition.

    ``binaryFile`` lists ``{root}/{prefix}`` recursively with the
    extension filter pushed into the listing (``pathGlobFilter`` —
    F2 at the source, cheaper than a post-scan filter); directory
    keys never appear (F1 is structural in a file listing). The
    relative path decomposes as ``{prefix}/{Month Year}/{basename}``
    → ``period_month``/``period_year`` in one SQL-text projection over
    q15's ``refine_period_sql`` (NULL on parse failure or directly under
    the prefix, s3_poller_document.py:29-41; ``prefix`` is quoted by
    ``sql_quote_literal``). ``position`` reproduces F9:
    a deterministic key-ordered positional pick via global sort+limit
    (TakeOrderedAndProject — parallel, no single-partition window).

    On AWS, ``root`` is ``s3a://bucket`` — the same plan runs
    unchanged; binary content rides along as ``content`` for the
    extractor port (the multimodal column of SURVEY §2.11 [EXT-3]).
    """
    # case-insensitive extension match, like the reference's
    # key.lower().endswith (s3_poller_document.py:27): pathGlobFilter
    # is case-sensitive, so build a per-letter case-class glob
    # ("*.[pP][dD][fF]") — '.PDF' keys must not be silently dropped
    glob = "*." + "".join(
        f"[{c.lower()}{c.upper()}]" if c.isalpha() else c for c in extension
    )
    scan = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(f"{root}/{prefix}")
    )
    # binaryFile's own ``path`` column is the listed path as written
    # ("Mayo 2023/a+b.pdf"); input_file_name() is URL-encoded, and
    # url_decode turns its '+' into a space
    key = "regexp_replace(path, '^file:/*|^s3a://', '')"
    quoted = sql_quote_literal(prefix)
    rel = f"substring_index({key}, '/{quoted}/', -1)"
    parts = f"split({rel}, '/')"
    period_month, period_year = refine_period_sql(
        f"CASE WHEN size({parts}) >= 2 THEN get({parts}, size({parts}) - 2) END"
    )
    listed = scan.selectExpr(
        f"{rel} AS key",
        f"'{quoted}' AS prefix",
        f"get({parts}, size({parts}) - 1) AS basename",
        f"{period_month} AS period_month",
        f"{period_year} AS period_year",
        "length AS content_length",
        "content",
    )
    if position is not None:
        picked = listed.orderBy("key").limit(position + 1).orderBy(F.col("key").desc()).limit(1)
        return picked
    return listed.orderBy("key")
