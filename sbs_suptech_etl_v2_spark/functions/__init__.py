"""Expression layer: the scalar SQL-text builders of SURVEY §2.8
(``scalars`` — one form each, called by its registry query and by the
document-ETL pipeline) and the salted skew helpers. All built-in Spark
expressions — JVM-side, whole-stage-codegen'd, no Python UDFs."""

from sbs_suptech_etl_v2_spark.functions.skew import (  # noqa: F401
    salted_agg,
    salted_join,
)
