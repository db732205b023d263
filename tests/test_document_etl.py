"""Golden end-to-end test of the composed document-ETL plan.

Twelve requests across the three domains plus one empty payload run
the full Extract→Transform→Load→Notify composition against
deterministic fixture contents; assertions cover routing, the [B]
content split, extracted fields in the merged metadata, per-row
artifacts, chunked notifications, a re-delivery merge and the batch's
Spark job count, on the fixture frame and on the same payloads read
through the listing scan (SURVEY §5 golden-output strategy).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import functions as F

from sbs_suptech_etl_v2_spark.operators.extraction import extract_structured
from sbs_suptech_etl_v2_spark.plans.document_etl import run_document_etl
from sbs_suptech_etl_v2_spark.profile import counted
from sbs_suptech_etl_v2_spark.sinks.writers import NotificationBatchWriter
from sbs_suptech_etl_v2_spark.sources.entrypoints import listing_scan

FLOW_FIELDS = {
    "polizas": {"policy_number", "policy_name", "policy_start_date", "policy_end_date"},
    "tasaciones": {
        "expert_warranty_name", "tasacion_date", "commercial_value",
        "realization_value", "tasacion_owner",
    },
    "inscripciones": {"inscription_number", "legal_name", "inscription_date"},
}
# Spark jobs of one run_document_etl call into a fresh lake (local[4]):
# the port pass and its cache, one K1 write, one K2 merge, one notify
# and the result checkpoint. The golden fixture's input is already
# 4-wide, so the round-robin exchange io.spread adds before the port is
# its cost over the minimum; the listing-scan batch (three unioned
# sorted scans) pays its sorts once, inside the port pass.
BATCH_JOBS = 8
LISTING_BATCH_JOBS = 14


def _polizas_text(i: int) -> str:
    return (
        f"POLIZA DE SEGURO POL-{i} | Asegurado: CLIENTE {i} | "
        f"Vigencia desde el 01/03/2021 hasta el 01/03/2022"
    )


def _tasaciones_text(i: int) -> str:
    return (
        f"INFORME DE TASACION | Perito: ING {i} | Fecha de tasacion: 05/02/2019 | "
        f"Valor comercial: S/ 250000 | Valor de realizacion: S/ 225000 | "
        f"Propietario: SOC {i}"
    )


def _inscripciones_text(i: int) -> str:
    return (
        f"Partida N {1000 + i} presentado el 06/12/2021 a favor de BANCO {i}"
    )


_SCHEMA = (
    "record_id string, parent_id string, key string, session_id string, "
    "document_type string, period_month string, period_year string, "
    "content binary"
)


_TEXTS = {
    "POLICY": _polizas_text,
    "DEFAULT": _polizas_text,  # fall-through to pólizas
    "REGISTRATION": _inscripciones_text,
    "APPRAISAL": _tasaciones_text,
}
# listing prefix of each document type (DEFAULT lands with the pólizas)
_PREFIXES = {
    "POLICY": "Polizas",
    "DEFAULT": "Polizas",
    "REGISTRATION": "Inscripciones",
    "APPRAISAL": "Tasaciones",
}


def _routable():
    """(index, document_type, payload) of the twelve routable requests."""
    for i in range(12):
        dtype = ["POLICY", "REGISTRATION", "APPRAISAL", "DEFAULT"][i % 4]
        yield i, dtype, _TEXTS[dtype](i).encode("utf-8")


def _requests(spark):
    """Twelve routable requests, then ``rec_empty``: an APPRAISAL with an
    empty payload, which fails extraction."""
    rows = [
        (f"rec_{i}", f"par_{i % 3}", f"Polizas/Mayo 2023/doc_{i}.pdf",
         f"s{i % 2}", dtype, "Mayo", "2023", payload)
        for i, dtype, payload in _routable()
    ]
    rows.append(("rec_empty", "par_0", "k", "s0", "APPRAISAL", "Mayo", "2023", b""))
    return spark.createDataFrame(rows, _SCHEMA)


def _listed_requests(spark, root):
    """The twelve routable payloads written as
    ``{prefix}/Mayo 2023/rec_{i}.pdf`` and read back through one
    ``listing_scan`` per prefix, unioned — the benchmark's batch shape."""
    for i, dtype, payload in _routable():
        folder = root / _PREFIXES[dtype] / "Mayo 2023"
        folder.mkdir(parents=True, exist_ok=True)
        (folder / f"rec_{i}.pdf").write_bytes(payload)
    frames = []
    for prefix, dtype in (
        ("Polizas", "POLICY"), ("Tasaciones", "APPRAISAL"), ("Inscripciones", "REGISTRATION"),
    ):
        folder = F.split(F.split(F.col("key"), "/").getItem(0), " ")
        frames.append(
            listing_scan(spark, str(root), prefix).select(
                F.regexp_extract("basename", r"^(.*)\.pdf$", 1).alias("record_id"),
                F.lit("par").alias("parent_id"),
                "key",
                F.lit("s").alias("session_id"),
                F.lit(dtype).alias("document_type"),
                folder.getItem(0).alias("period_month"),
                folder.getItem(1).alias("period_year"),
                "content",
            )
        )
    return frames[0].unionByName(frames[1]).unionByName(frames[2])


def _counting_factory(calls_dir):
    """A port factory whose transformer drops one uniquely-named marker
    file in ``calls_dir`` per port call, from the executor."""

    def factory():
        from sbs_suptech_etl_v2_spark.ports.transformer import FakeTransformer

        class CountingTransformer(FakeTransformer):
            def _mark(self):
                with open(os.path.join(calls_dir, uuid.uuid4().hex), "w") as fh:
                    fh.write("1")

            def llm_caller_polizas(self, content):
                self._mark()
                return super().llm_caller_polizas(content)

            def llm_caller_inscripciones(self, content):
                self._mark()
                return super().llm_caller_inscripciones(content)

            def llm_caller_tasaciones(self, content):
                self._mark()
                return super().llm_caller_tasaciones(content)

        return CountingTransformer()

    return factory


def test_full_document_etl_plan(spark, tmp_path):
    lake = str(tmp_path / "lake")
    notifier = NotificationBatchWriter()
    results = run_document_etl(spark, _requests(spark), lake, notifier)
    rows = {r["record_id"]: r for r in results.collect()}

    # routing: REGISTRATION -> inscripciones, APPRAISAL -> tasaciones,
    # POLICY and DEFAULT both fall through to pólizas
    assert rows["rec_0"]["flow"] == "polizas"
    assert rows["rec_3"]["flow"] == "polizas"  # DEFAULT fall-through
    assert rows["rec_1"]["flow"] == "inscripciones"
    assert rows["rec_2"]["flow"] == "tasaciones"
    assert len(rows) == 13
    assert all(r["success"] for k, r in rows.items() if k != "rec_empty")
    # the failed extract keeps its routed flow and reports success=False
    assert rows["rec_empty"]["flow"] == "tasaciones"
    assert rows["rec_empty"]["success"] is False

    # K1 artifacts: one txt per document, none for the failed extract
    txt = tmp_path / "lake" / "txt"
    assert sorted(p.name for p in txt.iterdir()) == sorted(
        f"rec_{i}.txt" for i in range(12)
    )
    assert "POLIZA DE SEGURO POL-0" in (txt / "rec_0.txt").read_text()

    # K2 metadata: extracted fields + refined periods, all strings
    meta = {
        r["record_id"]: dict(r["metadata"])
        for r in spark.read.parquet(f"{lake}/metadata").collect()
    }
    assert meta["rec_0"]["policy_number"] == "POL-0"
    assert meta["rec_0"]["policy_name"] == "CLIENTE 0"
    assert meta["rec_0"]["period_month"] == "5"  # C2: Mayo -> "5"
    assert meta["rec_0"]["period_year"] == "2023"
    assert meta["rec_2"]["commercial_value"] == "250000"
    assert meta["rec_1"]["inscription_number"] == "1001"
    assert meta["rec_1"]["inscription_date"] == "06/12/2021"
    # each map holds its own flow's fields and no other flow's keys
    assert sorted(meta) == sorted(f"rec_{i}" for i in range(12))
    for rid, m in meta.items():
        want = {"document_type", "period_month", "period_year"} | FLOW_FIELDS[rows[rid]["flow"]]
        assert set(m) == want, rid

    # K3 notifications: 12 successes, every chunk ≤10 (per-partition
    # chunking — executors send independently), nested JSON body
    sent = [e for b in notifier.sent_batches for e in b]
    assert len(sent) == 12
    assert all(len(b) <= 10 for b in notifier.sent_batches)
    assert sorted(e["Id"] for e in sent) == sorted(f"rec_{i}" for i in range(12))
    body = json.loads(notifier.sent_batches[0][0]["MessageBody"])
    assert body["type"].startswith("regulatory-compliance")
    assert set(body["data"]) == {"recordId", "parentId"}


def test_redelivery_merges_new_wins(spark, tmp_path):
    """A second batch into the same lake re-delivers two records with
    changed text: changed fields take the new value, fields the new text
    lacks keep the old one, untouched records stay as they were."""
    lake = str(tmp_path / "lake")
    run_document_etl(spark, _requests(spark), lake, NotificationBatchWriter())
    before = {
        r["record_id"]: dict(r["metadata"])
        for r in spark.read.parquet(f"{lake}/metadata").collect()
    }
    again = spark.createDataFrame(
        [
            # pólizas without the holder section: policy_name is NULL
            ("rec_0", "par_0", "k", "s0", "POLICY", "Junio", "2023",
             b"POLIZA DE SEGURO POL-500 | Vigencia desde el 01/04/2024 hasta el 01/04/2025"),
            # tasaciones with a new value and no owner
            ("rec_2", "par_2", "k", "s0", "APPRAISAL", "Mayo", "2023",
             b"INFORME DE TASACION | Perito: ING 2 | Fecha de tasacion: 05/02/2019 | "
             b"Valor comercial: S/ 300000 | Valor de realizacion: S/ 225000"),
        ],
        _SCHEMA,
    )
    notifier = NotificationBatchWriter()
    results = run_document_etl(spark, again, lake, notifier)
    assert sorted((r["record_id"], r["success"]) for r in results.collect()) == [
        ("rec_0", True), ("rec_2", True),
    ]
    meta = {
        r["record_id"]: dict(r["metadata"])
        for r in spark.read.parquet(f"{lake}/metadata").collect()
    }
    assert meta["rec_0"] == {
        **before["rec_0"],
        "policy_number": "POL-500",
        "policy_start_date": "01/04/2024",
        "policy_end_date": "01/04/2025",
        "period_month": "6",
    }
    assert meta["rec_0"]["policy_name"] == "CLIENTE 0"  # kept: new text lacks it
    assert meta["rec_2"] == {**before["rec_2"], "commercial_value": "300000"}
    assert meta["rec_2"]["tasacion_owner"] == "SOC 2"
    assert {k: v for k, v in meta.items() if k not in ("rec_0", "rec_2")} == {
        k: v for k, v in before.items() if k not in ("rec_0", "rec_2")
    }
    assert "POL-500" in (tmp_path / "lake" / "txt" / "rec_0.txt").read_text()
    assert sorted(e["Id"] for b in notifier.sent_batches for e in b) == ["rec_0", "rec_2"]


def test_batch_job_count_is_pinned(spark, tmp_path):
    """One routed port pass and one K1/K2/K3 action each: the batch's
    job count is deterministic, so a plan change that adds an action
    (or re-runs the port) moves it."""
    requests, lake = _requests(spark), str(tmp_path / "lake")
    _, live = counted(
        spark, lambda: run_document_etl(spark, requests, lake, NotificationBatchWriter())
    )
    assert live == BATCH_JOBS, (
        f"run_document_etl on the golden fixture: pinned {BATCH_JOBS} jobs, live {live}"
    )


def test_listing_batch_job_count_is_pinned(spark, tmp_path):
    """The same pin on the listing-scan batch shape: the listing's sorts
    run inside the port pass only, with no second branch and no
    partition-count probe re-running them. The batch must still route
    by prefix and load every request."""
    requests = _listed_requests(spark, tmp_path / "requests")
    lake = str(tmp_path / "lake")
    results, live = counted(
        spark, lambda: run_document_etl(spark, requests, lake, NotificationBatchWriter())
    )
    assert live == LISTING_BATCH_JOBS, (
        f"run_document_etl on the listing batch: pinned {LISTING_BATCH_JOBS} jobs, live {live}"
    )
    flows = {"Polizas": "polizas", "Tasaciones": "tasaciones", "Inscripciones": "inscripciones"}
    assert sorted((r["record_id"], r["flow"], r["success"]) for r in results.collect()) == sorted(
        (f"rec_{i}", flows[_PREFIXES[dtype]], True) for i, dtype, _ in _routable()
    )
    meta = {
        r["record_id"]: dict(r["metadata"])
        for r in spark.read.parquet(str(tmp_path / "lake" / "metadata")).collect()
    }
    assert meta["rec_1"]["inscription_number"] == "1001"
    assert meta["rec_3"]["policy_number"] == "POL-3"  # DEFAULT under Polizas/
    assert meta["rec_0"]["period_month"] == "5"


def test_port_executes_once_per_request(spark, tmp_path):
    """The LLM port must run exactly once per request across the whole
    composed plan (K1 write + K2 merge + notify + caller actions).

    Guards against the reference's double-execution bug [B]
    (workflow_orchestator.py:82-83): before the persist() fix the three
    actions re-ran the mapInPandas port ~3x per flow. Each port call
    drops a uniquely-named marker file from the executor; the total
    must equal the request count.
    """
    calls_dir = str(tmp_path / "calls")
    os.makedirs(calls_dir)
    results = run_document_etl(
        spark,
        _requests(spark),
        str(tmp_path / "lake"),
        NotificationBatchWriter(),
        port_factory=_counting_factory(calls_dir),
    )
    # two extra caller-side actions on the returned frame: still no re-run
    assert results.count() == 13
    assert len(results.collect()) == 13
    # exactly one port call per non-empty request; the empty one never
    # reaches the port
    assert len(os.listdir(calls_dir)) == 12


def test_null_method_row_makes_no_port_call(spark, tmp_path):
    """A row whose port method is NULL passes through the extraction
    pass with its key columns, NULL fields and no port call (F4)."""
    calls_dir = str(tmp_path / "calls")
    os.makedirs(calls_dir)
    docs = spark.createDataFrame(
        [
            (1, "llm_caller_polizas", _polizas_text(1)),
            (2, None, _polizas_text(2)),
            (3, "llm_caller_tasaciones", _tasaciones_text(3)),
        ],
        "doc_id bigint, method string, content string",
    )
    out = extract_structured(
        docs,
        F.col("method"),
        "doc_id bigint, method string, policy_number string, commercial_value string",
        key_cols=("doc_id", "method"),
        port_factory=_counting_factory(calls_dir),
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "llm_caller_polizas", "POL-1", None),
        (2, None, None, None),
        (3, "llm_caller_tasaciones", None, "250000"),
    ]
    assert len(os.listdir(calls_dir)) == 2


def test_throttled_port_call_is_not_retried_by_the_operator(spark, tmp_path):
    """The A10 throttling retry belongs to the port (``ProductionTransformer``
    wraps its own calls); the extraction operator calls each row's
    port method once. A port that throttles forever and does not retry
    must therefore run exactly once for the row, and the batch fails —
    a retry stacked in the operator would call it 6 times and back off
    for ~31 s first."""
    import pytest

    calls_dir = str(tmp_path / "calls")
    os.makedirs(calls_dir)

    def factory():
        from sbs_suptech_etl_v2_spark.ports.transformer import ThrottlingError

        class ThrottledTransformer:
            def llm_caller_polizas(self, content):
                with open(os.path.join(calls_dir, uuid.uuid4().hex), "w") as fh:
                    fh.write("1")
                raise ThrottlingError("throttled")

        return ThrottledTransformer()

    request = spark.createDataFrame(
        [("rec_t", "p", "k", "s", "POLICY", "Mayo", "2023", _polizas_text(1).encode())],
        _SCHEMA,
    )
    with pytest.raises(Exception, match="ThrottlingError"):
        run_document_etl(
            spark, request, str(tmp_path / "lake"), NotificationBatchWriter(),
            port_factory=factory,
        )
    assert len(os.listdir(calls_dir)) == 1


def test_failed_extract_produces_no_notification(spark, tmp_path):
    empty_content = spark.createDataFrame(
        [("rec_x", "p", "k", "s", "POLICY", "Mayo", "2023", b"")], _SCHEMA
    )
    notifier = NotificationBatchWriter()
    results = run_document_etl(spark, empty_content, str(tmp_path / "lake"), notifier)
    rows = results.collect()
    assert len(rows) == 1 and rows[0]["success"] is False
    assert notifier.sent_batches == []  # A11 gate held
