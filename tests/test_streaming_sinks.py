"""Integration tests: streaming ingress, sinks, batch sources.

Covers S1 (file-source micro-batch stand-in), S2 (createDataFrame
entry), S3 (binaryFile listing scan), K1 (per-row text sink), K2
(metadata MERGE idempotence), K3 (chunk-by-10 notification writer),
K4 (full-row overwrite) — the non-oracle operator surface, checked by
direct assertion (SURVEY §5 golden-output strategy).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sbs_suptech_etl_v2_spark.sinks.writers import (
    NotificationBatchWriter,
    merge_metadata,
    overwrite_rows,
    stage_text_artifacts,
    write_text_artifacts,
)
from sbs_suptech_etl_v2_spark.sources.entrypoints import listing_scan, requests_dataframe
from sbs_suptech_etl_v2_spark.streaming.ingress import (
    file_request_stream,
    foreach_batch_pipeline,
    stop_quietly,
)


def _request(i: int) -> dict:
    return {
        "recordId": f"rec_{i}",
        "parentId": f"par_{i % 3}",
        "key": f"Polizas/Mayo 2023/doc_{i}.pdf",
        "sessionId": "s1",
        "documentType": ["POLICY", "REGISTRATION", "APPRAISAL"][i % 3],
        "periodMonth": "5",
        "periodYear": "2023",
    }


def test_file_stream_foreach_batch_into_batch_pipeline(spark, tmp_path):
    """S1/§2.10 — requests stream through foreachBatch into the batch
    engine with checkpointing; availableNow drains and stops."""
    in_dir = tmp_path / "in"
    out_dir = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    in_dir.mkdir()
    for part in range(3):  # 3 files -> multiple micro-batch candidates
        with open(in_dir / f"batch_{part}.json", "w") as fh:
            for i in range(part * 5, part * 5 + 5):
                fh.write(json.dumps(_request(i)) + "\n")

    def batch_fn(df, batch_id):
        # the batch engine: per-type routing (G1) + count, appended to a lake dir
        (
            df.groupBy("document_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .write.mode("append")
            .parquet(str(out_dir))
        )

    stream = file_request_stream(spark, str(in_dir), max_files_per_trigger=1)
    q = foreach_batch_pipeline(stream, batch_fn, str(ckpt))
    stop_quietly(q)

    got = spark.read.parquet(str(out_dir)).groupBy("document_type").agg(
        F.sum("n").alias("n")
    )
    assert {(r["document_type"], r["n"]) for r in got.collect()} == {
        ("POLICY", 5),
        ("REGISTRATION", 5),
        ("APPRAISAL", 5),
    }
    # checkpoint exists -> restart would resume, not reprocess
    assert os.path.isdir(str(ckpt))


def test_requests_dataframe_schema_and_rename(spark):
    df = requests_dataframe(spark, [_request(1), {"recordId": "only"}])
    assert df.columns == [
        "record_id", "parent_id", "key", "session_id",
        "document_type", "period_month", "period_year",
    ]
    rows = {r["record_id"]: r for r in df.collect()}
    assert rows["rec_1"]["document_type"] == "REGISTRATION"
    assert rows["only"]["parent_id"] is None  # missing -> NULL


def test_listing_scan_filters_and_period_parse(spark, tmp_path):
    root = tmp_path / "bucket"
    good = root / "Polizas" / "Mayo 2023"
    bad = root / "Polizas" / "badfolder"
    good.mkdir(parents=True)
    bad.mkdir(parents=True)
    (good / "a.pdf").write_bytes(b"%PDF-1.4 fake")
    (good / "B.PDF").write_bytes(b"%PDF-1.4 fake2")
    (good / "skip.docx").write_bytes(b"nope")
    (bad / "c.pdf").write_bytes(b"%PDF-1.4 fake3")

    df = listing_scan(spark, str(root), "Polizas", extension="pdf")
    rows = {r["basename"]: r for r in df.collect()}
    # extension filter is case-insensitive like the reference's
    # key.lower().endswith — '.PDF' keys must survive the glob
    assert "a.pdf" in rows and "c.pdf" in rows
    assert "B.PDF" in rows
    assert "skip.docx" not in rows
    assert rows["a.pdf"]["period_month"] == "5"
    assert rows["a.pdf"]["period_year"] == "2023"
    assert rows["c.pdf"]["period_month"] is None  # unparseable folder
    assert rows["a.pdf"]["content_length"] == 13

    picked = listing_scan(spark, str(root), "Polizas", position=0).collect()
    assert len(picked) == 1
    # key-ordered positional pick; 'B' < 'a' in byte order, and the
    # case-insensitive glob now lists B.PDF
    assert picked[0]["basename"] == "B.PDF"


def test_listing_scan_quoted_prefix_and_file_under_prefix(spark, tmp_path):
    """The prefix enters the listing's SQL text as a quoted literal: a
    prefix holding a ``'`` must still parse, split the key and come back
    verbatim. A file directly under the prefix has no period folder, so
    it is listed with NULL periods."""
    prefix = "Pólizas d'Or"
    folder = tmp_path / "bucket" / prefix
    (folder / "Junio 2024").mkdir(parents=True)
    (folder / "top.pdf").write_bytes(b"%PDF-1.4 top")
    (folder / "Junio 2024" / "inner.pdf").write_bytes(b"%PDF-1.4 inner")

    rows = {
        r["key"]: r for r in listing_scan(spark, str(tmp_path / "bucket"), prefix).collect()
    }
    assert sorted(rows) == ["Junio 2024/inner.pdf", "top.pdf"]
    top, inner = rows["top.pdf"], rows["Junio 2024/inner.pdf"]
    assert (top["prefix"], top["basename"]) == (prefix, "top.pdf")
    assert (top["period_month"], top["period_year"]) == (None, None)
    assert (inner["basename"], inner["period_month"], inner["period_year"]) == (
        "inner.pdf", "6", "2024",
    )


def test_listing_scan_keeps_plus_and_percent_in_names(spark, tmp_path):
    """Keys are the listed paths as written: a '+' is not a URL-encoded
    space, and a literal '%20' is not decoded either."""
    folder = tmp_path / "bucket" / "Polizas" / "Mayo 2023"
    folder.mkdir(parents=True)
    (folder / "a+b.pdf").write_bytes(b"%PDF-1.4 plus")
    (folder / "c%20d.pdf").write_bytes(b"%PDF-1.4 percent")

    rows = {r["key"]: r for r in listing_scan(spark, str(tmp_path / "bucket"), "Polizas").collect()}
    assert sorted(rows) == ["Mayo 2023/a+b.pdf", "Mayo 2023/c%20d.pdf"]
    assert rows["Mayo 2023/a+b.pdf"]["basename"] == "a+b.pdf"
    assert rows["Mayo 2023/c%20d.pdf"]["basename"] == "c%20d.pdf"
    assert (rows["Mayo 2023/a+b.pdf"]["period_month"], rows["Mayo 2023/a+b.pdf"]["period_year"]) == (
        "5", "2023",
    )


def test_write_text_artifacts_one_file_per_row(spark, tmp_path):
    df = spark.createDataFrame(
        [("r1", "hola"), ("r2", "mundo"), ("r3", None)],
        "record_id string, content string",
    )
    staged = stage_text_artifacts(df, "record_id", "content")
    assert staged.columns == ["record_id", "s3_key", "content"]
    assert staged.filter(F.col("s3_key") == "txt/r1.txt").count() == 1
    write_text_artifacts(staged, str(tmp_path))
    txt = tmp_path / "txt"
    assert sorted(p.name for p in txt.iterdir()) == ["r1.txt", "r2.txt", "r3.txt"]
    assert (txt / "r1.txt").read_text() == "hola"
    assert (txt / "r3.txt").read_text() == ""


@pytest.mark.parametrize(
    ("record_id", "shown"), [("../escape", "'../escape'"), (None, "None")]
)
def test_write_text_artifacts_rejects_unsafe_record_ids(spark, tmp_path, record_id, shown):
    """An id that cannot name a file inside txt/ fails the write, naming
    the id, instead of escaping the sink (``../x``) or writing
    ``None.txt`` for a NULL id."""
    out = tmp_path / "out"
    df = spark.createDataFrame([(record_id, "x")], "record_id string, content string")
    with pytest.raises(Exception, match=f"ValueError: record_id {shown}"):
        write_text_artifacts(stage_text_artifacts(df, "record_id", "content").coalesce(1), str(out))
    assert sorted(p.name for p in tmp_path.rglob("*") if p.is_file()) == []


def test_merge_metadata_new_wins_and_idempotent(spark, tmp_path):
    path = str(tmp_path / "meta")
    first = spark.createDataFrame(
        [("r1", {"a": "1", "b": "old"}), ("r2", {"x": "9"})],
        "record_id string, metadata map<string,string>",
    )
    merge_metadata(spark, path, first)
    update = spark.createDataFrame(
        [("r1", {"b": "new", "c": "3"}), ("r3", {"z": "0"})],
        "record_id string, metadata map<string,string>",
    )
    merge_metadata(spark, path, update)
    got = {
        r["record_id"]: dict(r["metadata"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        "r1": {"a": "1", "b": "new", "c": "3"},  # dict.update: new wins
        "r2": {"x": "9"},
        "r3": {"z": "0"},
    }
    # idempotence: re-applying the same update converges (at-least-once safe)
    merge_metadata(spark, path, update)
    again = {
        r["record_id"]: dict(r["metadata"])
        for r in spark.read.parquet(path).collect()
    }
    assert again == got


def test_overwrite_rows_put_item_semantics(spark, tmp_path):
    path = str(tmp_path / "items")
    base = spark.createDataFrame(
        [("r1", "v1", "keep1"), ("r2", "v2", "keep2")],
        "record_id string, val string, extra string",
    )
    overwrite_rows(spark, path, base)
    repl = spark.createDataFrame(
        [("r2", "v2-new", None), ("r9", "fresh", "e9")],
        "record_id string, val string, extra string",
    )
    overwrite_rows(spark, path, repl)
    got = {r["record_id"]: (r["val"], r["extra"]) for r in spark.read.parquet(path).collect()}
    # r2 replaced wholesale (extra NOT merged -> None), r1 untouched, r9 inserted
    assert got == {"r1": ("v1", "keep1"), "r2": ("v2-new", None), "r9": ("fresh", "e9")}


def test_notification_writer_chunks_by_ten(spark):
    df = spark.createDataFrame(
        [(f"id_{i}", f'{{"n":{i}}}') for i in range(23)], "recordId string, body string"
    )
    writer = NotificationBatchWriter()
    writer(df.coalesce(1), batch_id=0)
    sizes = sorted(len(b) for b in writer.sent_batches)
    assert sizes == [3, 10, 10]  # single partition -> exact 10/10/3 split
    sent_ids = [e["Id"] for batch in writer.sent_batches for e in batch]
    assert sorted(sent_ids) == sorted(f"id_{i}" for i in range(23))
    assert all(
        e["MessageBody"].startswith('{"n":') for b in writer.sent_batches for e in b
    )


def test_notification_writer_sends_from_executors(spark, tmp_path):
    """Chunks must be sent from executor workers — never a driver collect.

    A partition-local recorder stamps each chunk with the sending
    process's PID; in local mode Python workers are separate processes,
    so every send PID must differ from the driver's.
    """
    import json as _json
    import os as _os

    spool = str(tmp_path / "spool")
    _os.makedirs(spool)

    def factory():
        def send(chunk):
            pid = _os.getpid()
            with open(_os.path.join(spool, f"{pid}_{id(chunk)}.json"), "w") as fh:
                fh.write(_json.dumps({"pid": pid, "n": len(chunk)}))

        return send

    df = spark.createDataFrame(
        [(f"id_{i}", "{}") for i in range(37)], "recordId string, body string"
    ).repartition(4)
    writer = NotificationBatchWriter(client_factory=factory)
    writer(df, batch_id=0)
    records = [
        _json.loads(open(_os.path.join(spool, f)).read()) for f in _os.listdir(spool)
    ]
    assert sum(r["n"] for r in records) == 37
    assert all(r["n"] <= 10 for r in records)
    assert all(r["pid"] != _os.getpid() for r in records)  # executor-side only


def test_kafka_request_stream_schema_when_connector_present(spark):
    """Optional Kafka-connector smoke: the kafka source's fixed schema
    resolves without contacting a broker, so when the spark-sql-kafka
    jar is on the classpath this asserts our decode projection wires up;
    without the jar (this sandbox has no network to fetch it) it skips
    rather than fails. To run it for real, start the session with
    ``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark
    version>`` (or drop the jar plus its kafka-clients/commons-pool2
    deps into ``$SPARK_HOME/jars``) — the connector version must match
    the installed pyspark."""
    from sbs_suptech_etl_v2_spark.streaming.ingress import kafka_request_stream

    try:
        stream = kafka_request_stream(spark, "localhost:9092", "requests")
    except Exception as exc:  # connector jar absent
        pytest.skip(f"kafka connector unavailable: {type(exc).__name__}")
    assert stream.isStreaming
    assert set(stream.columns) == {
        "record_id",
        "parent_id",
        "key",
        "session_id",
        "document_type",
        "period_month",
        "period_year",
    }


def test_idempotent_batch_sink_skips_replayed_epochs(spark, tmp_path):
    from sbs_suptech_etl_v2_spark.sinks.writers import IdempotentBatchSink

    calls = []

    def inner(batch_df, batch_id):
        calls.append((batch_id, batch_df.count()))

    sink = IdempotentBatchSink(inner, str(tmp_path / "ledger"))
    df = spark.range(3)
    sink(df, 0)
    sink(df, 0)  # post-restart replay of the same epoch
    sink(df, 1)
    assert calls == [(0, 3), (1, 3)]


def test_idempotent_batch_sink_failed_epoch_replays(spark, tmp_path):
    from sbs_suptech_etl_v2_spark.sinks.writers import IdempotentBatchSink

    attempts = []

    def flaky(batch_df, batch_id):
        attempts.append(batch_id)
        if len(attempts) == 1:
            raise RuntimeError("sink outage")

    sink = IdempotentBatchSink(flaky, str(tmp_path / "ledger"))
    df = spark.range(1)
    with pytest.raises(RuntimeError):
        sink(df, 7)
    sink(df, 7)  # replay after failure must re-run, then commit
    sink(df, 7)  # committed now — skipped
    assert attempts == [7, 7]


def test_idempotent_batch_sink_rejects_half_injection(spark, tmp_path):
    from sbs_suptech_etl_v2_spark.sinks.writers import IdempotentBatchSink

    with pytest.raises(ValueError, match="together"):
        IdempotentBatchSink(lambda df, b: None, str(tmp_path), exists=lambda b: False)
