"""[EXT-3] multimodal plumbing tests: table layout, binary schema,
decode fan-out shape, production-stub gating."""

from __future__ import annotations

import pytest

from sbs_suptech_etl_v2_spark.io import table
from sbs_suptech_etl_v2_spark.operators.multimodal import (
    FRAME_BYTES,
    build_multimodal,
    decode_image_production,
    frame_sample,
    image_features,
)


def test_multimodal_table_layout(spark, sf_dir):
    mm = build_multimodal(table(spark, sf_dir, "documents"))
    dt = dict(mm.dtypes)
    assert dt["image"] == "binary"
    assert dt["video"] == "binary"
    assert dt["image_meta"] == "struct<width:int,height:int,format:string>"
    row = mm.orderBy("doc_id").first()
    assert bytes(row["image"]).startswith(b"IMG:")
    assert row["image_meta"]["width"] == row["doc_id"] % 640 + 16


def test_image_features_parse_header_bytes(spark, sf_dir):
    feats = {r["doc_id"]: r for r in image_features(spark, sf_dir).collect()}
    docs = {r["doc_id"]: r for r in table(spark, sf_dir, "documents").collect()}
    assert set(feats) == set(docs)
    any_id = next(iter(feats))
    assert feats[any_id]["width"] == any_id % 640 + 16
    assert feats[any_id]["height"] == any_id % 480 + 16
    assert len(feats[any_id]["sha256"]) == 64


def test_frame_sample_fanout_shape(spark, sf_dir):
    frames = frame_sample(spark, sf_dir)
    rows = frames.collect()
    assert frames.columns == ["doc_id", "frame_no", "frame_md5"]
    # every kept frame_no is odd (stride 2 over 1-based positions)
    assert all(r["frame_no"] % 2 == 1 for r in rows)
    docs = {r["doc_id"]: r["text"] for r in table(spark, sf_dir, "documents").collect()}
    by_doc: dict[int, int] = {}
    for r in rows:
        by_doc[r["doc_id"]] = by_doc.get(r["doc_id"], 0) + 1
    for doc_id, n in by_doc.items():
        total = -(-len(docs[doc_id].encode()) // FRAME_BYTES)
        assert n == -(-total // 2)  # ceil(total / stride)


def test_production_decode_is_gated():
    with pytest.raises(NotImplementedError):
        decode_image_production(b"IMG:4x4:xxxx")


def test_null_payload_rows_match_oracle(spark, tmp_path, sf_dir):
    """Round-9 ADVICE pin: q38/q55 oracles now CASE-guard width/height
    on NULL text, so a NULL image payload produces identical rows on
    both engines (previously the oracle re-derived non-NULL dimensions
    from doc_id and a robustness fixture would have failed parity)."""
    import pyarrow.parquet as pq

    from sbs_suptech_etl_v2_spark.registry import ORACLE, QUERIES
    from tests.parity import assert_parity, lake_with

    tbl = pq.read_table(f"{sf_dir}/documents.parquet")
    rows = tbl.slice(0, 20).to_pylist()
    rows[3]["text"] = None
    fixture = lake_with(sf_dir, tmp_path / "sf_null_img", "documents", rows, tbl.schema)
    for q in ("q38_image_features", "q55_image_resize"):
        assert_parity(spark, QUERIES[q], ORACLE[q], fixture, q)
