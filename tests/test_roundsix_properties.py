"""Brute-force cross-checks for the round-6 batch-2 operators.

The oracle parity gate proves these queries on the planted corpus; the
tests here prove the ALGORITHM on adversarial random inputs the corpus
does not contain — bucket-boundary timestamps and |Δt| ties for the
nearest-event join (q100), single/multi-supplier and all-late order
shapes for the EXISTS chain (q96), and full-coverage reconstruction
for the chunker (q101). Each compares the Spark plan against a direct
per-row Python transcription of the contract.
"""

from __future__ import annotations

import datetime as dt
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sbs_suptech_etl_v2_spark.operators.relational import (
    LATE_DAYS,
    NEAREST_WINDOW_S,
    only_late_supplier,
    purchase_nearest_click,
)
from sbs_suptech_etl_v2_spark.operators.trainprep import (
    CHUNK_STRIDE,
    CHUNK_TOKENS,
    rag_chunking,
)

EPOCH = dt.datetime(2024, 1, 1)


def _write(tmp_path, name: str, table: pa.Table) -> str:
    pq.write_table(table, str(tmp_path / f"{name}.parquet"))
    return str(tmp_path)


def _random_events(rng: random.Random, n_users: int, n_events: int) -> pa.Table:
    radius_us = NEAREST_WINDOW_S * 1_000_000
    rows = []
    for eid in range(n_events):
        user = rng.randrange(n_users)
        # cluster timestamps near bucket edges and radius bounds: half
        # the events land within +/- 2s of a bucket boundary, and some
        # pairs sit EXACTLY radius apart (the <= must include them)
        if rng.random() < 0.5:
            base = rng.randrange(0, 40) * radius_us
            us = base + rng.randrange(-2_000_000, 2_000_000)
        else:
            us = rng.randrange(0, 40 * radius_us)
        us = max(us, 0)
        etype = rng.choice(["click", "purchase", "view"])
        rows.append((eid, user, us, etype))
    # plant exact-radius and exact-tie cases
    nxt = n_events
    for k in range(4):
        t0 = (5 + k) * radius_us + 123_456
        rows.append((nxt, 0, t0, "purchase"))
        rows.append((nxt + 1, 0, t0 - radius_us, "click"))  # exactly at radius
        rows.append((nxt + 2, 0, t0 + radius_us, "click"))  # tie on |dt|
        nxt += 3
    return pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [EPOCH + dt.timedelta(microseconds=r[2]) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )


def _brute_nearest(rows) -> dict[int, tuple]:
    radius_us = NEAREST_WINDOW_S * 1_000_000
    clicks = [(r["user_id"], r["us"], r["event_id"]) for r in rows if r["t"] == "click"]
    out = {}
    for r in rows:
        if r["t"] != "purchase":
            continue
        cand = [
            (abs(c_us - r["us"]), c_us, c_id)
            for (u, c_us, c_id) in clicks
            if u == r["user_id"] and abs(c_us - r["us"]) <= radius_us
        ]
        if cand:
            out[r["event_id"]] = min(cand)
    return out


@pytest.mark.parametrize("seed", [7, 42, 1337])
def test_q100_matches_bruteforce_on_adversarial_timestamps(spark, tmp_path, seed):
    rng = random.Random(seed)
    tbl = _random_events(rng, n_users=6, n_events=300)
    sf = _write(tmp_path, "events", tbl)
    got = {
        r["purchase_event_id"]: (
            r["abs_diff_us"],
            r["click_event_id"],
        )
        for r in purchase_nearest_click(spark, sf).collect()
    }
    rows = [
        {
            "event_id": tbl["event_id"][i].as_py(),
            "user_id": tbl["user_id"][i].as_py(),
            # integer arithmetic — total_seconds()*1e6 rounds twice and
            # can come out 1 us low at 2024-era magnitudes (~1.7e15 us)
            "us": (tbl["ts"][i].as_py() - dt.datetime(1970, 1, 1))
            // dt.timedelta(microseconds=1),
            "t": tbl["event_type"][i].as_py(),
        }
        for i in range(tbl.num_rows)
    ]
    want = {
        pid: (abs_diff, cid) for pid, (abs_diff, _cus, cid) in _brute_nearest(rows).items()
    }
    assert got == want


@pytest.mark.parametrize("seed", [3, 99])
def test_q96_matches_bruteforce_exists_semantics(spark, tmp_path, seed):
    rng = random.Random(seed)
    n_orders, n_supp = 120, 10
    li_rows = []
    for ok in range(n_orders):
        # order shapes: single-supplier, multi all-late, multi none-late,
        # multi exactly-one-late — all arise from the random draw
        for _ in range(rng.randrange(1, 5)):
            sk = rng.randrange(n_supp)
            late = rng.random() < 0.4
            ship_days = LATE_DAYS + 30 if late else 1
            li_rows.append((ok, sk, ship_days))
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_orderdate": pa.array(
                [EPOCH] * n_orders, pa.timestamp("us")
            ),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array([r[0] for r in li_rows], pa.int64()),
            "l_suppkey": pa.array([r[1] for r in li_rows], pa.int64()),
            "l_shipdate": pa.array(
                [EPOCH + dt.timedelta(days=r[2]) for r in li_rows],
                pa.timestamp("us"),
            ),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": pa.array([f"supp{k}" for k in range(n_supp)], pa.string()),
        }
    )
    sf = str(tmp_path)
    pq.write_table(orders, f"{sf}/orders.parquet")
    pq.write_table(lineitem, f"{sf}/lineitem.parquet")
    pq.write_table(supplier, f"{sf}/supplier.parquet")

    got = {r["s_suppkey"]: r["numwait"] for r in only_late_supplier(spark, sf).collect()}

    per_order: dict[int, tuple[set, set]] = {}
    for ok, sk, ship_days in li_rows:
        supp, late = per_order.setdefault(ok, (set(), set()))
        supp.add(sk)
        if ship_days > LATE_DAYS:
            late.add(sk)
    want: dict[int, int] = {}
    for supp, late in per_order.values():
        if len(supp) > 1 and len(late) == 1:
            (sk,) = late
            want[sk] = want.get(sk, 0) + 1
    assert got == want


@pytest.mark.parametrize("seed", [11])
def test_q101_chunks_cover_and_reconstruct(spark, tmp_path, seed):
    rng = random.Random(seed)
    texts = [
        " ".join(f"w{rng.randrange(40)}" for _ in range(rng.randrange(1, 60)))
        for _ in range(50)
    ]
    docs = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["t"] * len(texts), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    sf = _write(tmp_path, "documents", docs)
    chunks = rag_chunking(spark, sf).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, text in enumerate(texts):
        toks = text.split(" ")
        got = sorted(by_doc[doc_id], key=lambda r: r["start"])
        # starts are exactly range(0, n, STRIDE)
        assert [r["start"] for r in got] == list(range(0, len(toks), CHUNK_STRIDE))
        covered = set()
        for r in got:
            want_slice = toks[r["start"] : r["start"] + CHUNK_TOKENS]
            assert r["chunk_text"] == " ".join(want_slice)
            assert r["chunk_tokens"] == len(want_slice)
            covered.update(range(r["start"], r["start"] + r["chunk_tokens"]))
        # every token position is covered by at least one chunk
        assert covered == set(range(len(toks)))


def test_q99_pmi_identity_survives_null_text(spark, sf_dir, tmp_path):
    """The arithmetic bigram total (n_tokens - n_docs) must count only
    docs that PRODUCED tokens — a NULL text yields zero tokens and
    zero bigrams on both engines, so COUNT(*) would undercount
    n_bigrams by one per NULL doc and shift every PMI value."""
    from sbs_suptech_etl_v2_spark.operators.textops import bigram_pmi
    from sbs_suptech_etl_v2_spark.registry import ORACLE
    from tests.parity import assert_parity, lake_with

    base = "a b a b c " * 3  # enough mass to clear PMI_MIN_COUNT
    texts = [base.strip(), base.strip(), None, "a b a b a b", None]
    docs = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["t"] * len(texts), pa.string()),
            "n_chars": pa.array(
                [len(t) if t else 0 for t in texts], pa.int64()
            ),
        }
    )
    sf = lake_with(sf_dir, tmp_path / "lake", "documents", docs.to_pylist(), docs.schema)
    verdict = assert_parity(spark, bigram_pmi, ORACLE["q99_bigram_pmi"], sf, "q99")
    assert verdict["spark_rows"]  # non-vacuous
