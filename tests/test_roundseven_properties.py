"""Direct-transcription checks for the round-7 fixes.

The oracle parity gate proves these queries on the shipped corpus; the
tests here prove the round-7 CONTRACT CHANGES on inputs the corpus does
not exercise: the CUSUM empty-prefix clamp (a user whose first
deviation is positive — the exact case the unclamped identity
understated), the weighted sampler's zero-weight exclusion, and the
pure-Column repetition counters on degenerate texts (empty string,
single token, NULL, all-duplicate streams). Each compares the Spark
plan against a per-row Python transcription of the documented
recursion/semantics, not against the SQL oracle (which could share a
bug by construction — the round-6 ADVICE lesson on q121).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import random
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from sbs_suptech_etl_v2_spark.operators.relational import (
    CUSUM_THRESHOLD,
    cusum_changepoints,
)
from sbs_suptech_etl_v2_spark.operators.trainprep import (
    MAX_DUP_TOKEN_FRAC,
    MAX_TOP_BIGRAM_FRAC,
    MAX_TOP_TOKEN_FRAC,
    SAMPLE_K,
    repetition_stats,
    weighted_sample,
)

EPOCH = dt.datetime(2024, 1, 1)


def _write(tmp_path, name: str, table: pa.Table) -> str:
    pq.write_table(table, str(tmp_path / f"{name}.parquet"))
    return str(tmp_path)


# -- q121 CUSUM vs the literal recursion -----------------------------------


def _events_table(user_days: dict[int, list[int]]) -> pa.Table:
    """One event per (user, day) with an integer value — day totals are
    then exact in micro-units on every path."""
    rows = []
    eid = 0
    for user, vals in user_days.items():
        for day, v in enumerate(vals):
            rows.append((eid, user, day, v))
            eid += 1
    return pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [EPOCH + dt.timedelta(days=r[2], hours=3) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array(["click"] * len(rows), pa.string()),
            "value": pa.array([float(r[3]) for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )


def _brute_cusum(vals: list[int]) -> list[tuple[float, bool]]:
    """The documented recursion cusum_t = max(0, cusum_{t-1} + dev_t),
    in exact scaled integers (micro-units x n)."""
    n = len(vals)
    us = [v * 1_000_000 for v in vals]
    tot = sum(us)
    out = []
    c = 0
    thresh = int(CUSUM_THRESHOLD * 1_000_000) * n
    for x in us:
        c = max(0, c + (x * n - tot))
        out.append((c / (n * 1_000_000.0), c > thresh))
    return out


def test_cusum_matches_recursion_including_positive_first_deviation(
    spark, tmp_path
):
    rng = random.Random(7)
    user_days = {
        # the planted clamp case: first deviation POSITIVE (x1 > mean),
        # where the unclamped prefix-min identity reported 0
        0: [10, 0, 0],
        # monotone rise: prefix sums never dip below zero after day 1
        1: [1, 2, 3, 4, 5, 6, 7, 8],
        # monotone fall: deep negative prefix, late recovery
        2: [8, 7, 6, 5, 4, 3, 2, 1],
        # constant: every deviation 0
        3: [5, 5, 5, 5],
    }
    for u in range(4, 10):
        user_days[u] = [rng.randrange(0, 400) for _ in range(rng.randrange(2, 14))]
    sf = _write(tmp_path, "events", _events_table(user_days))

    got = {
        (r["user_id"], r["day"]): (r["cusum"], r["is_changepoint"])
        for r in cusum_changepoints(spark, sf).collect()
    }
    assert len(got) == sum(len(v) for v in user_days.values())
    for user, vals in user_days.items():
        expect = _brute_cusum(vals)
        for day, (cusum, flag) in enumerate(expect):
            g_cusum, g_flag = got[(user, dt.date(2024, 1, 1) + dt.timedelta(days=day))]
            assert g_cusum == cusum, (user, day, g_cusum, cusum)
            assert g_flag == flag, (user, day)
    # the planted case must be visibly nonzero on day 1
    first = got[(0, dt.date(2024, 1, 1))]
    assert first[0] > 0.0


# -- q97 A-Res transcription + zero-weight exclusion -----------------------


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_weighted_sample_matches_ares_and_excludes_zero_weight(spark, tmp_path):
    rng = random.Random(11)
    rows = []
    doc_id = 0
    for lang in ("en", "de", "zh"):
        for _ in range(40):
            rows.append((doc_id, lang, rng.randrange(1, 5000)))
            doc_id += 1
        # zero-length documents: weight 0, must never appear
        rows.append((doc_id, lang, 0))
        doc_id += 1
    sf = _write(
        tmp_path,
        "documents",
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "lang": pa.array([r[1] for r in rows], pa.string()),
                "n_chars": pa.array([r[2] for r in rows], pa.int64()),
            }
        ),
    )
    got = [
        (r["lang"], r["doc_id"], r["n_chars"], r["rk"])
        for r in weighted_sample(spark, sf).collect()
    ]
    zero_ids = {r[0] for r in rows if r[2] == 0}
    assert not zero_ids & {g[1] for g in got}

    expect = []
    for lang in ("en", "de", "zh"):
        keyed = []
        for did, lg, nc in rows:
            if lg != lang or nc == 0:
                continue
            u = (_h32(str(did)) + 1) / 4294967297.0
            keyed.append((math.log(u) / nc, did, nc))
        keyed.sort(key=lambda t: (-t[0], t[1]))
        for rk, (_, did, nc) in enumerate(keyed[:SAMPLE_K], start=1):
            expect.append((lang, did, nc, rk))
    assert sorted(got) == sorted(expect)


# -- q76 sessionized paths vs a linear sessionizer --------------------------


def test_session_paths_match_linear_sessionizer(spark, tmp_path):
    from sbs_suptech_etl_v2_spark.operators.relational import (
        PATH_TOP_K,
        SESSION_GAP_MIN,
        session_event_paths,
    )

    rng = random.Random(61)
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    rows = []
    eid = 0
    for user in range(8):
        t = rng.randrange(0, 10**6)
        for _ in range(rng.randrange(5, 20)):
            # plant gaps EXACTLY at the boundary (== keeps the session,
            # strict > splits) and tied timestamps (event_id orders)
            roll = rng.random()
            if roll < 0.2:
                t += gap_us  # exactly at the gap: same session
            elif roll < 0.4:
                t += gap_us + 1  # one microsecond over: new session
            elif roll < 0.5:
                t += 0  # tied timestamp
            else:
                t += rng.randrange(1, gap_us)
            rows.append((eid, user, t, rng.choice(("view", "click", "purchase"))))
            eid += 1
    tab = pa.table(
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
    sf = _write(tmp_path, "events", tab)

    paths = Counter()
    for user in {r[1] for r in rows}:
        evs = sorted(
            (us, eid_, et) for eid_, u, us, et in rows if u == user
        )
        cur, prev_us = [], None
        # gap compares whole SECONDS (epoch arithmetic), not microseconds
        for us, eid_, et in evs:
            if prev_us is not None and (us // 1_000_000 - prev_us // 1_000_000) > SESSION_GAP_MIN * 60:
                paths[">".join(cur)] += 1
                cur = []
            cur.append(et)
            prev_us = us
        if cur:
            paths[">".join(cur)] += 1
    expect = sorted(
        ((p, n) for p, n in paths.items()), key=lambda t: (-t[1], t[0])
    )[:PATH_TOP_K]
    got = [
        (r["path"], r["n_sessions"]) for r in session_event_paths(spark, sf).collect()
    ]
    assert got == expect


# -- q54 as-of join vs a per-purchase linear scan --------------------------


def _time_join_events(rng: random.Random) -> list[tuple[int, int, int, str]]:
    """(event_id, user_id, microseconds, type) with planted ties, exact
    600 s window boundaries, and bucket-edge timestamps."""
    rows = []
    eid = 0
    for user in range(6):
        for _ in range(rng.randrange(10, 25)):
            if rng.random() < 0.5:
                us = rng.randrange(0, 40) * 600_000_000 + rng.choice(
                    (-1, 0, 1, 600_000_000 - 1)
                )
            else:
                us = rng.randrange(0, 40 * 600_000_000)
            us = max(us, 0)
            rows.append((eid, user, us, rng.choice(("click", "purchase", "view"))))
            eid += 1
    # planted: tied click timestamps at a purchase instant, and clicks
    # EXACTLY at the window edge (ts - 600 s qualifies for q68's >=,
    # and a click AT the purchase ts does NOT — strict <, but DOES
    # qualify as the q54 as-of match, inclusive <=)
    t0 = 7 * 600_000_000 + 123
    rows += [
        (eid, 0, t0, "purchase"),
        (eid + 1, 0, t0, "click"),
        (eid + 2, 0, t0, "click"),  # tie: max event_id must win q54
        (eid + 3, 0, t0 - 600_000_000, "click"),  # exactly at q68 edge
    ]
    return rows


def test_purchase_asof_click_matches_linear_scan(spark, tmp_path):
    from sbs_suptech_etl_v2_spark.operators.relational import (
        purchase_asof_click,
    )

    rng = random.Random(53)
    rows = _time_join_events(rng)
    tab = pa.table(
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
    sf = _write(tmp_path, "events", tab)
    expect = {}
    for eid, user, us, etype in rows:
        if etype != "purchase":
            continue
        cands = [
            (cus, cid)
            for cid, cu, cus, ct in rows
            if ct == "click" and cu == user and cus <= us
        ]
        best = max(cands) if cands else None  # latest ts, then max event_id
        expect[eid] = (best[1] if best else None)
    got = {
        r["purchase_event_id"]: r["click_event_id"]
        for r in purchase_asof_click(spark, sf).collect()
    }
    assert got == expect
    # the tie case resolved to the larger click id
    tie_purchase = [r[0] for r in rows if r[3] == "purchase" and r[2] == 7 * 600_000_000 + 123]
    assert got[tie_purchase[0]] == tie_purchase[0] + 2


def test_interval_join_matches_double_loop(spark, tmp_path):
    from sbs_suptech_etl_v2_spark.operators.relational import (
        click_purchase_interval_join,
    )

    rng = random.Random(59)
    rows = _time_join_events(rng)
    tab = pa.table(
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
    sf = _write(tmp_path, "events", tab)
    W_US = 600_000_000
    expect = {}
    for eid, user, us, etype in rows:
        if etype != "purchase":
            continue
        expect[eid] = sum(
            1
            for cid, cu, cus, ct in rows
            if ct == "click" and cu == user and us - W_US <= cus < us
        )
    got = {
        r["event_id"]: r["clicks_10m"]
        for r in click_purchase_interval_join(spark, sf).collect()
    }
    assert got == expect
    # boundary cases fired: some purchase counts a click exactly W back
    assert any(n > 0 for n in expect.values())


# -- q102 inverted index vs a Counter build --------------------------------


def test_inverted_index_matches_counter_build(spark, tmp_path):
    from sbs_suptech_etl_v2_spark.operators.textops import (
        POSTING_MIN_DF,
        inverted_index,
    )

    rng = random.Random(43)
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 12)))
        for _ in range(40)
    ]
    sf = _write(
        tmp_path,
        "documents",
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
            }
        ),
    )
    tf = Counter()
    docs_of = {}
    for did, text in enumerate(texts):
        for tok in text.split(" "):
            tf[tok] += 1
            docs_of.setdefault(tok, set()).add(did)
    expect = {
        tok: (
            tf[tok],
            len(docs),
            ",".join(str(d) for d in sorted(docs)),
        )
        for tok, docs in docs_of.items()
        if len(docs) >= POSTING_MIN_DF
    }
    got = {
        r["token"]: (r["term_freq"], r["doc_freq"], r["postings"])
        for r in inverted_index(spark, sf).collect()
    }
    assert got == expect


# -- q115 confusion matrix vs an argmax transcription ----------------------


def test_langid_confusion_matches_argmax_transcription(spark, tmp_path):
    from sbs_suptech_etl_v2_spark.operators.textops import (
        LANG_PROFILES,
        langid_confusion,
    )

    rng = random.Random(47)
    langs = sorted(LANG_PROFILES)
    all_words = [w for ws in LANG_PROFILES.values() for w in ws] + ["x", "y"]
    rows = []
    for did in range(80):
        actual = rng.choice(langs)
        # bias toward the actual language's profile but leave plenty of
        # cross-hits and exact TIES (tie goes to the alphabetically
        # first language — the strict-> comparison contract)
        words = [rng.choice(LANG_PROFILES[actual]) for _ in range(rng.randrange(0, 4))]
        words += [rng.choice(all_words) for _ in range(rng.randrange(1, 6))]
        rng.shuffle(words)
        rows.append((did, actual, " ".join(words)))
    sf = _write(
        tmp_path,
        "documents",
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "lang": pa.array([r[1] for r in rows], pa.string()),
                "text": pa.array([r[2] for r in rows], pa.string()),
            }
        ),
    )
    matrix = Counter()
    for _, actual, text in rows:
        toks = text.split(" ")
        scores = {
            lang: sum(1 for t in toks if t in LANG_PROFILES[lang]) for lang in langs
        }
        pred = langs[0]
        for lang in langs[1:]:
            if scores[lang] > scores[pred]:
                pred = lang
        matrix[(actual, pred)] += 1
    expect = {}
    for (actual, pred), n in matrix.items():
        n_true = sum(v for (a, _), v in matrix.items() if a == actual)
        expect[(actual, pred)] = (n, n_true, n / n_true)
    got = {
        (r["actual_lang"], r["predicted_lang"]): (
            r["n"],
            r["n_true"],
            r["share"],
        )
        for r in langid_confusion(spark, sf).collect()
    }
    assert got == expect
    # ties and misclassifications must actually occur
    assert any(a != p for a, p in expect)


# -- q117 Gini vs exact integer rank sums ----------------------------------


def test_segment_gini_matches_exact_rank_formula(spark, tmp_path):
    from sbs_suptech_etl_v2_spark.operators.relational import (
        segment_spend_gini,
    )

    rng = random.Random(41)
    custs, orders = [], []
    for ck in range(30):
        seg = ("BUILDING", "MACHINERY")[ck % 2]
        custs.append((ck, seg))
        for _ in range(rng.randrange(1, 5)):
            # quarter-unit prices are binary-exact, so the decimal(18,4)
            # quantization is the identity and the expectation stays
            # a pure integer computation
            orders.append((ck, rng.randrange(4, 400000) / 4.0))
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([c[0] for c in custs], pa.int64()),
                "c_mktsegment": pa.array([c[1] for c in custs], pa.string()),
            }
        ),
        str(tmp_path / "customer.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "o_custkey": pa.array([o[0] for o in orders], pa.int64()),
                "o_totalprice": pa.array([o[1] for o in orders], pa.float64()),
            }
        ),
        str(tmp_path / "orders.parquet"),
    )

    spend = {}
    for ck, price in orders:
        spend[ck] = spend.get(ck, 0) + round(price * 10000)  # exact c4 ints
    expect = {}
    for seg in ("BUILDING", "MACHINERY"):
        ranked = sorted(
            (spend[ck], ck) for ck, s in custs if s == seg and ck in spend
        )
        n = len(ranked)
        s4 = sum(v for v, _ in ranked)
        r = sum(v * (2 * i - n - 1) for i, (v, _) in enumerate(ranked, start=1))
        # mirror the engine's op order exactly: correctly-rounded
        # int->double conversions, then IEEE multiply and divide
        expect[seg] = (n, float(s4) / 10000.0, float(r) / (float(n) * float(s4)))
    got = {
        r["c_mktsegment"]: (r["n_customers"], r["total_spend"], r["gini"])
        for r in segment_spend_gini(spark, str(tmp_path)).collect()
    }
    assert got == expect


# -- q110 log2 bucketing vs int.bit_length ---------------------------------


def test_skew_profile_buckets_match_bit_length(spark, tmp_path):
    from sbs_suptech_etl_v2_spark.operators.relational import (
        join_key_skew_profile,
    )

    # per-key counts engineered to sit ON and AROUND powers of two —
    # exactly where a floating log2 misclassifies
    counts = [1, 2, 3, 4, 5, 7, 8, 9, 15, 16, 17, 31, 32, 64, 127, 128]
    rows = []
    for key, c in enumerate(counts):
        rows.extend((key, 0) for _ in range(c))
    sf = _write(
        tmp_path,
        "lineitem",
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
            }
        ),
    )
    expect = {}
    for c in counts:
        b = c.bit_length() - 1  # floor(log2(c)) exactly
        lo, n, tot, hi = expect.get(b, (c, 0, 0, c))
        expect[b] = (min(lo, c), n + 1, tot + c, max(hi, c))
    got = {
        r["log2_bucket"]: (
            r["min_rows_per_key"],
            r["n_keys"],
            r["n_rows"],
            r["max_rows_per_key"],
        )
        for r in join_key_skew_profile(spark, sf).collect()
    }
    assert got == expect


# -- q112 decay weights vs exact Fraction arithmetic ------------------------


def test_decayed_score_matches_exact_fractions(spark, tmp_path):
    from fractions import Fraction

    from sbs_suptech_etl_v2_spark.operators.relational import (
        DECAY_AGE_CAP,
        DECAY_HALF_LIFE_WEEKS,
        decayed_user_score,
    )

    rng = random.Random(37)
    rows = []
    eid = 0
    horizon = 7 * DECAY_HALF_LIFE_WEEKS * (DECAY_AGE_CAP + 3)
    for user in range(10):
        for _ in range(rng.randrange(1, 15)):
            # quarter-unit values are exact at the decimal(18,6) house
            # scale, so the whole expectation stays rational
            rows.append((eid, user, rng.randrange(0, horizon), rng.randrange(0, 400) / 4.0))
            eid += 1
    tab = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [EPOCH + dt.timedelta(days=r[2], hours=2) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array(["click"] * len(rows), pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    sf = _write(tmp_path, "events", tab)
    anchor = max(r[2] for r in rows)
    expect = {}
    for eid_, user, day, val in rows:
        age = min((anchor - day) // (7 * DECAY_HALF_LIFE_WEEKS), DECAY_AGE_CAP)
        w = 1 << (DECAY_AGE_CAP - age)
        n, s = expect.get(user, (0, Fraction(0)))
        expect[user] = (n + 1, s + Fraction(val) * w)
    got = {
        r["user_id"]: (r["n_events"], r["decayed_score"])
        for r in decayed_user_score(spark, sf).collect()
    }
    assert set(got) == set(expect)
    for user, (n, s) in expect.items():
        gn, gs = got[user]
        assert gn == n
        # exact rational / 2^CAP narrowed once to double — the engine
        # must land on the same correctly-rounded value
        assert gs == float(s / (1 << DECAY_AGE_CAP)), user


# -- q108 nucleus boundary vs a linear greedy scan -------------------------


def test_nucleus_vocab_boundary_matches_greedy(spark, tmp_path):
    from sbs_suptech_etl_v2_spark.operators.textops import (
        NUCLEUS_DEN,
        NUCLEUS_NUM,
        nucleus_vocab,
    )

    # token masses engineered so the cumulative share lands EXACTLY on
    # the 9/10 cutoff mid-ranking: total = 20, cum after 'b' = 18 ->
    # 18/20 == 9/10, so 'c' (mass before it = 18, 18*10 < 9*20 false)
    # must be EXCLUDED — a float-rounded cutoff gets this wrong in
    # either direction depending on ulp luck
    texts_en = ["a"] * 10 + ["b"] * 8 + ["c"] * 1 + ["d"] * 1
    # and a language where the boundary falls strictly inside a token:
    # total = 10, cum after 'x' = 8 (8*10 < 90 true -> kept), after 'y'
    # cum=9, mass-before=8 < 9 -> 'y' kept; 'z' mass-before 9*10=90 not
    # < 90 -> excluded
    texts_de = ["x"] * 8 + ["y"] * 1 + ["z"] * 1
    rows = [("en", t) for t in texts_en] + [("de", t) for t in texts_de]
    sf = _write(
        tmp_path,
        "documents",
        pa.table(
            {
                "doc_id": pa.array(range(len(rows)), pa.int64()),
                "lang": pa.array([r[0] for r in rows], pa.string()),
                "text": pa.array([r[1] for r in rows], pa.string()),
            }
        ),
    )
    got = {
        (r["lang"], r["token"]): (r["c"], r["rank"], r["cum"], r["total"])
        for r in nucleus_vocab(spark, sf).collect()
    }
    assert NUCLEUS_NUM == 9 and NUCLEUS_DEN == 10  # the fixture assumes 9/10
    assert got == {
        ("en", "a"): (10, 1, 10, 20),
        ("en", "b"): (8, 2, 18, 20),
        ("de", "x"): (8, 1, 8, 10),
        ("de", "y"): (1, 2, 9, 10),
    }


# -- q118 pair mining vs a per-order double loop ---------------------------


def test_part_pair_baskets_match_double_loop(spark, tmp_path):
    from sbs_suptech_etl_v2_spark.operators.relational import (
        BASKET_MIN_SUPPORT,
        BASKET_TOP,
        part_pair_baskets,
    )

    rng = random.Random(31)
    rows = []
    for order in range(60):
        parts = rng.sample(range(12), rng.randrange(1, 6))
        parts.append(parts[0])  # duplicate lineitem: must dedup per order
        for p in parts:
            rows.append((order, p))
    sf = _write(
        tmp_path,
        "lineitem",
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
            }
        ),
    )
    support = Counter()
    for order in {r[0] for r in rows}:
        parts = sorted({p for o, p in rows if o == order})
        for i in range(len(parts)):
            for j in range(i + 1, len(parts)):
                support[(parts[i], parts[j])] += 1
    expect = sorted(
        ((a, b, n) for (a, b), n in support.items() if n >= BASKET_MIN_SUPPORT),
        key=lambda t: (-t[2], t[0], t[1]),
    )[:BASKET_TOP]
    got = [
        (r["part_a"], r["part_b"], r["support"])
        for r in part_pair_baskets(spark, sf).collect()
    ]
    assert got == expect
    assert len(expect) > 2  # fixture produces a real top-k, not a stub


# -- q109 SCD2 islands vs a per-user linear scan ---------------------------


def test_scd2_islands_match_linear_scan(spark, tmp_path):
    from sbs_suptech_etl_v2_spark.operators.relational import (
        ACTIVITY_HIGH,
        ACTIVITY_MED,
        activity_history_scd2,
    )

    rng = random.Random(23)
    rows = []
    eid = 0
    for user in range(8):
        for day in range(15):
            # bursty counts so level transitions (and 1-day islands)
            # actually occur, with day GAPS (observed-days contract)
            if rng.random() < 0.35:
                continue
            for _ in range(rng.randrange(1, 8)):
                rows.append((eid, user, day))
                eid += 1
    tab = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [EPOCH + dt.timedelta(days=r[2], hours=7) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array(["click"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    sf = _write(tmp_path, "events", tab)

    def level(n):
        return "high" if n >= ACTIVITY_HIGH else "med" if n >= ACTIVITY_MED else "low"

    expect = set()
    for user in {r[1] for r in rows}:
        daily = Counter(r[2] for r in rows if r[1] == user)
        runs = []
        for day in sorted(daily):
            lv = level(daily[day])
            # a NEW island starts at every level change — day gaps do
            # NOT split an island (observed-days contract)
            if runs and runs[-1][0] == lv:
                runs[-1][1].append(day)
            else:
                runs.append([lv, [day]])
        for island_no, (lv, days) in enumerate(runs, start=1):
            expect.add(
                (
                    user,
                    island_no,
                    lv,
                    dt.date(2024, 1, 1) + dt.timedelta(days=min(days)),
                    dt.date(2024, 1, 1) + dt.timedelta(days=max(days)),
                    len(days),
                    sum(daily[d] for d in days),
                )
            )
    got = {
        (
            r["user_id"],
            r["island"],
            r["level"],
            r["valid_from"],
            r["valid_to"],
            r["days_observed"],
            r["total_events"],
        )
        for r in activity_history_scd2(spark, sf).collect()
    }
    assert got == expect


# -- q113 cohort retention vs a per-user transcription ---------------------


def test_cohort_retention_matches_transcription(spark, tmp_path):
    from sbs_suptech_etl_v2_spark.operators.relational import cohort_retention

    rng = random.Random(29)
    rows = []
    eid = 0
    for user in range(25):
        start = rng.randrange(0, 30)
        for _ in range(rng.randrange(1, 12)):
            rows.append((eid, user, start + rng.randrange(0, 40)))
            eid += 1
    tab = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [EPOCH + dt.timedelta(days=r[2], hours=9) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    sf = _write(tmp_path, "events", tab)

    user_weeks = set()
    for eid_, user, day in rows:
        user_weeks.add((user, day // 7))  # week index anchored at 2024-01-01
    cohort = {}
    for user in {u for u, _ in user_weeks}:
        cohort[user] = min(w for u, w in user_weeks if u == user)
    matrix = Counter(
        (cohort[u], w - cohort[u]) for u, w in user_weeks
    )
    expect = {}
    for (cw, off), n in matrix.items():
        size = matrix[(cw, 0)]
        expect[(cw, off)] = (n, size, n / size)
    got = {
        (r["cohort_week"], r["week_offset"]): (
            r["n_users"],
            r["cohort_size"],
            r["retention"],
        )
        for r in cohort_retention(spark, sf).collect()
    }
    assert got == expect
    # transitions matter: at least one cohort must retain into a later
    # week, or the offset math is untested
    assert any(off > 0 for _, off in expect)


# -- q116 running distinct vs the naive per-day set union ------------------


def test_cumulative_distinct_matches_naive_set_union(spark, tmp_path):
    from sbs_suptech_etl_v2_spark.registry import QUERIES

    rng = random.Random(17)
    rows = []
    eid = 0
    for day in range(20):
        for _ in range(rng.randrange(1, 8)):
            # small user pool so later days are mostly RETURNING users —
            # the planted case where a day has events but zero new ones
            # and must still appear with a flat running total
            rows.append((eid, rng.randrange(6), day, rng.choice(["click", "view"])))
            eid += 1
    tab = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [EPOCH + dt.timedelta(days=r[2], hours=5) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    sf = _write(tmp_path, "events", tab)

    expect = {}
    for etype in ("click", "view"):
        seen: set[int] = set()
        days = sorted({r[2] for r in rows if r[3] == etype})
        for day in days:
            todays = {r[1] for r in rows if r[3] == etype and r[2] == day}
            new = todays - seen
            seen |= todays
            expect[(etype, dt.date(2024, 1, 1) + dt.timedelta(days=day))] = (
                len(new),
                len(seen),
            )

    got = {
        (r["event_type"], r["day"]): (r["new_users"], r["cumulative_users"])
        for r in QUERIES["q116_cumulative_distinct"](spark, sf).collect()
    }
    assert got == expect
    # the planted flat-day case actually occurred (otherwise the test
    # is vacuous for the domain contract)
    assert any(n == 0 for n, _ in expect.values())


# -- corpus invariant backing the similarity family's norm division --------


def test_embedding_norms_positive(spark, sf_dir):
    # q24/q25/q107 unit-normalize by dividing each component by the
    # vector norm; a zero vector would turn that into IEEE NaN on the
    # Spark side and engine-dependent behavior in the oracle. The
    # corpus invariant that every embedding has a positive norm is
    # load-bearing — pin it (the q97 n_chars lesson applied before it
    # bites).
    from pyspark.sql import functions as F

    from sbs_suptech_etl_v2_spark.io import table

    emb = table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    assert emb.select(F.min(sq).alias("m")).collect()[0]["m"] > 0.0


# -- q62 pure-Column counters on degenerate texts --------------------------


def _brute_repetition(text):
    if text is None:
        return (None, None, None, None)
    toks = text.split(" ")
    n = len(toks)
    cnt = Counter(toks)
    top = max(cnt.values())
    dup = sum(c for c in cnt.values() if c >= 2)
    if n >= 2:
        bg = Counter(" ".join(p) for p in zip(toks, toks[1:]))
        bg_top = max(bg.values())
    else:
        bg_top = 0
    return (n, top, dup, bg_top)


def test_repetition_stats_matches_bruteforce(spark, tmp_path):
    rng = random.Random(13)
    vocab = ["a", "b", "c", "dd"]
    texts = [
        "a a a b",  # dominated by one token
        "x",  # single token: zero bigrams, frac defined as 0.0
        "",  # splits to one empty token
        None,  # NULL counters, NULL keep
        "a b a b a",  # repeated bigram both directions
        "u1 u2 u3 u4",  # all unique
        "t t",  # 100% duplicate
        # empty tokens mid-stream / at the edges: split(' ') keeps
        # them, so "a  b" is 3 tokens with bigrams ("a","") and
        # ("","b") — pins the round-10 posexplode+lead gram build on
        # the same degenerate shapes the HOF build handled
        "a  b",  # double space -> empty middle token
        " x",  # leading space -> empty first token
        "y ",  # trailing space -> empty last token
        "  ",  # three empty tokens, all-duplicate, bigram "( , )"
    ] + [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 30)))
        for _ in range(60)
    ]
    sf = _write(
        tmp_path,
        "documents",
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
            }
        ),
    )
    got = {r["doc_id"]: r for r in repetition_stats(spark, sf).collect()}
    assert len(got) == len(texts)
    for i, text in enumerate(texts):
        n, top, dup, bg_top = _brute_repetition(text)
        r = got[i]
        assert (r["n_tokens"], r["top_token_n"], r["dup_token_n"],
                r["top_bigram_n"]) == (n, top, dup, bg_top), (i, text)
        if text is None:
            assert r["top_token_frac"] is None and r["keep"] is None
        else:
            assert r["top_token_frac"] == top / n
            assert r["dup_token_frac"] == dup / n
            expected_tbf = bg_top / (n - 1) if n >= 2 else 0.0
            assert r["top_bigram_frac"] == expected_tbf
            assert r["keep"] == (
                top / n <= MAX_TOP_TOKEN_FRAC
                and dup / n <= MAX_DUP_TOKEN_FRAC
                and expected_tbf <= MAX_TOP_BIGRAM_FRAC
            )
