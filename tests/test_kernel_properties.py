"""Property tests: the NumPy signature kernels must bit-match a direct
Python transcription of the oracle semantics on ARBITRARY corpora.

The example-based kernel tests cover the planted corpus; these cover
the space around it — unicode tokens, empty tokens (split(' ') keeps
them), whitespace runs, None text, sub-shingle-length docs, duplicate
tokens — where vectorized boundary math (document-straddling windows,
factorize over mixed batches) is most likely to drift from the
per-row definition.
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings, strategies as st

from sbs_suptech_etl_v2_spark.operators.dedup import (
    MERSENNE_P,
    MINHASH_A,
    MINHASH_B,
    N_HASHES,
    SHINGLE_K,
    _minhash_signatures,
    _shingle_sets,
)


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16) % MERSENNE_P


def _ref_shingles(text: str) -> list[int]:
    """Direct transcription of the _shingle_hashes expression (ordered,
    with duplicates — distinctness is applied by the set variant)."""
    toks = text.split(" ")
    if len(toks) >= SHINGLE_K:
        hs = [_h32(t) for t in toks]
        return [
            ((hs[i] * 31 + hs[i + 1]) * 31 + hs[i + 2]) % MERSENNE_P
            for i in range(len(hs) - SHINGLE_K + 1)
        ]
    return [_h32(text)]


def _ref_minhash(text: str) -> list[int]:
    vals = _ref_shingles(text)
    return [
        min((a * v + b) % MERSENNE_P for v in vals)
        for a, b in zip(MINHASH_A, MINHASH_B)
    ]


# tokens that stress split(' ') semantics: empties, unicode, repeats
_token = st.one_of(
    st.just(""),
    st.text(alphabet="abcáé日本語ñ✓", min_size=1, max_size=6),
    st.sampled_from(["the", "the", "a"]),  # forced repeats
)
_text = st.one_of(
    st.none(),
    st.just(""),
    st.lists(_token, min_size=1, max_size=30).map(lambda ws: " ".join(ws)),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_text, min_size=1, max_size=12))
def test_minhash_kernel_matches_reference(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["sig"] for r in _minhash_signatures(df).collect()
    }
    for i, t in enumerate(texts):
        expect = None if t is None else _ref_minhash(t)
        assert got[i] == expect, (i, t)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_text, min_size=1, max_size=10))
def test_shingle_set_kernel_matches_reference(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["hashes"] for r in _shingle_sets(df).collect()
    }
    for i, t in enumerate(texts):
        if t is None:
            assert got[i] is None, (i, t)
        else:
            assert sorted(got[i]) == sorted(set(_ref_shingles(t))), (i, t)


# -- round-9: the Arrow fold kernels vs the Catalyst expression fold --------
#
# The similarity family's numpy kernels claim BIT-identical results to
# the F.aggregate(F.zip_with(...)) left fold they replaced (and to the
# oracle's list_reduce). Pin that with adversarial doubles: subnormals,
# huge/tiny magnitude mixes (catastrophic cancellation orders), signed
# zeros, NaN and infinities.

_double = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.just(0.0),
    st.just(-0.0),
    st.just(5e-324),
    st.just(1.7976931348623157e308),
    st.just(float("nan")),
    st.just(float("inf")),
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.integers(min_value=1, max_value=16).flatmap(
        lambda d: st.lists(
            st.tuples(
                st.lists(_double, min_size=d, max_size=d),
                st.lists(_double, min_size=d, max_size=d),
            ),
            min_size=1,
            max_size=6,
        )
    )
)
def test_np_fold_dot_bit_matches_expression_fold(spark, pairs):
    import struct

    import numpy as np
    from pyspark.sql import functions as F

    from sbs_suptech_etl_v2_spark.operators.similarity import (
        _dot,
        _np_fold_dot,
    )

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i long, a array<double>, b array<double>",
    )
    jvm = {
        r["i"]: r["s"]
        for r in df.select("i", _dot(F.col("a"), F.col("b")).alias("s")).collect()
    }
    A = np.stack([np.asarray(a, dtype=np.float64) for a, _ in pairs])
    B = np.stack([np.asarray(b, dtype=np.float64) for _, b in pairs])
    ker = _np_fold_dot(A, B)

    def bits(x):
        # any-NaN compares equal: the JVM canonicalizes NaN (always
        # +0x7ff8…) while IEEE multiply/add in numpy may carry the
        # operand's sign/payload — semantically identical, and every
        # parity canon maps NaN to one token before hashing
        import math

        if math.isnan(x):
            return b"nan"
        return struct.pack("<d", x)

    for i in range(len(pairs)):
        assert bits(jvm[i]) == bits(float(ker[i])), (i, pairs[i], jvm[i], ker[i])


def test_np_keep_mirrors_engine_nan_ordering(spark):
    """Spark and DuckDB both order NaN above every number, so a NaN
    dot KEEPS its row; numpy's ``NaN > 0`` is False — ``_np_keep``
    carries the explicit disjunct. Prove the Spark side of the claim
    (the DuckDB side is a documented engine rule exercised by the
    oracle WHERE clauses)."""
    import numpy as np
    from pyspark.sql import functions as F

    from sbs_suptech_etl_v2_spark.operators.similarity import _np_keep

    df = spark.createDataFrame(
        [(0, float("nan")), (1, 0.0), (2, -1.0), (3, 2.0), (4, float("inf"))],
        "i long, x double",
    )
    spark_kept = {
        r["i"] for r in df.filter(F.col("x") > 0).collect()
    }
    acc = np.array([float("nan"), 0.0, -1.0, 2.0, float("inf")])
    np_kept = {i for i, k in enumerate(_np_keep(acc)) if k}
    assert spark_kept == np_kept == {0, 3, 4}


def test_null_element_vs_nan_vector(spark, tmp_path, oracle_sf_dir):
    """Round-9 review regression pin: a NULL ELEMENT poisons both
    engines' folds to NULL and the row must DROP, while a genuine-NaN
    vector folds to NaN and must be KEPT (NaN orders above every
    number in Spark and DuckDB). Arrow hands the kernels NaN for both
    cases, so the distinction is restored JVM-side (_whole_vecs) —
    without it the kernels kept NULL-element rows the oracles drop."""
    import pyarrow.parquet as pq

    from sbs_suptech_etl_v2_spark.registry import ORACLE, QUERIES
    from tests.parity import assert_parity, lake_with

    tbl = pq.read_table(f"{oracle_sf_dir}/embeddings.parquet")
    rows = tbl.slice(0, 60).to_pylist()
    dim = len(rows[0]["embedding"])
    # victim 1: inner NULL -> NULL fold -> dropped by both engines
    rows[7]["embedding"][3] = None
    # victim 2: genuine NaN vector -> NaN fold -> KEPT by both engines
    rows[11]["embedding"] = [float("nan")] * dim
    # victim 3: whole-NULL embedding -> dropped by both engines
    rows[13]["embedding"] = None
    fixture = lake_with(
        oracle_sf_dir, tmp_path / "sf_nullelem", "embeddings", rows, tbl.schema
    )

    for q in ("q24_topk_cosine", "q25_embedding_neardup"):
        assert_parity(spark, QUERIES[q], ORACLE[q], fixture, q)

    # the live-vector set itself: NULL-element + whole-NULL dropped,
    # NaN kept
    from sbs_suptech_etl_v2_spark.operators.similarity import _dbl, _unit
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{fixture}/embeddings.parquet")
    live = {
        r["vec_id"]
        for r in _unit(
            emb.select("vec_id", _dbl(F.col("embedding")).alias("v"))
        ).collect()
    }
    assert rows[7]["vec_id"] not in live
    assert rows[13]["vec_id"] not in live
    assert rows[11]["vec_id"] in live


# -- round-10: fuzz the kernel-layer edges (VERDICT r09 directive #6) --------
#
# The two subtlest round-9 code paths — the NULL-element-vs-NaN-vector
# boundary (_whole_vecs) and the zero-copy reshape's non-uniform-batch
# handling (_pair_scores) — plus the round-10 additions (empty-vector
# exclusion, per-width-group quarantine, adaptive cell salting) get the
# same treatment the fold itself gets above: randomized corpora, exact
# per-row reference semantics.
#
# Data contract note pinned here: mixed-width and empty vectors are
# OUTSIDE the contract (one fixed dimension per vector column). The
# pinned behavior is "one malformed row degrades the result, never
# kills the stage": malformed rows/pairs DROP; well-formed same-width
# rows are bit-identical to an all-clean run. The oracles are not
# consulted on such corpora — DuckDB's seedless list_reduce ERRORS on
# an empty fold, so ragged/empty fixtures have no runnable oracle.


def _bits(x):
    import math
    import struct

    if x is None:
        return b"null"
    if math.isnan(x):
        return b"nan"
    return struct.pack("<d", x)


def _ref_fold(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _ref_live(v):
    """Per-row reference of the live-vector predicate: non-NULL, no
    NULL element, non-empty, and fold-dot(v, v) > 0 (NaN keeps)."""
    import math

    if v is None or len(v) == 0 or any(x is None for x in v):
        return False
    d = _ref_fold(v, v)
    return d > 0 or math.isnan(d)


_elem = st.one_of(
    st.floats(
        allow_nan=False, allow_infinity=False, width=32, min_value=-8, max_value=8
    ),
    st.just(0.0),
    st.just(float("nan")),
    st.none(),
)
_vec = st.one_of(
    st.none(),
    st.just([]),
    st.lists(_elem, min_size=1, max_size=6),
    # all-zero vector: zero norm, dropped by both engines
    st.just([0.0, 0.0, 0.0]),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_vec, min_size=1, max_size=14))
def test_unit_kernel_fuzz_null_empty_zero_rows(spark, vecs):
    """Random NULL positions / whole-NULL rows / empty vectors / zero
    vectors / NaN elements, all in one batch: _unit must keep exactly
    the reference live set and emit bit-exact per-row normalization."""
    import math

    from sbs_suptech_etl_v2_spark.operators.similarity import _unit

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, v array<double>"
    )
    got = {r["vec_id"]: r["u"] for r in _unit(df).collect()}
    expect_live = {i for i, v in enumerate(vecs) if _ref_live(v)}
    assert set(got) == expect_live, vecs
    for i in expect_live:
        n = math.sqrt(_ref_fold(vecs[i], vecs[i]))
        ref_u = [x / n for x in vecs[i]]
        assert [_bits(x) for x in got[i]] == [_bits(x) for x in ref_u], (
            i,
            vecs[i],
        )


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.sampled_from([0, 1, 3, 64, 65]),
        min_size=2,
        max_size=10,
    ).flatmap(
        lambda ws: st.tuples(
            st.just(ws),
            st.lists(
                st.floats(width=32, min_value=-4, max_value=4),
                min_size=sum(ws),
                max_size=sum(ws),
            ),
        )
    )
)
def test_mixed_width_batches_banded(spark, ws_vals):
    """Ragged (mixed-width) batch through _banded_rows: no stage kill,
    each width group processed at its own width — plane dots fold over
    the VECTOR's width (the oracle folds over range(len(v))), and a
    wider-than-DIM row gets the all-zero buckets its NULL-poisoned
    oracle CASE arms would."""
    import math

    from sbs_suptech_etl_v2_spark.operators.similarity import (
        DIM,
        N_BANDS,
        PLANES,
        PLANES_PER_BAND,
        _banded_rows,
    )

    ws, vals = ws_vals
    vecs, pos = [], 0
    for w in ws:
        vecs.append(vals[pos : pos + w])
        pos += w
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, v array<double>"
    )
    rows = {r["vec_id"]: r for r in _banded_rows(df).collect()}
    expect_live = {i for i, v in enumerate(vecs) if _ref_live(v)}
    assert set(rows) == expect_live
    for i in expect_live:
        v = vecs[i]
        expect_buckets = []
        for b in range(N_BANDS):
            bucket = 0
            if len(v) <= DIM:
                for p in range(PLANES_PER_BAND):
                    acc = _ref_fold(v, PLANES[b][p][: len(v)])
                    if acc > 0 or math.isnan(acc):
                        bucket += 1 << p
            expect_buckets.append(bucket)
        assert list(rows[i]["buckets"]) == expect_buckets, (i, v)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.sampled_from([0, 2, 4]),
            st.sampled_from([0, 2, 4]),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_pair_scores_ragged_fallback(spark, width_pairs):
    """_pair_scores on a ragged batch: width-matched non-empty pairs
    survive with the exact per-row fold score; width-mismatched or
    empty pairs DROP (no defined dot) instead of killing the stage."""
    from sbs_suptech_etl_v2_spark.operators.similarity import _pair_scores

    rows = []
    for i, (wa, wb) in enumerate(width_pairs):
        a = [float(i + 1 + j) for j in range(wa)]
        b = [float(2 * i + 1 + j) for j in range(wb)]
        rows.append((i, a, b))
    df = spark.createDataFrame(rows, "i long, a array<double>, b array<double>")
    got = {
        r["i"]: r["score"]
        for r in _pair_scores(df, "a", "b", "i long, score double").collect()
    }
    for i, a, b in rows:
        if len(a) and len(a) == len(b):
            assert _bits(got[i]) == _bits(_ref_fold(a, b)), (i, a, b)
        else:
            assert i not in got, (i, a, b)


def test_pair_scores_null_invariant_raises(spark):
    """A NULL element reaching _pair_scores is an invariant violation
    (callers must pre-filter with _whole_vecs): the kernel fails
    LOUDLY with a named error, never a zero-copy read of the garbage
    value behind the mask (round-10 ADVICE)."""
    import pytest

    from sbs_suptech_etl_v2_spark.operators.similarity import _pair_scores

    df = spark.createDataFrame(
        [(0, [1.0, None, 3.0], [1.0, 2.0, 3.0])],
        "i long, a array<double>, b array<double>",
    )
    with pytest.raises(Exception, match="_pair_scores: NULL"):
        _pair_scores(df, "a", "b", "i long, score double").collect()


def test_empty_vector_rows(spark, tmp_path, oracle_sf_dir):
    """Round-10 ADVICE pin: an EMPTY vector is excluded at the JVM
    boundary (_whole_vecs) — it is zero-norm on the Spark side and
    DuckDB's seedless list_reduce ERRORS on an empty fold, so no
    retrieval set on either engine can contain it; without the filter
    np.stack raises and one malformed row kills the stage."""
    from pyspark.sql import functions as F

    from sbs_suptech_etl_v2_spark.operators.similarity import (
        _banded_rows,
        _dbl,
        _live_vecs,
        _unit,
    )

    emb = spark.read.parquet(f"{oracle_sf_dir}/embeddings.parquet").limit(20)
    base = emb.select("vec_id", _dbl(F.col("embedding")).alias("v")).union(
        spark.createDataFrame(
            [(990001, [])], "vec_id long, v array<double>"
        )
    )
    for fn in (_unit, _live_vecs, _banded_rows):
        ids = {r["vec_id"] for r in fn(base).collect()}
        assert 990001 not in ids
        assert len(ids) == 20


def test_query_mode_empty_buckets(spark, oracle_sf_dir):
    """Query-mode cells with no query member (or, after salting, no
    native candidate) must yield clean empty frames — the pd.concat
    empty edge. A corpus with NO query-stride ids returns zero rows
    without crashing."""
    from pyspark.sql import functions as F

    from sbs_suptech_etl_v2_spark.operators.similarity import (
        QUERY_STRIDE,
        _banded_rows,
        _bucket_pair_scores,
        _dbl,
    )

    emb = spark.read.parquet(f"{oracle_sf_dir}/embeddings.parquet").limit(50)
    base = emb.select(
        (F.col("vec_id") * QUERY_STRIDE + 1).alias("vec_id"),
        _dbl(F.col("embedding")).alias("v"),
    )
    out = _bucket_pair_scores(
        _banded_rows(base),
        "query_id bigint, cand_id bigint, score double",
        query_stride=QUERY_STRIDE,
    )
    assert out.count() == 0


def test_salted_cells_match_unsalted(spark, sf_dir, monkeypatch):
    """The adaptive cell salt (round-10: oversized LSH cells split
    into triangle-partitioned sub-group pairs so no cell must fit one
    python worker) is a pure re-partitioning of the pair space:
    forcing every cell oversized (CELL_TARGET_ROWS=8 → nsub ≈ occ/8)
    must reproduce the default path's result rows BIT-exactly, for
    both pair mode (q25) and query mode (q41)."""
    import sbs_suptech_etl_v2_spark.operators.similarity as sim
    from sbs_suptech_etl_v2_spark.registry import QUERIES

    def grid(df):
        cols = sorted(df.columns)
        return sorted(
            tuple(_bits(v) if isinstance(v, float) else v for v in (row[c] for c in cols))
            for row in df.collect()
        )

    for q in ("q25_embedding_neardup", "q41_ann_bucketed_topk"):
        base = grid(QUERIES[q](spark, sf_dir))
        assert base, q  # non-trivial corpus
        monkeypatch.setattr(sim, "CELL_TARGET_ROWS", 8)
        salted = grid(QUERIES[q](spark, sf_dir))
        monkeypatch.undo()
        assert salted == base, q


def test_query_salt_axes_match_unsalted(spark, oracle_sf_dir, monkeypatch):
    """Query mode salts on TWO axes (round-10 review): the census
    counts query rows separately, so a cell whose QUERY side is
    corpus-proportional (here stride=1 — every row is a query, the
    adversarial worst case for the old everything-replicates-
    everywhere scheme) still splits into groups of ≤ target candidates
    + target queries. Forcing both axes to engage (target=8 → nsc and
    nsq both > 1 in every occupied cell) must reproduce the unsalted
    (query, candidate, score) set BIT-exactly — each ordered pair
    scored exactly once via the merged role-3 seat."""
    from pyspark.sql import functions as F

    import sbs_suptech_etl_v2_spark.operators.similarity as sim

    emb = spark.read.parquet(f"{oracle_sf_dir}/embeddings.parquet").limit(120)
    base = emb.select("vec_id", sim._dbl(F.col("embedding")).alias("v"))

    def grid(target):
        monkeypatch.setattr(sim, "CELL_TARGET_ROWS", target)
        out = sim._bucket_pair_scores(
            sim._banded_rows(base),
            "query_id bigint, cand_id bigint, score double",
            query_stride=1,  # every row is a query AND a candidate
        ).dropDuplicates(["query_id", "cand_id"])
        rows = sorted(
            (r["query_id"], r["cand_id"], _bits(r["score"]))
            for r in out.collect()
        )
        monkeypatch.undo()
        return rows

    unsalted = grid(1 << 16)
    assert unsalted  # non-trivial: every cell pairs its members
    # both axes engaged: 120 rows / target 8 → nsc = nsq ≈ occ/8
    assert grid(8) == unsalted
    # asymmetric engagement: candidate axis splits, query axis dormant
    # is covered by test_salted_cells_match_unsalted (stride=100 → few
    # queries per cell); here also pin a mid target where only SOME
    # cells split
    assert grid(40) == unsalted


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.data(),
)
def test_salt_coverage_fuzz(spark, data):
    """Hypothesis fuzz of the salted scorer's COVERAGE math: for
    random corpora (random vectors incl. negatives/zeros, random id
    gaps), random sub-group targets, and random query strides, the
    salted output must equal the unsalted output as a SET — every
    pair exactly once, none missed, bit-identical scores. The fixed-
    corpus pins (test_salted_cells_match_unsalted /
    test_query_salt_axes_match_unsalted) exercise two cell shapes;
    this explores the space of occupancy patterns, nsc/nsq mixes, and
    triangle-partition layouts around them. dropDuplicates is NOT
    applied on either side, so a double-emitted pair fails here even
    though the production queries would mask it."""
    import sbs_suptech_etl_v2_spark.operators.similarity as sim

    rng = data.draw(st.randoms(use_true_random=False))
    n = data.draw(st.integers(min_value=2, max_value=40))
    width = data.draw(st.integers(min_value=2, max_value=6))
    target = data.draw(st.sampled_from([1, 2, 3, 5, 8]))
    stride = data.draw(st.sampled_from([1, 2, 3]))
    ids = rng.sample(range(0, 400), n)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(width)]) for i in ids
    ]
    base = spark.createDataFrame(rows, "vec_id long, v array<double>")

    def run(mode_kwargs, schema):
        out = sim._bucket_pair_scores(sim._banded_rows(base), schema, **mode_kwargs)
        a, b, s = [f.strip().split()[0] for f in schema.split(",")]
        return sorted(
            (r[a], r[b], _bits(r[s])) for r in out.collect()
        )

    old_target = sim.CELL_TARGET_ROWS
    try:
        for kwargs, schema in (
            ({"threshold": -10.0}, "vec_a bigint, vec_b bigint, cosine double"),
            ({"query_stride": stride}, "query_id bigint, cand_id bigint, score double"),
        ):
            sim.CELL_TARGET_ROWS = 1 << 16
            unsalted = run(kwargs, schema)
            sim.CELL_TARGET_ROWS = target
            assert run(kwargs, schema) == unsalted, (n, width, target, stride, kwargs)
    finally:
        sim.CELL_TARGET_ROWS = old_target


def test_nan_scores_survive_bucket_scorer(spark, oracle_sf_dir):
    """A genuine-NaN vector must flow through _bucket_pair_scores with
    score=NaN, never NULL: the kernel keeps NaN pairs by design (both
    engines order NaN greatest), but applyInPandas serializes pandas
    float64 with from_pandas semantics, masking NaN to SQL NULL — the
    scalar-column twin of the _list_arr problem. The JVM-side coalesce
    in _bucket_pair_scores restores it; this pins both modes."""
    import math

    from pyspark.sql import functions as F

    from sbs_suptech_etl_v2_spark.operators.similarity import (
        COSINE_THRESHOLD,
        QUERY_STRIDE,
        _banded_rows,
        _bucket_pair_scores,
        _dbl,
    )

    emb = spark.read.parquet(f"{oracle_sf_dir}/embeddings.parquet").limit(20)
    dim = len(emb.select("embedding").first()[0])
    nan_vec = [float("nan")] * dim
    # two NaN vectors land in the same all-bits bucket of every band
    # (NaN plane dots are "kept" -> bit set), so they always pair;
    # ids chosen so query mode sees one query and one candidate
    extra = spark.createDataFrame(
        [(QUERY_STRIDE * 7, nan_vec), (QUERY_STRIDE * 7 + 1, nan_vec)],
        "vec_id long, v array<double>",
    )
    base = emb.select(
        # shift real ids off the query stride so the query set is
        # exactly the injected NaN row
        (F.col("vec_id") * QUERY_STRIDE + 3).alias("vec_id"),
        _dbl(F.col("embedding")).alias("v"),
    ).unionByName(extra)

    pair_rows = (
        _bucket_pair_scores(
            _banded_rows(base),
            "vec_a bigint, vec_b bigint, cosine double",
            threshold=COSINE_THRESHOLD,
        )
        .filter(F.col("vec_a") == QUERY_STRIDE * 7)
        .collect()
    )
    assert pair_rows, "NaN pair must survive the threshold"
    assert all(
        r["cosine"] is not None and math.isnan(r["cosine"]) for r in pair_rows
    )

    query_rows = (
        _bucket_pair_scores(
            _banded_rows(base),
            "query_id bigint, cand_id bigint, score double",
            query_stride=QUERY_STRIDE,
        )
        .filter(F.col("query_id") == QUERY_STRIDE * 7)
        .collect()
    )
    assert query_rows, "the NaN query must score against its bucket"
    assert all(
        r["score"] is not None and math.isnan(r["score"]) for r in query_rows
    )


def test_quantize_malformed_vectors(spark, tmp_path, oracle_sf_dir):
    """Round-10 q51 policy pin: a row quantizes only when its scale is
    finite-positive (0 < max|x| < inf); everything else keeps the row
    with the NULL triple.

    Oracle-runnable half: NULL and ALL-ZERO embeddings — the oracle
    yields the NULL triple for each (list_max(NULL) is NULL; DuckDB
    float 127.0/0.0 is NULL, not inf), so full value parity is
    asserted. Non-runnable half: NaN/inf-element vectors make the
    oracle RAISE (CAST(round(nan) AS INTEGER)) and an EMPTY embedding
    raises in list_reduce, while the kernel must degrade those rows to
    NULLs — the previous kernel fed NaN codes through an undefined
    astype(int64). Ragged widths quantize per width group, bit-equal
    to a clean same-width run."""
    import math

    import pyarrow.parquet as pq
    import pytest

    from sbs_suptech_etl_v2_spark.paritycheck import oracle_connection
    from sbs_suptech_etl_v2_spark.registry import ORACLE, QUERIES
    from tests.parity import assert_parity, lake_with

    q = "q51_quantize_embeddings"
    tbl = pq.read_table(f"{oracle_sf_dir}/embeddings.parquet")
    rows = tbl.slice(0, 40).to_pylist()
    dim = len(rows[0]["embedding"])

    def fixture(name, mutate):
        muts = [dict(r) for r in rows]
        mutate(muts)
        return lake_with(
            oracle_sf_dir, tmp_path / name, "embeddings", muts, tbl.schema
        ), muts

    # --- oracle-runnable: NULL / all-zero -> NULL triple --------------
    def mut_a(m):
        m[3]["embedding"] = None
        m[9]["embedding"] = [0.0] * dim

    sf_a, mut_rows = fixture("sf_q51a", mut_a)
    assert_parity(spark, QUERIES[q], ORACLE[q], sf_a, q)
    out = {
        r["vec_id"]: r for r in QUERIES[q](spark, sf_a).collect()
    }
    assert len(out) == len(rows)  # every row preserved
    for i in (3, 9):
        r = out[mut_rows[i]["vec_id"]]
        assert r["scale"] is None
        assert r["code_checksum"] is None
        assert r["mean_abs_err"] is None

    # --- oracle-raising: NaN / inf / empty + ragged width -------------
    def mut_b(m):
        m[2]["embedding"] = [float("nan")] * dim
        m[4]["embedding"][0] = float("inf")
        m[5]["embedding"] = []
        m[6]["embedding"] = m[6]["embedding"][: dim // 2]  # ragged

    sf_b, mut_rows_b = fixture("sf_q51b", mut_b)
    with oracle_connection(sf_b) as con, pytest.raises(Exception):
        con.execute(ORACLE[q]).fetchall()
    out_b = {r["vec_id"]: r for r in QUERIES[q](spark, sf_b).collect()}
    assert len(out_b) == len(rows)
    for i in (2, 4, 5):  # non-finite / undefined scale -> NULL triple
        r = out_b[mut_rows_b[i]["vec_id"]]
        assert r["scale"] is None and r["code_checksum"] is None
    # the ragged row still quantizes (independent per-row math)
    ragged = out_b[mut_rows_b[6]["vec_id"]]
    assert ragged["scale"] is not None and math.isfinite(ragged["scale"])
    # untouched rows are BIT-identical to the clean-corpus run
    clean = {
        r["vec_id"]: r
        for r in QUERIES[q](spark, oracle_sf_dir).collect()
    }
    for i, src in enumerate(mut_rows_b):
        if i in (2, 4, 5, 6):
            continue
        vid = src["vec_id"]
        assert _bits(out_b[vid]["scale"]) == _bits(clean[vid]["scale"])
        assert out_b[vid]["code_checksum"] == clean[vid]["code_checksum"]
        assert _bits(out_b[vid]["mean_abs_err"]) == _bits(
            clean[vid]["mean_abs_err"]
        )
