"""Similarity-search operator family — SURVEY §2.11 [EXT-2].

Approximate-nearest-neighbor and near-duplicate search over the
``embeddings`` table (``embedding: array<float>``, 64-dim), Spark-first:

- **brute-force top-k cosine** — the exactness baseline: broadcast the
  (small by construction) query set against all candidates,
  Arrow-vectorized dot-product + norms, ``row_number`` per query. The
  vector math runs in numpy kernels over ``mapInArrow`` /
  ``applyInPandas`` (the brief's sanctioned vectorized path for
  embedding ops): Catalyst
  HOF expressions (``aggregate``/``zip_with``) are CodegenFallback —
  interpreted, profiled at ~2 ms/row for these 64-dim chains — while
  the kernels run the identical IEEE fold at ~20× less executor CPU.
- **sign-LSH bucketed near-dup** — the 100 TB path: random-hyperplane
  signs bucket each vector into 2 bands × 4-bit buckets; candidate
  pairs come from a bucket self-join (shuffle on (band, bucket) only,
  never the all-pairs product), then the exact cosine filter keeps
  true near-duplicates. Recall for cos≈0.98 pairs with 2 OR-ed bands
  of 4 hyperplanes ≈ 95%; add bands for higher recall at constant
  per-band cost. The IVF alternative (k-means coarse quantizer →
  per-centroid candidate lists) drops in by replacing the bucket id
  with a nearest-centroid id.

Float determinism: every dot product is a *sequential left fold* over
the (double-cast) elements in index order — ``_np_fold_dot`` folds
dimension-at-a-time (vectorized across rows, never pairwise-summed),
DuckDB ``list_reduce`` folds identically, and sqrt/division are
correctly-rounded IEEE ops, so scores match the oracle bit-for-bit.

The corpus has no natural near-dups (max pairwise cosine ≈ 0.51), so
the near-dup query plants deterministic perturbed variants (every 5th
vector, ±0.02 per component, cosine ≈ 0.98 to the base) — both engines
synthesize the identical corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sbs_suptech_etl_v2_spark.io import spread, table
from sbs_suptech_etl_v2_spark.checkpointing import materialize
from sbs_suptech_etl_v2_spark.operators.dedup import (
    components_sql,
    fixpoint_clusters_from_pairs,
)

TOP_K = 10
QUERY_STRIDE = 100  # vec_id % stride == 0 → query vector
# q24 broadcasts its query set: cap it at a FIXED count so broadcast
# size is corpus-independent (a %-stride alone grows as |V|/stride —
# an OOM at 100×). q41/q47 queries ride the bucket shuffle instead and
# may keep growing with the corpus.
MAX_BF_QUERIES = 16

NEARDUP_OFFSET = 100_000
NEARDUP_STRIDE = 5  # every 5th vector gets a planted variant
PERTURB = 0.02
COSINE_THRESHOLD = 0.9

DIM = 64
# 2 OR-ed bands of 4-bit sign buckets: per-band candidate volume is
# ~|corpus|^2/16 — verified fast enough because each candidate costs a
# single unit-vector dot. More planes/band buys selectivity at the cost
# of recall for mid-cosine (0.9-0.95) pairs; tune per corpus density.
N_BANDS = 2
PLANES_PER_BAND = 4


def _plane_signs(band: int, plane: int) -> list[int]:
    """Deterministic ±1 hyperplane components from md5 bits — generated
    identically for the Spark literals and the oracle SQL.

    md5-derived signs are pairwise-uncorrelated across planes; an LCG
    bit pattern measured ~50% MORE candidate pairs at the same bucket
    width because correlated planes co-bucket unrelated vectors.
    """
    import hashlib

    signs = []
    for j in range(DIM):
        digest = hashlib.md5(f"plane-{band}-{plane}-{j}".encode()).digest()
        signs.append(1 if digest[0] & 1 == 0 else -1)
    return signs


PLANES = [
    [_plane_signs(b, p) for p in range(PLANES_PER_BAND)] for b in range(N_BANDS)
]


def _dbl(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


# SQL-text twin of the ubiquitous `_dbl(embedding) AS v` projection —
# one selectExpr round trip instead of the per-node Column chatter
# (guide §5); resolves to the identical transform/cast expression.
_DBL_V_SQL = "transform(embedding, x -> cast(x as double)) AS v"


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — RETAINED ONLY as the
    reference implementation the kernel property tests compare
    against (tests/test_kernel_properties.py). Do NOT use in query
    plans: HOF expressions evaluate on Catalyst's interpreted
    CodegenFallback path (~2 ms/row for these 64-dim chains, the
    round-9 root cause); every production dot goes through the
    Arrow-vectorized kernels below, which run the identical IEEE op
    sequence.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _np_fold_dot(A, B):
    """Dimension-ordered fold dot, vectorized over rows.

    ``acc = (((0.0 + a0·b0) + a1·b1) + …`` per row — the exact op
    sequence of ``_dot`` / the oracle's ``list_reduce``, applied
    column-at-a-time so numpy vectorizes across rows. NEVER replace
    with ``(A*B).sum(axis=1)`` / ``np.einsum``: pairwise summation
    rounds differently and breaks bit-parity (the q51 lesson).
    """
    import numpy as np

    acc = np.zeros(len(A), dtype=np.float64)
    # inf*0 / inf-inf legitimately produce NaN here (NaN-vector rows
    # are KEPT by _np_keep), and huge finite elements legitimately
    # overflow to inf — the same values the Catalyst/DuckDB folds
    # produce silently; silence both per-batch IEEE warnings so they
    # can't spam every executor's stderr at scale
    with np.errstate(invalid="ignore", over="ignore"):
        for d in range(A.shape[1]):
            acc = acc + A[:, d] * B[:, d]
    return acc


def _np_keep(acc):
    """Row-keep mask mirroring Spark/DuckDB ``dot > 0`` semantics:
    both engines order NaN above every number, so a NaN dot KEEPS the
    row (its score stays NaN on both sides); numpy's ``NaN > 0`` is
    False and needs the explicit disjunct."""
    import numpy as np

    return (acc > 0) | np.isnan(acc)


def _whole_vecs(vecs: DataFrame) -> DataFrame:
    """Drop rows whose vector is NULL, EMPTY, or contains a NULL
    ELEMENT — BEFORE any numpy kernel sees them.

    Arrow hands the kernels NaN for a NULL list element, which is
    indistinguishable from a genuine NaN — but the two must diverge:
    a NULL element poisons both engines' folds to NULL and the
    oracle's ``WHERE fold > 0`` DROPS the row, while a genuine-NaN
    vector folds to NaN and is KEPT (NaN orders above every number in
    both engines). The old expression fold got this for free; the
    kernels need the distinction restored at the JVM boundary, where
    Arrow still knows which is which. ``array_compact`` strips NULL
    elements, so a length change flags them; a NULL array compares
    NULL and is dropped by the filter too. Pinned by
    tests/test_kernel_properties.py::test_null_element_vs_nan_vector.

    Empty vectors are excluded here too (round-10 ADVICE): an empty
    vector is zero-norm on the Spark side (``dot > 0`` drops it) and
    DuckDB's seedless ``list_reduce`` ERRORS on an empty fold, so both
    engines exclude it from every retrieval set — and a 0-width row
    must never reach ``np.stack`` (ValueError kills the stage).
    Pinned by tests/test_kernel_properties.py::test_empty_vector_rows.
    """
    return vecs.filter(
        "size(v) > 0 AND size(array_compact(v)) = size(v)"
    )


def _width_groups(sub, col: str = "v"):
    """Split one batch's non-NULL rows into per-width sub-frames.

    The data contract is ONE fixed dimension per vector column, so
    real batches take the single-group fast path (one length scan, no
    copies). A corrupt mixed-width batch — the round-10 ADVICE case —
    would otherwise raise ``ValueError`` inside ``np.stack`` and kill
    the whole stage; splitting by width lets every well-formed row
    process normally (each row's fold/normalization is per-row math,
    so group order is irrelevant) and quarantines the malformation to
    its own vectorized group. Zero-width rows are skipped — excluded
    upstream by ``_whole_vecs`` anyway (zero-norm on both engines).
    Fuzzed by tests/test_kernel_properties.py::test_mixed_width_batches.

    This is the RETRIEVAL-family policy (malformed rows leave the
    working set). ``quantize_embeddings`` intentionally does not share
    it: quantization keeps every row and stitches NULL outputs back by
    position, so its kernel groups by width inline over row indices.
    """
    import numpy as np

    if not len(sub):
        return
    widths = np.fromiter(
        (len(x) for x in sub[col]), dtype=np.int64, count=len(sub)
    )
    if (widths == widths[0]).all():
        if widths[0] > 0:
            yield sub
        return
    for w in np.unique(widths):
        if w == 0:
            continue
        yield sub[widths == w]


def _live_arrays(pdf):
    """Shared kernel prep, one (ids, live raw matrix) pair PER VECTOR
    WIDTH — the notna/stack/keep sequence every scan-side kernel runs
    (NULL semantics live in _whole_vecs + _np_keep, ragged-width
    quarantine in _width_groups; each fixable in ONE place — every
    scan-side kernel, unit-normalizing or not, routes through here)."""
    sub = pdf[pdf["v"].notna()]
    for grp in _width_groups(sub):
        V = _stack(grp["v"])
        keep = _np_keep(_np_fold_dot(V, V))
        if not keep.any():
            continue
        yield grp["vec_id"][keep], V[keep]


def _live_unit_arrays(pdf):
    """``_live_arrays`` plus the unit-normalized matrix — (ids, raw,
    unit) triples for the kernels that score cosines on pre-normalized
    vectors."""
    import numpy as np

    for ids, Vk in _live_arrays(pdf):
        n = np.sqrt(_np_fold_dot(Vk, Vk))
        # inf/inf -> NaN is legitimate here (inf-element vectors are
        # kept); silence the IEEE-invalid warning like _np_fold_dot
        with np.errstate(invalid="ignore", over="ignore"):
            U = Vk / n[:, None]
        yield ids, Vk, U


def _stack(col):
    """pandas column of Arrow list values -> (n, dim) float64 matrix.

    float32→float64 element casts are exact, so feeding raw
    ``embedding`` arrays here equals the ``_dbl``-cast path bit-for-bit.
    Callers guarantee width-uniform input (``_width_groups``) — a
    ragged call would raise inside ``np.stack``.
    """
    import numpy as np

    return np.stack([np.asarray(x, dtype=np.float64) for x in col])


def _list_arr(M, typ):
    """(n, w) numpy matrix -> Arrow list array, NaN-PRESERVING.

    The scan-side kernels must emit their vector columns through
    explicit Arrow construction, not pandas conversion: Spark's
    pandas→Arrow serializer applies from_pandas semantics to list
    ELEMENTS, masking every NaN as a SQL NULL — which silently
    re-conflates the NULL-element-vs-NaN-vector distinction that
    ``_whole_vecs`` restores (a NULL element must DROP the row, a NaN
    vector must SURVIVE with NaN scores on both engines). Round 9
    shipped that conflation and the zero-copy reshape in
    ``_pair_scores`` only read the right answer because Arrow's value
    buffer happened to still hold the NaN bits behind the mask — the
    exact hazard the round-10 ADVICE called out. Building the
    ListArray from the flat value buffer keeps every NaN a NaN, so
    downstream no-null invariants are real, not lucky.
    """
    import numpy as np
    import pyarrow as pa

    n, w = M.shape
    # ListArray offsets are int32: a batch with n*w > 2^31 values would
    # WRAP under a silent astype and zero-copy-read garbage vectors —
    # the exact corruption class this helper exists to prevent. Spark's
    # arrow.maxRecordsPerBatch (default 10k) keeps real batches ~5
    # orders below the line; refuse loudly if a misconfiguration ever
    # crosses it (the fix is a smaller batch size, not LargeListArray —
    # Spark's reader expects list<>, not large_list<>).
    if n * w > np.iinfo(np.int32).max:
        raise ValueError(
            f"_list_arr: batch of {n} rows × {w} dims overflows int32 "
            "ListArray offsets; lower spark.sql.execution.arrow."
            "maxRecordsPerBatch"
        )
    offsets = pa.array((np.arange(n + 1, dtype=np.int64) * w).astype(np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(M.ravel(), type=typ))


def _unit(vecs: DataFrame) -> DataFrame:
    """Unit-normalize ``(vec_id, v)`` rows — Arrow-vectorized kernel.

    Zero-norm (dead/padding) vectors are DROPPED, not divided: a zero
    embedding has no direction, and the oracle's unit CTE carries the
    same ``WHERE dot(v,v) > 0`` so both engines retrieve over the
    identical live-vector set. NULL vectors drop the same way (a NULL
    dot fails the oracle's WHERE). Division happens in the kernel —
    no ANSI divide-by-zero hazard, no predicate-fusion ordering trap.

    Why a kernel and not the previous ``aggregate``/``transform``
    expression chain: HOF expressions are CodegenFallback — profiled at
    ~2 ms/row for the norm+divide+plane-dot chains, they made the
    similarity family the most CPU-expensive queries in the suite at
    2,400 rows. The numpy path is the brief's sanctioned vectorized
    form for embedding math, runs the identical dimension-ordered IEEE
    fold (``_np_fold_dot``), and measured ~20× less executor CPU.
    Scale posture: a scan-side ``mapInArrow`` kernel — narrow in
    (id + vector), narrow out, no shuffle introduced, batch size
    governed by ``spark.sql.execution.arrow.maxRecordsPerBatch``;
    outputs are built with ``_list_arr`` so NaN elements leave the
    kernel as NaN values, never Arrow NULLs.
    Works at any dimension (q107 feeds 16-wide truncations).

    Kernel inputs deliberately do NOT ``spread()``: each python task
    pays a fixed per-task cost, so 32 micro-partitions of a 2,400-row
    table cost ~30× the overhead of one vectorized batch (measured:
    spread+kernel burned MORE total CPU than the HOF chain it
    replaced; unspread it is ~4× less). ~100 ms of that cost was the
    zip-archive re-read in ``importlib.invalidate_caches()`` that
    ``worker_daemon`` now skips, so the rule wants re-measuring. On a
    production lake the scan already arrives many-partitioned and the
    same per-partition batching amortizes naturally.
    """

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            pdf = batch.to_pandas()
            for ids, _, U in _live_unit_arrays(pdf):
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(ids.to_numpy(), type=pa.int64()),
                        _list_arr(U, pa.float64()),
                    ],
                    names=["vec_id", "u"],
                )

    return _whole_vecs(vecs).mapInArrow(kernel, "vec_id bigint, u array<double>")


def _banded_rows(vecs: DataFrame) -> DataFrame:
    """Fused unit-normalization + sign-LSH banding kernel.

    One Arrow pass emits ``(vec_id, u, buckets)`` — the unit vector and
    the per-band {PLANES_PER_BAND}-bit sign buckets — then a JVM
    ``posexplode`` yields the ``(vec_id, u, band, bucket)`` rows the
    bucket self-joins consume. Bucket bit p of band b is
    ``dot(v, plane(b,p)) > 0`` with the same fold order and NaN-keeps
    semantics as the oracle's CASE (see ``_np_keep``); ±1-sign
    multiplies are exact, so sign tests match the SQL bit-for-bit.
    """
    planes = [
        [[float(s) for s in PLANES[b][p]] for p in range(PLANES_PER_BAND)]
        for b in range(N_BANDS)
    ]

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            pdf = batch.to_pandas()
            for ids, Vk, U in _live_unit_arrays(pdf):
                # plane dots fold over the VECTOR's width (the oracle's
                # fold runs over range(len(v)), so a short row uses the
                # plane's prefix); a wider-than-DIM row indexes past the
                # plane on both sides — the oracle's out-of-range list
                # access poisons the fold to NULL and every CASE arm
                # yields 0, mirrored here by the all-zero bucket.
                w = Vk.shape[1]
                buckets = []
                for b in range(N_BANDS):
                    bucket = np.zeros(len(Vk), dtype=np.int64)
                    if w <= DIM:
                        for p in range(PLANES_PER_BAND):
                            S = np.asarray(planes[b][p], dtype=np.float64)
                            acc = np.zeros(len(Vk), dtype=np.float64)
                            # same IEEE-invalid silencing as
                            # _np_fold_dot (inf-inf -> NaN is valid)
                            with np.errstate(invalid="ignore", over="ignore"):
                                for d in range(w):
                                    acc = acc + Vk[:, d] * S[d]
                            bucket += np.where(_np_keep(acc), 1 << p, 0)
                    buckets.append(bucket)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(ids.to_numpy(), type=pa.int64()),
                        _list_arr(U, pa.float64()),
                        _list_arr(
                            np.stack(buckets, axis=1).astype(np.int32),
                            pa.int32(),
                        ),
                    ],
                    names=["vec_id", "u", "buckets"],
                )

    return _whole_vecs(vecs).mapInArrow(
        kernel, "vec_id bigint, u array<double>, buckets array<int>"
    )


def _explode_bands(banded: DataFrame) -> DataFrame:
    return banded.selectExpr(
        "vec_id", "u", "posexplode(buckets) AS (band, bucket)"
    )


GRID_BLOCK = 4096  # max A-side rows per grid block (see _bucket_grid_blocks)
GRID_CELL_BUDGET = 1 << 25  # max doubles in one grid accumulator (256 MB)


def _bucket_grid_blocks(U, A):
    """A×U fold-dot grid for ONE sub-group pair, in row blocks.

    Yields ``(start, acc_block)`` where ``acc_block[i, j] =
    fold-dot(A[start+i], U[j])`` accumulated dimension-by-dimension —
    every pair sees the exact left-fold op order of
    ``_dot``/``list_reduce``, vectorized over the block. A
    ``U @ U.T`` matmul would be 1-2 orders faster but rounds
    differently (BLAS blocking/FMA) and is banned for parity.

    The block height adapts to the candidate side: ``rows × len(U)``
    never exceeds ``GRID_CELL_BUDGET`` doubles, so the accumulator is
    bounded at 256 MB no matter how the cell was (mis-)tuned. The
    grid does evaluate the masked j<=i half in the all-pairs mode —
    ~2× the fold work the old pair join did — which the ~60×
    vectorization win absorbs. Blocking is numerically irrelevant:
    each pair's fold is an independent dimension-ordered sequence.
    """
    import numpy as np

    rows = max(1, min(GRID_BLOCK, GRID_CELL_BUDGET // max(1, len(U))))
    for start in range(0, len(A), rows):
        blk = A[start : start + rows]
        acc = np.zeros((len(blk), len(U)), dtype=np.float64)
        # same IEEE-invalid silencing rationale as _np_fold_dot
        with np.errstate(invalid="ignore", over="ignore"):
            for d in range(U.shape[1]):
                acc = acc + blk[:, d, None] * U[None, :, d]
        yield start, acc


# Target occupancy per salted sub-group: one kernel invocation holds at
# most ~2 × CELL_TARGET_ROWS unit vectors (≈ 70 MB at 64 dims) plus one
# GRID_CELL_BUDGET accumulator — the binding worker-memory quantity.
# Cells at or under the target pay ZERO overhead (nsub=1 → no
# replication, one group per cell, bit-identical to the unsalted
# shape); an oversized cell splits into nsub = ceil(occ/target)
# sub-groups whose pair coverage is the triangle partition below, at
# the cost of replicating that cell's rows nsub× through the shuffle
# (occ²/target rows for a pathological cell — still occupancy× less
# than shuffling the pair fan-out itself, and it buys nsub(nsub+1)/2-
# way task parallelism where the unsalted shape serialized the whole
# cell into ONE python worker). PLANES_PER_BAND remains the primary
# selectivity knob; the salt is the backstop that makes a hot cell a
# throughput problem instead of an OOM.
CELL_TARGET_ROWS = 1 << 16


def _bucket_pair_scores(
    banded_rows: DataFrame,
    out_schema: str,
    threshold: float | None = None,
    query_stride: int | None = None,
    query_cap: int | None = None,
    cut: bool = True,
) -> DataFrame:
    """Score candidate pairs INSIDE their (band, bucket) LSH cell,
    with oversized cells salted into bounded sub-group pairs.

    Takes the UN-exploded ``_banded_rows`` output ``(vec_id, u,
    buckets)`` and explodes internally — so the ``cut=True`` lineage
    cut checkpoints each unit vector ONCE, not N_BANDS times (the
    explode is re-derived from the checkpoint on both consumers).

    The join-era shape streamed the C(occupancy, 2) pair fan-out —
    both 64-double vectors on every row — through a shuffle. Grouping
    the banded rows by cell (``applyInPandas``) keeps the pair grid
    inside one numpy batch and emits the (tiny) result-shaped pair
    list — but a grouped kernel must HOLD its group, so a hot cell
    used to mean one python worker materializing the whole cell
    (round-10 ADVICE: the binding constraint of the 100 TB claim).

    The salt closes that: a per-cell census (one tiny broadcast-
    joined count over the materialized banded frame) splits hot cells
    into sub-groups of ≤ ``CELL_TARGET_ROWS`` rows each, and

    - **pair mode** (``threshold``): ``nsub = ceil(occ / target)``;
      a row with salt ``s = xxhash64(vec_id) % nsub`` replicates into
      the nsub groups ``(min(s,t), max(s,t))`` for every t — the
      classic triangle partition, so every unordered pair of salts
      (and hence every candidate pair) lands in EXACTLY one
      ``(band, bucket, ga, gb)`` group, sized ≤ 2×target rows;
    - **query mode** (``query_stride``/``cap``): TWO salt axes — the
      census counts all rows (``nsc`` candidate subs) AND query rows
      (``nsq`` query subs), so the per-group row load is bounded even
      when the query side is corpus-proportional (an uncapped stride
      on a hot cell — the round-10 review case; one global salt axis
      replicated EVERY query row into EVERY sub-group, growing groups
      linearly with occupancy). Every row sits as CANDIDATE in groups
      ``(sc, t)`` for t < nsq; a query row additionally sits as QUERY
      in groups ``(s, sq)`` for s < nsc; the one colliding seat
      ``(sc, sq)`` merges into a both-roles row, so each (query,
      candidate) pair meets in exactly one group of
      ≤ target candidates + target queries. Dormant cells (occ and
      query count ≤ target) emit exactly one row per input row, the
      pre-salt plan.

    At-or-under-target cells pay zero overhead in both modes. Scores
    are bit-identical in all shapes — same vectors, same
    dimension-ordered fold, orientation-free (IEEE multiply
    commutes); coverage equality is property-tested by
    tests/test_kernel_properties.py::test_salted_cells_match_unsalted
    and ::test_query_salt_axes_match_unsalted.

    ``threshold`` keeps pairs with ``score >= threshold`` (NaN keeps,
    mirroring both engines' NaN-is-greatest ordering) and emits each
    unordered pair once (``vec_a < vec_b``). ``query_stride``/``cap``
    instead select query rows (``vec_id % stride == 0`` and optional
    ``vec_id < stride*cap``) and score them against every OTHER
    bucket member. ``cut=False`` skips the lineage cut when the
    caller's banded-rows frame is already materialized (q90).
    Mixed-width (corrupt) rows quarantine per width group; a
    cross-width pair has no defined cosine and is dropped rather than
    killing the stage.
    """
    if cut:
        # the occupancy census and the grouped scorer both consume the
        # banded frame; without the cut the banding kernel (and its
        # corpus scan) would run twice. Cut BEFORE the band explode:
        # the checkpoint then stores each 64-double unit vector once,
        # not once per band. LAZY (r18, VERDICT r17 #3): the census is
        # the hinted-broadcast build side of the salted join, so AQE
        # must finish the census stage — which computes and persists
        # the banded RDD — before the scorer stage that re-scans it
        # can start; the stage dependency makes the lazy cut race-free
        # and saves the dedicated eager-checkpoint job. (q90 passes
        # cut=False and keeps its own EAGER cut: its frame feeds two
        # independent legs whose leaf stages run concurrently.)
        banded_rows = materialize(banded_rows, eager=False)
    banded = _explode_bands(banded_rows)
    is_q = None
    if query_stride is not None:
        is_q = F.col("vec_id") % query_stride == 0
        if query_cap is not None:
            is_q = is_q & (F.col("vec_id") < query_stride * query_cap)
    # cell-id space is bounded (N_BANDS × 2^PLANES_PER_BAND), so the
    # census is always broadcastable — never a shuffled join
    census_aggs = [F.count(F.lit(1)).alias("occ")]
    if is_q is not None:
        census_aggs.append(
            F.sum(F.when(is_q, 1).otherwise(0)).alias("qocc")
        )
    occ = banded.groupBy("band", "bucket").agg(*census_aggs)

    def _nsub(count_col: str) -> Column:
        return F.greatest(
            F.lit(1), F.ceil(F.col(count_col) / F.lit(CELL_TARGET_ROWS))
        ).cast("int")

    census_cols = ["band", "bucket", _nsub("occ").alias("nsc")]
    if is_q is not None:
        census_cols.append(_nsub("qocc").alias("nsq"))
    salted = banded.join(F.broadcast(occ.select(*census_cols)), ["band", "bucket"])
    # hash, not a raw modulus: vec_ids are strided in places
    # (queries, planted variants) and a correlated salt would
    # re-concentrate exactly the rows being spread
    salted = salted.withColumn(
        "salt", F.pmod(F.xxhash64("vec_id"), F.col("nsc")).cast("int")
    )
    if query_stride is None:
        assigns = F.transform(
            F.sequence(F.lit(0), F.col("nsc") - 1),
            lambda t: F.struct(
                F.least(F.col("salt"), t).cast("int").alias("ga"),
                F.greatest(F.col("salt"), t).cast("int").alias("gb"),
            ),
        )
    else:
        salted = salted.withColumn(
            "qsalt", F.pmod(F.xxhash64("vec_id"), F.col("nsq")).cast("int")
        )
        # candidate seats: (sc, t) for every query sub t; a query
        # row's seat at t == its own query salt doubles as its query
        # seat (role 3 = both), so the dormant case stays one row
        cand_assigns = F.transform(
            F.sequence(F.lit(0), F.col("nsq") - 1),
            lambda t: F.struct(
                F.col("salt").alias("ga"),
                t.cast("int").alias("gb"),
                F.when(is_q & (t == F.col("qsalt")), F.lit(3))
                .otherwise(F.lit(1))
                .cast("int")
                .alias("role"),
            ),
        )
        # query seats: (s, sq) for every candidate sub s EXCEPT the
        # row's own (already covered by the role-3 candidate seat)
        query_assigns = F.filter(
            F.transform(
                F.sequence(F.lit(0), F.col("nsc") - 1),
                lambda s: F.struct(
                    s.cast("int").alias("ga"),
                    F.col("qsalt").alias("gb"),
                    F.lit(2).cast("int").alias("role"),
                ),
            ),
            lambda st: st.getField("ga") != F.col("salt"),
        )
        assigns = F.when(
            is_q, F.concat(cand_assigns, query_assigns)
        ).otherwise(cand_assigns)
    # Each mode ships exactly the side-selector column its kernel
    # reads through the cell-key exchange — pair mode the salt, query
    # mode the per-seat role bits — never both (the exchange is the
    # biggest in q25/q41/q47; a dead int per replicated row is pure
    # shuffle overhead).
    mode_cols = (
        [F.col("salt")]
        if query_stride is None
        else [F.col("g.role").alias("role")]
    )
    grouped_src = salted.select(
        "vec_id", "u", "band", "bucket", "salt", F.explode(assigns).alias("g")
    ).select(
        "vec_id",
        "u",
        "band",
        "bucket",
        F.col("g.ga").alias("ga"),
        F.col("g.gb").alias("gb"),
        *mode_cols,
    )

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        ga = int(pdf["ga"].iat[0])
        gb = int(pdf["gb"].iat[0])
        outs = []
        for grp in _width_groups(pdf, "u"):
            ids = grp["vec_id"].to_numpy()
            U = _stack(grp["u"])
            if query_stride is not None:
                role = grp["role"].to_numpy()
                qm = (role & 2) != 0
                cm = (role & 1) != 0
                if not qm.any() or not cm.any():
                    continue
                qids, Q = ids[qm], U[qm]
                cids, C = ids[cm], U[cm]
                for start, acc in _bucket_grid_blocks(C, Q):
                    arow = qids[start : start + len(acc)]
                    i, j = np.nonzero(arow[:, None] != cids[None, :])
                    outs.append(
                        pd.DataFrame(
                            {
                                "vec_a": arow[i],
                                "vec_b": cids[j],
                                "score": acc[i, j],
                            }
                        )
                    )
                continue
            gs = grp["salt"].to_numpy()
            if ga == gb:
                sel = gs == ga
                aids, A = ids[sel], U[sel]
                bids, B = aids, A
            else:
                am, bm = gs == ga, gs == gb
                aids, A = ids[am], U[am]
                bids, B = ids[bm], U[bm]
            if not len(aids) or not len(bids):
                continue
            for start, acc in _bucket_grid_blocks(B, A):
                arow = aids[start : start + len(acc)]
                if ga == gb:
                    mask = arow[:, None] < bids[None, :]
                else:
                    # disjoint salt sides: every cross pair is distinct
                    mask = np.ones(acc.shape, dtype=bool)
                if threshold is not None:
                    mask &= (acc >= threshold) | np.isnan(acc)
                i, j = np.nonzero(mask)
                xa, xb = arow[i], bids[j]
                outs.append(
                    pd.DataFrame(
                        {
                            "vec_a": np.minimum(xa, xb),
                            "vec_b": np.maximum(xa, xb),
                            "score": acc[i, j],
                        }
                    )
                )
        if not outs:
            return pd.DataFrame(
                {
                    "vec_a": np.array([], dtype=np.int64),
                    "vec_b": np.array([], dtype=np.int64),
                    "score": np.array([], dtype=np.float64),
                }
            )
        return pd.concat(outs, ignore_index=True)

    names = [f.strip().split()[0] for f in out_schema.split(",")]

    def renamed(pdf):
        out = kernel(pdf)
        out.columns = names
        return out

    scored = grouped_src.groupBy("band", "bucket", "ga", "gb").applyInPandas(
        renamed, out_schema
    )
    # applyInPandas serializes the kernel's pandas frame with
    # from_pandas semantics, which masks a float64 NaN to SQL NULL —
    # the exact conflation _list_arr exists to prevent on the vector
    # columns, recurring here on the SCALAR score column. The kernel
    # never emits a missing score (every row carries a computed
    # float), so any NULL in the serialized column IS a masked NaN:
    # restore it JVM-side, keeping NaN-vector pairs NaN like the
    # oracle (both engines then order them greatest in the top-k).
    score_col = names[2]
    return scored.withColumn(
        score_col,
        F.coalesce(F.col(score_col), F.lit(float("nan"))),
    )


def _pair_scores(
    df: DataFrame,
    a: str,
    b: str,
    out_schema: str,
    score: str = "score",
    normalize: bool = False,
) -> DataFrame:
    """Per-row fold dot ``score = dot(df[a], df[b])`` — Arrow kernel.

    ``normalize=True`` computes the full cosine
    ``dot(a,b) / (sqrt(dot(a,a)) · sqrt(dot(b,b)))`` for callers whose
    inputs are raw (non-unit) vectors; rows are pre-filtered to
    positive norms upstream, and a NaN denominator yields NaN on both
    engines, so no guard is needed in the kernel.

    Passes through every non-``score`` column named in ``out_schema``
    (bit-preserving Arrow round-trip). Used on every pair fan-out
    (bucket-join candidates, broadcast query×corpus scoring, centroid
    assignment): these frames are pair-count-sized, so the interpreted
    HOF fold was quadratic-ish CPU; the kernel is one vectorized pass.
    """
    keep = [
        f.strip().split()[0]
        for f in out_schema.split(",")
        if f.strip().split()[0] != score
    ]

    def kernel(batches):
        import math

        import numpy as np
        import pyarrow as pa

        def mat(batch, name):
            # zero-copy (n, dim) view of a fixed-width list<double>
            # column: the flat Arrow value buffer reshapes directly —
            # no per-row python loop (profiled: np.stack over the pair
            # fan-out dominated the kernel at ~5 µs/row). NULL rows or
            # elements are an INVARIANT VIOLATION, not a fallback case:
            # every caller feeds _whole_vecs/_unit outputs, and a
            # silent fallback would either crash on np.asarray(None)
            # or zero-copy-read the garbage value behind a masked slot
            # (round-10 ADVICE) — fail loudly instead. Returns None
            # for a ragged (mixed-width) column: the per-row path
            # below handles that without killing the stage.
            col = batch.column(batch.schema.get_field_index(name))
            if col.null_count or col.flatten().null_count:
                raise ValueError(
                    f"_pair_scores: NULL row or element in {name!r} — "
                    "vector inputs must be pre-filtered with _whole_vecs "
                    "(see similarity.py)"
                )
            off = np.asarray(col.offsets)
            widths = np.diff(off)
            if len(widths) and (widths == widths[0]).all() and widths[0] > 0:
                flat = np.asarray(col.values, dtype=np.float64)
                n, w = len(widths), int(widths[0])
                return flat[off[0] : off[0] + n * w].reshape(n, w)
            return None

        for batch in batches:
            if not batch.num_rows:
                continue
            A, B = mat(batch, a), mat(batch, b)
            if A is not None and B is not None and A.shape[1] == B.shape[1]:
                s = _np_fold_dot(A, B)
                if normalize:
                    # inf/inf -> NaN is legitimate; silence the
                    # IEEE-invalid warning like _np_fold_dot
                    with np.errstate(invalid="ignore", over="ignore"):
                        s = s / (
                            np.sqrt(_np_fold_dot(A, A))
                            * np.sqrt(_np_fold_dot(B, B))
                        )
                cols = [
                    batch.column(batch.schema.get_field_index(k)) for k in keep
                ] + [pa.array(s, type=pa.float64())]
                yield pa.RecordBatch.from_arrays(cols, names=keep + [score])
                continue
            # ragged (corrupt mixed-width) batch: per-row exact fold on
            # width-matched pairs; a width-mismatched or empty pair has
            # no defined dot/cosine and is DROPPED — one malformed row
            # must degrade the result, never kill the stage. Same fold
            # order as the vectorized path, scalar at a time.
            la = batch.column(batch.schema.get_field_index(a)).to_pylist()
            lb = batch.column(batch.schema.get_field_index(b)).to_pylist()
            idx, scores = [], []
            for i, (ra, rb) in enumerate(zip(la, lb)):
                if not ra or len(ra) != len(rb):
                    continue
                acc = 0.0
                for x, y in zip(ra, rb):
                    acc = acc + x * y
                if normalize:
                    na = 0.0
                    nb = 0.0
                    for x in ra:
                        na = na + x * x
                    for y in rb:
                        nb = nb + y * y
                    acc = acc / (math.sqrt(na) * math.sqrt(nb))
                idx.append(i)
                scores.append(acc)
            sub = batch.take(pa.array(idx, type=pa.int64()))
            cols = [
                sub.column(sub.schema.get_field_index(k)) for k in keep
            ] + [pa.array(np.asarray(scores, dtype=np.float64), type=pa.float64())]
            yield pa.RecordBatch.from_arrays(cols, names=keep + [score])

    return df.mapInArrow(kernel, out_schema)


def _live_vecs(vecs: DataFrame) -> DataFrame:
    """``WHERE dot(v, v) > 0`` as an Arrow kernel — the zero-norm /
    NULL-vector exclusion (see ``_unit``) for callers that keep RAW
    vectors (q24 scores cosines from the originals)."""

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            pdf = batch.to_pandas()
            for ids, Vk in _live_arrays(pdf):
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(ids.to_numpy(), type=pa.int64()),
                        _list_arr(Vk, pa.float64()),
                    ],
                    names=["vec_id", "v"],
                )

    return _whole_vecs(vecs).mapInArrow(kernel, "vec_id bigint, v array<double>")


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> {a}[i] * {b}[i]), (acc, x) -> acc + x)"
    )


def _dbl_list(signs: list[int]) -> str:
    return "[" + ", ".join(f"{float(s)!r}" for s in signs) + "]::DOUBLE[]"


# One-row CTE of DOUBLE[] columns, the LSH hyperplanes p{band}{plane}
# and the near-dup perturbation pattern, joined where the oracles read
# vectors: a literal inlined into a list lambda is rebuilt for every
# element read. ±1.0 factors are exact either way (bit-identical rows).
_PLANES_CTE = "planes AS (\n  SELECT " + ",\n    ".join(
    [f"{_dbl_list(s)} AS p{b}{p}" for b, band in enumerate(PLANES) for p, s in enumerate(band)]
    + [f"{_dbl_list(_plane_signs(7, 7))} AS variant"]
) + "\n)"


def _sql_bucket(band: int) -> str:
    return " + ".join(
        f"CASE WHEN {_sql_dot('v', f'p{band}{p}')} > 0 THEN {1 << p} ELSE 0 END"
        for p in range(PLANES_PER_BAND)
    )


# (vec_id, u, band, bucket) rows of the ``unit`` CTE, one per band
_BANDED_UNION = "\n  UNION ALL\n".join(
    f"  SELECT vec_id, u, {b} AS band, {_sql_bucket(b)} AS bucket FROM unit, planes"
    for b in range(N_BANDS)
)


def topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-2] brute-force top-k cosine — the ANN exactness baseline.

    Query set = every {QUERY_STRIDE}-th vector, capped at
    {MAX_BF_QUERIES} queries — a FIXED count, so the broadcast stays
    constant-size no matter how large the corpus grows. Broadcast it
    against all candidates, one window per query for the top-{TOP_K}.
    The broadcast keeps the big side un-shuffled — the only shuffle is
    the per-query window, partitioned by query_id (bounded
    cardinality). At 100 TB replace the full candidate scan with the
    LSH/IVF bucket join below; for a corpus-scale query SET, drop the
    broadcast and shuffle-join on the bucket key instead.
    """
    emb = table(spark, sf_dir, "embeddings")
    # zero-norm vectors are excluded on both engines — cosine is
    # undefined for them (see _unit)
    base = emb.selectExpr("vec_id", _DBL_V_SQL)
    vecs = _live_vecs(base)
    # the stride predicate sits BELOW the query-leg kernel so it
    # reaches the parquet scan — filtering _live_vecs(corpus) instead
    # would re-run the kernel over the whole corpus to pick
    # {MAX_BF_QUERIES} rows (kernels are per-row, so values and the
    # surviving-row set are identical either way)
    queries = _live_vecs(
        base.filter(
            (F.col("vec_id") % QUERY_STRIDE == 0)
            & (F.col("vec_id") < QUERY_STRIDE * MAX_BF_QUERIES)
        )
    ).select(F.col("vec_id").alias("query_id"), F.col("v").alias("q"))
    scored = _pair_scores(
        vecs.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"), "q", "v"),
        "q",
        "v",
        "query_id bigint, cand_id bigint, score double",
        normalize=True,
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "score", F.col("rank").cast("int").alias("rank"))
    )


TOPK_COSINE_SQL = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE {_sql_dot('CAST(embedding AS DOUBLE[])', 'CAST(embedding AS DOUBLE[])')} > 0
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         {_sql_dot('q.v', 'c.v')}
           / (sqrt({_sql_dot('q.v', 'q.v')}) * sqrt({_sql_dot('c.v', 'c.v')})) AS score
  FROM vecs q JOIN vecs c ON c.vec_id <> q.vec_id
  WHERE q.vec_id % {QUERY_STRIDE} = 0
    AND q.vec_id < {QUERY_STRIDE * MAX_BF_QUERIES}
)
SELECT query_id, cand_id, score, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT query_id, cand_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


ANN_TOP_K = 5


def ann_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-2] approximate top-k — LSH-bucket candidates only.

    The 100 TB ANN path: a query scores ONLY vectors sharing one of its
    (band, bucket) LSH cells instead of the full corpus — per-query
    candidate count is governed by bucket occupancy (corpus/2^planes
    per band), independent of corpus size given enough planes. Recall
    vs the exact q24 degrades gracefully with bucket selectivity; the
    IVF variant swaps the bucket id for a nearest-centroid id with the
    same plan shape. Unit vectors make each candidate a single dot.
    """
    emb = table(spark, sf_dir, "embeddings")
    base = emb.selectExpr("vec_id", _DBL_V_SQL)
    # pair scoring happens INSIDE each (band, bucket) group — the
    # banded frame shuffles once on its cell key and the pair fan-out
    # never leaves the kernel (see _bucket_pair_scores, which also
    # cuts lineage pre-explode so the occupancy census and the scorer
    # share one un-duplicated checkpoint of the banding kernel)
    scored = _bucket_pair_scores(
        _banded_rows(base),
        "query_id bigint, cand_id bigint, score double",
        query_stride=QUERY_STRIDE,
    ).dropDuplicates(["query_id", "cand_id"])
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_TOP_K)
        .select("query_id", "cand_id", "score", F.col("rank").cast("int").alias("rank"))
    )


ANN_BUCKETED_TOPK_SQL = f"""
WITH {_PLANES_CTE},
vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
unit AS (
  SELECT vec_id, v,
         list_transform(v, x -> x / sqrt({_sql_dot('v', 'v')})) AS u
  FROM vecs
  WHERE {_sql_dot('v', 'v')} > 0  -- zero-norm vectors excluded (see _unit)
),
banded AS (
{_BANDED_UNION}
),
scored AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id,
         {_sql_dot('q.u', 'c.u')} AS score
  FROM banded q JOIN banded c
    ON q.band = c.band AND q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id % {QUERY_STRIDE} = 0
)
SELECT query_id, cand_id, score, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT query_id, cand_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
  FROM scored
)
WHERE rank <= {ANN_TOP_K}
"""


CENTROID_STRIDE = 201  # vec_id % stride == 3 → centroid candidate
# FIXED quantizer size: exactly min(|V|, K)-ish centroids regardless of
# corpus scale. A bare %-stride grows |C| as |V|/201, making the build
# |V|²/201 dots and the centroid broadcast linear in the corpus — both
# scale-killers. Production trains k-means to K ≈ √N offline; the demo
# freezes a deterministic K-element sample.
IVF_K = 8
IVF_NPROBE = 2
IVF_TOP_K = 3


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-2] IVF approximate top-k — coarse quantizer + nprobe search.

    The inverted-file ANN path: a fixed coarse quantizer (deterministic
    {IVF_K}-centroid subset — production trains k-means to K ≈ √N once
    offline) assigns every vector to its nearest centroid cell; a query
    probes its {IVF_NPROBE} nearest cells and scores ONLY their
    members. Build cost is |V|×K dots (linear in the corpus, K fixed)
    and the centroid broadcast is K×{DIM} doubles — constant; per-query
    cost is nprobe cells' occupancy. Same plan shape as the LSH variant
    (q41) with the bucket id replaced by a learned cell id.
    """
    emb = table(spark, sf_dir, "embeddings")
    unit = _unit(emb.selectExpr("vec_id", _DBL_V_SQL)).select(
        "vec_id", "u"
    )
    # donor filter BELOW the kernel: picking K centroids must not cost
    # a second full-corpus _unit pass (per-row kernel -> identical)
    centroids = _unit(
        emb.selectExpr("vec_id", _DBL_V_SQL).filter(
            (F.col("vec_id") % CENTROID_STRIDE == 3)
            & (F.col("vec_id") < CENTROID_STRIDE * IVF_K)
        )
    ).select(F.col("vec_id").alias("cent_id"), F.col("u").alias("uc"))
    # assignment and probe selection both read the scored cells; one
    # materialization avoids running the |V|×K dot stage twice
    scored_cells = _pair_scores(
        unit.crossJoin(F.broadcast(centroids)).select("vec_id", "u", "cent_id", "uc"),
        "u",
        "uc",
        "vec_id bigint, u array<double>, cent_id bigint, cscore double",
        score="cscore",
    )
    scored_cells = materialize(scored_cells)
    w_assign = W.partitionBy("vec_id").orderBy(F.col("cscore").desc(), F.col("cent_id"))
    assigned = (
        scored_cells.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "u", "cent_id")
    )
    probes = (
        scored_cells.filter(F.col("vec_id") % QUERY_STRIDE == 0)
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= IVF_NPROBE)
        .select(F.col("vec_id").alias("query_id"), F.col("u").alias("uq"), "cent_id")
    )
    cands = assigned.select(
        F.col("vec_id").alias("cand_id"), F.col("u").alias("ucand"), "cent_id"
    )
    pair_scores = (
        _pair_scores(
            probes.join(cands, "cent_id")
            .filter(F.col("query_id") != F.col("cand_id"))
            .select("query_id", "cand_id", "uq", "ucand"),
            "uq",
            "ucand",
            "query_id bigint, cand_id bigint, score double",
        )
        .dropDuplicates(["query_id", "cand_id"])
    )
    w_rank = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("cand_id"))
    return (
        pair_scores.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= IVF_TOP_K)
        .select("query_id", "cand_id", "score", F.col("rank").cast("int").alias("rank"))
    )


IVF_TOPK_SQL = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
unit AS (
  SELECT vec_id, list_transform(v, x -> x / sqrt({_sql_dot('v', 'v')})) AS u
  FROM vecs
  WHERE {_sql_dot('v', 'v')} > 0  -- zero-norm vectors excluded (see _unit)
),
centroids AS (
  SELECT vec_id AS cent_id, u AS uc FROM unit
  WHERE vec_id % {CENTROID_STRIDE} = 3
    AND vec_id < {CENTROID_STRIDE * IVF_K}
),
scored_cells AS (
  SELECT n.vec_id, n.u, c.cent_id, {_sql_dot('n.u', 'c.uc')} AS cscore
  FROM unit n CROSS JOIN centroids c
),
assigned AS (
  SELECT vec_id, u, cent_id FROM (
    SELECT vec_id, u, cent_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cent_id) AS rn
    FROM scored_cells
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, u AS uq, cent_id FROM (
    SELECT vec_id, u, cent_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cent_id) AS rn
    FROM scored_cells WHERE vec_id % {QUERY_STRIDE} = 0
  ) WHERE rn <= {IVF_NPROBE}
),
pair_scores AS (
  SELECT DISTINCT p.query_id, a.vec_id AS cand_id,
         {_sql_dot('p.uq', 'a.u')} AS score
  FROM probes p JOIN assigned a ON a.cent_id = p.cent_id
  WHERE p.query_id <> a.vec_id
)
SELECT query_id, cand_id, score, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT query_id, cand_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, cand_id) AS rank
  FROM pair_scores
)
WHERE rank <= {IVF_TOP_K}
"""


def _variant_vec(v: Column, band_signs: list[int]) -> Column:
    signs = F.array(*[F.lit(float(s)) for s in band_signs])
    return F.zip_with(v, signs, lambda x, s: x + F.lit(PERTURB) * s)


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-2] sign-LSH bucketed embedding near-duplicate pairs.

    The scale path for embedding dedup: each vector hashes to an
    {PLANES_PER_BAND}-bit bucket per band (signs of the dots with fixed
    hyperplanes); pairs are mined ONLY within (band, bucket) groups,
    then verified with the exact cosine and kept above
    {COSINE_THRESHOLD}. Planted variants (±{PERTURB} per component,
    cosine ≈ 0.98) surface as pairs; random pairs (max natural cosine
    ≈ 0.51) are filtered out.

    Plan shape: narrow map to (band, bucket) rows → shuffle on the
    bucket key → bounded bucket self-join → exact verify. The all-pairs
    cross product never materializes. Pair-stage economics: norms are
    folded into the vector ONCE per row before the join (unit vectors),
    so each candidate pair costs a single dot-product fold instead of
    three, and the duplicate-pair dedup runs threshold-filtered on
    scalar columns only — no 64-double arrays ride that shuffle.

    Float note: cosine(a,b) ≡ dot(a/|a|, b/|b|) exactly in both engines
    because the per-element x/norm divisions and the fold are the same
    IEEE ops in the same order; the oracle mirrors the normalization.
    """
    emb = table(spark, sf_dir, "embeddings")
    base = emb.selectExpr("vec_id", _DBL_V_SQL)
    variant_signs = _plane_signs(7, 7)  # fixed perturbation pattern
    variants = base.filter(F.col("vec_id") % NEARDUP_STRIDE == 0).select(
        (F.col("vec_id") + NEARDUP_OFFSET).alias("vec_id"),
        _variant_vec(F.col("v"), variant_signs).alias("v"),
    )
    corpus = base.unionByName(variants)
    # pair mining + exact verify live inside the bucket groups (see
    # _bucket_pair_scores): only corpus×bands rows shuffle, and what
    # comes back is the already-thresholded near-dup pair list
    return _bucket_pair_scores(
        _banded_rows(corpus),
        "vec_a bigint, vec_b bigint, cosine double",
        threshold=COSINE_THRESHOLD,
    ).dropDuplicates(["vec_a", "vec_b"])


EMBEDDING_NEARDUP_SQL = f"""
WITH {_PLANES_CTE},
base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
corpus AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + {NEARDUP_OFFSET} AS vec_id,
         list_transform(range(1, len(v) + 1),
                        i -> v[i] + {PERTURB} * variant[i]) AS v
  FROM base, planes WHERE vec_id % {NEARDUP_STRIDE} = 0
),
unit AS (
  SELECT vec_id, v,
         list_transform(v, x -> x / sqrt({_sql_dot('v', 'v')})) AS u
  FROM corpus
  WHERE {_sql_dot('v', 'v')} > 0  -- zero-norm vectors excluded (see _unit)
),
banded AS (
{_BANDED_UNION}
),
pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_sql_dot('a.u', 'b.u')} AS cosine
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE {_sql_dot('a.u', 'b.u')} >= {COSINE_THRESHOLD}
)
SELECT vec_a, vec_b, cosine FROM pairs
"""


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-2] recall@k audit — exact vs LSH-bucketed top-k, per query.

    The evaluation every ANN deployment ships with: for a FIXED query
    sample (capped at {MAX_BF_QUERIES}, so the audit's brute-force leg
    stays constant-cost no matter how large the corpus grows), compute
    the exact top-{ANN_TOP_K} by brute force AND the production
    LSH-bucketed top-{ANN_TOP_K} (q41's plan), then score
    recall@{ANN_TOP_K} = |exact ∩ approx| / k per query. This is how
    the bucket width / band count of the ANN index gets tuned before a
    100 TB build: re-run the audit, read the recall distribution.

    Plan: ONE materialized kernel output (unit vectors + LSH buckets in
    a single Arrow pass) feeds BOTH legs — the exact leg broadcasts the
    fixed query sample against it; the approx leg just explodes the
    bucket array — so normalization and the plane dots run once and
    there is a single lineage cut instead of the previous two; the
    legs join on (query_id, cand_id) and one bounded-cardinality
    groupBy emits per-query recall.
    """
    emb = table(spark, sf_dir, "embeddings")
    base = emb.selectExpr("vec_id", _DBL_V_SQL)
    up = materialize(_banded_rows(base))
    unit = up.select("vec_id", "u")
    sample = (F.col("vec_id") % QUERY_STRIDE == 0) & (
        F.col("vec_id") < QUERY_STRIDE * MAX_BF_QUERIES
    )
    queries = unit.filter(sample).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("uq")
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("cand_id"))
    exact = (
        _pair_scores(
            unit.select(F.col("vec_id").alias("cand_id"), F.col("u").alias("uc"))
            .crossJoin(F.broadcast(queries))
            .filter(F.col("cand_id") != F.col("query_id"))
            .select("query_id", "cand_id", "uq", "uc"),
            "uq",
            "uc",
            "query_id bigint, cand_id bigint, score double",
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_TOP_K)
        .select("query_id", "cand_id")
    )
    approx = (
        _bucket_pair_scores(
            up,
            "query_id bigint, cand_id bigint, score double",
            query_stride=QUERY_STRIDE,
            query_cap=MAX_BF_QUERIES,
            # `up` is already materialized above (it feeds both audit
            # legs); the occupancy census re-derives the cheap explode
            # from that checkpoint instead of cutting lineage twice
            cut=False,
        )
        .dropDuplicates(["query_id", "cand_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_TOP_K)
        .select("query_id", "cand_id", F.lit(1).alias("hit"))
    )
    return (
        exact.join(approx, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_hits"),
        )
        .select(
            "query_id",
            "k",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("k")).alias("recall"),
        )
    )


ANN_RECALL_AUDIT_SQL = f"""
WITH {_PLANES_CTE},
vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
unit AS (
  SELECT vec_id, v,
         list_transform(v, x -> x / sqrt({_sql_dot('v', 'v')})) AS u
  FROM vecs
  WHERE {_sql_dot('v', 'v')} > 0  -- zero-norm vectors excluded (see _unit)
),
queries AS (
  SELECT vec_id AS query_id, u AS uq FROM unit
  WHERE vec_id % {QUERY_STRIDE} = 0
    AND vec_id < {QUERY_STRIDE * MAX_BF_QUERIES}
),
exact AS (
  SELECT query_id, cand_id FROM (
    SELECT q.query_id, c.vec_id AS cand_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_sql_dot('q.uq', 'c.u')} DESC, c.vec_id) AS rank
    FROM queries q JOIN unit c ON c.vec_id <> q.query_id
  ) WHERE rank <= {ANN_TOP_K}
),
banded AS (
{_BANDED_UNION}
),
approx AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
    FROM (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id,
             {_sql_dot('q.u', 'c.u')} AS score
      FROM banded q JOIN banded c
        ON q.band = c.band AND q.bucket = c.bucket AND q.vec_id <> c.vec_id
      WHERE q.vec_id % {QUERY_STRIDE} = 0
        AND q.vec_id < {QUERY_STRIDE * MAX_BF_QUERIES}
    )
  ) WHERE rank <= {ANN_TOP_K}
)
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(SUM(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST(SUM(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS recall
FROM exact e
LEFT JOIN approx a ON a.query_id = e.query_id AND a.cand_id = e.cand_id
GROUP BY e.query_id
"""


def quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-2] int8 scalar quantization — embedding storage at 100 TB.

    Per-vector symmetric int8 quantization (scale = 127/max|x|): 4×
    smaller embeddings with sub-1% reconstruction error, the standard
    storage layout for trillion-row vector tables (dot products then
    run over int8 codes with one rescale at the end). Outputs the
    scale, an exact integer checksum of the codes, and the
    sequential-fold mean absolute reconstruction error per vector.

    Arrow-batched ``mapInPandas`` NumPy kernel: the pure-expression
    form (nested ``aggregate``/``zip_with``) runs as an interpreted
    non-codegen Project — 63× the oracle runtime in round-3 benchmarks
    for what is dense per-row array math. The kernel is bit-exact vs
    that form: exact HALF_UP rounding, IEEE-identical multiply/divide,
    and a dimension-ordered left-fold error sum (NOT pairwise
    ``np.sum``). Plan stays one scan → one MapInPandas, no shuffle.

    Malformed-row policy (round-10): a row quantizes only when its
    scale is a finite positive number — i.e. ``0 < max|x| < inf``.
    Everything else keeps its row with NULL outputs: NULL embeddings
    (the oracle's ``list_max(NULL)`` is NULL → NULL propagation) and
    all-zero vectors (DuckDB float ``127.0/0.0`` is NULL, NOT inf —
    measured — so the oracle also yields the NULL triple) are
    oracle-parity cases; EMPTY embeddings (DuckDB's seedless
    ``list_reduce`` errors on an empty fold) and NaN/inf-element
    vectors (``CAST(round(nan) AS INTEGER)`` raises) CRASH the oracle
    outright, while the previous kernel fed NaN codes into an
    UNDEFINED ``astype(int64)`` — one poison row must degrade to
    NULLs, never garbage or a dead stage. Ragged batches quantize per
    width group (each row's math is independent; the grouping only
    keeps ``np.stack`` rectangular). All pinned by
    tests/test_kernel_properties.py::test_quantize_malformed_vectors.
    """
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = list(pdf["embedding"])
            n = len(pdf)
            # object-dtype None columns: Arrow renders None as SQL
            # NULL (plain float64 would mask the distinction as NaN)
            cols: dict[str, list] = {
                "vec_id": list(pdf["vec_id"]),
                "scale": [None] * n,
                "code_checksum": [None] * n,
                "mean_abs_err": [None] * n,
            }
            # Inline width grouping, deliberately NOT _width_groups:
            # that helper implements the retrieval-family policy (drop
            # malformed rows from the working set), while quantization
            # must KEEP every input row and stitch NULL outputs back
            # by position — it needs row indices, not filtered frames.
            # The two policies are pinned by separate tests
            # (test_mixed_width_batches vs test_quantize_malformed_
            # vectors); a change to one must not silently alter the
            # other.
            groups: dict[int, list[int]] = {}
            for i, v in enumerate(vecs):
                if v is None or len(v) == 0:
                    continue
                groups.setdefault(len(v), []).append(i)
            for w, idxs in groups.items():
                # float32 → float64 cast is exact (CAST(.. AS DOUBLE[])).
                V = np.stack(
                    [np.asarray(vecs[i], dtype=np.float64) for i in idxs]
                )
                maxabs = np.abs(V).max(axis=1)
                live = np.isfinite(maxabs) & (maxabs > 0)
                if not live.any():
                    continue
                Vk = V[live]
                scale = 127.0 / maxabs[live]
                Y = Vk * scale[:, None]
                # Exact HALF_UP (away-from-zero) rounding — numpy's
                # np.round is half-even and floor(y+0.5) has an FP edge
                # at 0.49999…94, so split on the exact fractional part
                # instead (y - trunc(y) is exact for |y| ≤ 127ish by
                # Sterbenz).
                t = np.trunc(Y)
                codes = (
                    t + np.where(np.abs(Y - t) >= 0.5, np.sign(Y), 0.0)
                ).astype(np.int64)
                E = np.abs(Vk - codes / scale[:, None])
                # Sequential left fold to match F.aggregate /
                # list_reduce bit-for-bit: accumulate dimension-by-
                # dimension (vectorized over rows), NOT np.sum
                # (pairwise summation differs).
                acc = np.zeros(len(Vk), dtype=np.float64)
                for d in range(w):
                    acc = acc + E[:, d]
                checksum = codes.sum(axis=1)
                err = acc / w
                if live.all() and len(idxs) == n:
                    # common case — whole batch well-formed, one width:
                    # emit the numpy columns directly (no per-row
                    # object stitch on the hot path)
                    yield pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"],
                            "scale": scale,
                            "code_checksum": checksum,
                            "mean_abs_err": err,
                        }
                    )
                    break
                for j, i in enumerate(np.asarray(idxs)[live]):
                    cols["scale"][i] = float(scale[j])
                    cols["code_checksum"][i] = int(checksum[j])
                    cols["mean_abs_err"][i] = float(err[j])
            else:
                yield pd.DataFrame(cols, dtype=object)

    return spread(emb).mapInPandas(
        kernel,
        "vec_id bigint, scale double, code_checksum bigint, mean_abs_err double",
    )


QUANTIZE_EMBEDDINGS_SQL = """
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
scaled AS (
  SELECT vec_id, v,
         127.0 / list_max(list_transform(v, x -> abs(x))) AS scale
  FROM vecs
),
coded AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CAST(round(x * scale) AS INTEGER)) AS q
  FROM scaled
)
SELECT vec_id, scale,
       CAST(list_reduce(list_transform(q, c -> CAST(c AS BIGINT)),
                        (acc, c) -> acc + c) AS BIGINT) AS code_checksum,
       list_reduce(list_transform(range(1, len(v) + 1),
                                  i -> abs(v[i] - q[i] / scale)),
                   (acc, e) -> acc + e) / len(v) AS mean_abs_err
FROM coded
"""


KMEANS_SCALE = 10_000_000  # fixed-point quantum for order-independent sums


def kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-2] one Lloyd step of spherical k-means over the embeddings.

    The training loop behind a real IVF quantizer (q47 freezes its
    centroids; this is the step that learns them): assign every vector
    to its nearest centroid (|V|×K broadcast dots, argmax via
    ``max_by`` — map-side combinable, ONE shuffle on vec_id-free
    grouped keys), then recompute each centroid as the member mean and
    report cluster size, L1 centroid shift, and a fixed-point centroid
    checksum. Iterating = re-running with the new centroids; one step
    is the oracle-checkable unit (the driver contract needs
    deterministic output, and each step is a pure function of the
    previous centroids).

    Float determinism: elementwise means are summed in FIXED-POINT —
    ``floor(u_i * 1e7)`` is exact on doubles and engine-identical, the
    BIGINT sums are order-independent, and the final division is one
    correctly-rounded IEEE op. A raw double SUM would vary with
    partial-agg order; a decimal cast of a float rounds HALF_UP in
    Spark vs HALF_EVEN in DuckDB (observed 1-ulp mismatch) — fixed
    point sidesteps both.
    """
    emb = table(spark, sf_dir, "embeddings")
    unit = _unit(emb.selectExpr("vec_id", _DBL_V_SQL)).select(
        "vec_id", "u"
    )
    # donor filter BELOW the kernel: picking K centroids must not cost
    # a second full-corpus _unit pass (per-row kernel -> identical)
    centroids = _unit(
        emb.selectExpr("vec_id", _DBL_V_SQL).filter(
            (F.col("vec_id") % CENTROID_STRIDE == 3)
            & (F.col("vec_id") < CENTROID_STRIDE * IVF_K)
        )
    ).select(F.col("vec_id").alias("cent_id"), F.col("u").alias("uc"))
    scored = _pair_scores(
        unit.crossJoin(F.broadcast(centroids)).select("vec_id", "u", "cent_id", "uc"),
        "u",
        "uc",
        "vec_id bigint, u array<double>, cent_id bigint, cscore double",
        score="cscore",
    )
    # argmax assignment: max_by on (score, -cent_id) == the oracle's
    # ROW_NUMBER(ORDER BY cscore DESC, cent_id) winner, but with map-side
    # partial aggregation instead of a per-vector window sort
    assigned = scored.groupBy("vec_id").agg(
        F.max_by(
            F.struct(F.col("cent_id"), F.col("u")),
            F.struct(F.col("cscore"), (-F.col("cent_id")).alias("neg")),
        ).alias("best")
    ).select("vec_id", F.col("best.cent_id").alias("cent_id"), F.col("best.u").alias("u"))
    longf = assigned.select(
        "cent_id", F.posexplode("u").alias("dim0", "val")
    ).select("cent_id", (F.col("dim0") + 1).alias("dim"), "val")
    sums = longf.groupBy("cent_id", "dim").agg(
        F.sum(F.floor(F.col("val") * KMEANS_SCALE)).alias("sum_scaled"),
        F.count(F.lit(1)).alias("n_members"),
    )
    new_means = sums.select(
        "cent_id",
        "dim",
        "n_members",
        (F.col("sum_scaled") / (F.col("n_members") * float(KMEANS_SCALE))).alias(
            "mean_val"
        ),
    )
    old_long = centroids.select(
        "cent_id", F.posexplode("uc").alias("dim0", "old_val")
    ).select("cent_id", (F.col("dim0") + 1).alias("dim"), "old_val")
    return (
        new_means.join(F.broadcast(old_long), ["cent_id", "dim"])
        .groupBy("cent_id")
        .agg(
            F.max("n_members").alias("n_members"),
            (
                F.sum(
                    F.floor(F.abs(F.col("mean_val") - F.col("old_val")) * KMEANS_SCALE)
                )
                / float(KMEANS_SCALE)
            ).alias("shift_l1"),
            F.sum(F.floor(F.col("mean_val") * KMEANS_SCALE)).alias("centroid_checksum"),
        )
    )


KMEANS_UPDATE_SQL = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
unit AS (
  SELECT vec_id, list_transform(v, x -> x / sqrt({_sql_dot('v', 'v')})) AS u
  FROM vecs
  WHERE {_sql_dot('v', 'v')} > 0  -- zero-norm vectors excluded (see _unit)
),
centroids AS (
  SELECT vec_id AS cent_id, u AS uc FROM unit
  WHERE vec_id % {CENTROID_STRIDE} = 3
    AND vec_id < {CENTROID_STRIDE * IVF_K}
),
scored_cells AS (
  SELECT n.vec_id, n.u, c.cent_id, {_sql_dot('n.u', 'c.uc')} AS cscore
  FROM unit n CROSS JOIN centroids c
),
assigned AS (
  SELECT vec_id, u, cent_id FROM (
    SELECT vec_id, u, cent_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cent_id) AS rn
    FROM scored_cells
  ) WHERE rn = 1
),
longf AS (
  SELECT a.cent_id, g.dim, a.u[g.dim] AS val
  FROM assigned a CROSS JOIN generate_series(1, {DIM}) AS g(dim)
),
sums AS (
  SELECT cent_id, dim,
         CAST(SUM(CAST(floor(val * {KMEANS_SCALE}) AS BIGINT)) AS BIGINT)
           AS sum_scaled,
         CAST(COUNT(*) AS BIGINT) AS n_members
  FROM longf GROUP BY cent_id, dim
),
new_means AS (
  SELECT cent_id, dim, n_members,
         sum_scaled / (n_members * {KMEANS_SCALE}.0) AS mean_val
  FROM sums
),
old_long AS (
  SELECT c.cent_id, g.dim, c.uc[g.dim] AS old_val
  FROM centroids c CROSS JOIN generate_series(1, {DIM}) AS g(dim)
)
SELECT m.cent_id,
       MAX(m.n_members) AS n_members,
       CAST(SUM(CAST(floor(abs(m.mean_val - o.old_val) * {KMEANS_SCALE}) AS BIGINT))
            AS BIGINT) / {KMEANS_SCALE}.0 AS shift_l1,
       CAST(SUM(CAST(floor(m.mean_val * {KMEANS_SCALE}) AS BIGINT)) AS BIGINT)
         AS centroid_checksum
FROM new_means m JOIN old_long o ON m.cent_id = o.cent_id AND m.dim = o.dim
GROUP BY m.cent_id
"""


# -- q86 product quantization ---------------------------------------------
PQ_M = 8  # subspaces (64-dim vector -> 8 subvectors of 8 dims)
PQ_SUB = DIM // PQ_M
PQ_K = 16  # codewords per subspace
PQ_STRIDE = 113  # vec_id % stride == 5 -> codebook donor (deterministic)


def pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-2] product quantization — the trillion-row embedding store.

    The third classic ANN storage path beside sign-LSH (q25/q41) and
    IVF (q47): split each vector into {PQ_M} subvectors, quantize each
    subvector to its nearest of {PQ_K} codewords, store {PQ_M} 4-bit
    codes (128x smaller than float32 here). The codebook is a
    deterministic strided pick of corpus subvectors (production trains
    per-subspace k-means offline — q71 is that training step); the
    operator under test is the ASSIGNMENT plan: explode to
    (vec, subspace) rows, broadcast-join the {PQ_M}×{PQ_K} codebook,
    argmin via ``min_by`` with map-side partial aggregation (never a
    window over the candidate fan-out), then regroup codes in subspace
    order. Two bounded shuffles on (vec_id[, m]); the fan-out frame
    is rows × {PQ_M} × {PQ_K} but only scalars wide.

    Float determinism: squared-distance folds are sequential and
    dimension-ordered (both engines run the identical IEEE op
    sequence); the reported quantization error sums subspace SSEs in
    fixed-point (order-free BIGINT), same device as q71.
    """
    emb = table(spark, sf_dir, "embeddings")
    vecs = spread(emb.selectExpr("vec_id", _DBL_V_SQL))
    sub = vecs.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                lambda m: F.slice(F.col("v"), m * PQ_SUB + 1, PQ_SUB),
            )
        ).alias("m", "subvec"),
    )
    codebook = (
        vecs.filter(
            (F.col("vec_id") % PQ_STRIDE == 5)
            & (F.col("vec_id") < PQ_STRIDE * PQ_K)
        )
        .select(
            ((F.col("vec_id") - 5) / PQ_STRIDE).cast("int").alias("j"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                    lambda m: F.slice(F.col("v"), m * PQ_SUB + 1, PQ_SUB),
                )
            ).alias("m", "codeword"),
        )
    )
    # UNROLLED squared distance: PQ_SUB is a compile-time constant, so
    # the fold flattens to scalar arithmetic that stays inside
    # whole-stage codegen (an aggregate/zip_with HOF would run as an
    # interpreted Project — 9x slower, the q51 lesson). Left-to-right
    # addition matches the oracle's sequential list_reduce exactly.
    def _term(i: int) -> Column:
        d = F.get(F.col("subvec"), i) - F.get(F.col("codeword"), i)
        return d * d

    sq = _term(0)
    for _i in range(1, PQ_SUB):
        sq = sq + _term(_i)
    scored = sub.join(F.broadcast(codebook), "m").select(
        "vec_id", "m", F.col("j"), sq.alias("sqdist")
    )
    assigned = scored.groupBy("vec_id", "m").agg(
        F.min_by(
            F.struct(F.col("j"), F.col("sqdist")),
            # unique argmin: distance first, then codeword id
            F.struct(F.col("sqdist"), F.col("j")),
        ).alias("best")
    )
    return (
        assigned.groupBy("vec_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("m"), F.col("best.j").alias("j")))
                    ),
                    lambda s: s.j.cast("string"),
                ),
                "-",
            ).alias("pq_code"),
            F.sum(F.floor(F.col("best.sqdist") * 10000000.0)).alias("sse_fp"),
        )
        .select(
            "vec_id",
            "pq_code",
            (F.col("sse_fp") / 10000000.0).alias("quant_sse"),
        )
    )


PQ_QUANTIZE_SQL = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
sub AS (
  SELECT vec_id, CAST(m AS INTEGER) AS m,
         list_slice(v, m*{PQ_SUB}+1, m*{PQ_SUB}+{PQ_SUB}) AS subvec
  FROM vecs, unnest(range({PQ_M})) AS tm(m)
),
codebook AS (
  SELECT CAST((vec_id - 5) // {PQ_STRIDE} AS INTEGER) AS j,
         CAST(m AS INTEGER) AS m,
         list_slice(v, m*{PQ_SUB}+1, m*{PQ_SUB}+{PQ_SUB}) AS codeword
  FROM vecs, unnest(range({PQ_M})) AS tm(m)
  WHERE vec_id % {PQ_STRIDE} = 5 AND vec_id < {PQ_STRIDE * PQ_K}
),
scored AS (
  SELECT s.vec_id, s.m, c.j,
         list_reduce(list_transform(range(1, {PQ_SUB} + 1),
           i -> (s.subvec[i] - c.codeword[i]) * (s.subvec[i] - c.codeword[i])),
           (acc, x) -> acc + x) AS sqdist
  FROM sub s JOIN codebook c USING (m)
),
assigned AS (
  SELECT vec_id, m, j, sqdist
  FROM (
    SELECT vec_id, m, j, sqdist,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY sqdist, j) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT vec_id,
       array_to_string(list_transform(
         list_sort(list({{'m': m, 'j': j}})), r -> CAST(r.j AS VARCHAR)), '-') AS pq_code,
       SUM(floor(sqdist * 10000000.0)) / 10000000.0 AS quant_sse
FROM assigned
GROUP BY vec_id
"""


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-2] SemDeDup-style semantic deduplication clusters.

    The embedding-space analogue of q50's text clustering (SemDeDup,
    Abbas et al. 2023: semantically near-identical documents — not
    just byte-near ones — collapse before training): near-dup pairs
    from the sign-LSH miner (q25's plan) become an undirected graph,
    and q50's fixpoint loop (``fixpoint_clusters_from_pairs``) runs
    min-label propagation over it until no label changes; each
    connected component is one semantic-duplicate cluster whose
    canonical member (min vec_id) survives. Output: members of
    non-trivial clusters with their cluster id and size — the rows a
    pipeline drops are exactly those with vec_id != cluster_id.

    Plan: identical machinery to q50 — the (tiny, LSH-bounded) pair
    list is checkpointed once, every loop round is cut, and one count
    window over the last cut emits sizes. No all-pairs product, no
    corpus-sized iteration state.
    """
    pairs = materialize(
        embedding_neardup(spark, sf_dir).select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
    )
    return fixpoint_clusters_from_pairs(pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id", "cluster_size"
    )


SEMANTIC_DEDUP_SQL = components_sql(EMBEDDING_NEARDUP_SQL, "vec_a", "vec_b", "vec_id")


# -- q107 matryoshka truncation audit ---------------------------------------
MATRYOSHKA_DIMS = 16  # prefix width under audit (full vectors are 64-d)


def matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-2] Matryoshka prefix-dimension audit — overlap@k between
    full-dimension and prefix-truncated brute-force neighbours, per
    query (Kusupati et al. 2022: MRL embeddings are served truncated;
    this measures what the truncation costs BEFORE committing the
    smaller index).

    Same fixed-query-sample discipline as the q90 recall audit (the
    brute-force legs stay constant-cost at any corpus size). The
    truncated leg slices the FIRST {MATRYOSHKA_DIMS} dims and
    re-normalizes in the truncated space — that is what a served
    truncated index does; normalizing before slicing would understate
    the drift. Both unit frames materialize once and feed their leg's
    query broadcast and candidate side.
    """
    emb = table(spark, sf_dir, "embeddings")
    base = emb.selectExpr("vec_id", _DBL_V_SQL)
    # LAZY cuts (r18, VERDICT r17 #3): each unit frame is consumed
    # only inside its own top-k leg, where the hinted query broadcast
    # must materialize — computing and persisting the unit RDD —
    # before the candidate side of the same leg re-scans it; the two
    # legs touch DIFFERENT frames, so no stage can race a first
    # computation. Saves the two dedicated eager-checkpoint jobs
    # (measured 8 -> 6 jobs for q107 on this box).
    unit_full = materialize(_unit(base), eager=False)
    trunc = base.select(
        "vec_id", F.slice(F.col("v"), 1, MATRYOSHKA_DIMS).alias("v")
    )
    unit_trunc = materialize(_unit(trunc), eager=False)
    sample = (F.col("vec_id") % QUERY_STRIDE == 0) & (
        F.col("vec_id") < QUERY_STRIDE * MAX_BF_QUERIES
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("cand_id"))

    def topk(unit: DataFrame) -> DataFrame:
        queries = unit.filter(sample).select(
            F.col("vec_id").alias("query_id"), F.col("u").alias("uq")
        )
        return (
            _pair_scores(
                unit.select(F.col("vec_id").alias("cand_id"), F.col("u").alias("uc"))
                .crossJoin(F.broadcast(queries))
                .filter(F.col("cand_id") != F.col("query_id"))
                .select("query_id", "cand_id", "uq", "uc"),
                "uq",
                "uc",
                "query_id bigint, cand_id bigint, score double",
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= ANN_TOP_K)
            .select("query_id", "cand_id")
        )

    full = topk(unit_full)
    truncated = topk(unit_trunc).withColumn("hit", F.lit(1))
    return (
        full.join(truncated, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_common"),
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1))
            ).alias("overlap"),
        )
    )


MATRYOSHKA_AUDIT_SQL = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
unit_full AS (
  SELECT vec_id, list_transform(v, x -> x / sqrt({_sql_dot('v', 'v')})) AS u
  FROM vecs
  WHERE {_sql_dot('v', 'v')} > 0  -- zero-norm vectors excluded (see _unit)
),
tvecs AS (
  SELECT vec_id, v[1:{MATRYOSHKA_DIMS}] AS v FROM vecs
),
unit_trunc AS (
  SELECT vec_id, list_transform(v, x -> x / sqrt({_sql_dot('v', 'v')})) AS u
  FROM tvecs
  WHERE {_sql_dot('v', 'v')} > 0  -- zero-norm vectors excluded (see _unit)
),
f AS (
  SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_sql_dot('q.u', 'c.u')} DESC, c.vec_id) AS rank
    FROM unit_full q JOIN unit_full c ON c.vec_id <> q.vec_id
    WHERE q.vec_id % {QUERY_STRIDE} = 0
      AND q.vec_id < {QUERY_STRIDE * MAX_BF_QUERIES}
  ) WHERE rank <= {ANN_TOP_K}
),
t AS (
  SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_sql_dot('q.u', 'c.u')} DESC, c.vec_id) AS rank
    FROM unit_trunc q JOIN unit_trunc c ON c.vec_id <> q.vec_id
    WHERE q.vec_id % {QUERY_STRIDE} = 0
      AND q.vec_id < {QUERY_STRIDE * MAX_BF_QUERIES}
  ) WHERE rank <= {ANN_TOP_K}
)
SELECT f.query_id,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(SUM(CASE WHEN t.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_common,
       CAST(SUM(CASE WHEN t.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS overlap
FROM f
LEFT JOIN t ON t.query_id = f.query_id AND t.cand_id = f.cand_id
GROUP BY f.query_id
"""
