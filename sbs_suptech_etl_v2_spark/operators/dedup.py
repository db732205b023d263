"""Deduplication operator family — SURVEY §2.11 [EXT-1].

Training-data-pipeline dedup over the ``documents`` table, Spark-first:

- **exact dedup** — canonical-winner dedup on a normalized key
  (deterministic ``row_number()==1``, not ``dropDuplicates`` whose
  surviving row is partition-order-dependent).
- **MinHash + LSH near-dup** — per-row signature (shingle →
  md5-derived 32-bit hash → ``min((a*h+b) mod p)`` per hash function)
  via a vectorized NumPy ``mapInPandas`` kernel, banded signatures,
  ``groupBy(band)``-shaped bucket self-join for candidate pairs. Never
  all-pairs: at 100 TB the only shuffle is on (band_id,
  band_signature), and bucket sizes stay bounded because random texts
  rarely collide on a 2-minhash band.
- **SimHash** — 32-bit per-document signature from token-hash bit votes.
- **n-gram Jaccard** — exact shingle-set similarity via
  ``array_intersect``/``array_union`` (the verifier for MinHash
  estimates).

The corpus has no exact duplicates by construction, so the near-dup
queries build a deterministic variants corpus (every 4th doc gets a
truncated-copy variant at ``doc_id + VARIANT_OFFSET``) — the standard
planted-near-dup evaluation setup; both Spark and the DuckDB oracle
synthesize it identically from the same table.

All hash arithmetic is engine-portable: base hash = first 8 hex chars
of md5 (Spark ``conv(substr(md5(s),1,8),16,10)`` ==
DuckDB ``CAST('0x'||substr(md5(s),1,8) AS BIGINT)``), then exact BIGINT
modular arithmetic with p = 2^31-1 (products stay < 2^62 — no
overflow, and int64 NumPy matches JVM/DuckDB exactly). Per-row array
math that Catalyst would run as interpreted (non-codegen) HOF
Projects — the minhash/simhash signature stages — lives in
Arrow-batched ``mapInPandas`` NumPy kernels instead; joins, shuffles
and verification stay JVM-side codegen expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sbs_suptech_etl_v2_spark.io import spread, table
from sbs_suptech_etl_v2_spark.checkpointing import materialize, materialize_required

MERSENNE_P = 2_147_483_647  # 2^31 - 1
N_HASHES = 16
BAND_ROWS = 2  # minhashes per LSH band
N_BANDS = N_HASHES // BAND_ROWS

# Fixed affine-hash parameters (a*h + b) mod p — generated once from a
# small LCG (seed 42) and frozen so Spark and the oracle agree forever.
def _lcg_params(n: int, seed: int = 42) -> tuple[list[int], list[int]]:
    a_s, b_s, x = [], [], seed
    for _ in range(n):
        x = (1_103_515_245 * x + 12_345) % (1 << 31)
        a_s.append(x % (MERSENNE_P - 1) + 1)  # a in [1, p-1]
        x = (1_103_515_245 * x + 12_345) % (1 << 31)
        b_s.append(x % MERSENNE_P)  # b in [0, p-1]
    return a_s, b_s


MINHASH_A, MINHASH_B = _lcg_params(N_HASHES)

VARIANT_OFFSET = 1_000_000
VARIANT_KEEP = 0.8  # variant keeps the first 80% of words
SHINGLE_K = 3
EXACT_KEY_TOKENS = 4
SIMHASH_BITS = 32


def _words(text: Column) -> Column:
    return F.split(text, " ")


def _let(bound: Column, body) -> Column:
    """Let-binding idiom: evaluate ``bound`` ONCE per row, pass it to
    ``body`` as a lambda variable.

    ``transform(array(e), x -> body(x))[0]`` materializes ``e`` a single
    time even when ``body`` references it many times — without this,
    CollapseProject inlines an intermediate column expression into every
    use site (16× md5 recompute for the minhash signature).
    """
    return F.get(F.transform(F.array(bound), body), 0)


def _hash32(col: Column) -> Column:
    """Portable 32-bit string hash: first 8 hex chars of md5 as BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def _shingle_hashes(text: Column) -> Column:
    """Distinct k-shingle hashes via token-hash composition.

    One md5 per TOKEN (not per shingle string), then the 3-gram hash is
    the polynomial composition ``((h1·31 + h2)·31 + h3) mod p`` — ~3×
    less hash input than hashing shingle strings, same item-set
    semantics (collisions are engine-identical so oracle parity holds).
    All arithmetic stays < 2^41, exact in BIGINT both engines.
    """
    return _let(
        F.transform(_words(text), lambda w: _hash32(w) % MERSENNE_P),
        lambda hs: F.when(
            F.size(hs) >= SHINGLE_K,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(hs) - SHINGLE_K),
                    lambda i: ((hs[i] * 31 + hs[i + 1]) * 31 + hs[i + 2]) % MERSENNE_P,
                )
            ),
        ).otherwise(F.array(_hash32(text) % MERSENNE_P)),
    )


# --- Spark-SQL-text twins of the expression helpers above ---------------
# Hot builders compose these into one selectExpr so the whole projection
# parses JVM-side in a single py4j round trip instead of one trip per
# Column node (guide §5 — keep the driver out of per-expression work).
# Twins mirror the Column forms token for token; the committed
# plans/r17 explain pairs pin the resolved plans as identical.


def _hash32_sql(expr: str) -> str:
    """SQL-text twin of ``_hash32``."""
    return f"cast(conv(substring(md5({expr}), 1, 8), 16, 10) as bigint)"


def _shingle_hashes_sql(expr: str) -> str:
    """SQL-text twin of ``_shingle_hashes`` (same _let idiom)."""
    P = MERSENNE_P
    return (
        f"get(transform(array(transform(split({expr}, ' '),"
        f" w -> {_hash32_sql('w')} % {P})),"
        f" hs -> CASE WHEN size(hs) >= {SHINGLE_K}"
        " THEN array_distinct(transform(sequence(0, size(hs) - "
        f"{SHINGLE_K}),"
        f" i -> ((hs[i] * 31 + hs[i + 1]) * 31 + hs[i + 2]) % {P}))"
        f" ELSE array({_hash32_sql(expr)} % {P}) END), 0)"
    )


_VARIANT_TEXT_SQL = (
    "get(transform(array(split(text, ' ')),"
    f" ws -> array_join(slice(ws, 1, greatest({SHINGLE_K},"
    # the D suffix keeps the literal a DOUBLE exactly like F.lit(0.8)
    # (a bare 0.8 parses as DECIMAL(1,1) and would change the floor's
    # input type)
    f" cast(floor(size(ws) * {VARIANT_KEEP}D) as int))), ' ')), 0)"
)


def _minhash_signatures(corpus: DataFrame) -> DataFrame:
    """(doc_id, sig array<bigint>) — N_HASHES-element MinHash signature
    per corpus row, as an Arrow-batched ``mapInPandas`` NumPy kernel.

    Replaces the pure-expression form (16 ``array_min(transform(...))``
    per row over the shingle list): nested HOFs run as an interpreted
    non-codegen Project, and this signature stage dominated q21/q50
    runtime. The kernel is integer-exact vs the oracle's
    ``list_min(list_transform(...))`` mirror — same md5-derived token
    hashes (computed once per *unique* token), same shingle composition
    ``((h1·31+h2)·31+h3) mod p`` (windows masked at document
    boundaries), same affine ``(a·h+b) mod p`` minima (products stay
    < 2^62, exact in int64). Docs with < {SHINGLE_K} words fall back to
    the whole-text hash, mirroring ``_shingle_hashes``'s ELSE branch.
    Distinctness of shingles is irrelevant under min, so the kernel
    skips the ``array_distinct`` the per-row jaccard verifier needs.
    Plan: one scan → MapInPandas, no shuffle.
    """

    def kernel(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        P = MERSENNE_P
        A = np.array(MINHASH_A, dtype=np.int64)
        B = np.array(MINHASH_B, dtype=np.int64)

        def h32(s: str) -> int:
            return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16) % P

        for pdf in batches:
            if len(pdf) == 0:
                continue
            texts = pdf["text"]
            none_mask = texts.isna().to_numpy()
            toks = [t.split(" ") if t is not None else [] for t in texts]
            lens = np.array([len(t) for t in toks], dtype=np.int64)
            flat = np.array([w for ws in toks for w in ws], dtype=object)
            n = len(pdf)
            sigs = np.zeros((n, N_HASHES), dtype=np.int64)
            sc = np.maximum(lens - 2, 0)  # shingle count per doc
            has = sc > 0
            if flat.size and has.any():
                inv, uniq = pd.factorize(flat)
                uh = np.array([h32(u) for u in uniq], dtype=np.int64)
                th = uh[inv]
                doc_of = np.repeat(np.arange(n), lens)
                # 3-gram windows over the flat token-hash stream, minus
                # the windows that straddle a document boundary
                sh = ((th[:-2] * 31 + th[1:-1]) * 31 + th[2:]) % P
                vals = sh[doc_of[:-2] == doc_of[2:]]
                starts = np.zeros(int(has.sum()), dtype=np.int64)
                np.cumsum(sc[has][:-1], out=starts[1:])
                # the (shingles x N_HASHES) affine+mod matrix is the
                # kernel's hot spot (int64 modulo per cell). When the
                # batch's shingle values repeat (low-entropy corpora),
                # compute the matrix over UNIQUE values and gather —
                # measured 6x on the test corpus, bit-identical. High-
                # entropy batches (unique ~ total: the 100 TB norm)
                # skip the sort and take the direct path.
                su, sinv = np.unique(vals, return_inverse=True)
                if len(su) * 2 < len(vals):
                    M = (su[:, None] * A[None, :] + B[None, :]) % P
                    M = M[sinv]
                else:
                    M = (vals[:, None] * A[None, :] + B[None, :]) % P
                sigs[has] = np.minimum.reduceat(M, starts, axis=0)
            short = ~has & ~none_mask
            if short.any():
                fv = np.array(
                    [h32(t) for t, s in zip(texts, short) if s], dtype=np.int64
                )
                sigs[short] = (fv[:, None] * A[None, :] + B[None, :]) % P
            out_sig = [None if m else [int(x) for x in row] for m, row in zip(none_mask, sigs)]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": out_sig})

    return spread(corpus).mapInPandas(kernel, "doc_id bigint, sig array<bigint>")


def _shingle_sets(corpus: DataFrame) -> DataFrame:
    """(doc_id, hashes array<bigint>) — DISTINCT k-shingle hashes per
    corpus row, as an Arrow-batched ``mapInPandas`` NumPy kernel.

    The vectorized twin of the ``_shingle_hashes`` expression (same
    md5-derived token hashes, same ``((h1·31+h2)·31+h3) mod p``
    composition, same whole-text fallback for short docs) for consumers
    that need the shingle SET itself rather than a minhash of it — the
    contamination check intersects these sets against a benchmark
    vocabulary. Distinctness via a per-batch ``np.unique`` over
    (doc, shingle) composite keys: shingle values < 2^31 pack beside
    the batch-local doc index in one int64, so dedup is a single sort.
    Plan: one scan → MapInPandas, no shuffle.
    """

    def kernel(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        P = MERSENNE_P

        def h32(s: str) -> int:
            return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16) % P

        for pdf in batches:
            if len(pdf) == 0:
                continue
            texts = pdf["text"]
            none_mask = texts.isna().to_numpy()
            toks = [t.split(" ") if t is not None else [] for t in texts]
            lens = np.array([len(t) for t in toks], dtype=np.int64)
            flat = np.array([w for ws in toks for w in ws], dtype=object)
            n = len(pdf)
            out = [None] * n
            has = lens >= SHINGLE_K
            if flat.size and has.any():
                inv, uniq = pd.factorize(flat)
                uh = np.array([h32(u) for u in uniq], dtype=np.int64)
                th = uh[inv]
                doc_of = np.repeat(np.arange(n), lens)
                sh = ((th[:-2] * 31 + th[1:-1]) * 31 + th[2:]) % P
                valid = doc_of[:-2] == doc_of[2:]
                keys = np.unique((doc_of[:-2][valid] << 31) | sh[valid])
                key_docs = keys >> 31
                key_vals = keys & ((1 << 31) - 1)
                bounds = np.searchsorted(key_docs, np.arange(n + 1))
                for d in np.nonzero(has)[0]:
                    out[d] = [int(v) for v in key_vals[bounds[d] : bounds[d + 1]]]
            for d in np.nonzero(~has & ~none_mask)[0]:
                out[d] = [h32(texts.iloc[d])]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "hashes": out})

    return corpus.mapInPandas(kernel, "doc_id bigint, hashes array<bigint>")


def _variant_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ planted near-duplicates (every 4th doc, 80% prefix)."""
    base = docs.select("doc_id", "text")
    variants = docs.filter("doc_id % 4 = 0").selectExpr(
        f"doc_id + {VARIANT_OFFSET} AS doc_id",
        f"{_VARIANT_TEXT_SQL} AS text",
    )
    return base.unionByName(variants)


# SQL fragments shared by the oracle queries -------------------------------

_ORACLE_VARIANTS = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {VARIANT_OFFSET} AS doc_id,
         array_to_string(
           list_slice(str_split(text, ' '), 1,
                      greatest({SHINGLE_K},
                               CAST(floor(len(str_split(text, ' ')) * {VARIANT_KEEP}) AS INT))),
           ' ') AS text
  FROM documents WHERE doc_id % 4 = 0
)
"""

_SQL_HASH32 = "CAST(('0x' || substr(md5({x}), 1, 8)) AS BIGINT)"

# token-hash-composed shingle hashes (mirror of _shingle_hashes)
_ORACLE_SHINGLE_HASHES = f"""
shingle_hashed AS (
  SELECT doc_id,
    CASE WHEN len(th) >= {SHINGLE_K}
         THEN list_distinct(list_transform(range(1, len(th) - {SHINGLE_K - 2}),
                i -> ((th[i] * 31 + th[i+1]) * 31 + th[i+2]) % {MERSENNE_P}))
         ELSE [{_SQL_HASH32.format(x='text')} % {MERSENNE_P}] END AS hashes
  FROM (SELECT doc_id, text,
               list_transform(str_split(text, ' '),
                 w -> {_SQL_HASH32.format(x='w')} % {MERSENNE_P}) AS th
        FROM corpus)
)
"""


def _oracle_sig_exprs() -> str:
    """16 list_min expressions over the per-doc hash list."""
    mins = ", ".join(
        f"list_min(list_transform(hashes, h -> ({a} * h + {b}) % {MERSENNE_P}))"
        for a, b in zip(MINHASH_A, MINHASH_B)
    )
    return f"[{mins}]"


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-1] exact dedup — canonical winner per normalized key.

    Key = first {EXACT_KEY_TOKENS} tokens of the (already-normalized)
    text; winner = lowest doc_id. ``row_number()==1`` keeps the choice
    deterministic under shuffles, unlike ``dropDuplicates``. One shuffle
    on the dedup key; at 100 TB the key should be a content fingerprint
    (see doc_fingerprint in textops) so groups stay small and skew-free.
    """
    docs = table(spark, sf_dir, "documents")
    key = F.array_join(F.slice(_words(F.col("text")), 1, EXACT_KEY_TOKENS), " ")
    w = W.partitionBy("dedup_key").orderBy("doc_id")
    return (
        docs.select("doc_id", key.alias("dedup_key"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("dup_count", F.count(F.lit(1)).over(W.partitionBy("dedup_key")))
        .filter(F.col("rn") == 1)
        .select("doc_id", "dedup_key", F.col("dup_count").cast("bigint").alias("dup_count"))
    )


EXACT_DEDUP_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         array_to_string(list_slice(str_split(text, ' '), 1, {EXACT_KEY_TOKENS}), ' ') AS dedup_key
  FROM documents
)
SELECT doc_id, dedup_key, CAST(dup_count AS BIGINT) AS dup_count
FROM (
  SELECT doc_id, dedup_key,
         ROW_NUMBER() OVER (PARTITION BY dedup_key ORDER BY doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY dedup_key) AS dup_count
  FROM keyed
)
WHERE rn = 1
"""


def _band_frame(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig, band_id, band_sig) — the banded-LSH index rows for a
    signature frame: {N_BANDS} rows per document, one per band, keyed by
    the band's concatenated minhash pair. This is both the self-join
    input of ``minhash_neardup`` and the PERSISTED layout of the
    incremental index (``write_minhash_index``)."""
    return sigs.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
                lambda j: F.concat_ws(
                    "_",
                    F.get(F.col("sig"), j * BAND_ROWS),
                    F.get(F.col("sig"), j * BAND_ROWS + 1),
                ),
            )
        ).alias("band_id", "band_sig"),
    )


def _est_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """Matching-component fraction of two MinHash signatures."""
    return (
        F.size(
            F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda eq: eq)
        )
        / F.lit(float(N_HASHES))
    )


def write_minhash_index(corpus: DataFrame, path: str) -> None:
    """Persist the banded-LSH signature index for a corpus.

    The incremental-dedup posture at 100 TB: the lake's corpus is
    signed ONCE and its (doc_id, sig, band_id, band_sig) rows live as a
    partitioned parquet index; each arriving batch signs only itself
    and probes the index (``incremental_neardup``) instead of re-mining
    the whole lake. Partitioned by band_id so a band-restricted probe
    prunes at the directory level; within a band, rows cluster by
    band_sig at write time so the join's shuffle reads stay dense.
    """
    (
        _band_frame(_minhash_signatures(corpus))
        .repartition("band_id", "band_sig")
        .sortWithinPartitions("band_sig")
        .write.partitionBy("band_id")
        .mode("overwrite")
        .parquet(path)
    )


def incremental_neardup(
    new_docs: DataFrame, index: DataFrame, bands: DataFrame | None = None
) -> DataFrame:
    """Near-dup pairs for an ARRIVING batch against a persisted index
    (plus within-batch pairs) — no corpus re-mining.

    ``index`` is a read of ``write_minhash_index`` output. The batch is
    signed and banded once (materialized — it feeds the index probe AND
    the within-batch self-join), then:
      - batch × index: band-key equi-join against the persisted rows —
        shuffle volume is the BATCH's bands plus the matching index
        cells, never the corpus;
      - batch × batch: the usual self-join on the tiny batch frame.
    Both candidate sets verify by full-signature agreement ≥ 0.5, like
    the batch miner. Output: (doc_a, doc_b, est_jaccard) NORMALIZED to
    doc_a < doc_b — a doc_id present on both sides (an upsert
    re-ingest, or an epoch replay probing its own rows) would otherwise
    emit a (x, x) self-pair and both orientations of a true pair, so
    self-pairs are dropped and orientation is canonicalized before the
    pair dedup. Union with the index's own historical pairs reproduces
    exactly the full-batch ``minhash_neardup`` result — pinned by
    ``tests/test_incremental_dedup.py``.

    ``bands`` lets a caller that ALSO appends the batch to the index
    (the streaming ingest path below) sign the batch once and share the
    materialized frame.
    """
    nb = bands if bands is not None else materialize(
        _band_frame(_minhash_signatures(new_docs))
    )
    a = nb.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"),
        "band_id", "band_sig",
    )
    old = index.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"),
        "band_id", "band_sig",
    )
    cross = (
        a.join(old, ["band_id", "band_sig"])
        # self-guard: the same doc_id on both sides (upsert re-ingest,
        # or a replayed epoch probing its own indexed rows) must not
        # produce an (x, x) pair
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", _est_jaccard(F.col("sig_a"), F.col("sig_b")).alias("est_jaccard"))
    )
    b = nb.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"),
        "band_id", "band_sig",
    )
    within = (
        a.join(b, ["band_id", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", _est_jaccard(F.col("sig_a"), F.col("sig_b")).alias("est_jaccard"))
    )
    return (
        cross.unionByName(within)
        .filter(F.col("est_jaccard") >= 0.5)
        # canonical orientation BEFORE the pair dedup: a cross pair
        # arrives (new, old), so when both endpoints were re-ingested
        # the same pair would otherwise survive in both orientations
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            "est_jaccard",
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def incremental_dedup_batch_fn(index_path: str, pairs_out_dir: str):
    """``foreachBatch`` factory — streaming near-dup dedup AT INGEST.

    Each micro-batch of documents (``doc_id``, ``text``) is signed
    once, probed against everything ingested before it, and then added
    to the index, so a duplicate is flagged in the same trigger that
    ingests it:

      1. band the batch (one materialized frame — shared by the probe
         and the index append);
      2. ``incremental_neardup`` against the persisted index → pairs
         (batch × history ∪ batch × batch);
      3. write pairs to ``{pairs_out_dir}/ingest_batch={id}``;
      4. append the batch's band rows to
         ``{index_path}/ingest_batch={id}`` (band-partitioned inside).

    REPLAY SAFETY without a ledger: both writes land in the batch's own
    ``ingest_batch={id}`` directory with mode=overwrite, so Structured
    Streaming's at-least-once replay of an uncommitted epoch overwrites
    its own partition instead of duplicating rows — the composition is
    idempotent by layout. The probe additionally reads ONLY strictly
    earlier epochs (``ingest_batch < batch_id``): a replayed epoch that
    already appended its rows before the crash would otherwise probe
    its own indexed copy and emit a corrupted pair set (self-pairs at
    est 1.0, within-batch pairs doubled) into the overwrite. Readers
    see the growing index/pair set as one partitioned parquet tree
    (``spark.read.parquet(index_path)``). Wrap with
    ``IdempotentBatchSink`` only if the inner writes must not even
    re-run (e.g. metered object-store puts).
    """

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        import os

        spark = batch_df.sparkSession
        bands = materialize(_band_frame(_minhash_signatures(batch_df)))
        have_history = os.path.isdir(index_path) and any(
            d.startswith("ingest_batch=") for d in os.listdir(index_path)
        )
        if have_history:
            index = (
                spark.read.parquet(index_path)
                # partition-pruned: a replayed epoch must not probe the
                # rows it appended itself before the crash
                .filter(F.col("ingest_batch") < batch_id)
                .select("doc_id", "sig", "band_id", "band_sig")
            )
            pairs = incremental_neardup(batch_df, index, bands=bands)
        else:
            empty = spark.createDataFrame(
                [], "doc_id bigint, sig array<bigint>, band_id int, band_sig string"
            )
            pairs = incremental_neardup(batch_df, empty, bands=bands)
        pairs.write.mode("overwrite").parquet(
            f"{pairs_out_dir}/ingest_batch={batch_id}"
        )
        (
            bands.repartition("band_id", "band_sig")
            .sortWithinPartitions("band_sig")
            .write.partitionBy("band_id")
            .mode("overwrite")
            .parquet(f"{index_path}/ingest_batch={batch_id}")
        )

    return fn


def minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-1] MinHash + banded LSH near-duplicate pair mining.

    Pipeline (all narrow until the band shuffle):
      1. per-row: shingle set → 32-bit hashes → 16-element MinHash
         signature (vectorized NumPy kernel, md5 computed once per
         unique token — see ``_minhash_signatures``);
      2. explode 8 bands of 2 minhashes; shuffle ONLY on
         (band_id, band_signature);
      3. bucket self-join → candidate pairs (doc_a < doc_b);
      4. verify candidates by full-signature agreement
         (est_jaccard = matching components / 16), keep ≥ 0.5.

    This is the scale path: no all-pairs product anywhere; candidate
    volume is governed by the band collision probability (≈ J^2 per
    band). Planted variants (80% prefix copies) surface as pairs.
    """
    docs = table(spark, sf_dir, "documents")
    corpus = _variant_corpus(docs)
    # materialize signatures ONCE before the band self-join: the two
    # join sides are differently-aliased plans, so without this every
    # md5/minhash expression executes twice (no ReusedExchange). The
    # checkpointed frame is tiny (doc_id + 16 bigints per row).
    bands = _band_frame(materialize(_minhash_signatures(corpus)))
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), "band_id", "band_sig"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), "band_id", "band_sig"
    )
    est = _est_jaccard(F.col("sig_a"), F.col("sig_b"))
    # verify before dedup: the threshold kills almost all candidates, so
    # the duplicate-pair dedup shuffles a few scalar rows instead of
    # signature arrays (multi-band duplicates recompute est — rare)
    return (
        a.join(b, ["band_id", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.5)
        .dropDuplicates(["doc_a", "doc_b"])
    )


MINHASH_NEARDUP_SQL = f"""
WITH {_ORACLE_VARIANTS},
{_ORACLE_SHINGLE_HASHES},
sigs AS (
  SELECT doc_id, {_oracle_sig_exprs()} AS sig FROM shingle_hashed
),
bands AS (
  SELECT doc_id, sig, j AS band_id,
         CAST(sig[j*{BAND_ROWS} + 1] AS VARCHAR) || '_' ||
         CAST(sig[j*{BAND_ROWS} + 2] AS VARCHAR) AS band_sig
  FROM sigs, unnest(range({N_BANDS})) AS t(j)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b,
       len(list_filter(range({N_HASHES}), i -> sa.sig[i+1] = sb.sig[i+1])) / {N_HASHES}.0
         AS est_jaccard
FROM pairs p
JOIN sigs sa ON sa.doc_id = p.doc_a
JOIN sigs sb ON sb.doc_id = p.doc_b
WHERE len(list_filter(range({N_HASHES}), i -> sa.sig[i+1] = sb.sig[i+1])) / {N_HASHES}.0 >= 0.5
"""


# pure-plan seed of the fixpoint loop: the first rounds run as one
# unrolled plan with no cut. Star-shaped duplicate groups (variant ->
# original edges, diameter <= 2) converge inside it, so on the planted
# corpus the first observed round only proves convergence. Not a
# correctness bound: the loop runs on until the labels stop changing.
# Each seed round references the previous labels twice, so the seed's
# lineage branches 2^CLUSTER_ITERATIONS (= 4) ways, every branch
# bottoming out at the checkpointed edge list.
CLUSTER_ITERATIONS = 2


def _bidirectional_edges(pairs: DataFrame) -> DataFrame:
    """Undirected pair list -> directed edge list with both orientations."""
    return pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))


def _initial_labels(edges: DataFrame) -> DataFrame:
    """Each edge-touched node starts labeled with its own id.

    Propagation runs over edge-touched nodes ONLY: a doc in no pair
    keeps its own label and can never reach cluster_size > 1, so the
    corpus-sized id set never enters the iteration — at 100 TB the
    whole clustering runs on edge-bounded frames (src of the
    bidirectional edge list covers every endpoint).
    """
    return (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("label"))
    )


def _neighbor_joined(labels: DataFrame, edges: DataFrame) -> DataFrame:
    """``labels`` left-joined with its per-node neighbor-min — the
    shared frame of one propagation round: selecting ``_propagated()``
    from it IS the round, and selecting ``label`` beside it keeps the
    pre-round label for the fixpoint loop's convergence test.

    The edge list is tiny and lineage-cut -> broadcast it in both
    joins, so the node-sized labels side never shuffles in a round.
    """
    neighbor_min = (
        labels.join(F.broadcast(edges), edges.dst == labels.doc_id)
        .groupBy("src")
        .agg(F.min("label").alias("nbr_label"))
    )
    # neighbor_min is bounded by the edge count -> broadcast;
    # the labels side stays narrow through every round
    return labels.join(
        F.broadcast(neighbor_min), labels.doc_id == neighbor_min.src, "left"
    )


def _propagated() -> Column:
    """The post-round label of a ``_neighbor_joined`` row."""
    return F.least(
        F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
    )


def _propagate_min_label(labels: DataFrame, edges: DataFrame) -> DataFrame:
    """One min-label propagation round over a (checkpointed) edge list."""
    return _neighbor_joined(labels, edges).select(
        "doc_id", _propagated().alias("label")
    )


def _pointer_jump(labels: DataFrame) -> DataFrame:
    """label(u) <- label(label(u)) — one pointer-jumping step.

    Min-label propagation alone needs O(diameter) rounds: a long-path
    component (the 100 TB worry for chain-shaped duplicate families)
    moves its min label one hop per round. Composing each round with a
    pointer jump halves the remaining path every round — O(log
    diameter) total — at the cost of one node-sized self-join per
    round (shuffle on the label key; the frame is edge-bounded, never
    corpus-sized). Safe to interleave with propagation: label values
    are always ids of nodes in the same component and only decrease
    (label(x) <= x inductively).
    """
    mapping = labels.select(
        F.col("doc_id").alias("m_doc"), F.col("label").alias("m_label")
    )
    return labels.join(mapping, labels.label == mapping.m_doc, "left").select(
        "doc_id", F.coalesce("m_label", "label").alias("label")
    )


def _nontrivial_clusters(labels: DataFrame) -> DataFrame:
    """Cluster sizes via one count window on the label key — a single
    shuffle (vs groupBy + join-back = two stages); per-label groups are
    cluster-sized (bounded by the edge graph), so no skew risk."""
    return (
        labels.withColumn(
            "cluster_size", F.count(F.lit(1)).over(W.partitionBy("label"))
        )
        .filter(F.col("cluster_size") > 1)
        .select(
            "doc_id",
            F.col("label").alias("cluster_id"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
        )
    )


# runaway valve, seed included: the 18 propagate+jump rounds after the
# seed cover a component diameter of about 2^18
MAX_FIXPOINT_ROUNDS = 20


def fixpoint_clusters_from_pairs(
    pairs: DataFrame, max_rounds: int = MAX_FIXPOINT_ROUNDS
) -> DataFrame:
    """Connected components of an already-materialized pair list
    ``(doc_a, doc_b)`` by min-label propagation run to a fixpoint — the
    one clustering loop behind q50/q75, q92 and q93.

    Seeded with a ``CLUSTER_ITERATIONS``-round pure-plan unroll.
    Each further round projects ``(doc_id, prev, label)`` — the labels
    before and after one propagation — and cuts it with an eager
    checkpoint whose job also reports ``sum(prev)`` and ``sum(label)``
    through ``DataFrame.observe``, so testing convergence costs no job
    of its own. Equal sums end the loop; otherwise the cut labels take
    one pointer jump and the next round starts. Why that is correct:

    - labels only decrease (``label = least(prev, ...)`` row by row), so
      equal sums mean no label changed: a propagation fixpoint;
    - a propagation fixpoint is constant on each component (every node
      holds the same label as all its neighbors), so it is also a jump
      fixpoint — testing before the jump skips nothing;
    - every cut is eager, so each round's frame is computed by exactly
      one job and there is no race between consumers to argue.

    Output: members of non-trivial clusters with the canonical
    (min-id) representative as ``cluster_id`` and the cluster size.
    ``max_rounds`` counts the seed rounds too; tests drive the loop
    with adversarial graphs (long chains far past the seed) through it.
    """
    edges = _bidirectional_edges(pairs)
    labels = _initial_labels(edges)
    seed_rounds = min(CLUSTER_ITERATIONS, max_rounds)
    for _ in range(seed_rounds):
        labels = _propagate_min_label(labels, edges)
    for _ in range(seed_rounds, max_rounds):
        sums = Observation()
        labels = materialize_required(
            _neighbor_joined(labels, edges)
            .select(
                "doc_id", F.col("label").alias("prev"), _propagated().alias("label")
            )
            .observe(sums, F.sum("prev").alias("prev"), F.sum("label").alias("label")),
            eager=True,
        )
        observed = sums.get
        if observed["prev"] == observed["label"]:
            break
        labels = _pointer_jump(labels)
    return _nontrivial_clusters(labels)


def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-1] near-dup clustering — connected components of the
    MinHash pair graph (q50, and q75 under its fixpoint name).

    Every document in a pair starts labeled with its own id; each round
    every node takes the min of its label and its neighbors' labels,
    with a pointer jump after each unconverged round, until no label
    changes (``fixpoint_clusters_from_pairs``) — exact for every
    component the ``MAX_FIXPOINT_ROUNDS`` valve covers (diameter up to
    about 2^18). Output: members of non-trivial clusters with the
    canonical (min-id) representative and cluster size — the rows a
    dedup pass would drop are exactly those with doc_id != cluster_id.
    """
    # materialize the (tiny) pair list once and truncate its lineage:
    # every label round references the edge list, and without the
    # checkpoint Spark re-executes the whole MinHash pipeline per
    # reference — the standard move for iterative algorithms. The
    # durability posture (executor-memory localCheckpoint vs a reliable
    # storage-backed checkpoint) is injectable via
    # checkpointing.set_checkpoint_strategy — see checkpointing.py
    pairs = materialize(minhash_neardup(spark, sf_dir).select("doc_a", "doc_b"))
    return fixpoint_clusters_from_pairs(pairs)


def components_sql(pairs_sql: str, a: str, b: str, id_col: str) -> str:
    """DuckDB oracle of ``fixpoint_clusters_from_pairs``: one row per
    member of a non-trivial connected component of the pair list
    ``pairs_sql`` (endpoint columns ``a``, ``b``) — ``id_col``,
    ``cluster_id`` (the component's min id) and ``cluster_size``.

    Exact at any component diameter: a recursive reachability closure
    with ``UNION`` set semantics stops when a step adds no new
    (node, reached) row — on cycles too — and each node takes the
    ``MIN`` id it reaches (itself included, two hops out and back).
    The pairs are ``AS MATERIALIZED``: every closure step reads them,
    and without the hint DuckDB re-inlines the full mining pipeline
    per reference (q93: 52 s vs 15 s at sf0.1) — the evaluate-once
    semantics Spark gets from its checkpoint.
    """
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT {a} AS a, {b} AS b FROM ({pairs_sql})
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION
  SELECT b AS src, a AS dst FROM pairs
),
reach(node, reached) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.reached
),
labels AS (
  SELECT node, MIN(reached) AS label FROM reach GROUP BY node
),
sizes AS (
  SELECT label, COUNT(*) AS cluster_size FROM labels GROUP BY label
)
SELECT l.node AS {id_col}, l.label AS cluster_id,
       CAST(s.cluster_size AS BIGINT) AS cluster_size
FROM labels l JOIN sizes s ON s.label = l.label
WHERE s.cluster_size > 1
"""


NEARDUP_CLUSTERS_SQL = components_sql(MINHASH_NEARDUP_SQL, "doc_a", "doc_b", "doc_id")


def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-1] the DEDUPLICATED corpus — the operational endpoint of the
    whole near-dup family.

    q21 mines candidate pairs, q50 clusters them to a fixpoint (so a
    duplicate chain of any length collapses to ONE survivor); this
    operator actually applies the result: every near-dup cluster
    collapses to its canonical (min-id) member, singletons pass
    through untouched.
    Output is one row per SURVIVING document with its keep reason —
    'unique' (in no cluster) or 'canonical' (elected representative);
    the dropped rows are exactly the cluster members with
    doc_id != cluster_id. This is the frame a training-data pipeline
    writes back to the lake as the deduped corpus.

    Plan: the cluster map is q50's count window over the loop's last
    cut labels — edge-bounded, never corpus-sized — so it rides ONE
    broadcast left join against the corpus: the corpus itself neither
    shuffles nor re-scans, and the filter (no cluster row OR
    canonical) evaluates map-side. Cost on top of q50 is a broadcast
    and a narrow projection.
    """
    corpus = _variant_corpus(table(spark, sf_dir, "documents"))
    clusters = neardup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    joined = corpus.join(F.broadcast(clusters), "doc_id", "left")
    return (
        joined.filter(
            F.col("cluster_id").isNull() | (F.col("doc_id") == F.col("cluster_id"))
        )
        .select(
            "doc_id",
            F.length("text").cast("bigint").alias("n_chars"),
            F.when(F.col("cluster_id").isNull(), F.lit("unique"))
            .otherwise(F.lit("canonical"))
            .alias("status"),
        )
    )


DEDUP_KEEP_CANONICAL_SQL = f"""
WITH {_ORACLE_VARIANTS},
clusters AS (
  SELECT doc_id, cluster_id FROM ({NEARDUP_CLUSTERS_SQL})
)
SELECT c.doc_id,
       CAST(length(c.text) AS BIGINT) AS n_chars,
       CASE WHEN cl.doc_id IS NULL THEN 'unique' ELSE 'canonical' END AS status
FROM corpus c
LEFT JOIN clusters cl ON cl.doc_id = c.doc_id
WHERE cl.doc_id IS NULL OR cl.cluster_id = c.doc_id
"""


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-1] SimHash — 32-bit near-dup signature per document.

    Each token occurrence votes ±1 on every bit of its 32-bit hash; the
    signature sets bit b iff the bit-b vote sum is positive.

    Implemented as an Arrow-batched ``mapInPandas`` NumPy kernel rather
    than nested ``aggregate``/``zip_with`` expressions: Catalyst runs
    nested higher-order functions as an *interpreted* (non-codegen)
    Project, which in round-3 benchmarks cost 8× the oracle runtime for
    this pure per-row fold. The kernel md5-hashes only the batch's
    *unique* tokens (vocabulary ≪ token stream), takes the ±1 bit votes
    as one (tokens × 32) int matrix, and segment-sums per document with
    ``np.add.reduceat``. Bit-exact vs the expression form: votes are
    integer (order-free) and the md5→int32 base hash is identical.
    Plan stays a narrow map — one scan, one MapInPandas, no shuffle —
    so the 100 TB posture is unchanged; only per-row CPU moved from
    interpreted Catalyst eval to vectorized NumPy.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "lang")

    def kernel(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        shifts = np.arange(SIMHASH_BITS, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # Same tokenization as F.split(text, " "): keep empty tokens.
            toks = [t.split(" ") if t is not None else [] for t in pdf["text"]]
            lens = np.array([len(t) for t in toks], dtype=np.int64)
            flat = np.array([w for ws in toks for w in ws], dtype=object)
            sim = np.zeros(len(pdf), dtype=np.int64)
            nonempty = lens > 0
            if flat.size:
                # hash-based factorize beats np.unique's O(n log n) sort
                inv, uniq = pd.factorize(flat)
                uh = np.array(
                    [
                        int(hashlib.md5(u.encode("utf-8")).hexdigest()[:8], 16)
                        for u in uniq
                    ],
                    dtype=np.int64,
                )
                bits = (((uh[:, None] >> shifts) & 1) * 2 - 1).astype(np.int64)
                n = int(nonempty.sum())
                if n * uniq.size <= 20_000_000:
                    # Small vocab: per-doc token counts (bincount) then one
                    # (docs × vocab) @ (vocab × 32) matmul — never
                    # materializes the (tokens × 32) vote matrix.
                    doc_idx = np.repeat(np.arange(n), lens[nonempty])
                    counts = np.bincount(
                        doc_idx * uniq.size + inv, minlength=n * uniq.size
                    ).reshape(n, uniq.size)
                    votes = counts @ bits
                else:
                    starts = np.zeros(n, dtype=np.int64)
                    np.cumsum(lens[nonempty][:-1], out=starts[1:])
                    votes = np.add.reduceat(bits[inv], starts, axis=0)
                sim[nonempty] = ((votes > 0).astype(np.int64) << shifts).sum(axis=1)
            # NULL text → NULL signature (matches md5(NULL) propagation);
            # nullable Int64 keeps the Arrow column integral.
            sim_col = pd.array(sim, dtype="Int64")
            sim_col[pdf["text"].isna().to_numpy()] = None
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "simhash": sim_col, "lang": pdf["lang"]}
            )

    return spread(docs).mapInPandas(kernel, "doc_id bigint, simhash bigint, lang string")


SIMHASH_SIGNATURES_SQL = f"""
WITH hashed AS (
  SELECT doc_id, lang,
         list_transform(str_split(text, ' '),
           s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS hs
  FROM documents
)
SELECT doc_id,
       -- seeded list_reduce, not list_sum: list_sum was the one list
       -- aggregate no driver-green oracle exercised (it appeared only
       -- in round-6-RED q62), while the prepend-0 + reduce idiom is
       -- proven green (q56); same values, empty/NULL behavior included
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(range({SIMHASH_BITS}),
         b -> CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(hs,
                     h -> CASE WHEN ((h >> b) & 1) = 1
                          THEN CAST(1 AS BIGINT)
                          ELSE CAST(-1 AS BIGINT) END)),
                     (acc, el) -> acc + el) > 0
                   THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)),
         (acc, el) -> acc + el) AS BIGINT) AS simhash,
       lang
FROM hashed
"""


def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-1] exact n-gram Jaccard over planted near-dup pairs.

    The exact verifier for MinHash estimates: per (doc, variant) pair,
    Jaccard = |S_a ∩ S_b| / |S_a ∪ S_b| of the distinct 3-shingle-hash
    sets (same composed hashes MinHash signs — integer set ops are
    cheaper than string sets and engine-identical). Computed per-row
    with ``array_intersect``/``array_union`` — both texts derive from
    the same source row, so there is no join at all; the general pair
    form joins the candidate pairs from the LSH bucket stage
    (minhash_neardup) back to the shingle table.
    """
    # SQL-text form (was ~420 py4j round trips of nested-HOF Column
    # algebra — guide §5; plan unchanged, plans/r17/q23_ngram_jaccard_*)
    docs = spread(table(spark, sf_dir, "documents"))
    pairs = docs.filter("doc_id % 4 = 0").selectExpr(
        "doc_id",
        f"{_shingle_hashes_sql('text')} AS s_base",
        f"{_shingle_hashes_sql(_VARIANT_TEXT_SQL)} AS s_var",
    )
    inter = "size(array_intersect(s_base, s_var))"
    union = "size(array_union(s_base, s_var))"
    return pairs.selectExpr(
        "doc_id",
        f"doc_id + {VARIANT_OFFSET} AS variant_id",
        f"cast({inter} as bigint) AS n_intersect",
        f"cast({union} as bigint) AS n_union",
        f"{inter} / {union} AS jaccard",
    )


NGRAM_JACCARD_SQL = f"""
WITH {_ORACLE_VARIANTS},
{_ORACLE_SHINGLE_HASHES},
paired AS (
  SELECT b.doc_id, b.hashes AS s_base, v.hashes AS s_var
  FROM shingle_hashed b
  JOIN shingle_hashed v ON v.doc_id = b.doc_id + {VARIANT_OFFSET}
  WHERE b.doc_id % 4 = 0 AND b.doc_id < {VARIANT_OFFSET}
)
SELECT doc_id,
       doc_id + {VARIANT_OFFSET} AS variant_id,
       CAST(len(list_intersect(s_base, s_var)) AS BIGINT) AS n_intersect,
       CAST(len(s_base) + len(s_var) - len(list_intersect(s_base, s_var)) AS BIGINT) AS n_union,
       CAST(len(list_intersect(s_base, s_var)) AS DOUBLE)
         / (len(s_base) + len(s_var) - len(list_intersect(s_base, s_var))) AS jaccard
FROM paired
"""


LEV_PREFIX = 80  # edit distance is O(n*m): bound the compared prefix
LEV_CLOSE = 8


def variant_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-1] Levenshtein verification of near-dup candidate pairs.

    The third verifier in the dedup toolbox (besides shingle-Jaccard
    q23 and cosine q25): exact edit distance between each planted
    variant and its base document, on a bounded prefix — O(n·m) per
    pair means the PREFIX bound, not the corpus, is the cost knob;
    pair volume comes from the id join (in production: from the LSH
    candidate generator, never all-pairs). ``levenshtein`` is
    unit-cost in both engines, so parity is exact.
    """
    corpus = _variant_corpus(table(spark, sf_dir, "documents"))
    variants = corpus.where(F.col("doc_id") >= VARIANT_OFFSET).select(
        (F.col("doc_id") - VARIANT_OFFSET).alias("base_id"),
        F.substring("text", 1, LEV_PREFIX).alias("var_prefix"),
    )
    base = corpus.where(F.col("doc_id") < VARIANT_OFFSET).select(
        F.col("doc_id").alias("base_id"),
        F.substring("text", 1, LEV_PREFIX).alias("base_prefix"),
    )
    lev = F.levenshtein(F.col("base_prefix"), F.col("var_prefix")).cast("bigint")
    return (
        base.join(variants, "base_id")
        .select("base_id", lev.alias("edit_distance"))
        .withColumn("close_match", F.col("edit_distance") <= LEV_CLOSE)
    )


VARIANT_EDIT_DISTANCE_SQL = f"""
WITH
{_ORACLE_VARIANTS},
variants AS (
  SELECT doc_id - {VARIANT_OFFSET} AS base_id,
         substr(text, 1, {LEV_PREFIX}) AS var_prefix
  FROM corpus WHERE doc_id >= {VARIANT_OFFSET}
),
base AS (
  SELECT doc_id AS base_id, substr(text, 1, {LEV_PREFIX}) AS base_prefix
  FROM corpus WHERE doc_id < {VARIANT_OFFSET}
)
SELECT base_id,
       CAST(levenshtein(base_prefix, var_prefix) AS BIGINT) AS edit_distance,
       levenshtein(base_prefix, var_prefix) <= {LEV_CLOSE} AS close_match
FROM base JOIN variants USING (base_id)
"""


# -- q79 chunk-level dedup ------------------------------------------------
CHUNK_TOKENS = 10  # tokens per dedup chunk (line-level dedup granularity)


def chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-1] chunk-level (line-level) exact dedup statistics.

    The sub-document dedup pass of large-scale corpus prep (the
    "repeated boilerplate line" remover): cut every document into
    consecutive {CHUNK_TOKENS}-token chunks, count how many documents
    each distinct chunk appears in, and report per-document how much of
    its content is corpus-duplicated. A cleaning pass would drop or
    rewrite chunks with doc_freq >= 2; this query materializes the
    decision inputs (chunk counts + duplication ratio).

    Scale shape: explode to one row per chunk, ONE shuffle on the chunk
    key for the doc-frequency aggregate, shuffle join back on the same
    key (co-partitioned — AQE may broadcast the frequency side at small
    scale), then a per-doc regroup. No all-pairs anything; the chunk
    key's cardinality is corpus-bounded and uniform (md5), so no skew.
    The trailing sub-{CHUNK_TOKENS}-token remainder carries no full
    chunk and is excluded by construction — docs shorter than one chunk
    drop out (they have no dedupable unit).
    """
    docs = table(spark, sf_dir, "documents")
    # SQL-text form (was ~230 py4j round trips — guide §5; plan
    # unchanged, plans/r17/q79_chunk_dedup_*). sequence(0, -1) would
    # DESCEND in Spark — guard sub-chunk-length docs to an empty list.
    chunks = docs.selectExpr(
        "doc_id",
        "explode(get(transform(array(split(text, ' ')),"
        f" ws -> CASE WHEN size(ws) >= {CHUNK_TOKENS}"
        f" THEN transform(sequence(0, cast(floor(size(ws) / {CHUNK_TOKENS}) as int) - 1),"
        f" i -> md5(array_join(slice(ws, i * {CHUNK_TOKENS} + 1, {CHUNK_TOKENS}), ' ')))"
        " ELSE cast(array() as array<string>) END), 0)) AS chunk_md5",
    )
    freq = chunks.groupBy("chunk_md5").agg(
        F.count_distinct("doc_id").alias("chunk_docs")
    )
    return (
        chunks.join(freq, "chunk_md5")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("chunk_docs") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_chunks"),
        )
        .withColumn(
            "dup_ratio", F.col("n_dup_chunks") / F.col("n_chunks").cast("double")
        )
    )


CHUNK_DEDUP_STATS_SQL = f"""
WITH chunks AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(ws, i*{CHUNK_TOKENS}+1, i*{CHUNK_TOKENS}+{CHUNK_TOKENS}), ' ')) AS chunk_md5
  FROM (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
       unnest(range(len(ws) // {CHUNK_TOKENS})) AS t(i)
),
freq AS (
  SELECT chunk_md5, COUNT(DISTINCT doc_id) AS chunk_docs
  FROM chunks GROUP BY chunk_md5
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN chunk_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(SUM(CASE WHEN chunk_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_ratio
FROM chunks JOIN freq USING (chunk_md5)
GROUP BY doc_id
"""


def shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT-1] shingle containment — subset-duplication verifier.

    Containment C(A in B) = |S_A ∩ S_B| / |S_A| is the asymmetric
    companion to Jaccard (q23): a document pasted INSIDE a larger one
    scores near 1.0 on containment while its Jaccard can fall
    arbitrarily low — the metric sub-document dedup decisions use.
    Computed per planted (variant, base) pair with per-row set ops;
    pair volume comes from the id join (production: the LSH candidate
    generator). The planted variants are 80% prefixes, so containment
    of the variant in its base is ~1.0 while q23's Jaccard is ~0.8.
    """
    # SQL-text form (was ~430 py4j round trips — guide §5; plan
    # unchanged, plans/r17/q84_shingle_containment_*)
    docs = spread(table(spark, sf_dir, "documents"))
    pairs = docs.filter("doc_id % 4 = 0").selectExpr(
        "doc_id",
        f"{_shingle_hashes_sql('text')} AS s_base",
        f"{_shingle_hashes_sql(_VARIANT_TEXT_SQL)} AS s_var",
    )
    inter = "size(array_intersect(s_base, s_var))"
    return pairs.selectExpr(
        "doc_id",
        f"doc_id + {VARIANT_OFFSET} AS variant_id",
        "cast(size(s_var) as bigint) AS n_var_shingles",
        f"cast({inter} as bigint) AS n_contained",
        f"{inter} / size(s_var) AS containment",
    ).withColumn("is_subset_dup", F.expr("containment >= 0.9"))


SHINGLE_CONTAINMENT_SQL = f"""
WITH {_ORACLE_VARIANTS},
{_ORACLE_SHINGLE_HASHES},
paired AS (
  SELECT b.doc_id, b.hashes AS s_base, v.hashes AS s_var
  FROM shingle_hashed b
  JOIN shingle_hashed v ON v.doc_id = b.doc_id + {VARIANT_OFFSET}
  WHERE b.doc_id % 4 = 0 AND b.doc_id < {VARIANT_OFFSET}
)
SELECT doc_id,
       doc_id + {VARIANT_OFFSET} AS variant_id,
       CAST(len(s_var) AS BIGINT) AS n_var_shingles,
       CAST(len(list_intersect(s_base, s_var)) AS BIGINT) AS n_contained,
       CAST(len(list_intersect(s_base, s_var)) AS DOUBLE) / len(s_var) AS containment,
       CAST(len(list_intersect(s_base, s_var)) AS DOUBLE) / len(s_var) >= 0.9
         AS is_subset_dup
FROM paired
"""
