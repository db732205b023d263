"""Physical-plan regression guards — the plans we tuned must stay tuned.

Each assertion pins an optimization the bench depends on: parquet
filter/column pushdown (q01), broadcast dimension joins (q02/q06),
TakeOrderedAndProject instead of a global single-partition window
(q11), and the bounded broadcast of q24's fixed query set. A failure
here means a plan silently degraded even though results still match.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from sbs_suptech_etl_v2_spark.checkpointing import checkpoint_strategy
from sbs_suptech_etl_v2_spark.registry import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES[name](spark, sf_dir).explain("formatted")
    return buf.getvalue()


def test_q01_scan_pushes_filter_and_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q01_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reaches the scan
    # column pruning: the 16-column lineitem scan reads only what q01 uses
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema
    assert "l_comment" not in read_schema
    assert "l_quantity" in read_schema


def test_q02_dimension_join_broadcasts(spark, sf_dir):
    assert "BroadcastHashJoin" in _plan(spark, sf_dir, "q02_metadata_lookup_join")


def test_q06_bounded_dims_broadcast(spark, sf_dir):
    # nation/region carry explicit hints; at sf0.01 AQE may broadcast
    # more, but at least the two hinted dims must be broadcast joins
    assert _plan(spark, sf_dir, "q06_revenue_by_nation").count("BroadcastHashJoin") >= 2


def test_q11_positional_pick_avoids_global_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q11_positional_pick")
    assert "TakeOrderedAndProject" in plan
    # the residual Window runs AFTER the top-k bound, over <= k rows;
    # a global Exchange SinglePartition before a sort would be the
    # round-1 anti-pattern
    assert "Exchange SinglePartition" not in plan


def test_q24_query_side_is_broadcast(spark, sf_dir):
    # fixed-size query set rides a broadcast nested-loop cross join;
    # the corpus side must NOT shuffle for the scoring stage
    assert "BroadcastNestedLoopJoin" in _plan(spark, sf_dir, "q24_topk_cosine")


def test_q54_asof_pushes_type_filter_and_shuffles_once(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q54_purchase_asof_click")
    # the event_type IN filter must reach the parquet scan
    assert "In(event_type" in plan
    # union + running-last window = exactly ONE shuffle (on user_id);
    # formatted explain lists each node twice (tree + detail section)
    assert plan.count("(") and plan.count("Exchange") <= 2


def test_q57_range_frame_shuffles_once(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q57_range_frame")
    assert plan.count("Exchange") <= 2  # one physical exchange on o_custkey
    assert "Exchange SinglePartition" not in plan


def _keyed_exchanges(plan: str) -> int:
    # io.spread adds a round-robin redistribution of the kernel input,
    # which is not keyed and not counted; a *keyed* Exchange (hash /
    # range / single-partition) would mean the stage grew a real
    # data-dependent shuffle. The partitioning spec appears once per
    # physical exchange, in the formatted detail section's Arguments
    # line.
    return sum(
        plan.count(k)
        for k in ("hashpartitioning", "rangepartitioning", "SinglePartition")
    )


def test_q22_simhash_is_single_pass_vectorized(spark, sf_dir):
    # round-4 rewrite: the interpreted HOF Project became a NumPy
    # MapInPandas — plan must stay one scan -> MapInPandas with no
    # keyed shuffle (spread's round-robin is allowed)
    plan = _plan(spark, sf_dir, "q22_simhash_signatures")
    assert "MapInPandas" in plan
    assert _keyed_exchanges(plan) == 0
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "source" not in read_schema  # column pruning through mapInPandas


def test_q51_quantize_is_single_pass_vectorized(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q51_quantize_embeddings")
    assert "MapInPandas" in plan
    assert _keyed_exchanges(plan) == 0
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "label" not in read_schema


def test_q49_promo_revenue_broadcasts_part_single_exchange(spark, sf_dir):
    # r3 bench flagged a +60% drift with no plan cause; pin the shape so
    # a real regression (shuffle join / extra exchange) cannot hide in
    # box noise: broadcast part join + exactly one shuffle exchange for
    # the final aggregate (counts are doubled: tree + detail section).
    # The salted two-level aggregate was A/B-measured a wash here in
    # round 8 — this guard also pins that the flat form stays.
    plan = _plan(spark, sf_dir, "q49_promo_revenue")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 2


def test_q21_minhash_band_join_is_checkpointed_hash_join(spark, sf_dir):
    # signatures materialized once (checkpoint scan), candidate pairs
    # come from the band-key equi-join — never a nested-loop product
    plan = _plan(spark, sf_dir, "q21_minhash_neardup")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan  # checkpointed signature frame
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 4


def test_q25_embedding_neardup_is_bucket_grouped_kernel(spark, sf_dir):
    # round-10 shape: pair mining + exact verify run INSIDE the
    # (band, bucket, ga, gb) sub-groups (FlatMapGroupsInPandas); the
    # banded frame is materialized ONCE (ExistingRDD) and feeds both
    # the occupancy census (a tiny band/bucket count whose result is
    # BROADCAST back — the cell-id space is bounded, so this join may
    # never shuffle) and the salted cell-key exchange; the pair
    # fan-out never leaves the kernel
    plan = _plan(spark, sf_dir, "q25_embedding_neardup")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "ExistingRDD" in plan  # checkpointed banded frame
    assert "BroadcastHashJoin" in plan  # census joins broadcast-side
    # exactly three physical shuffles — the bounded-size census
    # count, the salted cell-key grouping, and the pair-dedup regroup
    # over the (tiny, already-thresholded) pair list; "formatted"
    # prints each node in tree + detail, hence <= 6
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 6


def test_q50_clusters_runs_unroll_as_one_job(spark, sf_dir):
    # q50 runs q75's fixpoint loop, so its returned plan is q75's: the
    # count window over the loop's last eager cut (ExistingRDD), one
    # keyed exchange (the window's partitioning on the label) and no
    # join. A join here would mean the output plan re-runs propagation
    # rounds instead of reading the cut labels.
    plan = _plan(spark, sf_dir, "q50_neardup_clusters")
    assert "ExistingRDD" in plan
    assert "Join" not in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Window") == 1
    assert _keyed_exchanges(plan) == 1


def test_q61_contamination_scores_without_shuffling_corpus(spark, sf_dir):
    # shingle sets come from ONE materialized kernel pass; the benchmark
    # vocabulary is a broadcast hash-join build side and the eval side
    # folds to per-doc counters in a single aggregation — the only
    # data-sized shuffles are the vocabulary distinct and the per-doc
    # partial-agg output; nothing corpus-sized broadcasts or nests
    plan = _plan(spark, sf_dir, "q61_contamination_check")
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ExistingRDD" in plan  # checkpointed shingle-set frame
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 4


def test_q62_repetition_stats_plan(spark, sf_dir):
    # pure Column counting (round 7): no Python workers anywhere, ONE
    # scan and ONE doc-keyed exchange — tokens and bigrams ride a
    # single tagged gram stream, hash(doc_id) satisfies every
    # downstream aggregate (subset-of-keys rule), and no join ever
    # re-broadcasts the doc-grain counters
    plan = _plan(spark, sf_dir, "q62_repetition_stats")
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert _keyed_exchanges(plan) == 1
    # formatted explain lists each physical node once in the tree and
    # once in the details — one real scan therefore prints twice
    assert plan.count("Scan parquet") == 2
    assert "Join" not in plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "source" not in read_schema  # prunes to doc_id + text


def test_q64_stratified_sample_is_map_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q64_stratified_sample")
    assert "Exchange" not in plan
    assert "Window" not in plan


def test_q65_packing_agg_reuses_window_partitioning(spark, sf_dir):
    # the pack summary groups by (lang, shard, pack_id) — a superset of
    # the window's (lang, shard) partitioning, so the groupBy must NOT
    # introduce a second shuffle (counts doubled: tree + detail section)
    plan = _plan(spark, sf_dir, "q65_sequence_packing")
    assert plan.count("Exchange") <= 2
    assert plan.count("Window") >= 1


def test_q66_scalar_subquery_joins_on_equi_keys(spark, sf_dir):
    # decorrelated per-part average: the quantity threshold must ride a
    # hash join condition (broadcast at this SF, sort-merge at scale) —
    # never a nested-loop theta join
    plan = _plan(spark, sf_dir, "q66_small_qty_revenue")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_q68_interval_join_is_bucketed_equi_join(spark, sf_dir):
    # the time-range predicate must be folded into an equi-join on
    # (user_id, bucket) — a pure theta join would be the per-user
    # quadratic anti-pattern
    plan = _plan(spark, sf_dir, "q68_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan
    assert "Generate" in plan  # the 2-bucket probe explode


def test_q70_argmax_second_agg_runs_on_bounded_frame(spark, sf_dir):
    # fact table aggregates once per (size, brand); the argmax pass runs
    # on that bounded frame — part dim is broadcast, and only the two
    # aggregation exchanges may shuffle
    plan = _plan(spark, sf_dir, "q70_brand_argmax")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 4


def test_q75_fixpoint_shares_q50_checkpoint_shape(spark, sf_dir):
    # the fixpoint loop ends on an eager checkpoint of the converged
    # labels, so the returned plan is only the count window over that
    # ExistingRDD: one keyed exchange (the window's partitioning on the
    # label) and no join. A join here would mean the output plan
    # re-runs propagation rounds instead of reading the cut labels.
    plan = _plan(spark, sf_dir, "q75_neardup_fixpoint")
    assert "ExistingRDD" in plan
    assert "Join" not in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Window") == 1
    assert _keyed_exchanges(plan) == 1


def test_q71_kmeans_centroids_broadcast_and_bounded_shuffles(spark, sf_dir):
    # the |V|xK scoring stage must broadcast the fixed-K centroid side
    # (corpus never shuffles for assignment); the only data-sized
    # exchanges are the two aggregations (assignment argmax, dim sums)
    # plus the final K-sized regroup (counts doubled: tree + detail)
    plan = _plan(spark, sf_dir, "q71_kmeans_update")
    assert "BroadcastNestedLoopJoin" in plan  # broadcast cross join, K rows
    assert "CartesianProduct" not in plan
    # three keyed shuffles: argmax regroup (vec_id), dim sums
    # (cent_id, dim), final centroid regroup (cent_id); spread's
    # round-robin redistribution is not keyed and not counted
    assert _keyed_exchanges(plan) <= 3


def test_q76_session_paths_topk_and_session_shuffle_reuse(spark, sf_dir):
    # top-20 must be a TakeOrderedAndProject (never a global sort of all
    # paths), and the per-session aggregate must reuse the session
    # window's user_id partitioning — shuffles: user_id window + path
    # groupBy only
    plan = _plan(spark, sf_dir, "q76_session_paths")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 4


def test_q79_chunk_dedup_shuffles_on_chunk_key_only(spark, sf_dir):
    # explode -> doc-frequency agg -> join back: every data-sized
    # shuffle keys on chunk_md5 (uniform md5 -> no skew) or the final
    # doc_id regroup; never a nested-loop pair product
    plan = _plan(spark, sf_dir, "q79_chunk_dedup")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "chunk_md5" in plan


def test_q82_distribution_windows_share_one_sort(spark, sf_dir):
    # five window functions over one (priority, price) ordering: ONE
    # keyed exchange + one Window stack — a second sort/exchange means
    # a frame variant stopped sharing the partitioning
    plan = _plan(spark, sf_dir, "q82_distribution_windows")
    assert _keyed_exchanges(plan) <= 1
    assert plan.count("Sort") <= 4  # tree + detail for <= 2 sort nodes


def test_q83_presence_is_full_outer_on_aggregated_sides(spark, sf_dir):
    # both inputs aggregate BEFORE the join (partial-agg pushes work
    # map-side); the reconcile itself is a real FullOuter join
    plan = _plan(spark, sf_dir, "q83_nation_presence")
    assert "FullOuter" in plan
    # the join consumes aggregated frames: aggregates appear below it
    join_pos = plan.index("FullOuter")
    assert "HashAggregate" in plan[join_pos:]


def test_q86_pq_codebook_broadcasts_and_argmax_is_aggregate(spark, sf_dir):
    # the M x K codebook rides a broadcast; the argmin over the
    # candidate fan-out is a min_by hash aggregate (map-side partial),
    # never a window sort over rows x M x K; scan prunes to
    # (vec_id, embedding)
    plan = _plan(spark, sf_dir, "q86_pq_quantize")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree
    assert _keyed_exchanges(plan) <= 2
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "label" not in read_schema


def test_q87_surrogate_keys_avoid_global_sort(spark, sf_dir):
    # the data path is range-exchange + in-partition sort; the ONLY
    # single-partition stage is the partition-count cumsum (one row per
    # range partition), and offsets ride a broadcast join back. A
    # SinglePartition sort of the data itself is the anti-plan this
    # operator exists to avoid. The sorted frame is materialized before
    # fan-out (sampled range boundaries + mid must be shared, not
    # reuse-dependent), so the default plan bottoms at an ExistingRDD;
    # the "none" strategy sees through the checkpoint to pin the
    # range-exchange shape itself.
    plan = _plan(spark, sf_dir, "q87_surrogate_keys")
    assert "ExistingRDD" in plan  # materialized sorted frame, both branches
    assert "BroadcastHashJoin" in plan
    # tree + detail for the one tiny offsets window only
    assert plan.count("SinglePartition") <= 2
    with checkpoint_strategy("none"):
        full = _plan(spark, sf_dir, "q87_surrogate_keys")
    assert "rangepartitioning" in full
    assert full.count("SinglePartition") <= 2


def test_q19_pages_explode_single_preexplode_shuffle(spark, sf_dir):
    # round-6 rewrite: repartition(doc_id) BEFORE the word fan-out, so
    # raw text crosses the wire once and hashpartitioning(doc_id)
    # satisfies both the (doc_id, page_no) page agg and the doc_id
    # rollup — the naive plan shuffled exploded per-word structs twice.
    # spread()'s round-robin may precede it; what must not
    # appear is a SECOND keyed exchange above the explode.
    plan = _plan(spark, sf_dir, "q19_pages_explode")
    assert _keyed_exchanges(plan) <= 1  # naive plan carried two
    assert "Generate" in plan  # the explode fan-out is still physical


def test_q88_scene_segments_share_one_doc_exchange(spark, sf_dir):
    # frames fan out map-side (posexplode of a transform — no join, no
    # shuffle to build them); then the lag window, the running-sum
    # window, and the (doc_id, scene_id) rollup must ALL ride the one
    # hashpartitioning(doc_id) exchange: the rollup's clustering keys
    # are a superset of the window's partition key, so a second keyed
    # exchange means the sharing broke
    plan = _plan(spark, sf_dir, "q88_scene_segments")
    assert "Window" in plan
    assert _keyed_exchanges(plan) <= 1
    assert "SinglePartition" not in plan
    # frame fan-out is expression-level, not a generator join
    assert "Join" not in plan


def test_q89_cogroup_shuffles_once_per_side_on_buckets(spark, sf_dir):
    # §2.11 cogrouped-map: exactly one keyed exchange PER SIDE, both on
    # the 64-way hash bucket (kernel invoked <= COGROUP_BUCKETS times,
    # never per-user), and the event_type filters pushed to the scans
    plan = _plan(spark, sf_dir, "q89_cogroup_attribution")
    assert "FlatMapCoGroupsInPandas" in plan
    assert _keyed_exchanges(plan) <= 2  # one hashpartitioning per side
    assert "SinglePartition" not in plan
    assert "EqualTo(event_type,click)" in plan  # pushed to parquet
    assert "EqualTo(event_type,purchase)" in plan
    # the bucket key is computed from hash(user_id) % 64 in the plan
    # itself — a raw user_id grouping would invoke the kernel per user
    assert "pmod" in plan and "64" in plan


def test_q90_recall_audit_shares_unit_frame_and_broadcasts_queries(spark, sf_dir):
    # both audit legs must bottom at the ONE materialized unit frame
    # (ExistingRDD), the exact leg's fixed query sample rides a
    # broadcast nested-loop join (corpus never shuffles for scoring),
    # and no unbounded exchange appears — the only keyed shuffles are
    # the band-bucket join, the two per-query windows and the final
    # bounded groupBy
    plan = _plan(spark, sf_dir, "q90_ann_recall_audit")
    assert "ExistingRDD" in plan
    assert "BroadcastNestedLoopJoin" in plan  # exact leg, fixed queries
    assert "SinglePartition" not in plan


def test_q91_surprisal_rides_one_doc_shuffle(spark, sf_dir):
    # q28's shape: repartition(doc_id) before the explode, tf agg and
    # per-doc rollup inherit it; vocab rolls up + broadcasts back. A
    # second doc-keyed exchange means the sharing broke.
    plan = _plan(spark, sf_dir, "q91_unigram_surprisal")
    assert "BroadcastHashJoin" in plan  # vocab joins back broadcast
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "lang" not in read_schema  # column pruning: doc_id + text only
    # keyed exchanges: doc repartition (reused by both branches at
    # runtime), vocab rollup, 1-row total agg — never more
    assert _keyed_exchanges(plan) <= 6


def test_q92_keep_canonical_broadcasts_cluster_map(spark, sf_dir):
    # the corpus must pay ONLY a broadcast left join on top of q50's
    # guarded internals: the (edge-bounded) cluster map broadcasts, the
    # corpus leg never grows a keyed exchange of its own
    plan = _plan(spark, sf_dir, "q92_dedup_keep_canonical")
    assert "BroadcastHashJoin" in plan
    assert _keyed_exchanges(plan) == 1  # q50's label window, nothing more
    assert "SinglePartition" not in plan


def test_q93_semantic_dedup_shares_q50_plan_family(spark, sf_dir):
    # SemDeDup clustering runs q50's fixpoint loop over the checkpointed
    # LSH pair list, so it must return q50's plan: one count window over
    # the last eager cut (ExistingRDD), one keyed exchange and no join —
    # never an all-pairs product, never a corpus-sized iteration frame
    plan = _plan(spark, sf_dir, "q93_semantic_dedup")
    assert "ExistingRDD" in plan
    assert "Join" not in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Window") == 1
    assert _keyed_exchanges(plan) == 1


def test_q94_stats_is_two_level_salted_aggregate(spark, sf_dir):
    # exact integer moments in TWO chained hash aggregates, both
    # map-side combined: the fact-sized level sums quantized BIGINTs
    # per (group, salt) — long adds in the agg buffer, not decimal —
    # and the |groups| x salts merge level sums decimal(28,0). Exactly
    # two keyed exchanges (fact -> salt partials -> group), statistics
    # derived in a post-projection; the scan stays 3-column pruned
    # (the salt hashes columns the moments already read).
    plan = _plan(spark, sf_dir, "q94_quantity_price_stats")
    assert _keyed_exchanges(plan) == 2
    assert "SinglePartition" not in plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_comment" not in read_schema  # 3-column pruned scan
    assert "l_orderkey" not in read_schema  # salt must not widen it
    assert "l_quantity" in read_schema


def test_q95_resample_broadcasts_calendar_grid(spark, sf_dir):
    # the dense grid is |priorities| x |days| — dimension-sized, so the
    # calendar rides a broadcast against the priority dimension and the
    # only keyed shuffles are the daily pre-aggregate, the grid join
    # key, and the per-priority fill window; order volume never crosses
    # the grid product
    plan = _plan(spark, sf_dir, "q95_calendar_resample")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bounds -> calendar
    assert "Window" in plan
    assert plan.count("Generate") >= 1  # sequence-exploded calendar


def test_monotonic_id_bit_layout(spark):
    # q87's local_row derivation assumes Spark's documented
    # monotonically_increasing_id layout: (partition_id << 33) + row
    # index within the partition, counting consecutively from 0. Pin it
    # so an upstream change fails loudly here, not as silent wrong ids.
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 1000)
        .repartition(7)
        .select(
            F.spark_partition_id().alias("pid"),
            F.monotonically_increasing_id().alias("mid"),
        )
    )
    rows = df.groupBy("pid").agg(
        F.min(F.col("mid") - (F.col("pid").cast("bigint") * (1 << 33))).alias("lo"),
        F.max(F.col("mid") - (F.col("pid").cast("bigint") * (1 << 33))).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()
    for r in rows:
        assert r.lo == 0 and r.hi == r.n - 1, r


def test_q96_one_fact_partitioning_serves_both_aggregates(spark, sf_dir):
    # the repartition(l_orderkey) exchange must satisfy BOTH chained
    # aggregates — (l_orderkey, l_suppkey) then (l_orderkey), the
    # subset-of-grouping-keys rule — and no window (a window would
    # re-introduce a per-partition sort). Keyed exchanges: the fact
    # partitioning + the final per-supplier aggregate only.
    plan = _plan(spark, sf_dir, "q96_only_late_supplier")
    assert _keyed_exchanges(plan) <= 2
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan  # supplier-name lookup


def test_q99_corpus_scanned_twice_not_per_consumer(spark, sf_dir):
    # the unigram table feeds four consumers; without its lineage cut
    # each re-tokenizes the corpus (observed: 5 parquet scans). Two
    # scans = one bigram pass + one unigram pass (the doc count rides
    # the bigram-side scan stats, not an exploded pass).
    plan = _plan(spark, sf_dir, "q99_bigram_pmi")
    scans = [
        l
        for l in plan.splitlines()
        if l.lstrip().startswith("(") and "Scan parquet" in l
    ]
    assert len(scans) <= 2


def test_q100_argmin_is_aggregate_not_window(spark, sf_dir):
    # nearest-click argmin must be min(struct(...)) — map-side
    # combinable, one row per purchase over the wire — not a
    # row_number window over every candidate
    plan = _plan(spark, sf_dir, "q100_purchase_nearest_click")
    assert "Window" not in plan
    assert "partial_min" in plan


def test_q101_chunking_is_map_only(spark, sf_dir):
    # sequence-explode chunking must never shuffle — one scan, zero
    # keyed exchanges at any corpus size
    plan = _plan(spark, sf_dir, "q101_rag_chunking")
    assert _keyed_exchanges(plan) == 0


def test_q102_index_builds_in_one_shuffle(spark, sf_dir):
    # doc_freq derives from the distinct posting array; a
    # COUNT(DISTINCT) sibling would plan a second two-phase exchange
    plan = _plan(spark, sf_dir, "q102_inverted_index")
    assert _keyed_exchanges(plan) == 1


def test_q105_user_partitioning_serves_agg_and_window(spark, sf_dir):
    # repartition(user_id) satisfies the (user, day) aggregate AND the
    # per-user RANGE window — one keyed exchange total
    plan = _plan(spark, sf_dir, "q105_zscore_anomalies")
    assert _keyed_exchanges(plan) == 1


def test_q106_probe_filter_pushed_and_anti_join(spark, sf_dir):
    # the NOT EXISTS probe side must scan only the one order class —
    # the priority predicate reaches the parquet scan — and the probe
    # itself is an anti join, not a correlated re-scan
    plan = _plan(spark, sf_dir, "q106_idle_rich_customers")
    assert "LeftAnti" in plan
    pushed = "".join(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "o_orderpriority" in pushed


def test_q109_single_user_exchange(spark, sf_dir):
    # daily agg + lag window + running-sum window + island rollup all
    # ride ONE hashpartitioning(user_id)
    plan = _plan(spark, sf_dir, "q109_activity_history_scd2")
    assert _keyed_exchanges(plan) == 1


def test_q110_two_bounded_aggregates(spark, sf_dir):
    # key rollup (fact-sized, map-side combined) + log2-bucket rollup
    # (tiny); anything more means the profile grew a real shuffle
    plan = _plan(spark, sf_dir, "q110_join_key_skew_profile")
    assert _keyed_exchanges(plan) <= 2


def test_q104_two_linear_windows_over_broadcast_grid(spark, sf_dir):
    # the four fill/interp expressions pair into TWO running windows
    # over the same per-priority exchange: backward fill ordered by day
    # ASC, forward fill ordered by day DESC. A single fused Window
    # would need a (CURRENT ROW .. UNBOUNDED FOLLOWING) frame for the
    # forward pair, which Spark evaluates by re-scanning the partition
    # remainder per row — quadratic per partition (measured ~1.7 s of
    # the query at sf0.1); two incremental UNBOUNDED PRECEDING frames
    # cost one extra sort and no extra shuffle
    plan = _plan(spark, sf_dir, "q104_revenue_interpolation")
    nums = [l for l in plan.splitlines() if l.lstrip().startswith("(")]
    assert sum(1 for l in nums if "Window" in l) == 2
    assert "unboundedfollowing$()" not in plan  # no quadratic frame
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bounds -> calendar


def test_bucket_scorer_census_join_is_broadcast(spark, sf_dir):
    """The salted scorer's occupancy census (round-10: per-cell counts
    set nsub) joins back onto the banded frame. The cell-id space is
    bounded (N_BANDS x 2^PLANES_PER_BAND rows at most), so the join
    carries an explicit broadcast hint — if it ever regressed to a
    sort-merge join, the corpus-sized banded frame would pay a SECOND
    (band, bucket)-keyed exchange that the shuffle-byte budgets in
    test_shuffle_volume would not distinguish from the legitimate
    cell-key exchange."""
    plan = _plan(spark, sf_dir, "q25_embedding_neardup")
    assert "BroadcastHashJoin" in plan
    # exactly one banded-frame exchange feeds the grouped scorer: the
    # applyInPandas group key (band, bucket, ga, gb)
    assert plan.count("SortMergeJoin") == 0


def test_no_cartesian_or_rowwise_python_anywhere(spark, sf_dir):
    """Registry-wide anti-pattern sweep (round 11). The per-query
    guards above pin plans we tuned by hand; this sweep pins the two
    absolute prohibitions over EVERY registered query, present and
    future, so a new or edited query can't reintroduce them unguarded:

    - ``CartesianProduct`` — an all-pairs physical join. Every
      intentional crossJoin in the package is against a broadcast
      fixed-size frame and must plan as BroadcastNestedLoopJoin.
    - ``BatchEvalPython`` — a row-at-a-time Python UDF. All Python
      execution rides Arrow batches (ArrowEvalPython / MapInPandas /
      FlatMapGroupsInPandas and friends).

    Uses the executed plan string directly (cheaper than the
    formatted explain across 121 queries; builder-time jobs for the
    iterative queries run at sf0.001).
    """
    offenders = []
    for name, fn in QUERIES.items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        for marker in ("CartesianProduct", "BatchEvalPython"):
            if marker in plan:
                offenders.append((name, marker))
    assert not offenders, offenders
