"""Central query registry — the driver-checked surface.

Every implemented operator family from SURVEY §2 declares here:
``QUERIES[name]`` (a (spark, sf_dir) -> DataFrame builder) and, when
SQL-expressible, ``ORACLE[name]`` (ANSI SQL for the DuckDB oracle over
the same parquet tables). Column names/aliases match exactly on both
sides — the driver hashes values under name-sorted columns. Where
Spark runs the oracle text unchanged, the text is also the builder
(``sql_query``), and ``ORACLE`` holds the same text (``oracle_text``).
"""

from __future__ import annotations

import string
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from sbs_suptech_etl_v2_spark.io import table
from sbs_suptech_etl_v2_spark.operators import blocks as B
from sbs_suptech_etl_v2_spark.operators import dedup as X1
from sbs_suptech_etl_v2_spark.operators import extraction as E
from sbs_suptech_etl_v2_spark.operators import jsonops as J
from sbs_suptech_etl_v2_spark.operators import multimodal as X3
from sbs_suptech_etl_v2_spark.operators import documents as D
from sbs_suptech_etl_v2_spark.operators import relational as R
from sbs_suptech_etl_v2_spark.operators import similarity as X2
from sbs_suptech_etl_v2_spark.operators import textops as X4
from sbs_suptech_etl_v2_spark.operators import trainprep as X5

QueryFn = Callable[[SparkSession, str], DataFrame]


def _placeholders(text: str) -> list[str]:
    """The ``{table}`` placeholders of a SQL text, in first-use order."""
    return list(dict.fromkeys(f for _, f, _, _ in string.Formatter().parse(text) if f))


def sql_query(text: str) -> QueryFn:
    """A query built from its oracle text: each ``{table}`` placeholder
    is bound to that test table as a ``spark.sql`` DataFrame parameter.

    The parameter form substitutes each DataFrame under an internally
    unique name and leaves nothing in the catalog, so concurrent
    queries never share a temp view (tests/test_concurrent_queries.py).
    The text is kept on the builder as ``sql_text``.
    """
    tables = _placeholders(text)

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.sql(text, **{t: table(spark, sf_dir, t) for t in tables})

    build.sql_text = text
    return build


def oracle_text(text: str) -> str:
    """The DuckDB form of a ``sql_query`` text: each placeholder becomes
    its table's name."""
    return text.format_map({t: t for t in _placeholders(text)})


QUERIES: dict[str, QueryFn] = {
    # ------------------------------------------------------------------
    # Ordering note: the external correctness harness samples a
    # fixed-size prefix of this dict (50 entries, insertion order).
    # Rotation rule: each round the stalest-verdict queries rotate
    # into the prefix; a CHANGED query takes a seat the same round to
    # re-earn its verdict. "Changed" extends to MODULE-MATES of the
    # changed code (ADVICE r12: the extension is now explicit, not
    # silent): an edit to an operator module can affect every query it
    # feeds, so all of that module's registered queries re-earn — r12
    # seated unchanged q102 alongside q99 on the textops.py one-liner
    # under exactly this reading, displacing q97's refresh by a round.
    #
    # Round-19 rotation (VERDICT r18 #2; the window is disjoint from
    # r18's except changed paths): slots 1-20 are the paths changed
    # since r18 — the near-dup clustering loop (q75/q50/q92, and q93,
    # whose semantic dedup now runs the same loop), the
    # ``extract_structured`` signature (q31-q33), the other
    # ``io.spread`` callers (q21-q23, q30, q44, q51, q84, q86; spread
    # became an unconditional repartition), the document builders the
    # doc_etl pipeline now shares (q15 ``refine_period_sql``, q16
    # ``first_pages_sql``; q35 and q37 sit in slots 34-50) and the
    # embedding oracles that read the ``planes`` CTE (q25, q41, q90;
    # q93 is seated above); slots 21-33 are q01-q13, never re-verified
    # since their first verdict; slots 34-50 take the r18 "left for
    # round 19" list in numeric order (q27-q55, skipping the queries
    # seated above). The other queries of documents.py, jsonops.py and
    # similarity.py are not reseated: their builders and oracles did
    # not change.
    #
    # Amended when 20 relational queries became one SQL text
    # (``sql_query``; builder and oracle are the same text): q02-q05,
    # q08, q10, q11 and q13 already sit in slots 21-33, and q40, q46,
    # q52 and q53 in slots 34-50; q49, q60, q66, q67, q70, q82, q83 and
    # q120 take the seats of slots 34-50's highest-numbered unchanged
    # entries (q38, q39, q42, q43, q45, q48, q54, q55), and slots 34-50
    # stay in numeric order. relational.py's other builders did not
    # change and are not reseated. Left for round 20: the eight
    # displaced (q38, q39, q42, q43, q45, q48, q54, q55), then q56-q59,
    # q62-q65, q68, q69, q72-q74, q76-q78, q95, q97, q101, q106,
    # q109-q113, q115/q116, q118, q119, q121, then the r18 window's
    # queries that are not seated here.
    #
    # Amended again when five more relational queries became one SQL
    # text (q69, q98, q106, q116, q119) and q76's builder began to
    # compute its ``lag`` once instead of once per epoch field (eight
    # window expressions became one): these six take the seats of the
    # window's six highest-numbered entries that changed neither since
    # r18 nor into one text (q34, q28, q27, q12, q09, q07), so slots
    # 21-30 hold q01-q13 less q07, q09 and q12, and slots 31-50 stay in
    # numeric order. q57's builder spells the zone-free epoch as SQL
    # text now, but its optimized plan is identical, so it is not
    # reseated; nor are the fifteen keepers, whose builders gained only
    # a one-line reason. Left for round 20: the fourteen these rounds
    # displaced (q07, q09, q12, q27, q28, q34, q38, q39, q42, q43, q45,
    # q48, q54, q55), then the list above less the six seated here.
    # ------------------------------------------------------------------
    # -- slots 1-20: paths changed since r18 --
    # q75 and q50 are one builder under two names (q75 kept its
    # fixpoint name and seat)
    "q75_neardup_fixpoint": X1.neardup_clusters,
    "q50_neardup_clusters": X1.neardup_clusters,
    "q92_dedup_keep_canonical": X1.dedup_keep_canonical,
    "q93_semantic_dedup": X2.semantic_dedup,
    "q31_extract_polizas": E.extract_polizas,
    "q32_extract_tasaciones": E.extract_tasaciones,
    "q33_extract_inscripciones": E.extract_inscripciones,
    "q21_minhash_neardup": X1.minhash_neardup,
    "q22_simhash_signatures": X1.simhash_signatures,
    "q23_ngram_jaccard": X1.ngram_jaccard,
    "q30_doc_fingerprint": X4.doc_fingerprint,
    "q44_ocr_extract_pages": E.ocr_extract_pages,
    "q51_quantize_embeddings": X2.quantize_embeddings,
    "q84_shingle_containment": X1.shingle_containment,
    "q86_pq_quantize": X2.pq_quantize,
    "q15_path_parse": D.path_parse,
    "q16_pages_concat": D.pages_concat,
    "q25_embedding_neardup": X2.embedding_neardup,
    "q41_ann_bucketed_topk": X2.ann_bucketed_topk,
    "q90_ann_recall_audit": X2.ann_recall_audit,
    # -- slots 21-30: q01-q13 less q07, q09 and q12 --
    "q01_pricing_summary": R.pricing_summary,
    "q02_metadata_lookup_join": sql_query(R.METADATA_LOOKUP_JOIN_SQL),
    "q03_top_orders_per_customer": sql_query(R.TOP_ORDERS_PER_CUSTOMER_SQL),
    "q04_semi_join_open_orders": sql_query(R.CUSTOMERS_WITH_OPEN_ORDERS_SQL),
    "q05_anti_join_no_orders": sql_query(R.CUSTOMERS_WITHOUT_ORDERS_SQL),
    "q06_revenue_by_nation": R.revenue_by_nation,
    "q08_priority_rollup": sql_query(R.ORDER_PRIORITY_ROLLUP_SQL),
    "q10_running_window": sql_query(R.RUNNING_ORDER_TOTALS_SQL),
    "q11_positional_pick": sql_query(R.POSITIONAL_PICK_SQL),
    "q13_events_tumbling": sql_query(R.EVENTS_TUMBLING_WINDOW_SQL),
    # -- slots 31-50, numeric order: the one-text queries not seated
    # above, q76 and the changed document builders q35 and q37 --
    "q35_notification_encode": J.notification_encode,
    "q37_artifact_keys": D.artifact_keys,
    "q40_nation_set_ops": sql_query(R.NATION_SET_OPS_SQL),
    "q46_events_session": sql_query(R.EVENTS_SESSION_WINDOW_SQL),
    "q49_promo_revenue": sql_query(R.PROMO_REVENUE_SHARE_SQL),
    "q52_status_cube": sql_query(R.ORDER_STATUS_CUBE_SQL),
    "q53_approx_distinct": sql_query(R.SEGMENT_DISTINCT_CUSTOMERS_SQL),
    "q60_grouping_sets": sql_query(R.STATUS_PRIORITY_GROUPING_SETS_SQL),
    "q66_small_qty_revenue": sql_query(R.SMALL_QUANTITY_BRAND_REVENUE_SQL),
    "q67_acctbal_deciles": sql_query(R.ACCTBAL_DECILES_SQL),
    "q69_status_pivot": sql_query(R.STATUS_PRIORITY_PIVOT_SQL),
    "q70_brand_argmax": sql_query(R.TOP_BRAND_PER_SIZE_SQL),
    "q76_session_paths": R.session_event_paths,
    "q82_distribution_windows": sql_query(R.ORDER_DISTRIBUTION_WINDOWS_SQL),
    "q83_nation_presence": sql_query(R.NATION_PRESENCE_RECONCILE_SQL),
    "q98_user_snapshot_diff": sql_query(R.USER_SNAPSHOT_DIFF_SQL),
    "q106_idle_rich_customers": sql_query(R.IDLE_RICH_CUSTOMERS_SQL),
    "q116_cumulative_distinct": sql_query(R.CUMULATIVE_DISTINCT_USERS_SQL),
    "q119_incremental_totals": sql_query(R.INCREMENTAL_PRIORITY_TOTALS_SQL),
    "q120_monthly_momentum": sql_query(R.MONTHLY_REVENUE_MOMENTUM_SQL),
    # -- beyond the 50-entry prefix ------------------------------------
    # (round-20 lead candidates: the fourteen the one-text queries and
    # q76 displaced, then numeric order)
    "q07_branch_union": R.order_branches_union,
    "q09_distinct_agg": R.supplier_distinct_parts,
    "q12_set_ops": R.segment_set_ops,
    "q27_token_topk": X4.token_topk,
    "q28_tfidf_top_terms": X4.tfidf_top_terms,
    "q34_blocks_page_text": B.blocks_page_text,
    "q38_image_features": X3.image_features,
    "q39_frame_sample": X3.frame_sample,
    "q42_token_counts": X4.token_counts,
    "q43_notification_ids": J.notification_ids,  # C7 uuid — no_oracle BY DESIGN (rows-only driver row);
    # q78_notification_ids_det is its hash-checked deterministic sibling
    "q45_events_sliding": R.events_sliding_window,
    "q48_props_decode": J.props_decode,
    "q54_purchase_asof_click": R.purchase_asof_click,
    "q55_image_resize": X3.image_resize,
    "q56_audio_features": X3.audio_features,
    "q57_range_frame": R.rolling_spend_range_frame,
    "q58_salted_agg": R.salted_status_totals,
    "q59_percentiles": R.priority_price_percentiles,
    "q62_repetition_stats": X5.repetition_stats,
    "q63_lexicon_scrub": X5.lexicon_scrub,
    "q64_stratified_sample": X5.stratified_sample,
    "q65_sequence_packing": X5.sequence_packing,
    "q68_interval_join": R.click_purchase_interval_join,
    "q72_status_unpivot": R.status_counts_unpivot,
    "q73_order_calendar": R.order_calendar,
    "q74_edit_distance": X1.variant_edit_distance,
    "q77_rank_functions": R.order_rank_functions,
    "q78_notification_ids_det": J.notification_ids_deterministic,
    "q95_calendar_resample": R.order_calendar_resample,
    "q97_weighted_sample": X5.weighted_sample,
    "q101_rag_chunking": X5.rag_chunking,
    "q109_activity_history_scd2": R.activity_history_scd2,
    "q110_join_key_skew_profile": R.join_key_skew_profile,
    "q111_supplier_hops_bfs": R.supplier_hops_bfs,
    "q112_decayed_user_score": R.decayed_user_score,
    "q113_cohort_retention": R.cohort_retention,
    "q115_langid_confusion": X4.langid_confusion,
    "q118_part_pair_baskets": R.part_pair_baskets,
    "q121_cusum_changepoints": R.cusum_changepoints,
    # (the r18 window, not seated this round; numeric order)
    "q14_scalar_refinement": D.scalar_refinement,
    "q17_metadata_merge": D.metadata_merge,
    "q18_stage_gate_notifications": D.stage_gate_notifications,
    "q19_pages_explode": D.pages_explode,
    "q20_exact_dedup": X1.exact_dedup,
    "q24_topk_cosine": X2.topk_cosine,
    "q26_text_stats": X4.text_stats,
    "q29_language_id": X4.language_id,
    "q36_request_decode": J.request_decode,
    "q47_ivf_topk": X2.ivf_topk,
    "q61_contamination_check": X5.contamination_check,
    "q71_kmeans_update": X2.kmeans_update,
    "q79_chunk_dedup": X1.chunk_dedup_stats,
    "q80_pii_redaction": X5.pii_redaction,
    "q81_source_mixture": X5.source_mixture,
    "q85_length_histogram": X4.length_histogram,
    "q87_surrogate_keys": R.surrogate_keys,
    "q88_scene_segments": X3.scene_segments,
    "q89_cogroup_attribution": R.cogroup_attribution,
    "q91_unigram_surprisal": X4.unigram_surprisal,
    "q94_quantity_price_stats": R.quantity_price_stats,
    "q96_only_late_supplier": R.only_late_supplier,
    "q99_bigram_pmi": X4.bigram_pmi,
    "q100_purchase_nearest_click": R.purchase_nearest_click,
    "q102_inverted_index": X4.inverted_index,
    "q103_funnel_conversion": R.funnel_conversion,
    "q104_revenue_interpolation": R.revenue_interpolation,
    "q105_zscore_anomalies": R.zscore_anomalies,
    "q107_matryoshka_audit": X2.matryoshka_audit,
    "q108_nucleus_vocab": X4.nucleus_vocab,
    "q114_bm25_retrieval": X4.bm25_retrieval,
    "q117_segment_spend_gini": R.segment_spend_gini,
}

ORACLE: dict[str, str] = {
    "q01_pricing_summary": R.PRICING_SUMMARY_SQL,
    "q02_metadata_lookup_join": oracle_text(R.METADATA_LOOKUP_JOIN_SQL),
    "q03_top_orders_per_customer": oracle_text(R.TOP_ORDERS_PER_CUSTOMER_SQL),
    "q04_semi_join_open_orders": oracle_text(R.CUSTOMERS_WITH_OPEN_ORDERS_SQL),
    "q05_anti_join_no_orders": oracle_text(R.CUSTOMERS_WITHOUT_ORDERS_SQL),
    "q06_revenue_by_nation": R.REVENUE_BY_NATION_SQL,
    "q07_branch_union": R.ORDER_BRANCHES_UNION_SQL,
    "q08_priority_rollup": oracle_text(R.ORDER_PRIORITY_ROLLUP_SQL),
    "q09_distinct_agg": R.SUPPLIER_DISTINCT_PARTS_SQL,
    "q10_running_window": oracle_text(R.RUNNING_ORDER_TOTALS_SQL),
    "q11_positional_pick": oracle_text(R.POSITIONAL_PICK_SQL),
    "q12_set_ops": R.SEGMENT_SET_OPS_SQL,
    "q13_events_tumbling": oracle_text(R.EVENTS_TUMBLING_WINDOW_SQL),
    "q14_scalar_refinement": D.SCALAR_REFINEMENT_SQL,
    "q15_path_parse": D.PATH_PARSE_SQL,
    "q16_pages_concat": D.PAGES_CONCAT_SQL,
    "q17_metadata_merge": D.METADATA_MERGE_SQL,
    "q18_stage_gate_notifications": D.STAGE_GATE_NOTIFICATIONS_SQL,
    "q19_pages_explode": D.PAGES_EXPLODE_SQL,
    "q20_exact_dedup": X1.EXACT_DEDUP_SQL,
    "q21_minhash_neardup": X1.MINHASH_NEARDUP_SQL,
    "q22_simhash_signatures": X1.SIMHASH_SIGNATURES_SQL,
    "q23_ngram_jaccard": X1.NGRAM_JACCARD_SQL,
    "q24_topk_cosine": X2.TOPK_COSINE_SQL,
    "q25_embedding_neardup": X2.EMBEDDING_NEARDUP_SQL,
    "q26_text_stats": X4.TEXT_STATS_SQL,
    "q27_token_topk": X4.TOKEN_TOPK_SQL,
    "q28_tfidf_top_terms": X4.TFIDF_TOP_TERMS_SQL,
    "q29_language_id": X4.LANGUAGE_ID_SQL,
    "q30_doc_fingerprint": X4.DOC_FINGERPRINT_SQL,
    "q31_extract_polizas": E.EXTRACT_POLIZAS_SQL,
    "q32_extract_tasaciones": E.EXTRACT_TASACIONES_SQL,
    "q33_extract_inscripciones": E.EXTRACT_INSCRIPCIONES_SQL,
    "q34_blocks_page_text": B.BLOCKS_PAGE_TEXT_SQL,
    "q35_notification_encode": J.NOTIFICATION_ENCODE_SQL,
    "q36_request_decode": J.REQUEST_DECODE_SQL,
    "q37_artifact_keys": D.ARTIFACT_KEYS_SQL,
    "q38_image_features": X3.IMAGE_FEATURES_SQL,
    "q39_frame_sample": X3.FRAME_SAMPLE_SQL,
    "q40_nation_set_ops": oracle_text(R.NATION_SET_OPS_SQL),
    "q41_ann_bucketed_topk": X2.ANN_BUCKETED_TOPK_SQL,
    "q42_token_counts": X4.TOKEN_COUNTS_SQL,
    # q43_notification_ids: C7 uuid() is nondeterministic — deliberately
    # no oracle entry (driver records the weaker rows-only check)
    "q44_ocr_extract_pages": E.OCR_EXTRACT_PAGES_SQL,
    "q45_events_sliding": R.EVENTS_SLIDING_WINDOW_SQL,
    "q46_events_session": oracle_text(R.EVENTS_SESSION_WINDOW_SQL),
    "q47_ivf_topk": X2.IVF_TOPK_SQL,
    "q48_props_decode": J.PROPS_DECODE_SQL,
    "q49_promo_revenue": oracle_text(R.PROMO_REVENUE_SHARE_SQL),
    "q50_neardup_clusters": X1.NEARDUP_CLUSTERS_SQL,
    "q51_quantize_embeddings": X2.QUANTIZE_EMBEDDINGS_SQL,
    "q52_status_cube": oracle_text(R.ORDER_STATUS_CUBE_SQL),
    "q53_approx_distinct": oracle_text(R.SEGMENT_DISTINCT_CUSTOMERS_SQL),
    "q54_purchase_asof_click": R.PURCHASE_ASOF_CLICK_SQL,
    "q55_image_resize": X3.IMAGE_RESIZE_SQL,
    "q56_audio_features": X3.AUDIO_FEATURES_SQL,
    "q57_range_frame": R.ROLLING_SPEND_RANGE_FRAME_SQL,
    "q58_salted_agg": R.SALTED_STATUS_TOTALS_SQL,
    "q59_percentiles": R.PRIORITY_PRICE_PERCENTILES_SQL,
    "q60_grouping_sets": oracle_text(R.STATUS_PRIORITY_GROUPING_SETS_SQL),
    "q61_contamination_check": X5.CONTAMINATION_CHECK_SQL,
    "q62_repetition_stats": X5.REPETITION_STATS_SQL,
    "q63_lexicon_scrub": X5.LEXICON_SCRUB_SQL,
    "q64_stratified_sample": X5.STRATIFIED_SAMPLE_SQL,
    "q65_sequence_packing": X5.SEQUENCE_PACKING_SQL,
    "q66_small_qty_revenue": oracle_text(R.SMALL_QUANTITY_BRAND_REVENUE_SQL),
    "q67_acctbal_deciles": oracle_text(R.ACCTBAL_DECILES_SQL),
    "q68_interval_join": R.CLICK_PURCHASE_INTERVAL_JOIN_SQL,
    "q69_status_pivot": oracle_text(R.STATUS_PRIORITY_PIVOT_SQL),
    "q70_brand_argmax": oracle_text(R.TOP_BRAND_PER_SIZE_SQL),
    "q71_kmeans_update": X2.KMEANS_UPDATE_SQL,
    "q72_status_unpivot": R.STATUS_COUNTS_UNPIVOT_SQL,
    "q73_order_calendar": R.ORDER_CALENDAR_SQL,
    "q74_edit_distance": X1.VARIANT_EDIT_DISTANCE_SQL,
    # q75 and q50 are one builder (the fixpoint loop), so they share
    # one oracle: the recursive-CTE closure, exact at any diameter
    "q75_neardup_fixpoint": X1.NEARDUP_CLUSTERS_SQL,
    "q76_session_paths": R.SESSION_EVENT_PATHS_SQL,
    "q77_rank_functions": R.ORDER_RANK_FUNCTIONS_SQL,
    # q78 is q43's hash-checkable sibling: same row set, deterministic
    # content-derived id (md5 of recordId:sessionId in UUID format)
    "q78_notification_ids_det": J.NOTIFICATION_IDS_DETERMINISTIC_SQL,
    "q79_chunk_dedup": X1.CHUNK_DEDUP_STATS_SQL,
    "q80_pii_redaction": X5.PII_REDACTION_SQL,
    "q81_source_mixture": X5.SOURCE_MIXTURE_SQL,
    "q82_distribution_windows": oracle_text(R.ORDER_DISTRIBUTION_WINDOWS_SQL),
    "q83_nation_presence": oracle_text(R.NATION_PRESENCE_RECONCILE_SQL),
    "q84_shingle_containment": X1.SHINGLE_CONTAINMENT_SQL,
    "q85_length_histogram": X4.LENGTH_HISTOGRAM_SQL,
    "q86_pq_quantize": X2.PQ_QUANTIZE_SQL,
    "q87_surrogate_keys": R.SURROGATE_KEYS_SQL,
    "q88_scene_segments": X3.SCENE_SEGMENTS_SQL,
    "q89_cogroup_attribution": R.COGROUP_ATTRIBUTION_SQL,
    "q90_ann_recall_audit": X2.ANN_RECALL_AUDIT_SQL,
    "q91_unigram_surprisal": X4.UNIGRAM_SURPRISAL_SQL,
    "q92_dedup_keep_canonical": X1.DEDUP_KEEP_CANONICAL_SQL,
    "q93_semantic_dedup": X2.SEMANTIC_DEDUP_SQL,
    "q94_quantity_price_stats": R.QUANTITY_PRICE_STATS_SQL,
    "q95_calendar_resample": R.ORDER_CALENDAR_RESAMPLE_SQL,
    "q96_only_late_supplier": R.ONLY_LATE_SUPPLIER_SQL,
    "q97_weighted_sample": X5.WEIGHTED_SAMPLE_SQL,
    "q98_user_snapshot_diff": oracle_text(R.USER_SNAPSHOT_DIFF_SQL),
    "q99_bigram_pmi": X4.BIGRAM_PMI_SQL,
    "q100_purchase_nearest_click": R.PURCHASE_NEAREST_CLICK_SQL,
    "q101_rag_chunking": X5.RAG_CHUNKING_SQL,
    "q102_inverted_index": X4.INVERTED_INDEX_SQL,
    "q103_funnel_conversion": R.FUNNEL_CONVERSION_SQL,
    "q104_revenue_interpolation": R.REVENUE_INTERPOLATION_SQL,
    "q105_zscore_anomalies": R.ZSCORE_ANOMALIES_SQL,
    "q106_idle_rich_customers": oracle_text(R.IDLE_RICH_CUSTOMERS_SQL),
    "q107_matryoshka_audit": X2.MATRYOSHKA_AUDIT_SQL,
    "q108_nucleus_vocab": X4.NUCLEUS_VOCAB_SQL,
    "q109_activity_history_scd2": R.ACTIVITY_HISTORY_SCD2_SQL,
    "q110_join_key_skew_profile": R.JOIN_KEY_SKEW_PROFILE_SQL,
    "q111_supplier_hops_bfs": R.SUPPLIER_HOPS_BFS_SQL,
    "q112_decayed_user_score": R.DECAYED_USER_SCORE_SQL,
    "q113_cohort_retention": R.COHORT_RETENTION_SQL,
    "q114_bm25_retrieval": X4.BM25_RETRIEVAL_SQL,
    "q115_langid_confusion": X4.LANGID_CONFUSION_SQL,
    "q116_cumulative_distinct": oracle_text(R.CUMULATIVE_DISTINCT_USERS_SQL),
    "q117_segment_spend_gini": R.SEGMENT_SPEND_GINI_SQL,
    "q118_part_pair_baskets": R.PART_PAIR_BASKETS_SQL,
    "q119_incremental_totals": oracle_text(R.INCREMENTAL_PRIORITY_TOTALS_SQL),
    "q120_monthly_momentum": oracle_text(R.MONTHLY_REVENUE_MOMENTUM_SQL),
    "q121_cusum_changepoints": R.CUSUM_CHANGEPOINTS_SQL,
}
