"""Pin the driver-facing registry window (VERDICT r10 directive #2).

The external correctness harness samples the first 50 entries of
``registry.QUERIES`` in insertion order. Until round 11 that contract
lived only in a comment, so a refactor could silently reorder the
prefix and starve a stale block of its scheduled re-verification.
These tests make the rotation explicit: the committed list below IS
the round's window, and changing the registry order without updating
it (consciously, as part of a rotation) fails the suite.

No SparkSession — pure import-order assertions.
"""

from __future__ import annotations

from sbs_suptech_etl_v2_spark.registry import ORACLE, QUERIES

WINDOW_SIZE = 50

# Round-18 rotation (VERDICT r17 directive #1, overriding the r17
# precompute): slots 1-21 = the r17-restructured/rewritten paths the
# driver has not oracle-verified since their rewrite (q103 — the only
# semantic restructure — first, then the rewritten relational/text
# builders and the similarity carriers, in the verdict's order);
# slots 22-28 = the round-18-changed queries (q75 probe fusion +
# propagate refactor seats q75/q50/q92; q61 lazy shingle cut; the
# q26/q29/q18 literal-quoting carriers); slots 29-40 = the remaining
# r15-fresh leftovers; slots 41-50 = the oldest r16-fresh backfill.
# Update this literal TOGETHER with registry.py each rotation.
ROTATION = [
    # slots 1-21: r17-restructured/rewritten lead (q103 first)
    "q103_funnel_conversion",
    "q104_revenue_interpolation",
    "q105_zscore_anomalies",
    "q108_nucleus_vocab",
    "q114_bm25_retrieval",
    "q117_segment_spend_gini",
    "q49_promo_revenue",
    "q79_chunk_dedup",
    "q84_shingle_containment",
    "q94_quantity_price_stats",
    "q98_user_snapshot_diff",
    "q100_purchase_nearest_click",
    "q24_topk_cosine",
    "q25_embedding_neardup",
    "q41_ann_bucketed_topk",
    "q47_ivf_topk",
    "q71_kmeans_update",
    "q86_pq_quantize",
    "q90_ann_recall_audit",
    "q93_semantic_dedup",
    "q107_matryoshka_audit",
    # slots 22-28: round-18-changed queries
    "q75_neardup_fixpoint",
    "q50_neardup_clusters",
    "q92_dedup_keep_canonical",
    "q61_contamination_check",
    "q26_text_stats",
    "q29_language_id",
    "q18_stage_gate_notifications",
    # slots 29-40: remaining r15-fresh leftovers (numeric order)
    "q80_pii_redaction",
    "q81_source_mixture",
    "q82_distribution_windows",
    "q83_nation_presence",
    "q85_length_histogram",
    "q87_surrogate_keys",
    "q88_scene_segments",
    "q89_cogroup_attribution",
    "q91_unigram_surprisal",
    "q96_only_late_supplier",
    "q99_bigram_pmi",
    "q102_inverted_index",
    # slots 41-50: oldest r16-fresh backfill (numeric order)
    "q14_scalar_refinement",
    "q15_path_parse",
    "q16_pages_concat",
    "q17_metadata_merge",
    "q19_pages_explode",
    "q20_exact_dedup",
    "q21_minhash_neardup",
    "q22_simhash_signatures",
    "q23_ngram_jaccard",
    "q36_request_decode",
]


def test_window_prefix_matches_committed_rotation():
    assert len(ROTATION) == WINDOW_SIZE
    assert len(set(ROTATION)) == WINDOW_SIZE
    prefix = list(QUERIES)[:WINDOW_SIZE]
    assert prefix == ROTATION, (
        "the driver-facing 50-entry registry prefix no longer matches "
        "the committed rotation list — if this is an intentional "
        "rotation, update ROTATION in this test alongside "
        "registry.py; if not, a refactor silently reordered the window"
    )


def test_queries_and_oracle_keys_match_modulo_q43():
    # q43 exercises C7 uuid() — non-deterministic by design, rows-only
    # check (SURVEY §5); its deterministic sibling q78 carries the hash.
    assert set(QUERIES) - set(ORACLE) == {"q43_notification_ids"}
    assert set(ORACLE) <= set(QUERIES)


def test_registry_larger_than_window():
    # the rotation argument assumes more queries than window slots;
    # if the registry ever shrinks to <= 50 the prefix is everything
    # and the rotation machinery (and this pin) should be revisited
    assert len(QUERIES) > WINDOW_SIZE
