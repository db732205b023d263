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

# Round-19 rotation (VERDICT r18 #2): a window disjoint from r18's
# except the paths changed since r18, which lead (slots 1-20); then
# q01-q13 (slots 21-33), never re-verified since their first verdict;
# then the r18 "left for round 19" list in numeric order (slots 34-50).
# When 20 relational queries became one SQL text, the eight of them
# not yet seated took the seats of slots 34-50's highest-numbered
# unchanged entries (q38, q39, q42, q43, q45, q48, q54, q55).
# When five more (q69, q98, q106, q116, q119) became one text and q76's
# plan changed, the six took the seats of the window's six
# highest-numbered entries that changed neither since r18 nor into one
# text (q34, q28, q27, q12, q09, q07).
# The full reasoning sits in registry.py's ordering note.
# Update this literal TOGETHER with registry.py each rotation.
ROTATION = [
    # slots 1-20: paths changed since r18 (the near-dup clustering
    # loop, the extract_structured signature, the other io.spread
    # callers, the shared document builders, the embedding oracles'
    # planes CTE)
    "q75_neardup_fixpoint",
    "q50_neardup_clusters",
    "q92_dedup_keep_canonical",
    "q93_semantic_dedup",
    "q31_extract_polizas",
    "q32_extract_tasaciones",
    "q33_extract_inscripciones",
    "q21_minhash_neardup",
    "q22_simhash_signatures",
    "q23_ngram_jaccard",
    "q30_doc_fingerprint",
    "q44_ocr_extract_pages",
    "q51_quantize_embeddings",
    "q84_shingle_containment",
    "q86_pq_quantize",
    "q15_path_parse",
    "q16_pages_concat",
    "q25_embedding_neardup",
    "q41_ann_bucketed_topk",
    "q90_ann_recall_audit",
    # slots 21-30: q01-q13 less q07, q09 and q12
    "q01_pricing_summary",
    "q02_metadata_lookup_join",
    "q03_top_orders_per_customer",
    "q04_semi_join_open_orders",
    "q05_anti_join_no_orders",
    "q06_revenue_by_nation",
    "q08_priority_rollup",
    "q10_running_window",
    "q11_positional_pick",
    "q13_events_tumbling",
    # slots 31-50, numeric order: the one-text queries not seated
    # above, q76 and the changed document builders q35 and q37
    "q35_notification_encode",
    "q37_artifact_keys",
    "q40_nation_set_ops",
    "q46_events_session",
    "q49_promo_revenue",
    "q52_status_cube",
    "q53_approx_distinct",
    "q60_grouping_sets",
    "q66_small_qty_revenue",
    "q67_acctbal_deciles",
    "q69_status_pivot",
    "q70_brand_argmax",
    "q76_session_paths",
    "q82_distribution_windows",
    "q83_nation_presence",
    "q98_user_snapshot_diff",
    "q106_idle_rich_customers",
    "q116_cumulative_distinct",
    "q119_incremental_totals",
    "q120_monthly_momentum",
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
