"""The judged query inventory (SURVEY.md §2).

Each query is registered once with a Spark implementation
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, a DuckDB
oracle SQL string computing the same result with the same column names.

Modules register into ``REGISTRY`` on import.
"""

from __future__ import annotations

from ekati_spark.queries.base import REGISTRY, oracle_sql, queries

# Importing registers the queries.
from ekati_spark.queries import relational  # noqa: F401
from ekati_spark.queries import graph  # noqa: F401
from ekati_spark.queries import llm  # noqa: F401
from ekati_spark.queries import streaming  # noqa: F401
from ekati_spark.queries import stats  # noqa: F401

# The driver grades the first 50 registered queries, so registration
# order IS the graded set. CORRECTNESS_r16.json graded the round-16
# window, so every registered query now has a green attestation row.
# This window = the 5-query sentinel core + 45 least-recently-attested
# fillers (last green: CORRECTNESS_r10/r11). No query was added since
# the rotation, so _POST_WINDOW is empty.
#
# This list is DERIVED, not hand-curated: `python tools/rotate_window.py`
# regenerates it from the committed CORRECTNESS/JUDGE artifacts, and
# tests/test_schema_canary.py asserts the committed list matches the
# derived one (so the list can't drift from the artifact record).
#
# ROTATION RULE (round 5+): rotate ONCE at the START of a round, never
# mid-round (the driver grades at round end; a mid-round rotation
# orphans the current window).
#
# Queries ADDED mid-round are listed here: they stay OUT of the graded
# window this round (the window was fixed at round start) and become
# the never-attested block of the NEXT round's rotation, at which point
# this list is cleared. tools/rotate_window.py excludes these names
# when re-deriving the window.
_POST_WINDOW: list[str] = []

_GRADED_FIRST = [
    # sentinel core: one per family, re-attested every round
    "r03_pricing_summary", "g01_follow_one_hop",
    "l01_dedup_exact", "l06_knn_bruteforce", "st01_tumbling_window",
    # --- least-recently attested fillers ---
    "g46_dsl_end_to_end",  # last green r10
    "g47_reverse_follow",  # last green r10
    "l72_audio_dedup_resampled",  # last green r10
    "l76_pii_source_report",  # last green r10
    "l05b_dup_pairs_ann",  # last green r10
    "l45b_bitext_margin_ann",  # last green r10
    "l79_minhash_incremental",  # last green r10
    "l80_bm25_topk",  # last green r10
    "l81_warc_ingest",  # last green r10
    "l82_cdc_chunk_dedup",  # last green r10
    "l83_pca_power_iteration",  # last green r10
    "l84_chunk_store_gc",  # last green r10
    "l85_ann_recall_audit",  # last green r10
    "l86_bm25_index_incremental",  # last green r10
    "l87_semantic_decontamination",  # last green r10
    "l88_kcenter_coreset",  # last green r10
    "l89_adaptive_quality_threshold",  # last green r10
    "l90_kcenter_composable",  # last green r10
    "l91_maxsim_late_interaction",  # last green r10
    "l92_signature_store_gc",  # last green r10
    "l93_ivf_delete_parity",  # last green r10
    "st18_rocksdb_state_parity",  # last green r10
    "st19_warc_tail_ingest",  # last green r10
    "st20_stream_rollup_maintenance",  # last green r10
    "st21_stream_chunk_dedup_ingest",  # last green r10
    "st22_stream_bm25_maintenance",  # last green r10
    "st23_stream_quality_gate",  # last green r10
    "st24_stream_ivf_maintenance",  # last green r10
    "r06_rollup",  # last green r11
    "r09_join_broadcast_dims",  # last green r11
    "r10_shipping_priority",  # last green r11
    "r17_window_topk_per_group",  # last green r11
    "r21_window_range_frame",  # last green r11
    "r22_global_topk",  # last green r11
    "r23_offset_limit",  # last green r11
    "r24_set_ops",  # last green r11
    "r25_string_funcs",  # last green r11
    "r26_date_funcs",  # last green r11
    "r27_math_funcs",  # last green r11
    "r28_case_null",  # last green r11
    "r29_json_extract",  # last green r11
    "r30_array_ops",  # last green r11
    "r31_higher_order_funcs",  # last green r11
    "r32_in_subquery",  # last green r11
    "r33_scalar_subquery",  # last green r11
]


def _curate_order() -> None:
    # Defensive, not assertive: a stale name here must cost that one slot,
    # never the whole driver import (everything flows through this module).
    # tests/test_schema_canary.py pins the 50/zero-missing invariant.
    front = [n for n in _GRADED_FIRST if n in REGISTRY]
    rest = [n for n in REGISTRY if n not in set(front)]
    ordered = {n: REGISTRY[n] for n in [*front, *rest]}
    REGISTRY.clear()
    REGISTRY.update(ordered)


_curate_order()

__all__ = ["REGISTRY", "queries", "oracle_sql"]
