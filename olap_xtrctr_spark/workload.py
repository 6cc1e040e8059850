"""The declared query workload: every operator from SURVEY.md §2 (plus
the beyond-reference extensions) as a (Spark callable, DuckDB oracle
SQL) pair.  ``__spark_entry__.py`` re-exports these for the driver's
correctness gate.

Cross-engine exactness strategy:
* double SUM/AVG go through DECIMAL(18,4) (exact, order-independent)
  and back to double — identical bits on both engines;
* pivot/count cells coalesce to 0 on both sides;
* ranked outputs carry an explicit deterministic rank (ties broken by
  unique ids) instead of relying on row order.

Structure: the entry builders live in per-family modules under
``olap_xtrctr_spark/workloads/`` (cube, tpch_*, members_nav, docs_text,
similarity_*, events_*, ...) with the shared helpers in
``workload_shared``.  This module keeps the public
surface: ``WORKLOAD``, ``build_workload``, the gate-window manifest,
and compat re-exports.
"""
from __future__ import annotations

from .workload_shared import (AVG_D, CATALOG, MES_CASE,  # noqa: F401
                              QuerySpec, SUM_D)
from .workloads import (cube, curation, docs_segments,  # noqa: F401
                        docs_text, events_batch, events_joins,
                        events_wave4, members_nav, multimodal_real,
                        similarity_core, similarity_gates,
                        similarity_misc, similarity_textpairs, tpch_a,
                        tpch_b, wave9, wave10, wave11, wave12, wave13)

# ---- driver gate-window manifest -----------------------------------------
# The external correctness gate grades the FIRST _GATE_WINDOW entries of
# queries().  Instead of rotating the dict by a count (fragile — ADVICE r3),
# an explicit manifest names the entries that need a fresh driver row this
# round; everything after the front keeps build order, so the gate's
# remaining slots re-grade the round-1/2 block (cube_*/tpch_*/members_*)
# for regression coverage.  Entries past the window all have green rows
# from earlier rounds; WORKLOAD.md documents which round graded what.
_GATE_WINDOW = 50
_GATE_FRONT = [
    # ---- Round-13 rotation (VERDICT r12 task 1, executed exactly) ---
    # (a) the 8 r6-stale TPC-H re-grades — the oldest surviving green
    #     rows in the ledger, deliberately deferred from r12's window;
    #     pure Catalyst SQL translations, re-graded here so the oldest
    #     surviving green row moves from r6 to r7:
    "tpch_q2_min_cost_supplier",
    "tpch_q4_order_priority",
    "tpch_q11_important_stock",
    "tpch_q13_customer_distribution",
    "tpch_q16_parts_supplier",
    "tpch_q17_small_quantity",
    "tpch_q20_excess_shippers",
    "tpch_q22_global_sales_opportunity",
    # (b) the 5 LATE round-12 additions that have NEVER received a
    #     driver row (landed after the r12 manifest was sized): the
    #     frozen-codebook IVF / balanced-cluster / quality-classifier
    #     exact twins, the streaming semantic-dedup fold, and the
    #     persisted-IVFPQ-index query path:
    "docs_quality_classifier_exact",
    "emb_ivf_topk_exact",
    "emb_cluster_balanced_exact",
    "emb_stream_semantic_dedup",
    "emb_ivfpq_index_topk",
    # (c) 37 of the 45-entry r7 staleness tail (all full-oracle),
    #     chosen to include every r7-green CHANGED-PATH consumer of
    #     the r11 zip-chain shingle rework and the r12 regime
    #     pre-probe (docs_ngram_jaccard_pairs, the contamination /
    #     span-dedup / segment-dedup families) plus the rest of the
    #     r7 block oldest-first:
    "docs_ngram_jaccard_pairs",
    "docs_contamination_check",
    "docs_duplicate_spans",
    "docs_duplicate_span_strip",
    "docs_stream_span_dedup",
    "docs_segment_dedup",
    "docs_segment_freq_filter",
    "docs_incremental_dedup",
    "docs_near_dup_clusters",
    "docs_keep_canonical",
    "docs_fingerprint",
    "docs_hash_split",
    "docs_lang_id",
    "docs_lang_id_ngram",
    "docs_mix_corpus",
    "docs_pack_sequences",
    "docs_prepare_corpus",
    "docs_quality_lottery",
    "docs_quality_score",
    "docs_quality_weak_labels",
    "docs_redact_pii",
    "docs_source_capped_corpus",
    "docs_stratified_sample",
    "docs_strip_markup",
    "docs_token_stats",
    "docs_top_tokens",
    "docs_corpus_card",
    "emb_cosine_topk",
    "emb_cross_split_leakage",
    "emb_quantized_topk",
    "events_asof_attribution_tolerance",
    "events_kanon_release",
    "events_stream_dedup",
    "events_stream_sessionize",
    "multimodal_wav_decode_stats",
    "multimodal_ppm_decode_stats",
    "multimodal_ppm_resize_real",
]
# Deliberately DEFERRED to the r14 window (8 + 5 + 45 = 58 candidates
# for 50 slots, plus the 5 never-graded late-r13 additions
# docs_source_pagerank / emb_source_dim_drift /
# docs_interleave_sources / docs_budget_allocation /
# docs_contamination_pagerank, which queue with
# the front per the late-entry precedent): the 8 remaining r7-green entries —
# cube_bottomcount_nations, cube_order_by_unselected_measure,
# dmv_discover_properties, dmv_discover_schema_rowsets,
# members_full_view, members_level_cardinalities, members_pagination,
# events_hourly_rollup — chosen because they are pure Catalyst /
# metadata paths with no custom-operator code in their lineage (the
# lowest regression risk of the r7 block); they queue FIRST for r14,
# followed by the oldest of the r8 block (43 entries), keeping the
# oldest-surviving-green treadmill at "oldest ≥ r8 by end of r14"
# (VERDICT r12 task 5).





def build_workload() -> dict[str, QuerySpec]:
    q: dict[str, QuerySpec] = {}

    def add(name, fn, sql):
        q[name] = QuerySpec(name, fn, sql)

    # Registration order == the pre-split file's build order (cube ->
    # tpch -> members -> text -> similarity -> events); each module's
    # internal order is verbatim, so build order is byte-stable.
    # docs_segments / multimodal_real (round-7 additions) register
    # last: existing build order stays byte-stable, new entries appear
    # past the legacy tail.
    for mod in (cube, tpch_a, tpch_b, members_nav, docs_text,
                similarity_core, similarity_gates, similarity_textpairs,
                similarity_misc):
        mod.register(add)
    similarity_textpairs.register_r8(add)
    for mod in (events_batch, events_joins, events_wave4):
        mod.register(add)
    events_wave4.register_r8(add)
    for mod in (docs_segments, multimodal_real, curation):
        mod.register(add)
    curation.register_r8(add)     # round-8 additions append last
    docs_segments.register_r8(add)
    cube.register_r9(add)         # round-9 additions append after r8
    wave9.register(add)
    similarity_textpairs.register_r10(add)  # round-10 tail
    cube.register_r10(add)
    wave10.register(add)          # round-10 wave 2 (prefix family)
    wave11.register(add)          # round-11 (ADVICE-fix path pins)
    wave12.register(add)          # round-12 (frozen-codebook ANN twins)
    wave13.register(add)          # round-13 (source governance analytics)
    wave13.register_wave2(add)    # round-13 wave 2 (curriculum/allocation)
    wave13.register_wave3(add)    # round-13 wave 3 (personalized PPR)

    # Order per the gate-window manifest (see _GATE_FRONT above).
    missing = [n for n in _GATE_FRONT if n not in q]
    assert not missing, f"gate manifest names unknown entries: {missing}"
    assert len(_GATE_FRONT) == _GATE_WINDOW, (
        f"gate manifest must fill the driver's window exactly: "
        f"{len(_GATE_FRONT)} names for {_GATE_WINDOW} slots — a short "
        f"front silently burns slots on build-order entries, a long "
        f"one silently drops its tail from grading")
    assert len(set(_GATE_FRONT)) == len(_GATE_FRONT), \
        "gate manifest contains duplicates"
    rows_only = [n for n in _GATE_FRONT if q[n].sql is None]
    assert not rows_only, (
        f"gate manifest contains rows-only entries {rows_only}: the "
        f"driver can only mark them no_oracle, burning certification "
        f"slots (VERDICT r11 task 1) — their freshness signal is the "
        f"local gate + tests/test_recall.py, never the driver window")
    assert len(q) > _GATE_WINDOW, \
        "workload shrank below the driver's grading window"
    front = set(_GATE_FRONT)
    ordered = _GATE_FRONT + [n for n in q if n not in front]
    return {n: q[n] for n in ordered}


WORKLOAD = build_workload()

