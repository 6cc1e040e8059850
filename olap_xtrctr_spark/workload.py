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

The entry builders live in one module per entry family under
``olap_xtrctr_spark/workloads/``; each exposes one ``register(add)``.
Shared helpers live in ``workload_shared``.  This module keeps the
public surface: ``WORKLOAD``, ``build_workload`` and the gate-window
manifest.
"""
from __future__ import annotations

from .workload_shared import QuerySpec
from .workloads import (cube, cube_requests, docs_contamination,
                        docs_corpus, docs_dedup, docs_segments,
                        docs_sources, docs_text, docs_tokens, emb_ann,
                        emb_vectors, events_batch, events_joins,
                        events_running, events_sketches, events_stream,
                        members_nav, multimodal, tpch)

_MODULES = (cube, cube_requests, tpch, members_nav, docs_text, docs_tokens,
            docs_segments, docs_dedup, docs_sources, docs_contamination,
            docs_corpus, emb_vectors, emb_ann, events_batch, events_joins,
            events_running, events_sketches, events_stream, multimodal)

# The external correctness gate grades only the FIRST _GATE_WINDOW
# entries of queries(); this manifest names them explicitly, so which
# entries get graded never depends on registration order.  Everything
# after the front keeps build order.
_GATE_WINDOW = 50
_GATE_FRONT = [
    "tpch_q2_min_cost_supplier",
    "tpch_q4_order_priority",
    "tpch_q11_important_stock",
    "tpch_q13_customer_distribution",
    "tpch_q16_parts_supplier",
    "tpch_q17_small_quantity",
    "tpch_q20_excess_shippers",
    "tpch_q22_global_sales_opportunity",
    "docs_quality_classifier_exact",
    "emb_ivf_topk_exact",
    "emb_cluster_balanced_exact",
    "emb_stream_semantic_dedup",
    "emb_ivfpq_index_topk",
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


def build_workload() -> dict[str, QuerySpec]:
    q: dict[str, QuerySpec] = {}

    def add(name, fn, sql):
        if name in q:
            raise ValueError(f"workload entry {name!r} registered twice")
        q[name] = QuerySpec(name, fn, sql)

    for mod in _MODULES:
        mod.register(add)

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

