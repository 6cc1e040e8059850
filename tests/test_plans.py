"""Plan-shape regression guards: the physical plans that make the engine
scale must not silently degrade (broadcasts, pushdown, pruning)."""
import re

from pyspark.sql import functions as F

from olap_xtrctr_spark import (AxisItem, CubeQueryEngine, QueryRequest,
                               default_registry)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_joins_broadcast_and_prune(spark, sf_dir):
    eng = CubeQueryEngine(spark, default_registry(), sf_dir)
    df = eng.execute(QueryRequest(
        "VENTAS_2025", measures=["Sum Extendedprice"],
        rows=[AxisItem("Dim Customer", "Geografía", level="Nation")]))
    plan = _plan(df)
    # all equi-joins of this query broadcast at test scale (AQE or hint)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # column pruning reached the fact scan: lineitem has 11 columns, the
    # query needs 2 (+ join key)
    scan = next(l for l in plan.splitlines()
                if "Scan parquet" in l and "lineitem" in l)
    read_cols = re.search(r"FileScan parquet \[([^\]]*)\]", scan)
    assert read_cols and len(read_cols.group(1).split(",")) <= 3


def test_member_filter_pushdown_reaches_scan(spark, sf_dir):
    """A member-literal axis filter must appear as a pushed filter on the
    dimension-view scan, not as a post-join Filter only."""
    eng = CubeQueryEngine(spark, default_registry(), sf_dir)
    df = eng.execute(QueryRequest(
        "VENTAS_2025", measures=["Sum Quantity"],
        rows=[AxisItem("Dim Customer", "Geografía", members=[
            "[Dim Customer].[Geografía].[Region].&[0]"])]))
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(r_regionkey,0\)", plan)


def test_aggregation_is_partial_before_exchange(spark, sf_dir):
    """Map-side combine: a partial HashAggregate sits below the Exchange."""
    eng = CubeQueryEngine(spark, default_registry(), sf_dir)
    df = eng.execute(QueryRequest(
        "VENTAS_2025", measures=["Total Registros"],
        rows=[AxisItem("Dim Orders", "Estado", level="Estado")]))
    plan = _plan(df)
    assert "partial_count" in plan


def test_docs_ops_stay_jvm_side(spark, sf_dir):
    """Text operators must not fall back to python UDF evaluation."""
    from olap_xtrctr_spark.operators import text as TX
    from olap_xtrctr_spark.session import load_table
    docs = load_table(spark, sf_dir, "documents")
    for op in (TX.token_stats, TX.quality_score, TX.lang_id, TX.fingerprint):
        plan = _plan(op(docs))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tpch_new_shapes_plan_guards(spark, sf_dir):
    """The distinguishing physical shapes of the round-2 TPC-H queries:
    semi/anti joins stay semi/anti (no row-multiplying rewrite), the
    correlated-avg stats side broadcasts, and date filters reach the
    parquet scan."""
    from olap_xtrctr_spark.workload import WORKLOAD
    q4 = _plan(WORKLOAD["tpch_q4_order_priority"].fn(spark, sf_dir))
    assert "LeftSemi" in q4                   # EXISTS stayed a semi join
    q16 = _plan(WORKLOAD["tpch_q16_parts_supplier"].fn(spark, sf_dir))
    assert "LeftAnti" in q16                  # NOT IN stayed an anti join
    q17 = _plan(WORKLOAD["tpch_q17_small_quantity"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in q17         # per-part stats broadcast
    q6 = _plan(WORKLOAD["tpch_q6_forecast_revenue"].fn(spark, sf_dir))
    # (plan toString truncates long filter lists — match the prefix)
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipda",
                     q6)                      # range predicate at the scan


def test_tpch_q21_no_expand(spark, sf_dir):
    """q21's per-(order,supplier) pre-aggregation must not regress to the
    double-count_distinct Expand (2x row multiplication pre-shuffle)."""
    from olap_xtrctr_spark.workload import WORKLOAD
    plan = _plan(WORKLOAD["tpch_q21_waiting_orders"].fn(spark, sf_dir))
    assert "Expand" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_top_tokens_take_ordered_not_global_sort(spark, sf_dir):
    """Corpus-wide top-k must compile to TakeOrderedAndProject (each
    partition keeps k, only k·P rows merge) — a rank window here would
    funnel the entire vocabulary through one reducer at 100 TB."""
    from olap_xtrctr_spark.operators import text as TX
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(TX.top_tokens(docs, k=20))
    assert "TakeOrderedAndProject" in plan
    # the only Window left runs over the 20 surviving rows
    assert plan.index("TakeOrderedAndProject") > plan.index("Window")


def test_sampling_ops_no_shuffle(spark, sf_dir):
    """hash_split / stratified_sample are pure projections — an Exchange
    in their plan means the determinism claim got more expensive than
    advertised."""
    from olap_xtrctr_spark.operators import sampling as SM
    from olap_xtrctr_spark.session import load_table
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = SM.hash_split(docs, {"train": 0.9, "val": 0.1})
    assert "Exchange" not in _plan(split)
    strat = SM.stratified_sample(docs, {"en": 0.5}, default_rate=0.1)
    assert "Exchange" not in _plan(strat)


def test_chunk_overlap_no_exchange(spark, sf_dir):
    """Chunking is pure rowwise map work: no shuffle, no python UDF."""
    from olap_xtrctr_spark.operators import text as TX
    from olap_xtrctr_spark.session import load_table
    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(TX.chunk_overlap(docs))
    # the loader's round-robin rebalance of the single-row-group test
    # file is fine; the operator itself must add no hash/single exchange
    assert "hashpartitioning" not in plan
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_boilerplate_ngrams_partial_agg(spark, sf_dir):
    """The n-gram doc-count must map-side combine below its Exchange."""
    from olap_xtrctr_spark.operators import text as TX
    from olap_xtrctr_spark.session import load_table
    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(TX.boilerplate_ngrams(docs))
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan


def test_edit_distance_pairs_equi_join_not_bnlj(spark, sf_dir):
    """Blocking must produce an equi-join (hash/SMJ), never a
    BroadcastNestedLoopJoin — the whole point of the block keys."""
    from olap_xtrctr_spark.operators import dedup as D
    from olap_xtrctr_spark.session import load_table
    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(D.edit_distance_pairs(docs))
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_event_trigrams_single_user_exchange_then_topk(spark, sf_dir):
    """One hash exchange on user_id for the lead window; the top-k must
    compile to TakeOrderedAndProject, not a global Sort."""
    from olap_xtrctr_spark.streaming import events as EV
    from olap_xtrctr_spark.session import load_events
    ev = load_events(spark, sf_dir)
    plan = _plan(EV.event_type_sequences(ev))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("hashpartitioning(user_id") >= 1


def test_user_deciles_window_over_values_not_users(spark, sf_dir):
    """The decile cumulative window must sit ABOVE the value-level
    aggregate (rows = distinct counts), with the user-level aggregate
    map-side combined below it."""
    from olap_xtrctr_spark.session import load_events
    from olap_xtrctr_spark.streaming import events as EV
    ev = load_events(spark, sf_dir)
    plan = _plan(EV.user_activity_deciles(ev))
    # window input comes from the n_events-keyed aggregate, not raw users
    w_idx = plan.index("Window ")
    assert "partial_count" in plan
    assert "hashpartitioning(user_id" in plan
    # the single-partition exchange is the WINDOW'S child (below it in
    # the top-down plan print), fed by the value-level rollup — i.e. the
    # narrow waist sits above aggregated values, not raw users
    assert w_idx < plan.index("Exchange SinglePartition")


def test_rfm_no_global_window_over_users(spark, sf_dir):
    """VERDICT r10 #2: the R/F/M scores must not ride ntile windows
    over the whole per-user table (users scale with events).  Every
    row-level window (the ones ordered by user_id) must be partitioned
    by its _rfmb_* range bucket; only the |buckets|-row carry windows
    may be single-partition, and no ntile survives anywhere."""
    from olap_xtrctr_spark.session import load_events
    from olap_xtrctr_spark.streaming import events as EV
    ev = load_events(spark, sf_dir)
    plan = EV.rfm_segments(ev)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ntile" not in plan
    row_level = [l for l in plan.splitlines()
                 if "windowspecdefinition" in l and "user_id" in l]
    assert len(row_level) >= 3, "expected three bucketed rank windows"
    assert all("windowspecdefinition(_rfmb" in l for l in row_level), \
        "a user-level window lost its bucket partition spec " \
        "(single-partition ntile trap)"
    # the diamond (3 bucket-total branches + ref + n_total + main
    # chain) must read the PERSISTED per-user rollup, not re-aggregate
    # raw events per branch (column pruning defeats ReuseExchange)
    assert "InMemoryTableScan" in plan


def test_variant_stats_no_python(spark, sf_dir):
    from olap_xtrctr_spark.session import load_events
    from pyspark.sql import functions as F
    ev = load_events(spark, sf_dir)
    df = (ev.select(F.parse_json("props").alias("v"), "value")
          .select(F.expr("variant_get(v, '$.k', 'int')").alias("k")))
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_plans_audit_flagship(spark, sf_dir):
    """plans.audit: the one-call summary agrees with the individual
    pinned assertions on the flagship cube query."""
    from olap_xtrctr_spark import (AxisItem, CubeQueryEngine, QueryRequest,
                                   default_registry)
    from olap_xtrctr_spark import plans as P

    eng = CubeQueryEngine(spark, default_registry(), sf_dir)
    df = eng.execute(QueryRequest(
        "VENTAS_2025", measures=["Sum Extendedprice"],
        rows=[AxisItem("Dim Customer", "Geografía", level="Nation")]))
    a = P.audit(df)
    assert a["join_strategies"].get("BroadcastHashJoin", 0) >= 1
    assert not a["python_eval"]
    assert a["partial_aggregation"]
    assert a["shuffle_exchanges"] >= 1        # the group-by exchange
    assert any("l_orderkey" in s or "o_orderkey" in s
               for s in a["read_schemas"])    # pruned scans visible


def test_ngram_pair_core_never_joins_the_pair_table(spark, sf_dir):
    """Probe #13 regression guard, r13 form: per-doc set sizes ride
    THROUGH the posting lists as (id, sz) structs, so the co-occurrence
    pair table — the largest intermediate in the plan, with no usable
    size estimate — is never joined at all.  (History: the planner once
    picked it as a broadcast side and died at the 8 GiB cap on a
    duplicate-heavy corpus — 10 GiB at ~sf1; the shuffle_hash-hinted
    size joins that fixed that still shuffled the pair table twice.
    Now no Join node of any kind may appear in the core.)"""
    from olap_xtrctr_spark.operators import dedup as D
    from olap_xtrctr_spark.session import load_table
    docs = load_table(spark, sf_dir, "documents")
    for fn in (lambda: D.ngram_jaccard_pairs(docs, n=3, threshold=0.2),
               lambda: D.ngram_containment_pairs(docs, n=3,
                                                 threshold=0.5)):
        plan = _plan(fn())
        assert "Join" not in plan, plan[:600]
        assert "BroadcastExchange" not in plan, plan[:600]


def test_shuffle_corpus_single_shard_exchange_no_sort_merge(spark, sf_dir):
    """shuffle_corpus's claim: no global sort, no join — one hash
    exchange on the shard key feeding per-shard rank windows."""
    from olap_xtrctr_spark.operators.sampling import shuffle_corpus
    from olap_xtrctr_spark.session import load_table
    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(shuffle_corpus(docs, n_shards=8))
    assert "Join" not in plan
    # the one exchange is hashpartitioning by shard (window prep), not
    # a rangepartitioning (which would mean a global sort)
    assert "rangepartitioning" not in plan
    assert plan.count("hashpartitioning(shard") >= 1


def test_token_budget_fill_never_globally_sorts_the_corpus(spark, sf_dir):
    """token_budget_fill's claim: the corpus-row windows are PARTITIONED
    (by score); only the per-score aggregate table — bounded by score
    cardinality — sees an unpartitioned running-total window."""
    from olap_xtrctr_spark.operators.sampling import token_budget_fill
    from olap_xtrctr_spark.operators.text import quality_score
    from olap_xtrctr_spark.session import load_table
    scored = quality_score(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens",
        (F.round(F.col("quality_score") * 1000)).cast("bigint")
        .alias("score_milli"))
    plan = _plan(token_budget_fill(scored, 20_000))
    # corpus-row running totals are per-score windows
    assert "windowspecdefinition(score_milli" in plan
    # the only single-partition exchange feeds the per-score aggregate
    # (SinglePartition appears for it), and no corpus-wide
    # rangepartitioning sort exists anywhere in the plan
    assert "rangepartitioning" not in plan


def test_ngram_novelty_no_pair_generation(spark, sf_dir):
    """novelty's claim: linear — no posting-list pair explosion.  The
    plan must contain no Generate over collected id lists (the pair
    generators' signature) beyond the shingle posexplode itself."""
    from olap_xtrctr_spark.operators.dedup import ngram_novelty
    from olap_xtrctr_spark.session import load_table
    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(ngram_novelty(docs))
    # "slice" alone is now the zip-chain shingle construction (rowwise,
    # benign); the pair generators' signature is collect_list of id
    # lists + the flatten(transform(...)) pair expansion
    assert "collect_list" not in plan
    assert "flatten(transform" not in plan


def test_topcount_compiles_to_take_ordered(spark, sf_dir):
    """TOPCOUNT = orderBy + limit over the aggregated axis, which
    Catalyst must compile to TakeOrderedAndProject (per-partition
    top-k) — never a global Sort of the axis."""
    from olap_xtrctr_spark.query import (AxisItem, CubeQueryEngine,
                                         QueryRequest, TopCountSpec)
    eng = CubeQueryEngine(spark, default_registry(), sf_dir)
    df = eng.execute(QueryRequest(
        "VENTAS_2025", measures=["Sum Quantity"],
        rows=[AxisItem("Dim Customer", "Geografía", level="Nation")],
        topcount=TopCountSpec(5, "Sum Quantity")))
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:600]

def test_workload_module_size_budget():
    """Round-7 split guard: no workloads module grows past 900 lines
    again (the size that forced the r5 workload.py split), and the
    aggregator modules re-export the verbatim sections in the same
    build order (asserted structurally at import by the gate-window
    manifest checks in workload.py)."""
    import glob
    import os

    import olap_xtrctr_spark.workloads as W

    for path in glob.glob(os.path.join(os.path.dirname(W.__file__),
                                       "*.py")):
        n = sum(1 for _ in open(path, encoding="utf-8"))
        assert n <= 900, f"{os.path.basename(path)} has {n} lines"


def test_segment_dedup_plan_no_joins_one_window(spark, sf_dir):
    """segment_dedup's scale claim: NO join operator anywhere (pairs
    never materialize), one Window for first-occurrence, JVM-only."""
    from olap_xtrctr_spark.operators import segments as SEG
    from olap_xtrctr_spark.session import load_table
    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(SEG.segment_dedup(docs, seg_tokens=8))
    assert "Join" not in plan
    assert plan.count("Window") >= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_segment_freq_filter_hot_list_broadcasts(spark, sf_dir):
    """The >max_docs hot-segment list must come back as a broadcast
    join, never a SortMergeJoin over the corpus."""
    from olap_xtrctr_spark.operators import segments as SEG
    from olap_xtrctr_spark.session import load_table
    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(SEG.segment_freq_filter(docs, seg_tokens=8, max_docs=2))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bpe_encode_corpus_stays_jvm_side(spark, sf_dir):
    """bpe_encode: Python may touch only the distinct-word vocab side;
    the corpus joins it via broadcast."""
    from olap_xtrctr_spark.operators import bpe as B
    from olap_xtrctr_spark.session import load_table
    docs = load_table(spark, sf_dir, "documents")
    merges = [(0, "a", "b", 9)]
    plan = _plan(B.bpe_encode(docs, merges))
    assert "BroadcastHashJoin" in plan
    # the one ArrowEvalPython runs on the vocab (distinct) branch —
    # above it sits the Aggregate for distinct, never the raw explode
    assert plan.count("ArrowEvalPython") == 1


def test_ivf_index_query_prunes_partitions(spark, sf_dir):
    """The persisted-index query must read ONLY the probed cells: the
    assignments scan's PartitionFilters carries the static bucket
    isin() — without it every cell's files are listed and the index
    degrades to a full scan at scale."""
    import os
    import re as _re
    import tempfile

    from olap_xtrctr_spark.operators import similarity as S
    from olap_xtrctr_spark.session import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    d = os.path.join(tempfile.gettempdir(), "olap_xtrctr_ivf_plan_t")
    S.ivf_build_index(emb, d)
    out = S.ivf_query_index(
        spark, d, emb.filter(F.col("vec_id").isin([0, 1])),
        k=3, n_probe=2)
    plan = _plan(out)
    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1) and " IN " in m.group(1), plan
    # and the probed-cell count is bounded by queries x n_probe
    cells = _re.search(r"bucket#\d+ IN \(([^)]*)\)", m.group(1))
    assert cells and len(cells.group(1).split(",")) <= 4


def test_ivf_index_build_idempotent_and_consistent(spark, sf_dir):
    import os
    import tempfile

    from olap_xtrctr_spark.operators import similarity as S
    from olap_xtrctr_spark.session import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    d = os.path.join(tempfile.gettempdir(), "olap_xtrctr_ivf_plan_t2")
    meta = S.ivf_build_index(emb, d)
    assert S.ivf_build_index(emb, d) == meta          # no-op rebuild
    assigned = spark.read.parquet(f"{d}/assignments.parquet")
    assert assigned.count() == meta["n_vectors"]      # complete index
    assert assigned.select("neighbor_id").distinct().count() \
        == meta["n_vectors"]
    # every cell id within range
    mx = assigned.agg({"bucket": "max"}).first()[0]
    assert 0 <= mx < meta["n_clusters"]
    # query results are deterministic across calls on the same index
    from pyspark.sql import functions as _F
    q = emb.filter(_F.col("vec_id").isin([0, 1, 2]))
    a = sorted(map(tuple, S.ivf_query_index(spark, d, q).collect()))
    b = sorted(map(tuple, S.ivf_query_index(spark, d, q).collect()))
    assert a == b and a


def test_ivf_index_rebuilds_on_corrupt_meta_or_param_change(spark, sf_dir):
    import json
    import os
    import tempfile

    from olap_xtrctr_spark.operators import similarity as S
    from olap_xtrctr_spark.session import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    d = os.path.join(tempfile.gettempdir(), "olap_xtrctr_ivf_plan_t3")
    meta = S.ivf_build_index(emb, d)
    # corrupt meta -> rebuild instead of trusting stale artifacts
    with open(os.path.join(d, "_INDEX_META.json"), "w") as f:
        f.write("{not json")
    assert S.ivf_build_index(emb, d) == meta
    # changed build params -> meta mismatch -> rebuild with new params
    meta16 = S.ivf_build_index(emb, d, n_clusters=16)
    assert meta16["n_clusters"] == 16
    assigned = spark.read.parquet(f"{d}/assignments.parquet")
    assert assigned.agg({"bucket": "max"}).first()[0] < 16
    assert assigned.count() == meta16["n_vectors"]


def test_ivf_index_shrink_rebuild_drops_stale_cells(spark, sf_dir):
    """Rebuilding with FEWER clusters must delete the old assignments
    tree first: under dynamic partitionOverwriteMode an overwrite only
    replaces partitions the new build writes, so stale bucket=K dirs
    would survive for ivf_query_index to read (ADVICE r10)."""
    import os
    import tempfile

    from olap_xtrctr_spark.operators import similarity as S
    from olap_xtrctr_spark.session import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    d = os.path.join(tempfile.gettempdir(), "olap_xtrctr_ivf_shrink")
    S.ivf_build_index(emb, d, n_clusters=8)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                          "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        S.ivf_build_index(emb, d, n_clusters=2)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    cells = {n for n in os.listdir(os.path.join(d, "assignments.parquet"))
             if n.startswith("bucket=")}
    assert cells <= {"bucket=0", "bucket=1"}, cells
    assigned = spark.read.parquet(f"{d}/assignments.parquet")
    assert assigned.agg({"bucket": "max"}).first()[0] < 2
    assert assigned.count() == emb.count()


def test_ivf_index_rebuilds_on_corpus_content_change(spark, sf_dir,
                                                     tmp_path):
    """Same row count, regenerated file -> the content signature must
    force a rebuild (ADVICE r10: (n_clusters, seed, n_vectors) alone
    served a stale index)."""
    import os
    import shutil

    from olap_xtrctr_spark.operators import similarity as S
    corpus = str(tmp_path / "emb.parquet")
    src = f"{sf_dir}/embeddings.parquet"
    if os.path.isdir(src):
        shutil.copytree(src, corpus)
        part = next(os.path.join(corpus, f) for f in os.listdir(corpus)
                    if f.endswith(".parquet"))
    else:
        shutil.copy(src, corpus)
        part = corpus
    emb = spark.read.parquet(corpus)
    d = str(tmp_path / "ivf_index")
    meta1 = S.ivf_build_index(emb, d)
    # touch the data file: same rows, new mtime -> new signature
    os.utime(part, ns=(os.stat(part).st_atime_ns,
                       os.stat(part).st_mtime_ns + 1_000_000))
    emb2 = spark.read.parquet(corpus)
    meta2 = S.ivf_build_index(emb2, d)
    assert meta2["corpus_sig"] != meta1["corpus_sig"]
    assert meta2["n_vectors"] == meta1["n_vectors"]
    # and an UNCHANGED corpus is still an idempotent no-op
    assert S.ivf_build_index(emb2, d) == meta2


def test_ivf_index_empty_query_set_yields_empty(spark, sf_dir):
    import os
    import tempfile

    from olap_xtrctr_spark.operators import similarity as S
    from olap_xtrctr_spark.session import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    d = os.path.join(tempfile.gettempdir(), "olap_xtrctr_ivf_plan_t")
    S.ivf_build_index(emb, d)
    out = S.ivf_query_index(
        spark, d, emb.filter(F.col("vec_id") < 0), k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "rank", "neighbor_id", "cosine"]


def test_semantic_dedup_equi_join_and_gates(spark, sf_dir):
    """SemDeDup blocking: the within-cell pair join must be an
    equi-join on the cell id (never BNLJ/cartesian), precision vs the
    exact GEMM table is 1 by construction, multi-probe recall is
    total on the fixture, and the corpus form equals the pair-table
    derivation.  The cell-size guard fails loudly instead of going
    quadratic."""
    import pytest

    from olap_xtrctr_spark.operators import dedup as D
    from olap_xtrctr_spark.operators import similarity as S
    from olap_xtrctr_spark.session import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = S.semantic_dedup_pairs(emb, threshold=0.45, n_clusters=8)
    plan = _plan(pairs)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in pairs.collect()}
    exact = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in D.embedding_near_dups(emb,
                                            threshold=0.45).collect()}
    assert set(got) <= set(exact)
    assert set(got) == set(exact), "multi-probe recall regressed"
    assert got == exact, "cosine values diverge from the GEMM kernel"
    kept = {r["vec_id"] for r in
            S.semantic_dedup(emb, threshold=0.45,
                             n_clusters=8).collect()}
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert kept == all_ids - {b for _, b in exact}
    with pytest.raises(ValueError, match="quadratic"):
        S.semantic_dedup_pairs(emb, n_clusters=2, max_cell_rows=10,
                               oversize="error")


def test_semantic_dedup_pairs_independent_of_input_partitioning(
        spark, sf_dir):
    """The trained KMeans cells depend only on the corpus and the seed:
    the same embeddings read into 2, 4 or 8 partitions give identical
    pair rows.  (k-means|| seeding samples per partition, so a fit on
    the layout as it comes in trains different cells per core count.)"""
    import os

    from olap_xtrctr_spark.operators import similarity as S
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    rows = {n: sorted(map(tuple, S.semantic_dedup_pairs(
                emb.repartition(n), threshold=0.45,
                n_clusters=8).collect()))
            for n in (2, 4, 8)}
    assert rows[2] == rows[4] == rows[8]


def test_semantic_dedup_oversized_cells_subblock(spark, sf_dir):
    """VERDICT r12 task 3: a cell over max_cell_rows no longer refuses
    by default — oversized cells split by frozen PQ code prefix and
    dedup within sub-blocks.  Contract: precision stays 1 (every pair
    is in the exact GEMM table with the identical cosine), only recall
    inside the oversized cells may drop, and oversize='error' restores
    the loud guard for both variants."""
    import pytest

    from olap_xtrctr_spark.operators import dedup as D
    from olap_xtrctr_spark.operators import similarity as S
    from olap_xtrctr_spark.session import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    # plant 20 EXACT duplicates: identical vectors always share every
    # frozen PQ code, so they survive ANY depth of sub-blocking — the
    # guaranteed-recall core of the rescue path
    dup = (emb.filter(F.col("vec_id") < 20)
           .select((F.col("vec_id") + 10_000).alias("vec_id"),
                   "embedding"))
    big = emb.select("vec_id", "embedding").union(dup)
    planted = {(i, i + 10_000) for i in range(20)}
    exact = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in D.embedding_near_dups(big,
                                            threshold=0.995).collect()}
    # max_cell_rows=10 makes EVERY frozen cell oversized on the
    # 520-row corpus — the sub-blocking rescue path end-to-end
    for fn in (lambda: S.semantic_dedup_pairs_frozen(
                   big, threshold=0.995, max_cell_rows=10),
               lambda: S.semantic_dedup_pairs(
                   big, threshold=0.995, n_clusters=2,
                   max_cell_rows=10)):
        got = {(r["id_a"], r["id_b"]): r["cosine"]
               for r in fn().collect()}
        assert set(got) <= set(exact), "sub-blocking invented pairs"
        assert all(exact[k] == v for k, v in got.items()), \
            "cosines diverge from the GEMM kernel"
        assert planted <= set(got), \
            "an exact duplicate escaped its sub-block"
    with pytest.raises(ValueError, match="quadratic"):
        S.semantic_dedup_pairs_frozen(emb, max_cell_rows=10,
                                      oversize="error")
    # in-bound corpora never enter the sub-block path: bit-identical
    # to the exact within-cell join (the gate/oracle regime)
    a = sorted(map(tuple, S.semantic_dedup_pairs_frozen(
        emb, threshold=0.45).collect()))
    b = sorted(map(tuple, S.semantic_dedup_pairs_frozen(
        emb, threshold=0.45, max_cell_rows=10**9).collect()))
    assert a == b


# ---- frozen-codebook family plan shapes (round 12) --------------------------

def test_frozen_cell_assignment_is_pure_projection(spark, sf_dir):
    """The frozen-center argmin must stay a JVM-side projection: no
    added exchange (the only one is the loader's repartition), no
    Python evaluation — the property that makes cell blocking free at
    100 TB."""
    from olap_xtrctr_spark.operators import frozen_codebooks as FC
    from olap_xtrctr_spark.operators import similarity as S
    from olap_xtrctr_spark.session import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id",
                      F.expr(S._vint_expr("embedding")).alias("_v"))
    cells = (base.withColumn("cell", F.expr(S._argmin_cells_expr(
                 "_v", FC.COARSE_CENTERS_I, 1))[0]).drop("_v"))
    before = _plan(base)
    after = _plan(cells)
    assert "EvalPython" not in after
    assert after.count("Exchange") == before.count("Exchange"), \
        "cell assignment added an exchange"


def test_frozen_pq_and_ivfpq_all_joins_broadcast(spark, sf_dir):
    """The exact ADC twins must keep every join broadcast (the LUT,
    probe list, query vectors and norms are all driver-tiny by
    construction) and never fall back to a sort-merge join.  Since r13
    the corpus-side quantization is ONE Arrow-vectorized stage (the
    numpy kernel, VERDICT r12 task 4 — measured 4x the interpreted
    higher-order argmin at 200k vectors, bit-identical output); plans
    must carry exactly that one ArrowEvalPython and NEVER a
    row-at-a-time BatchEvalPython."""
    from olap_xtrctr_spark.operators import similarity as S
    from olap_xtrctr_spark.session import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    for df in (S.pq_topk_frozen(emb, [0, 1, 2], k=3),
               S.ivfpq_topk_frozen(emb, [0, 1, 2], k=3),
               S.ivf_topk_frozen(emb, [0, 1, 2], k=3)):
        plan = _plan(df)
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan
        assert "BatchEvalPython" not in plan
        n_py = plan.count("ArrowEvalPython") + plan.count("MapInPandas")
        assert n_py == 1, \
            ("quantization must be exactly one Arrow batch stage on "
             "the corpus — Catalyst's inferred join-key/Generate "
             "filters can silently re-run the kernel if the operator "
             "shape regresses")


def test_ivfpq_index_query_prunes_partitions_and_matches_inline(
        spark, sf_dir):
    """The persisted IVFPQ codes scan must read ONLY the probed cells
    (PartitionFilters carries the static cell isin()), and the
    refined query must equal the inline ivfpq_topk_frozen at the same
    parameters — the index is a materialization, never a semantics
    change."""
    import os
    import re as _re
    import tempfile

    from olap_xtrctr_spark.operators import similarity as S
    from olap_xtrctr_spark.session import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    d = os.path.join(tempfile.gettempdir(), "olap_xtrctr_ivfpq_plan_t")
    meta = S.ivfpq_build_index(emb, d)
    assert S.ivfpq_build_index(emb, d) == meta     # idempotent rebuild
    q = emb.filter(F.col("vec_id").isin([0, 1, 2]))
    out = S.ivfpq_query_index(spark, d, q, k=3, n_probe=3)
    plan = _plan(out)
    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1) and " IN " in m.group(1), plan
    # compressed-domain contract: ADC ranking only
    assert out.columns == ["query_id", "rank", "neighbor_id",
                           "adc_score"]
    # the refined tail reproduces the inline operator exactly
    refined = sorted(map(tuple, S.ivfpq_query_index(
        spark, d, q, k=3, n_probe=5, refine_with=emb,
        refine=32).collect()))
    inline = sorted(map(tuple, S.ivfpq_topk_frozen(
        emb, [0, 1, 2], k=3, n_probe=5, refine=32).collect()))
    assert refined == inline
    # a retrained codebook must invalidate the index loudly
    import json
    mp = os.path.join(d, "_INDEX_META.json")
    tampered = dict(meta, codebook_sig="0" * 16)
    with open(mp, "w") as f:
        json.dump(tampered, f)
    import pytest
    with pytest.raises(ValueError, match="codebook_sig"):
        S.ivfpq_query_index(spark, d, q, k=3)
    # rebuild recovers (meta differs -> full rebuild)
    assert S.ivfpq_build_index(emb, d) == meta


def test_refine_with_missing_neighbors_fails_loudly(spark, sf_dir):
    """ADVICE r12 (medium): refine_with must contain EVERY shortlisted
    neighbor — a queries-only table used to vanish silently through
    the inner join, returning truncated/empty top-k with no error.
    Now the re-rank raises, naming the missing id."""
    import os
    import tempfile

    import pytest

    from olap_xtrctr_spark.operators import similarity as S
    from olap_xtrctr_spark.session import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    d = os.path.join(tempfile.gettempdir(), "olap_xtrctr_ivfpq_plan_t")
    S.ivfpq_build_index(emb, d)
    q = emb.filter(F.col("vec_id").isin([0, 1, 2]))
    # the buggy CLI shape: refine against the query vectors only
    with pytest.raises(Exception, match="missing from the "
                                        "refine/corpus"):
        S.ivfpq_query_index(spark, d, q, k=3, n_probe=5,
                            refine_with=q, refine=32).collect()
    # the full corpus still refines cleanly
    ok = S.ivfpq_query_index(spark, d, q, k=3, n_probe=5,
                             refine_with=emb, refine=32).collect()
    assert len(ok) > 0


def _broadcast_ancestors(plan: str, scan_substr: str) -> bool:
    """True when the named parquet scan sits under a BroadcastExchange
    in the plan tree (i.e. that table is a broadcast build side)."""
    lines = plan.splitlines()
    idx = next(i for i, l in enumerate(lines)
               if "Scan parquet" in l and scan_substr in l)

    def node_depth(line: str) -> int:
        m = re.search(r"[+:]- ", line)
        return m.start() if m else -1     # -1 = root

    d = node_depth(lines[idx])
    for i in range(idx - 1, -1, -1):
        di = node_depth(lines[i])
        if di < d:                        # an ancestor of the scan
            if "BroadcastExchange" in lines[i]:
                return True
            d = di
            if d <= 0:
                break
    return False


def test_dim_hint_gate_denies_grown_bridge_view(spark, sf_dir, monkeypatch):
    """VERDICT r13 item 4: the fact⋈view broadcast hint is size-gated
    on the view's real leaf scan footprint.  When a bridge view has
    outgrown the gate — here simulated by shrinking the gate below the
    view's footprint, the exact signal an SF-grown orders_wide produces
    at 100 TB — the view must NOT be broadcast, and the inverted static
    estimates must not broadcast the FACT either (the r12 disease): the
    fact⋈view join pins to sort-merge.  With the gate at its default,
    the r13 behavior (view broadcast, fact streamed) must hold."""
    from olap_xtrctr_spark import query as Q
    eng = CubeQueryEngine(spark, default_registry(), sf_dir)
    req = QueryRequest(
        "VENTAS_2025", measures=["Sum Extendedprice"],
        rows=[AxisItem("Dim Customer", "Geografía", level="Nation")])

    gate = Q._hint_gate_bytes
    monkeypatch.setattr(Q, "_hint_gate_bytes", lambda spark: 64)
    denied = _plan(eng.execute(req))
    assert "SortMergeJoin" in denied            # fact⋈view pinned to SMJ
    assert not _broadcast_ancestors(denied, "lineitem")
    assert not _broadcast_ancestors(denied, "customer")

    monkeypatch.setattr(Q, "_hint_gate_bytes", gate)
    allowed = _plan(eng.execute(req))
    assert "SortMergeJoin" not in allowed       # r13 shape intact
    assert _broadcast_ancestors(allowed, "customer")
    assert not _broadcast_ancestors(allowed, "lineitem")


def test_dim_hint_gate_follows_session_threshold(spark, sf_dir):
    """The gate compares the memoized leaf-scan bytes with the LIVE
    autoBroadcastJoinThreshold: changing the threshold mid-session
    flips the fact⋈view join between broadcast and sort-merge with no
    memo cleared (a memoized allow/deny decision kept the old plan)."""
    eng = CubeQueryEngine(spark, default_registry(), sf_dir)
    req = QueryRequest(
        "VENTAS_2025", measures=["Sum Extendedprice"],
        rows=[AxisItem("Dim Customer", "Geografía", level="Nation")])
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        allowed = _plan(eng.execute(req))
        assert "SortMergeJoin" not in allowed
        assert _broadcast_ancestors(allowed, "customer")
        spark.conf.set(key, "64")
        denied = _plan(eng.execute(req))
        assert "SortMergeJoin" in denied
        assert not _broadcast_ancestors(denied, "customer")
        spark.conf.set(key, old)
        again = _plan(eng.execute(req))
        assert "SortMergeJoin" not in again
        assert _broadcast_ancestors(again, "customer")
    finally:
        spark.conf.set(key, old)


def test_disabled_broadcast_threshold_denies_dim_hint(spark, sf_dir):
    """``autoBroadcastJoinThreshold=-1`` switches broadcasting off for
    the session, and the dim-view hint follows it: the fact⋈view join
    of the flagship cube entry is a sort-merge join with neither side
    broadcast.  (Inside the view, the constant-size region/nation
    tables keep their explicit broadcast, as at any threshold.)"""
    from olap_xtrctr_spark.workload import WORKLOAD
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        plan = _plan(WORKLOAD["cube_nation_sales"].fn(spark, sf_dir))
    finally:
        spark.conf.set(key, old)
    assert "SortMergeJoin [l_orderkey" in plan
    assert not _broadcast_ancestors(plan, "lineitem")
    assert not _broadcast_ancestors(plan, "orders")
    assert not _broadcast_ancestors(plan, "customer")
    assert _broadcast_ancestors(plan, "/nation.parquet")
    assert _broadcast_ancestors(plan, "/region.parquet")


def test_simhash_signature_zero_exchange_kernel(spark, sf_dir):
    """r14 structural pin: the simhash signature (both hash families)
    is ONE rowwise projection — a MapInArrow stage over the pruned
    (id, text) scan with NO Exchange and NO aggregate; the pre-r14
    explode + per-bit conditional-SUM groupBy paid a full token-stream
    shuffle here."""
    from olap_xtrctr_spark.operators.dedup import (_MD5_60BIT_TOKEN_SQL,
                                                   _XXHASH64_TOKEN_SQL,
                                                   _simhash_kernel)
    from olap_xtrctr_spark.session import load_table
    docs = load_table(spark, sf_dir, "documents")
    for sql, bits in ((_XXHASH64_TOKEN_SQL, 64),
                      (_MD5_60BIT_TOKEN_SQL, 60)):
        plan = _plan(_simhash_kernel(docs, "text", "doc_id", sql, bits))
        assert "MapInArrow" in plan
        # the loader's round-robin rebalance of the single-row-group
        # test file is the only allowed exchange; the operator itself
        # must add none (no hash/single-partition exchange, no agg)
        assert "hashpartitioning" not in plan
        assert "SinglePartition" not in plan
        assert "HashAggregate" not in plan and "SortAggregate" not in plan
