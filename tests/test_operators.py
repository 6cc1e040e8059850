"""Dedup / similarity / text / events operators — semantic unit tests on
hand-built frames plus sf0.001 sanity."""
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from olap_xtrctr_spark.operators import dedup as D
from olap_xtrctr_spark.operators import similarity as S
from olap_xtrctr_spark.operators import text as TX
from olap_xtrctr_spark.streaming import events as EV
from olap_xtrctr_spark.session import load_events


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t)
                                  for i, t in enumerate(rows)])


def test_exact_dedup_keeps_first(spark):
    df = _docs(spark, ["a b c", "a b c", "x y z"])
    out = D.exact_dedup(df, ["text"], "doc_id").collect()
    assert {(r["doc_id"], r["text"]) for r in out} == {(0, "a b c"), (2, "x y z")}


def test_exact_dup_groups(spark):
    df = _docs(spark, ["a b c", "a b c", "x y z"])
    out = {r["keep_id"]: r["copies"]
           for r in D.exact_dup_groups(df).collect()}
    assert out == {0: 2, 2: 1}


def test_minhash_identical_docs_score_1(spark):
    df = _docs(spark, ["uno dos tres cuatro cinco seis",
                       "uno dos tres cuatro cinco seis",
                       "totally different words here now ok"])
    pairs = D.minhash_lsh_pairs(df, threshold=0.9).collect()
    assert len(pairs) == 1
    assert (pairs[0]["id_a"], pairs[0]["id_b"]) == (0, 1)
    assert pairs[0]["est_jaccard"] == 1.0


def test_ngram_jaccard_exact(spark):
    df = _docs(spark, ["a b c d", "a b c d", "q w e r"])
    out = D.ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    assert len(out) == 1
    assert out[0]["jaccard"] == 1.0


def test_ngram_containment_detects_doc_inside_doc(spark):
    """A short doc quoted whole inside a long one: containment 1.0,
    Jaccard well under the near-dup threshold — the case the
    asymmetric metric exists for."""
    short = "a b c d e f"
    long = short + " g h i j k l m n o p q r s t u v w x y z " \
                   "aa bb cc dd ee ff gg hh"
    df = _docs(spark, [short, long])
    out = D.ngram_containment_pairs(df, n=3, threshold=0.9).collect()
    assert len(out) == 1
    assert out[0]["containment"] == 1.0
    assert out[0]["contained_id"] == 0
    assert not D.ngram_jaccard_pairs(df, n=3, threshold=0.3).collect()


def test_ngram_containment_prefix_variant_identical(spark):
    """The PPJoin prefix-filtered variant must emit bit-identical rows
    to the all-co-occurrences core — including under the stop-shingle
    guard and with sub-n-token docs — on a corpus mixing containment,
    boilerplate, and unrelated docs."""
    boiler = "copyright terms apply see license for details"
    short = "uno dos tres cuatro cinco seis"
    docs = [short,                                  # contained in 1
            f"{short} siete ocho nueve diez once doce trece " + boiler,
            f"alpha beta gamma delta epsilon zeta " + boiler,
            "totally different words here with no overlap at all",
            "tiny doc",                             # < n tokens
            "tiny doc"]                             # exact dup of 4
    df = _docs(spark, docs)
    for kw in ({"threshold": 0.5}, {"threshold": 0.9},
               {"threshold": 0.5, "max_doc_freq": 2}):
        core = sorted(map(tuple, D.ngram_containment_pairs(
            df, n=3, **kw).collect()))
        pref = sorted(map(tuple, D.ngram_containment_pairs_prefix(
            df, n=3, **kw).collect()))
        assert core == pref, (kw, core, pref)
    assert any(r for r in core)   # the corpus actually produces pairs


def test_ngram_containment_prefix_regime_autoroute(spark):
    """VERDICT r11 task 3: the prefix variant's wrong regime used to
    spill ~45 GB at ~sf1 with no guard.  In regime='auto' a
    replica-shaped df histogram (every shingle df == replica count —
    prefixes prune nothing) must AUTO-ROUTE to the inverted-index
    core, a boilerplate-shaped one (quadratic posting mass dominated
    by hot shared-tail shingles) must stay on the prefix plan, and
    both routes must emit identical rows."""
    # replica-heavy: 20 distinct 12-token docs x 10 exact replicas
    rep_texts = [f"w{g}a w{g}b w{g}c w{g}d w{g}e w{g}f w{g}g w{g}h "
                 f"w{g}i w{g}j w{g}k w{g}l"
                 for g in range(20) for _ in range(10)]
    rep = _docs(spark, rep_texts)
    out_auto = sorted(map(tuple, D.ngram_containment_pairs_prefix(
        rep, n=3, threshold=0.5).collect()))
    assert D.ngram_containment_pairs_prefix.last_route == "core"
    out_forced = sorted(map(tuple, D.ngram_containment_pairs_prefix(
        rep, n=3, threshold=0.5, regime="prefix").collect()))
    assert D.ngram_containment_pairs_prefix.last_route == "prefix"
    assert out_auto == out_forced and out_auto   # identical, non-empty

    # boilerplate-shaped: 150 docs, unique 6-token head + shared
    # 14-token tail -> tail shingles have df=150 >= tau=100 and own
    # the quadratic mass
    tail = ("copyright terms apply see license file for details "
            "all rights reserved by the vendor")
    boil = _docs(spark, [f"h{i}a h{i}b h{i}c h{i}d h{i}e h{i}f {tail}"
                         for i in range(150)])
    D.ngram_containment_pairs_prefix(boil, n=3, threshold=0.9,
                                     max_doc_freq=1000).collect()
    assert D.ngram_containment_pairs_prefix.last_route == "prefix"

    # explicit overrides and validation
    D.ngram_containment_pairs_prefix(rep, n=3, threshold=0.5,
                                     regime="core").collect()
    assert D.ngram_containment_pairs_prefix.last_route == "core"
    import pytest
    with pytest.raises(ValueError, match="regime"):
        D.ngram_containment_pairs_prefix(rep, regime="bogus")


def test_ngram_containment_auto_probe_shingles_once(spark, monkeypatch):
    """ADVICE r12: in regime='auto' the df-histogram probe is a full
    shingle pass, so the shingle table must be PINNED BEFORE the probe
    — a prefix-routed call then shingles the corpus once (the probe
    materializes the blocks the main plan reuses), and a core-routed
    call unpersists the probe's pin immediately instead of holding it
    until the host's bulk release."""
    import time

    from olap_xtrctr_spark import session as SS

    pinned = []
    real = SS.track_persist

    def spy(df, storage_level=None):
        pinned.append(df)
        return real(df, storage_level)

    monkeypatch.setattr(SS, "track_persist", spy)
    SS.release_tracked_caches()
    spark.catalog.clearCache()

    def cached_parts():
        return sum(i.numCachedPartitions() for i in
                   spark.sparkContext._jsc.sc().getRDDStorageInfo())

    # Quiesce localCheckpoint blocks leaked by EARLIER tests in this
    # session-scoped context (pagerank/CC checkpoints are cleaned by
    # ContextCleaner only after their RDD objects are GC'd): trigger
    # both GCs, wait, then take whatever remains as the baseline —
    # the assertions below are about THIS call's pin, not the world.
    import gc as _gc
    _gc.collect()
    spark.sparkContext._jvm.System.gc()
    for _ in range(50):
        if cached_parts() == 0:
            break
        time.sleep(0.1)
    base = cached_parts()

    # boilerplate-shaped corpus -> auto stays on prefix; the probe ran
    # inside the call, so the pinned shingle blocks are ALREADY
    # materialized before any action on the returned (lazy) result
    tail = ("copyright terms apply see license file for details "
            "all rights reserved by the vendor")
    boil = _docs(spark, [f"h{i}a h{i}b h{i}c h{i}d h{i}e h{i}f {tail}"
                         for i in range(150)])
    res = D.ngram_containment_pairs_prefix(boil, n=3, threshold=0.9)
    assert D.ngram_containment_pairs_prefix.last_route == "prefix"
    assert len(pinned) == 1 and pinned[0].is_cached
    assert cached_parts() > base, \
        "probe ran before the pin: prefix route would shingle twice"
    res.collect()
    SS.release_tracked_caches()

    # replica-shaped corpus -> auto routes to the core, which builds
    # its own lineage: the probe's pin is unpersisted inside the call
    pinned.clear()
    rep = _docs(spark, [f"w{g}a w{g}b w{g}c w{g}d w{g}e w{g}f w{g}g "
                        f"w{g}h w{g}i w{g}j w{g}k w{g}l"
                        for g in range(20) for _ in range(10)])
    D.ngram_containment_pairs_prefix(rep, n=3, threshold=0.5).collect()
    assert D.ngram_containment_pairs_prefix.last_route == "core"
    assert len(pinned) == 1 and not pinned[0].is_cached
    for _ in range(50):                 # non-blocking unpersist: poll
        if cached_parts() <= base:
            break
        time.sleep(0.1)
    assert cached_parts() <= base
    SS.release_tracked_caches()


def test_simhash_identical_zero_distance(spark):
    df = _docs(spark, ["k l m n o p q r s t u v",
                       "k l m n o p q r s t u v"])
    out = D.simhash_near_pairs(df, max_hamming=0).collect()
    assert len(out) == 1 and out[0]["hamming"] == 0


def test_cosine_topk_self_excluded_and_ranked(spark):
    emb = spark.createDataFrame([
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[1.0, 0.0]),
        Row(vec_id=2, embedding=[0.9, 0.1]),
        Row(vec_id=3, embedding=[0.0, 1.0]),
    ])
    out = S.cosine_topk(emb, [0], k=2).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] \
        == [1, 2]
    assert all(r["neighbor_id"] != 0 for r in out)


def test_lang_id_votes(spark):
    df = spark.createDataFrame([
        Row(doc_id=0, lang="en", text="the cat and the dog of the house"),
        Row(doc_id=1, lang="es", text="el perro y la casa de los gatos una"),
        Row(doc_id=2, lang="und", text="zzz qqq www"),
    ])
    out = {r["doc_id"]: r["lang_guess"] for r in TX.lang_id(df).collect()}
    assert out == {0: "en", 1: "es", 2: "und"}


def test_fingerprint_whitespace_insensitive(spark):
    df = _docs(spark, ["Hello,   World!", "hello world"])
    fps = [r["fingerprint"] for r in TX.fingerprint(df).collect()]
    assert fps[0] == fps[1]


def test_sessionize_gap(spark):
    rows = [Row(event_id=i, user_id=1, ts=ts, event_type="x", value=1.0,
                props="{}")
            for i, ts in enumerate(["2024-01-01 00:00:00",
                                    "2024-01-01 00:10:00",
                                    "2024-01-01 02:00:00"])]
    df = spark.createDataFrame(rows).withColumn(
        "ts", __import__("pyspark.sql.functions", fromlist=["F"]).to_timestamp("ts"))
    out = EV.sessionize(df).collect()
    assert out[0]["n_sessions"] == 2 and out[0]["n_events"] == 3


def test_events_load_converts_nanos(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.count() > 0


def test_normalize_event_ts_handles_both_encodings(spark):
    """The round-3 lesson: driver testdata silently switched encodings
    (TIMESTAMP(NANOS)-as-bigint → timestamp[us]/NTZ) and broke every ts
    consumer.  Pin BOTH paths to the same wall-clock TIMESTAMP, plus the
    already-TIMESTAMP no-op."""
    from olap_xtrctr_spark.session import ensure_nanos_conf, \
        normalize_event_ts
    ensure_nanos_conf(spark)
    wall = "2024-03-01 12:34:56"
    nanos = 1709296496_000000000        # the same instant, UTC, as int64
    as_bigint = spark.createDataFrame([(nanos,)], "ts long")
    as_ntz = spark.sql(f"SELECT to_timestamp_ntz('{wall}') AS ts")
    as_ts = spark.sql(f"SELECT to_timestamp('{wall}') AS ts")
    for df in (as_bigint, as_ntz, as_ts):
        out = normalize_event_ts(df)
        assert dict(out.dtypes)["ts"] == "timestamp"
        assert str(out.collect()[0]["ts"]) == wall


def test_quality_score_bands(spark):
    good = " ".join(["the quick brown fox jumps of the lazy dog"] * 3)
    df = _docs(spark, [good, "x", ""])
    out = {r["doc_id"]: r["quality_score"]
           for r in TX.quality_score(df).collect()}
    assert out[0] > out[1]          # long stopword-rich text beats "x"
    assert 0.0 <= out[0] <= 1.0


def test_compression_ratio_orders_text_quality(spark):
    """repetitive boilerplate compresses far better than prose, prose
    better than (pseudo)random noise — the ordering the filter uses."""
    import hashlib
    noise = " ".join(hashlib.sha256(str(i).encode()).hexdigest()
                     for i in range(40))
    prose = ("the quick brown fox jumps over the lazy dog and then "
             "considers the economic implications of its leap ") * 12
    boiler = "click here to subscribe " * 50
    df = _docs(spark, [boiler, prose, noise])
    out = {r["doc_id"]: r["compression_ratio"]
           for r in TX.compression_ratio(df).collect()}
    assert out[0] < out[1] < out[2]
    assert out[0] < 0.1 and out[2] > 0.5


def test_expectations_check_counts_nulls_as_violations(spark):
    from olap_xtrctr_spark.operators import expectations as EX
    rows = [Row(id=1, v=5), Row(id=2, v=None), Row(id=None, v=50)]
    df = spark.createDataFrame(rows, "id long, v long")
    out = {r["rule"]: (r["n_rows"], r["n_violations"])
           for r in EX.check(df, {
               "id_not_null": EX.not_null("id"),
               "v_in_range": EX.in_range("v", 0, 10)}).collect()}
    assert out["id_not_null"] == (3, 1)
    # v=None is a violation (no three-valued-logic slip), v=50 out of range
    assert out["v_in_range"] == (3, 2)
    # ONE pass: a single aggregate, no join, no second scan
    plan = EX.check(df, {"a": EX.not_null("id"), "b": EX.not_null("v")}) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("HashAggregate") <= 2   # partial + final only


def test_expectations_violations_tags_failing_rules(spark):
    from olap_xtrctr_spark.operators import expectations as EX
    df = spark.createDataFrame([Row(id=1, v=5), Row(id=None, v=99)],
                               "id long, v long")
    bad = EX.violations(df, {"id_not_null": EX.not_null("id"),
                             "v_in_range": EX.in_range("v", 0, 10)}).collect()
    assert len(bad) == 1
    assert set(bad[0]["failed_rules"]) == {"id_not_null", "v_in_range"}


def test_sample_k_per_group_exact_and_deterministic(spark):
    from olap_xtrctr_spark.operators import sampling as SM
    rows = [Row(doc_id=i, lang="en" if i < 40 else "es")
            for i in range(45)]           # es group smaller than k
    df = spark.createDataFrame(rows)
    a = SM.sample_k_per_group(df, 10, group_col="lang").collect()
    b = SM.sample_k_per_group(df, 10, group_col="lang").collect()
    by_lang = {}
    for r in a:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    assert len(by_lang["en"]) == 10
    assert len(by_lang["es"]) == 5        # undersized group kept whole
    assert {(r["lang"], r["doc_id"]) for r in a} == \
        {(r["lang"], r["doc_id"]) for r in b}   # reproducible


def test_vocab_coverage_oov_counts(spark):
    """vocab_size=1 keeps only the most frequent token ('a'); every
    other token is OOV."""
    df = _docs(spark, ["a a b", "a c", "d d d"])
    # corpus counts: a=3, d=3 → tie broken by token: 'a' wins size-1 vocab
    out = {r["doc_id"]: (r["n_tokens"], r["n_oov"]) for r in
           TX.vocab_coverage(df, vocab_size=1).collect()}
    assert out == {0: (3, 1), 1: (2, 1), 2: (3, 3)}


def test_hll_rollup_matches_exact_within_2pct(spark, sf_dir):
    """Merged per-hour HLL partials must land within 2% of the exact
    distinct-user count per event type — and the merge path must agree
    with what persisted mergeable state would give."""
    from olap_xtrctr_spark.operators import sketches as SK
    ev = load_events(spark, sf_dir).withColumn(
        "hour", F.date_trunc("hour", F.col("ts")))
    est = {r["event_type"]: r["n_distinct_est"] for r in SK.hll_rollup(
        SK.hll_partial(ev, ["event_type", "hour"], "user_id"),
        ["event_type"]).collect()}
    exact = {r["event_type"]: r["n"] for r in
             ev.groupBy("event_type")
               .agg(F.count_distinct("user_id").alias("n")).collect()}
    assert set(est) == set(exact)
    for t, n in exact.items():
        assert abs(est[t] - n) / n < 0.02, (t, est[t], n)


def test_token_count_bpe_splits_punct_and_contractions(spark):
    """'don't stop!' is 2 whitespace tokens but 4 BPE-ish pieces
    (don / 't / _stop / !) — the divergence a budget estimate needs."""
    df = _docs(spark, ["don't stop!", "plain words only"])
    out = {r["doc_id"]: r for r in TX.token_count_bpe(df).collect()}
    assert out[0]["n_tokens_ws"] == 2
    assert out[0]["n_tokens_bpe"] == 4
    assert out[1]["n_tokens_ws"] == out[1]["n_tokens_bpe"] == 3


def test_repetition_stats_counts(spark):
    """'a b a b' → 4 tokens / 2 distinct; 3 bigrams ('a b','b a','a b')
    / 2 distinct; 2 trigrams, both distinct."""
    df = _docs(spark, ["a b a b", "w x y z", "solo"])
    out = {r["doc_id"]: r for r in TX.repetition_stats(df).collect()}
    r0 = out[0]
    assert (r0["n_tokens"], r0["n_distinct_tokens"]) == (4, 2)
    assert (r0["n_2grams"], r0["n_distinct_2grams"]) == (3, 2)
    assert (r0["n_3grams"], r0["n_distinct_3grams"]) == (2, 2)
    r1 = out[1]                       # no repetition at all
    assert r1["n_distinct_tokens"] == r1["n_tokens"] == 4
    assert r1["n_distinct_2grams"] == r1["n_2grams"] == 3
    assert out[2]["n_2grams"] == 0    # single token: zero bigrams


def test_repetition_filter_drops_loops(spark):
    loop = " ".join(["spam ham"] * 20)          # dup_2gram_frac ≈ 0.95
    clean = " ".join(f"tok{i}" for i in range(40))
    df = _docs(spark, [loop, clean, "too short"])
    kept = [r["doc_id"] for r in TX.repetition_filter(
        df, max_dup_token_frac=0.96, max_dup_2gram_frac=0.5,
        min_tokens=10).collect()]
    assert kept == [1]
    # plan stays a pure predicate over the scan: no shuffle introduced
    plan = TX.repetition_filter(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_embedding_near_dups_finds_identical(spark):
    from olap_xtrctr_spark.operators.dedup import embedding_near_dups
    rows = [Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
            Row(vec_id=1, embedding=[2.0, 0.0, 0.0]),   # same direction
            Row(vec_id=2, embedding=[0.0, 1.0, 0.0])]   # orthogonal
    out = embedding_near_dups(spark.createDataFrame(rows),
                              threshold=0.99).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(0, 1)]
    assert out[0]["cosine"] == 1.0


def test_embedding_near_dups_guards_driver_collect(spark):
    """The exact-GEMM path must refuse (not OOM) when the corpus exceeds
    the broadcast bound, and point at the bucketed scale path."""
    import pytest
    from olap_xtrctr_spark.operators.dedup import embedding_near_dups
    rows = [Row(vec_id=i, embedding=[float(i), 1.0]) for i in range(10)]
    df = spark.createDataFrame(rows)
    with pytest.raises(ValueError, match="lsh_cosine_topk"):
        embedding_near_dups(df, max_broadcast_bytes=64)
    # under the bound the same frame still works
    assert embedding_near_dups(df, threshold=0.9999,
                               max_broadcast_bytes=1 << 20).count() >= 0


def test_ngram_max_doc_freq_drops_hot_shingles(spark):
    """A stop-shingle shared by every doc is excluded by the df cap, so
    pairs that only co-occur through it disappear."""
    from olap_xtrctr_spark.operators.dedup import ngram_jaccard_pairs
    docs = _docs(spark, ["common common common alpha beta gamma",
                         "common common common delta epsilon zeta",
                         "unrelated words entirely here now ok"])
    uncapped = ngram_jaccard_pairs(docs, threshold=0.01)
    capped = ngram_jaccard_pairs(docs, threshold=0.01, max_doc_freq=1)
    assert uncapped.count() > 0          # share the 'common common common' shingle
    assert capped.count() == 0           # hot shingle dropped -> no pairs


def test_streaming_replay_equals_batch(spark, sf_dir):
    """readStream → watermark → window → availableNow == batch rollup."""
    ev = load_events(spark, sf_dir)
    batch = {(r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
             for r in EV.hourly_rollup(ev).collect()}
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = {(r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
              for r in EV.replay_hourly_rollup(spark, sf_dir, schema).collect()}
    assert stream == batch


def test_streaming_interval_join_equals_batch(spark, sf_dir):
    """Stream-stream interval join (both sides watermarked, event time
    bounded both ways) replayed availableNow == the batch interval
    join over the same inclusive [click_ts, click_ts + 1h] window."""
    ev = load_events(spark, sf_dir)
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"),
        F.col("value").alias("cv"))
    p = ev.filter(F.col("event_type") == "purchase")
    batch = {(r["event_id"], r["cts"]) for r in p.join(
        c, (p.user_id == c.cu) & (p.ts >= c.cts)
           & (p.ts <= c.cts + F.expr("INTERVAL 1 HOUR"))).collect()}
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = {(r["event_id"], r["click_ts"]) for r in
              EV.replay_interval_join(spark, sf_dir, schema).collect()}
    assert stream == batch and len(stream) > 0


def test_streaming_unconverted_clicks_watermark_semantics(spark, sf_dir):
    """LEFT OUTER stream-stream join, null-filtered: the bounded
    replay emits exactly the batch anti-join RESTRICTED to clicks
    whose match window fell behind the final watermark
    (min(max click_ts, max purchase_ts) - 2h delay) — newer unmatched
    clicks stay in state and must NOT appear."""
    ev = load_events(spark, sf_dir)
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"))
    p = ev.filter(F.col("event_type") == "purchase")
    matched = p.join(
        c, (p.user_id == c.cu) & (p.ts >= c.cts)
           & (p.ts <= c.cts + F.expr("INTERVAL 1 HOUR"))) \
        .select("click_id").distinct()
    wm = (ev.filter(F.col("event_type").isin("click", "purchase"))
            .groupBy("event_type").agg(F.max("ts").alias("mx"))
            .agg(F.min("mx")).collect()[0][0])
    evictable = c.filter(
        F.col("cts") + F.expr("INTERVAL 1 HOUR")
        < F.lit(wm) - F.expr("INTERVAL 2 HOURS"))
    batch = {r["click_id"] for r in
             evictable.join(matched, "click_id", "left_anti").collect()}
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = {r["click_id"] for r in
              EV.replay_unconverted_clicks(spark, sf_dir, schema).collect()}
    assert stream == batch and len(stream) > 0


def test_skew_safe_count_distinct_matches_direct(spark, sf_dir):
    from olap_xtrctr_spark.operators.skew import count_distinct_skew_safe
    ev = load_events(spark, sf_dir)
    safe = {r["event_type"]: r["n_distinct"]
            for r in count_distinct_skew_safe(
                ev, ["event_type"], "user_id").collect()}
    direct = {r["event_type"]: r["n"]
              for r in ev.groupBy("event_type")
                         .agg(F.count_distinct("user_id").alias("n"))
                         .collect()}
    assert safe == direct


def test_salted_sum_matches_direct(spark, sf_dir):
    from olap_xtrctr_spark.operators.skew import salted_sum
    ev = load_events(spark, sf_dir)
    salted = {r["event_type"]: r["sum_value"]
              for r in salted_sum(ev, ["event_type"], "value").collect()}
    direct = {r["event_type"]: r["s"]
              for r in ev.groupBy("event_type")
                         .agg(F.sum(F.col("value").cast("decimal(18,4)"))
                              .cast("double").alias("s")).collect()}
    assert salted == direct


def test_ivf_topk_structure(spark, sf_dir):
    from olap_xtrctr_spark.operators.similarity import ivf_cosine_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = ivf_cosine_topk(emb, [0, 1, 2], k=3, n_clusters=4).collect()
    by_q = {}
    for r in out:
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert set(by_q) == {0, 1, 2}
    for ranks in by_q.values():
        assert sorted(ranks) == [1, 2, 3]


def test_streaming_sessionize_matches_batch(spark, sf_dir):
    """session_window stream replay reproduces batch session counts
    (boundary-inclusive merging over second-truncated timestamps equals
    the batch strict-> convention)."""
    ev = load_events(spark, sf_dir)
    batch = {r["user_id"]: r["n_sessions"]
             for r in EV.sessionize(ev, gap_minutes=30).collect()}
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    sess = EV.replay_sessionize(spark, sf_dir, schema,
                                second_resolution=True)
    stream = {r["user_id"]: r["n"]
              for r in sess.groupBy("user_id")
                           .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert stream == batch


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """partitionBy layout -> filters on the partition column reach the
    file listing (PartitionFilters), not just the row scan."""
    from olap_xtrctr_spark.sinks import write_parquet
    ev = load_events(spark, sf_dir).withColumn(
        "day", F.to_date("ts"))
    n = write_parquet(ev, str(tmp_path / "ev"), partition_by=["event_type"])
    assert n == ev.count()
    rd = spark.read.parquet(str(tmp_path / "ev"))
    q = rd.filter(F.col("event_type") == "click")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert q.count() == ev.filter(F.col("event_type") == "click").count()


def test_near_dup_clusters_components(spark):
    """Min-label propagation finds components across chained pairs."""
    from olap_xtrctr_spark.operators.dedup import near_dup_clusters
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (3, 4)],
        "id_a long, id_b long")
    out = {r["doc_id"]: r["cluster"]
           for r in near_dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 8: 8, 9: 8, 10: 8}


def test_redact_pii_replaces_and_counts(spark):
    docs = spark.createDataFrame(
        [(1, "mail me at bob@example.com or call +1 (555) 123-4567 now"),
         (2, "server at 10.0.0.1 responded"),
         (3, "clean text, nothing to scrub")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in TX.redact_pii(docs).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert "[EMAIL]" in out[1]["text_redacted"]
    assert "bob@example.com" not in out[1]["text_redacted"]
    assert "[PHONE]" in out[1]["text_redacted"]
    assert out[2]["n_ipv4"] == 1 and "[IPV4]" in out[2]["text_redacted"]
    assert out[3]["text_redacted"] == "clean text, nothing to scrub"


def test_pack_sequences_sequential_bins(spark):
    # 5 docs x 3 tokens, window 7: cumulative-before = 0,3,6,9,12
    # -> bins 0,0,0,1,1
    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(1, 6)], "doc_id long, text string")
    out = {r["doc_id"]: r["pack_bin"]
           for r in TX.pack_sequences(docs, window_tokens=7).collect()}
    assert out == {1: 0, 2: 0, 3: 0, 4: 1, 5: 1}


def test_pack_sequences_sharded_bins_and_plan(spark):
    """shard_col partitions the packing window: bins restart per shard,
    and the plan has NO single-partition exchange (the global form's
    one-reducer cumsum is exactly what this path exists to avoid)."""
    docs = spark.createDataFrame(
        [(i, "s0" if i <= 3 else "s1", "a b c") for i in range(1, 7)],
        "doc_id long, source string, text string")
    df = TX.pack_sequences(docs, window_tokens=7, shard_col="source")
    out = {(r["source"], r["doc_id"]): r["pack_bin"] for r in df.collect()}
    # per shard: cumulative-before = 0,3,6 -> bins 0,0,0 within EACH shard
    assert out == {("s0", 1): 0, ("s0", 2): 0, ("s0", 3): 0,
                   ("s1", 4): 0, ("s1", 5): 0, ("s1", 6): 0}
    sharded_plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in sharded_plan
    global_plan = (TX.pack_sequences(docs, window_tokens=7)
                   ._jdf.queryExecution().executedPlan().toString())
    assert "SinglePartition" in global_plan   # the shape being avoided


def test_streaming_dedup_replay_equals_batch_distinct(spark, sf_dir):
    from olap_xtrctr_spark.session import events_schema, load_events
    streamed = {(r["event_type"], r["n_events"])
                for r in EV.replay_dedup_counts(
                    spark, sf_dir, events_schema(spark, sf_dir)).collect()}
    batch = {(r["event_type"], r["n_events"]) for r in
             load_events(spark, sf_dir)
             .groupBy("event_type")
             .agg(F.count_distinct("event_id").alias("n_events"))
             .collect()}
    assert streamed == batch and len(batch) > 0


def test_multimodal_resize_shape_and_determinism(spark):
    from olap_xtrctr_spark.operators.multimodal import (resize_images,
                                                        synthetic_media)
    media = synthetic_media(spark, 32).filter(F.col("kind") == "image")
    out = resize_images(media, 32, 16)
    rows = {r["media_id"]: r for r in out.collect()}
    assert len(rows) == media.count()         # 1:1, no fan-out
    again = {r["media_id"]: r["digest"]
             for r in resize_images(media.repartition(5), 32, 16).collect()}
    assert {k: v["digest"] for k, v in rows.items()} == again
    assert all(r["target_w"] == 32 and r["target_h"] == 16
               for r in rows.values())
    assert all(len(r["payload"]) == 32 for r in rows.values())


def test_multimodal_sample_frames_fanout(spark):
    from olap_xtrctr_spark.operators.multimodal import (sample_frames,
                                                        synthetic_media)
    media = synthetic_media(spark, 30)
    out = sample_frames(media, stride=2).collect()
    vids = media.filter(F.col("kind") == "video") \
        .select("media_id", "payload").collect()
    # fake codec: n_frames = 1 + n_bytes % 5, sampled every 2
    expect = {r["media_id"]: len(range(0, 1 + len(r["payload"]) % 5, 2))
              for r in vids}
    got = {}
    for r in out:
        got[r["media_id"]] = got.get(r["media_id"], 0) + 1
    assert got == {k: v for k, v in expect.items() if v > 0}
    assert all(r["frame_idx"] % 2 == 0 for r in out)


def test_contamination_check_full_and_zero_overlap(spark):
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    test = spark.createDataFrame(
        [(10, "the quick brown fox jumps"),     # fully inside train
         (11, "completely different words entirely here")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           D.contamination_check(train, test).collect()}
    assert out[10]["n_contaminated"] == out[10]["n_shingles"] > 0
    assert out[11]["n_contaminated"] == 0 and out[11]["n_shingles"] > 0


def test_contamination_attribution_and_decontaminate(spark):
    """Attribution reports (train, eval, shared-distinct-grams) pairs at
    the min_shared boundary; the removal rule drops exactly the
    offenders and keeps everything else."""
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog", "en", "s1"),
         (2, "a completely unrelated training document here", "en", "s1"),
         # shares exactly ONE distinct 3-gram with eval doc 10
         (3, "zz yy the quick brown xx ww vv uu", "en", "s2")],
        "doc_id long, text string, lang string, source string")
    test = spark.createDataFrame(
        [(10, "the quick brown fox jumps", "en", "src0")],
        "doc_id long, text string, lang string, source string")

    pairs = {(r["train_id"], r["test_id"]): r["shared_ngrams"]
             for r in D.contamination_attribution(
                 train, test, n=3, min_shared=1).collect()}
    # eval doc 10 has 3 distinct 3-grams, all inside train doc 1
    assert pairs[(1, 10)] == 3
    assert pairs[(3, 10)] == 1
    assert (2, 10) not in pairs
    # min_shared boundary: raising it to 2 drops the single-gram pair
    pairs2 = {(r["train_id"], r["test_id"])
              for r in D.contamination_attribution(
                  train, test, n=3, min_shared=2).collect()}
    assert pairs2 == {(1, 10)}

    # strict rule (max_shared=0) removes docs 1 and 3; tolerant
    # (max_shared=1) keeps the single-gram offender
    strict = {r["doc_id"] for r in
              D.decontaminate_corpus(train, test, n=3).collect()}
    assert strict == {2}
    tolerant = {r["doc_id"] for r in D.decontaminate_corpus(
        train, test, n=3, max_shared=1).collect()}
    assert tolerant == {2, 3}


def test_contamination_spans_interval_merge(spark):
    """Span-level decontamination: overlapping eval-matching k-windows
    merge into one maximal span with exact token offsets; clean docs
    report zero spans but stay visible."""
    train = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff gg xx yy zz"),   # eval run at tokens 0-6
         (2, "totally clean training text here with enough tokens")],
        "doc_id long, text string")
    test = spark.createDataFrame(
        [(10, "aa bb cc dd ee ff gg")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           D.contamination_spans(train, test, k=5).collect()}
    # windows 0-4, 1-5, 2-6 all match -> one merged span 0-6 (7 tokens)
    assert (out[1]["n_dup_spans"], out[1]["n_dup_tokens"],
            out[1]["dup_spans"]) == (1, 7, "0-6")
    assert out[1]["n_tokens"] == 10
    assert (out[2]["n_dup_spans"], out[2]["dup_spans"]) == (0, "")


def test_mix_corpus_budget_and_weights(spark):
    rows = [(i, "s0" if i < 40 else "s1", "tok " * 10) for i in range(80)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    # huge budget: every weighted stratum is kept whole, zero-weight
    # strata are dropped entirely
    keep_all = D.mix_corpus(docs, {"s0": 1.0}, token_budget=10**9)
    assert keep_all.count() == 40
    assert {r["source"] for r in keep_all.select("source").collect()} == {"s0"}
    # tight budget: roughly budget*weight/source_tokens of s0 survives
    some = D.mix_corpus(docs, {"s0": 1.0}, token_budget=200)
    # s0 has ~400 tokens -> rate ~0.5 -> expect 10..30 of 40 docs
    assert 5 <= some.count() <= 35
    # determinism across partitionings
    a = {r["doc_id"] for r in some.collect()}
    b = {r["doc_id"] for r in
         D.mix_corpus(docs.repartition(7), {"s0": 1.0},
                      token_budget=200).collect()}
    assert a == b


def test_keep_canonical_by_score_and_singletons(spark):
    docs = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (7, 0.1)],
        "doc_id long, score double")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, cluster long")
    kept = {r["doc_id"] for r in
            D.keep_canonical(docs, clusters, score_col="score").collect()}
    # cluster {1,2,3}: best score 0.9 tie -> min id 2; singleton 7 stays
    assert kept == {2, 7}
    # default (no score): keep-min-id
    kept_min = {r["doc_id"] for r in
                D.keep_canonical(docs, clusters).collect()}
    assert kept_min == {1, 7}


def test_hourly_anomalies_flags_planted_burst(spark):
    """Nonzero-variance background (hours alternate 2/4 events: mean 3,
    var 1) so the reduced integer z-test is distinguishable from the old
    buggy `dev_sq * n > th * var_n2` form: the planted 2σ wobble (5
    events, z²=4) fires under the old form (which effectively tested
    z² > th/n) but must NOT fire at 3σ; the 40-event burst must."""
    import datetime as dt
    base = dt.datetime(2025, 1, 1)
    rows = []
    eid = 0

    def plant(hour, n):
        nonlocal eid
        for _ in range(n):
            rows.append((eid, base + dt.timedelta(hours=hour,
                                                  minutes=eid % 50),
                         1, "click", 1.0, "{}"))
            eid += 1

    for h in range(58):                       # alternating background
        plant(h, 2 if h % 2 == 0 else 4)
    plant(58, 5)                              # 2σ wobble: below 3σ
    plant(59, 2)
    plant(60, 40)                             # unmistakable burst
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    out = EV.hourly_anomalies(ev, window_hours=24, threshold_sq=9)
    hours = [r["hour"] for r in out.collect()]
    assert hours == [base + dt.timedelta(hours=60)]  # burst only, no wobble


def test_funnel_conversion_window_semantics(spark):
    import datetime as dt
    t0 = dt.datetime(2025, 1, 1, 12, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        # user 1: click -> purchase 30min later = converted
        (1, t0, 1, "click"), (2, t0 + 30 * m, 1, "purchase"),
        # user 2: purchase BEFORE any click = not converted
        (3, t0, 2, "purchase"), (4, t0 + m, 2, "click"),
        # user 3: click -> purchase 2h later = outside window
        (5, t0, 3, "click"), (6, t0 + 120 * m, 3, "purchase"),
        # user 4: clicks only
        (7, t0, 4, "click"),
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, et, 1.0, "{}") for i, ts, u, et in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")
    out = {r["user_id"]: r for r in EV.funnel_conversion(ev).collect()}
    assert out[1]["n_converted"] == 1
    assert out[1]["first_conversion_ts"] == t0 + 30 * m
    assert out[2]["n_converted"] == 0
    assert out[3]["n_converted"] == 0
    assert out[4]["n_converted"] == 0 and out[4]["n_then"] == 0
    assert 2 in out and 3 in out and 4 in out   # click users all present


def test_retention_cohorts_triangle(spark):
    import datetime as dt
    wk = dt.timedelta(weeks=1)
    w0 = dt.datetime(2025, 1, 6)              # a Monday
    rows = []
    eid = 0
    # user 1 active weeks 0,1,2; user 2 weeks 0,2; user 3 week 1 only
    for u, weeks in [(1, [0, 1, 2]), (2, [0, 2]), (3, [1])]:
        for k in weeks:
            rows.append((eid, w0 + k * wk, u, "view", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    tri = {(r["cohort_week"], r["weeks_later"]): r["n_users"]
           for r in EV.retention_cohorts(ev).collect()}
    assert tri == {(w0, 0): 2, (w0, 1): 1, (w0, 2): 2,
                   (w0 + wk, 0): 1}


def test_strip_markup_tags_entities_whitespace(spark):
    docs = spark.createDataFrame(
        [(1, "<p>Hello  <b>world</b></p> &amp; &lt;friends&gt;")],
        "doc_id long, text string")
    out = TX.strip_markup(docs).first()
    assert out["text_clean"] == "Hello world & <friends>"


def test_token_familiarity_exact_counts(spark):
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string")
    # corpus freqs: a=3, b=1, c=1
    out = {r["doc_id"]: r for r in TX.token_familiarity(docs).collect()}
    assert out[1]["n_tokens"] == 3 and out[1]["familiarity_sum"] == 7
    assert out[2]["n_tokens"] == 2 and out[2]["familiarity_sum"] == 4


def test_chunk_overlap_covers_all_tokens(spark):
    # 7 tokens, chunk 3 / stride 2 -> starts 0,2,4,6; last chunk short
    docs = spark.createDataFrame([(1, "a b c d e f g")],
                                 "doc_id long, text string")
    rows = sorted(TX.chunk_overlap(docs, chunk_tokens=3, stride=2).collect(),
                  key=lambda r: r["chunk_idx"])
    assert [r["chunk_start"] for r in rows] == [0, 2, 4, 6]
    assert [r["chunk_text"] for r in rows] == ["a b c", "c d e", "e f g", "g"]
    assert rows[0]["n_chunk_tokens"] == 3 and rows[-1]["n_chunk_tokens"] == 1
    # every token appears in at least one chunk
    covered = set()
    for r in rows:
        covered.update(r["chunk_text"].split())
    assert covered == set("abcdefg")


def test_chunk_overlap_rejects_bad_params(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        TX.chunk_overlap(docs, chunk_tokens=4, stride=0)


def test_boilerplate_ngrams_counts_distinct_docs(spark):
    boiler = "one two three four"
    docs = _docs(spark, [f"{boiler} x y", f"p q {boiler}",
                         f"{boiler} {boiler}", "unrelated words here now"])
    out = {r["ngram"]: (r["n_docs"], r["n_occurrences"])
           for r in TX.boilerplate_ngrams(docs, n=4, min_docs=3).collect()}
    # the 4-gram "one two three four" is in docs 0,1,2 (twice in doc 2...
    # but "four one" bridges the repeat, so occurrences: doc0=1, doc1=1,
    # doc2=2 -> 4 total); no other 4-gram reaches 3 distinct docs
    assert out[boiler] == (3, 4)
    assert all(ng == boiler for ng in out)


def test_edit_distance_pairs_blocked(spark):
    docs = spark.createDataFrame(
        [(1, "en", "the quick brown fox jumps"),
         (2, "en", "the quick brown fox jumped"),   # dist 2 from doc 1
         (3, "en", "completely different text xxx"),
         (4, "es", "the quick brown fox jumps")],   # same text, other block
        "doc_id long, lang string, text string")
    out = {(r["id_a"], r["id_b"]): r["edit_dist"]
           for r in D.edit_distance_pairs(docs, max_dist=5, prefix_chars=80,
                                          block_width=1000).collect()}
    assert out == {(1, 2): 2}   # doc 4 blocked away by lang; doc 3 too far


def test_edit_distance_pairs_threshold_drops_minus_one(spark):
    # distance above max_dist must yield NO row (Spark returns -1 there)
    docs = spark.createDataFrame(
        [(1, "en", "aaaaaaaaaa"), (2, "en", "bbbbbbbbbb")],
        "doc_id long, lang string, text string")
    assert D.edit_distance_pairs(docs, max_dist=3, prefix_chars=80,
                                 block_width=1000).count() == 0


def test_streaming_enriched_tiers_equals_batch(spark, sf_dir):
    from olap_xtrctr_spark.session import events_schema
    got = {r["tier"]: (r["n_events"], round(r["sum_value"], 4))
           for r in EV.replay_enriched_tiers(
               spark, sf_dir, events_schema(spark, sf_dir)).collect()}
    ev = load_events(spark, sf_dir)
    tiers = spark.createDataFrame(list(EV.VALUE_TIERS),
                                  "tier string, lo double, hi double")
    want = {r["tier"]: (r["n_events"], round(r["sum_value"], 4))
            for r in ev.join(F.broadcast(tiers),
                             (F.col("value") >= F.col("lo"))
                             & (F.col("value") < F.col("hi")))
            .groupBy("tier")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,4)"))
                  .cast("double").alias("sum_value")).collect()}
    assert got == want


def test_event_type_sequences_counts(spark):
    import datetime as dt
    rows = []
    # user 1: a b a b a  -> trigrams: "a b a","b a b","a b a"
    for i, t in enumerate("a b a b a".split()):
        rows.append((i, dt.datetime(2025, 1, 1, 0, i), 1, t, 0.0, "{}"))
    # user 2: a b a      -> "a b a"
    for i, t in enumerate("a b a".split()):
        rows.append((10 + i, dt.datetime(2025, 1, 1, 1, i), 2, t, 0.0, "{}"))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    out = {r["seq"]: (r["rank"], r["n_occurrences"])
           for r in EV.event_type_sequences(ev, n=3, k=10).collect()}
    assert out == {"a > b > a": (1, 3), "b > a > b": (2, 1)}


def test_event_type_sequences_no_cross_user_windows(spark):
    import datetime as dt
    # 2 users with 2 events each: no trigram may span users
    rows = [(i, dt.datetime(2025, 1, 1, 0, i), i // 2, "x", 0.0, "{}")
            for i in range(4)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    assert EV.event_type_sequences(ev, n=3).count() == 0


def test_approx_quantiles_near_exact(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    approx = {r["event_type"]: (r["q50"], r["q90"], r["q99"])
              for r in ev.groupBy("event_type")
              .agg(F.percentile_approx("value", [0.5, 0.9, 0.99], 10_000)
                    .alias("q")).select(
                  "event_type", F.col("q")[0].alias("q50"),
                  F.col("q")[1].alias("q90"),
                  F.col("q")[2].alias("q99")).collect()}
    # GK sketch contract is RANK error (<= 1/accuracy), and
    # percentile_approx returns a realized data value while exact
    # percentile interpolates — so bound each estimate by the exact
    # quantiles half a percentile-point either side, not by value delta
    qs = [0.5, 0.9, 0.99]
    bounds_expr = "percentile(value, array({}))".format(
        ", ".join(f"{max(p - 0.005, 0.0)}, {min(p + 0.005, 1.0)}"
                  for p in qs))
    bounds = {r["event_type"]: r["b"]
              for r in ev.groupBy("event_type")
              .agg(F.expr(bounds_expr).alias("b")).collect()}
    assert approx.keys() == bounds.keys()
    for et, vals in approx.items():
        for i, a in enumerate(vals):
            lo, hi = bounds[et][2 * i], bounds[et][2 * i + 1]
            assert lo - 1e-9 <= a <= hi + 1e-9, (et, qs[i], a, lo, hi)


def test_edit_distance_pairs_block_size_guard(spark):
    # 4 identical en docs (block of 4) + 2 en docs in another len bucket;
    # cap 3 drops the oversized block entirely, keeps the small one
    docs = spark.createDataFrame(
        [(i, "en", "same exact text here okay") for i in range(4)]
        + [(10, "en", "tiny a"), (11, "en", "tiny b")],
        "doc_id long, lang string, text string")
    no_cap = D.edit_distance_pairs(docs, max_dist=10, prefix_chars=80,
                                   block_width=10)
    assert no_cap.count() == 6 + 1          # C(4,2) + the tiny pair
    capped = D.edit_distance_pairs(docs, max_dist=10, prefix_chars=80,
                                   block_width=10, max_block_size=3)
    assert {(r["id_a"], r["id_b"]) for r in capped.collect()} == {(10, 11)}


def test_prepare_chunks_dedups_then_chunks(spark):
    from olap_xtrctr_spark.operators.pipeline import prepare_chunks
    good = "the cat and the dog of the house is in the garden and the yard"
    docs = spark.createDataFrame(
        [(1, good, "s1"), (2, good, "s2"),       # exact dup: keep id 1
         (3, "x", "s1")],                        # fails the quality gate
        "doc_id long, text string, source string")
    rows = prepare_chunks(docs, min_quality=0.5, chunk_tokens=8,
                          stride=6).collect()
    assert {r["doc_id"] for r in rows} == {1}
    assert all(r["source"] == "s1" for r in rows)   # keep_cols carried
    assert sorted(r["chunk_start"] for r in rows) == [0, 6, 12]


def test_user_activity_deciles_value_based(spark):
    import datetime as dt
    # 10 users: counts 1..10, one user each -> each value its own decile
    rows = []
    eid = 0
    for u in range(1, 11):
        for j in range(u):
            rows.append((eid, dt.datetime(2025, 1, 1, 0, 0), u, "x",
                         0.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    out = {r["decile"]: r for r in
           EV.user_activity_deciles(ev).collect()}
    assert set(out) == set(range(1, 11))
    # decile 1 = most active (count 10), decile 10 = least (count 1)
    assert out[1]["min_events"] == 10 and out[10]["max_events"] == 1
    assert all(out[d]["n_users"] == 1 for d in out)


def test_user_activity_deciles_ties_share_decile(spark):
    import datetime as dt
    # 4 users with identical counts -> all in ONE decile (value-based)
    rows = [(i, dt.datetime(2025, 1, 1), i % 4, "x", 0.0, "{}")
            for i in range(8)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    out = EV.user_activity_deciles(ev).collect()
    assert len(out) == 1
    assert out[0]["decile"] == 10 and out[0]["n_users"] == 4


def test_foreachbatch_parquet_sink_equals_batch(spark, sf_dir, tmp_path):
    from olap_xtrctr_spark.session import events_schema, load_events
    out = EV.replay_rollup_to_parquet(
        spark, sf_dir, events_schema(spark, sf_dir), str(tmp_path / "sink"))
    got = {(str(r["hour"]), r["event_type"]): (r["n_events"],
                                               round(r["sum_value"], 4))
           for r in out.collect()}
    want = {(str(r["hour"]), r["event_type"]): (r["n_events"],
                                                round(r["sum_value"], 4))
            for r in EV.hourly_rollup(load_events(spark, sf_dir)).collect()}
    assert got == want


def test_merge_rollup_equals_single_pass(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    full = {(str(r["hour"]), r["event_type"]): (r["n_events"],
                                                r["sum_value"])
            for r in EV.hourly_rollup(ev).collect()}
    halves = [EV.hourly_rollup(ev.filter(F.col("event_id") % 2 == i))
              for i in (0, 1)]
    merged = {(str(r["hour"]), r["event_type"]): (r["n_events"],
                                                  r["sum_value"])
              for r in EV.merge_rollup(*halves).collect()}
    assert merged == full     # bit-for-bit, incl. the decimal-sum path


def test_chunk_overlap_matches_python_reference_randomized(spark):
    """Randomized cross-check: chunk bounds/text from the Spark operator
    must equal a direct Python re-implementation for arbitrary doc
    lengths, chunk sizes and strides (including stride > chunk: gaps
    are allowed; starts always step by stride from 0)."""
    import random
    rng = random.Random(7)
    for trial in range(3):
        chunk = rng.randrange(1, 9)
        stride = rng.randrange(1, 9)
        docs = [(i, " ".join(f"t{i}_{j}"
                             for j in range(rng.randrange(1, 30))))
                for i in range(25)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {(r["doc_id"], r["chunk_idx"]):
               (r["chunk_start"], r["n_chunk_tokens"], r["chunk_text"])
               for r in TX.chunk_overlap(df, chunk_tokens=chunk,
                                         stride=stride).collect()}
        want = {}
        for i, text in docs:
            toks = text.split()
            for idx, start in enumerate(range(0, len(toks), stride)):
                sl = toks[start:start + chunk]
                want[(i, idx)] = (start, len(sl), " ".join(sl))
        assert got == want, (trial, chunk, stride)


def test_event_type_sequences_matches_python_reference_randomized(spark):
    import datetime as dt
    import random
    from collections import Counter
    rng = random.Random(11)
    types = ["a", "b", "c"]
    rows = []
    for eid in range(300):
        rows.append((eid,
                     dt.datetime(2025, 1, 1) + dt.timedelta(
                         seconds=rng.randrange(0, 5000)),
                     rng.randrange(0, 12),
                     rng.choice(types), 0.0, "{}"))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    got = {(r["rank"], r["seq"], r["n_occurrences"])
           for r in EV.event_type_sequences(ev, n=3, k=50).collect()}
    per_user = {}
    for eid, ts, uid, et, _v, _p in rows:
        per_user.setdefault(uid, []).append((ts, eid, et))
    counts = Counter()
    for seq in per_user.values():
        seq.sort()
        ets = [et for _ts, _eid, et in seq]
        for i in range(len(ets) - 2):
            counts[" > ".join(ets[i:i + 3])] += 1
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    want = {(i + 1, s, n) for i, (s, n) in enumerate(ordered)}
    assert got == want


def test_boilerplate_filter_drops_template_pages(spark):
    tmpl = "one two three four"
    docs = spark.createDataFrame(
        [(1, f"{tmpl} unique1 a b c d e", "en", "s", 1),
         (2, f"{tmpl} unique2 f g h i j", "en", "s", 1),
         (3, f"{tmpl} {tmpl}", "en", "s", 1),       # mostly boilerplate
         (4, "totally fresh words here now ok", "en", "s", 1),
         (5, "short", "en", "s", 1)],               # no 4-grams: kept
        "doc_id long, text string, lang string, source string, n_chars long")
    kept = {r["doc_id"] for r in TX.boilerplate_filter(
        docs, n=4, min_docs=3, max_frac=0.34).collect()}
    # docs 1/2: 1 boiler 4-gram of 6 (17%) -> kept; doc 3: 4-gram count 5,
    # grams "one two three four" (x2), "two three four one",
    # "three four one two", "four one two three" — only the tmpl gram is
    # shared by >=3 docs -> 2/5 = 40% > 34% -> dropped
    assert kept == {1, 2, 4, 5}


def test_observe_dropped_logs_via_public_api(spark, caplog):
    """The no-silent-caps observer must fire through the public
    Observation.get (no private pyspark attributes) once the caller
    materializes the observed DataFrame."""
    import logging
    import time

    from pyspark.sql import functions as F

    from olap_xtrctr_spark.operators import dedup as D

    df = spark.range(100)
    cond = F.col("id") < 30
    with caplog.at_level(logging.WARNING,
                         logger="olap_xtrctr_spark.operators.dedup"):
        out = D._observe_dropped(df, cond, "dropped %d rows in test")
        assert out.filter(~cond).count() == 70   # caller applies the filter
        for _ in range(40):                      # observer thread is async
            if any("dropped 30 rows" in r.getMessage()
                   for r in caplog.records):
                break
            time.sleep(0.25)
    messages = [r.getMessage() for r in caplog.records]
    assert any("dropped 30 rows" in m for m in messages), messages


def test_replay_rollup_refuses_reused_out_dir(spark, sf_dir, tmp_path):
    """A reused sink dir would let a previous run's higher batch_id
    directory win the max(batch_id) read-back (stale rollup data)."""
    import os

    import pytest

    from olap_xtrctr_spark.session import events_schema

    sink = tmp_path / "sink"
    os.makedirs(sink / "batch_id=7")
    with pytest.raises(ValueError, match="previous replay"):
        EV.replay_rollup_to_parquet(
            spark, sf_dir, events_schema(spark, sf_dir), str(sink))


def test_cross_source_duplication(spark):
    rows = [Row(doc_id=0, source="web", text="Hello,  World!"),
            Row(doc_id=1, source="books", text="hello world"),   # same skeleton
            Row(doc_id=2, source="web", text="unique web text"),
            Row(doc_id=3, source="books", text="unique book text")]
    out = {r["source"]: (r["n_docs"], r["n_cross_dup"])
           for r in D.cross_source_duplication(
               spark.createDataFrame(rows)).collect()}
    assert out == {"web": (2, 1), "books": (2, 1)}


def test_lexical_diversity_orders_boilerplate_below_prose(spark):
    boiler = Row(doc_id=0, source="boiler",
                 text="click here click here click here click here")
    prose = Row(doc_id=1, source="prose",
                text="every word in this sentence differs from all others")
    out = {r["source"]: r for r in TX.lexical_diversity(
        spark.createDataFrame([boiler, prose])).collect()}
    assert out["boiler"]["n_types"] == 2 and out["boiler"]["n_tokens"] == 8
    assert out["prose"]["ttr_milli"] == 1000        # all types distinct
    assert out["boiler"]["ttr_milli"] == 250        # 2*1000 DIV 8


def test_hourly_rollup_gapfilled_modes(spark):
    rows = [Row(event_id=i, user_id=1, ts=ts, event_type="x", value=2.0,
                props="{}")
            for i, ts in enumerate(["2024-01-01 00:15:00",
                                    "2024-01-01 00:45:00",
                                    "2024-01-01 03:10:00"])]   # 01/02 absent
    df = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    zero = {str(r["hour"]): (r["n_events"], r["sum_value"])
            for r in EV.hourly_rollup_gapfilled(df).collect()}
    assert len(zero) == 4                        # 00..03 complete
    assert zero["2024-01-01 01:00:00"] == (0, 0.0)
    assert zero["2024-01-01 00:00:00"] == (2, 4.0)
    ff = {str(r["hour"]): (r["n_observed"], r["n_events"], r["sum_value"])
          for r in EV.hourly_rollup_gapfilled(df, fill="ffill").collect()}
    assert ff["2024-01-01 01:00:00"] == (0, 2, 4.0)   # carried forward
    assert ff["2024-01-01 03:00:00"] == (1, 1, 2.0)
    import pytest
    with pytest.raises(ValueError, match="fill"):
        EV.hourly_rollup_gapfilled(df, fill="nope")


def test_user_state_history_runs(spark):
    rows = [Row(event_id=i, user_id=1, ts=f"2024-01-01 00:0{i}:00",
                event_type=t, value=1.0, props="{}")
            for i, t in enumerate(["view", "view", "click", "view"])]
    df = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    hist = sorted(EV.user_state_history(df).collect(),
                  key=lambda r: r["run_id"])
    assert [(r["state"], r["n_events"]) for r in hist] == \
        [("view", 2), ("click", 1), ("view", 1)]
    assert str(hist[0]["valid_from"]) == "2024-01-01 00:00:00"
    assert str(hist[0]["valid_to"]) == "2024-01-01 00:01:00"


def test_winnow_guarantee_shared_run_shares_fp(spark):
    # shared token run of length >= w + k - 1 = 8 must share a fingerprint
    shared = "uno dos tres cuatro cinco seis siete ocho"
    df = _docs(spark, [f"alpha beta {shared} gamma delta",
                       f"zz yy xx ww {shared} vv uu",
                       "completely different tokens everywhere nothing "
                       "matches at all ever once"])
    fps = D.winnow_fingerprints(df, k=4, w=5)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[0] & by_doc[1], "shared 8-token run must share a fp"
    assert not (by_doc[0] & by_doc[2]) and not (by_doc[1] & by_doc[2])


def test_winnow_short_doc_edges(spark):
    # < k tokens -> no fingerprints; k..w+k-2 tokens -> exactly one
    # whole-doc window (min over all gram hashes)
    df = _docs(spark, ["a b c",                # 3 toks < k=4 -> none
                       "a b c d e",            # 2 grams < w=5 -> 1 fp
                       "a b c d e f g h i j"]) # 7 grams -> 3 windows
    rows = D.winnow_fingerprints(df, k=4, w=5).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert 0 not in by_doc
    assert len(by_doc[1]) == 1
    assert 1 <= len(by_doc[2]) <= 3


def test_winnow_dup_pairs_containment(spark):
    # doc 1 is doc 0's text embedded in noise: every fp of the smaller
    # doc should be shared -> containment_milli == 1000
    base = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    df = _docs(spark, [base,
                       f"pre1 pre2 pre3 {base} post1 post2 post3",
                       "other words entirely unrelated to those runs ok"])
    out = D.winnow_dup_pairs(df, k=4, w=5, min_shared=1).collect()
    pairs = {(r["id_a"], r["id_b"]): r for r in out}
    assert (0, 1) in pairs
    assert pairs[(0, 1)]["containment_milli"] == 1000
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_winnow_max_doc_freq_drops_hot_fps(spark):
    df = _docs(spark, ["a b c d e f g h"] * 4)
    uncapped = D.winnow_dup_pairs(df, k=4, w=5, min_shared=1)
    capped = D.winnow_dup_pairs(df, k=4, w=5, min_shared=1, max_doc_freq=2)
    assert uncapped.count() == 6    # all C(4,2) pairs
    assert capped.count() == 0      # every fp appears in 4 docs > 2


def _src_docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, s) for i, (t, s) in enumerate(rows)],
        "doc_id int, text string, source string")


def test_source_tv_distance_exact(spark):
    # s1 = (3/4 a, 1/4 b), s2 mirror; corpus = (1/2, 1/2) -> TV = 1/4
    df = _src_docs(spark, [("a a a b", "s1"), ("b b b a", "s2")])
    out = {r["source"]: (r["n_tokens"], r["tv_milli"])
           for r in TX.source_tv_distance(df).collect()}
    assert out == {"s1": (4, 250), "s2": (4, 250)}


def test_source_tv_distance_absent_token_mass(spark):
    # s2 never uses 'a': its missing-mass term is exercised
    # s1 = (a:2, b:2), s2 = (b:4); corpus = (a:2, b:6), T=8
    # TV(s2) = 1/2(|0-1/4| + |1-3/4|) = 1/4 -> 250
    # TV(s1) = 1/2(|1/2-1/4| + |1/2-3/4|) = 1/4 -> 250
    df = _src_docs(spark, [("a a b b", "s1"), ("b b b b", "s2")])
    out = {r["source"]: r["tv_milli"]
           for r in TX.source_tv_distance(df).collect()}
    assert out == {"s1": 250, "s2": 250}


def test_distinctive_terms_lift_and_rank(spark):
    df = _src_docs(spark, [("a a a b", "s1"), ("b b b a", "s2")])
    rows = TX.distinctive_terms(df, min_count=1, top_n=2).collect()
    by = {(r["source"], r["rn"]): (r["token"], r["lift_ppm"])
          for r in rows}
    # lift(a|s1) = 3/4 over 1/2 = 1.5x corpus-average
    assert by[("s1", 1)] == ("a", 1_500_000)
    assert by[("s1", 2)] == ("b", 500_000)
    assert by[("s2", 1)] == ("b", 1_500_000)


def test_snapshot_diff_statuses(spark):
    from olap_xtrctr_spark.operators.diff import (snapshot_diff,
                                                  snapshot_diff_summary)
    old = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2), (3, "c", 3)],
        "id int, text string, v int")
    new = spark.createDataFrame(
        [(2, "b", 2), (3, "CHANGED", 3), (4, "d", 4)],
        "id int, text string, v int")
    rows = {r["id"]: r["status"]
            for r in snapshot_diff(old, new, ["id"]).collect()}
    assert rows == {1: "removed", 2: "unchanged", 3: "changed",
                    4: "added"}
    summ = {r["status"]: r["n_rows"]
            for r in snapshot_diff_summary(old, new, ["id"]).collect()}
    assert summ == {"removed": 1, "unchanged": 1, "changed": 1,
                    "added": 1}


def test_snapshot_diff_duplicate_keys_multiset(spark):
    # Duplicate keys must NOT fan out through the full-outer join
    # (ADVICE r5): each key collapses to one row, compared as a
    # multiset of row fingerprints.
    from olap_xtrctr_spark.operators.diff import (snapshot_diff,
                                                  snapshot_diff_summary)
    old = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "x"), (3, "s")],
        "id int, text string")
    new = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "x"), (2, "x"), (3, "s")],
        "id int, text string")
    rows = {r["id"]: r["status"]
            for r in snapshot_diff(old, new, ["id"]).collect()}
    # key 1: same multiset -> unchanged; key 2: {x} vs {x,x} -> changed
    assert rows == {1: "unchanged", 2: "changed", 3: "unchanged"}
    # exactly one output row per key -> summary counts keys, not the
    # cartesian fan-out
    summ = {r["status"]: r["n_rows"]
            for r in snapshot_diff_summary(old, new, ["id"]).collect()}
    assert summ == {"unchanged": 2, "changed": 1}


def test_winnow_match_spans_clamped_to_doc_extent(spark):
    # A doc with fewer than w grams has one truncated window; span_end
    # must clamp to its last real token index (ADVICE r5), not assume a
    # full w-gram window.
    base = "uno dos tres cuatro cinco"      # 5 toks, 2 grams (k=4) < w=5
    df = _docs(spark, [base,
                       f"{base} seis siete ocho nueve diez once doce"])
    rows = D.winnow_match_spans(df, k=4, w=5, min_shared=1).collect()
    spans = {(r["doc_id"], r["other_id"]): r for r in rows}
    assert (0, 1) in spans
    r = spans[(0, 1)]
    # doc 0 has 5 tokens -> last token index 4; unclamped would be
    # 0 + w + k - 2 = 7
    assert r["span_start"] == 0 and r["span_end"] == 4


def test_snapshot_diff_null_vs_empty_and_missing_col(spark):
    import pytest

    from olap_xtrctr_spark.operators.diff import snapshot_diff
    old = spark.createDataFrame([(1, None)], "id int, text string")
    new = spark.createDataFrame([(1, "")], "id int, text string")
    # NULL -> "" must register as changed, not unchanged
    assert snapshot_diff(old, new, ["id"]).collect()[0]["status"] == \
        "changed"
    with pytest.raises(ValueError, match="not present"):
        snapshot_diff(old, new.withColumnRenamed("text", "t2"), ["id"],
                      compare_cols=["text"])


def test_winnow_dup_extent_full_vs_none(spark):
    # doc 0 and 1 identical -> every window shared (milli=1000);
    # doc 2 unrelated -> zero shared; within-doc repeats alone (doc 3
    # repeats its own phrase, no other doc has it) stay unshared
    base = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    df = _docs(spark, [base, base,
                       "other words entirely unrelated to those runs ok",
                       "rep one two three four rep one two three four"])
    out = {r["doc_id"]: (r["n_shared_windows"], r["shared_milli"])
           for r in D.winnow_dup_extent(df, k=4, w=5).collect()}
    assert out[0][1] == 1000 and out[1][1] == 1000
    assert out[2] == (0, 0)
    assert out[3] == (0, 0)


def test_categorical_tv_distance_mirror_groups(spark):
    from olap_xtrctr_spark.operators.diff import categorical_tv_distance
    df = spark.createDataFrame(
        [("g1", "a"), ("g1", "a"), ("g1", "a"), ("g1", "b"),
         ("g2", "b"), ("g2", "b"), ("g2", "b"), ("g2", "a")],
        "grp string, cat string")
    out = {r["grp"]: (r["n_rows"], r["tv_milli"])
           for r in categorical_tv_distance(df, "grp", "cat").collect()}
    # each group is (3/4, 1/4) vs global (1/2, 1/2) -> TV = 1/4
    assert out == {"g1": (4, 250), "g2": (4, 250)}


def test_categorical_tv_distance_missing_category(spark):
    from olap_xtrctr_spark.operators.diff import categorical_tv_distance
    df = spark.createDataFrame(
        [("g1", "a"), ("g1", "b"), ("g2", "b"), ("g2", "b")],
        "grp string, cat string")
    # g2 never emits 'a': global (1/4, 3/4); g2 = (0, 1) -> TV = 1/4
    out = {r["grp"]: r["tv_milli"]
           for r in categorical_tv_distance(df, "grp", "cat").collect()}
    assert out == {"g1": 250, "g2": 250}


def test_winnow_guarantee_randomized_corpus(spark):
    """Winnowing contract over a seeded random corpus: every planted
    shared run of length w+k-1 yields a shared fingerprint, and pairs
    with no common k-gram share none (60-bit hash collisions aside)."""
    import random

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(50)]
    rows, expect_share = [], set()
    did = 0
    for pair in range(10):
        run = [rng.choice(vocab) for _ in range(8)]   # w + k - 1 = 8
        for _ in range(2):
            noise_a = [rng.choice(vocab) for _ in range(rng.randint(0, 6))]
            noise_b = [rng.choice(vocab) for _ in range(rng.randint(0, 6))]
            rows.append((did, " ".join(noise_a + run + noise_b)))
            did += 1
        expect_share.add((did - 2, did - 1))
    # disjoint-vocab docs: can share nothing with anyone
    for _ in range(4):
        rows.append((did, " ".join(
            f"x{rng.randint(100, 200)}" for _ in range(12))))
        did += 1
    df = spark.createDataFrame(rows, "doc_id int, text string")
    by_doc = {}
    for r in D.winnow_fingerprints(df, k=4, w=5).collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    for a, b in expect_share:
        assert by_doc[a] & by_doc[b], (a, b)
    # the disjoint-vocab docs must not collide with the paired block
    paired = set().union(*(by_doc[i] for i in range(20)))
    for i in range(20, 24):
        grams_i = by_doc.get(i, set())
        assert not (grams_i & paired), i


def test_winnow_match_spans_localizes_two_copies(spark):
    base = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    fill1 = " ".join(f"f{i}" for i in range(12))
    fill2 = " ".join(f"g{i}" for i in range(12))
    df = _docs(spark, [base,
                       f"{fill1} {base} {fill2} {base} tail1 tail2"])
    out = D.winnow_match_spans(df, k=4, w=5, min_shared=1)
    by_dir = {}
    for r in out.collect():
        by_dir.setdefault((r["doc_id"], r["other_id"]), []).append(
            (r["span_start"], r["span_end"], r["n_windows"]))
    # doc 0 is one solid match: a single span covering the whole doc
    assert len(by_dir[(0, 1)]) == 1
    s0 = by_dir[(0, 1)][0]
    assert s0[0] == 0 and s0[1] == 9
    # doc 1 embeds the run twice, separated by > w windows: two spans
    spans1 = sorted(by_dir[(1, 0)])
    assert len(spans1) == 2
    assert spans1[0][0] >= 10 and spans1[1][0] >= 30
    # spans stay inside the document (46 tokens -> last index 45)
    assert all(e <= 45 for _s, e, _n in spans1)


def test_normalize_unicode_forms_and_identity(spark):
    import pytest
    df = spark.createDataFrame(
        [(0, "café"),        # e + combining acute -> precomposed
         (1, "ﬁle"),          # fi ligature (NFKC-only fold)
         (2, "plain ascii"),
         (3, None)],
        "doc_id int, text string")
    nfc = {r["doc_id"]: r["text_norm"]
           for r in TX.normalize_unicode(df).collect()}
    assert nfc[0] == "caf\u00e9" and len(nfc[0]) == 4
    assert nfc[1] == "ﬁle"          # NFC keeps the ligature
    assert nfc[2] == "plain ascii"       # idempotent on ASCII
    assert nfc[3] is None
    nfkc = {r["doc_id"]: r["text_norm"]
            for r in TX.normalize_unicode(df, form="NFKC").collect()}
    assert nfkc[1] == "file"             # NFKC folds it
    with pytest.raises(ValueError, match="unknown normalization"):
        TX.normalize_unicode(df, form="NFX")


def test_ohlc_hourly_deterministic_open_close(spark):
    from olap_xtrctr_spark.streaming.events import ohlc_hourly
    rows = [
        # same hour, type A: ties on ts broken by event_id
        (1, "2024-01-01 10:00:05", "A", 5.0),
        (2, "2024-01-01 10:00:05", "A", 3.0),   # same ts, higher id
        (3, "2024-01-01 10:30:00", "A", 9.0),
        (4, "2024-01-01 10:45:00", "A", 1.0),
        # hour 11, type A: single event
        (5, "2024-01-01 11:00:00", "A", 7.0),
    ]
    df = spark.createDataFrame(rows,
                               "event_id long, ts string, event_type "
                               "string, value double") \
              .withColumn("ts", F.to_timestamp("ts"))
    out = {str(r["hour"]): r for r in ohlc_hourly(df).collect()}
    h10 = out["2024-01-01 10:00:00"]
    assert h10["open"] == 5.0      # id 1 wins the ts tie
    assert h10["close"] == 1.0
    assert h10["low"] == 1.0 and h10["high"] == 9.0
    assert h10["n_events"] == 4
    h11 = out["2024-01-01 11:00:00"]
    assert (h11["open"], h11["close"]) == (7.0, 7.0)


def test_streaming_ohlc_replay_equals_batch(spark, sf_dir):
    from olap_xtrctr_spark.session import load_events
    from olap_xtrctr_spark.streaming.events import (ohlc_hourly,
                                                    replay_ohlc_hourly)
    batch = {(str(r["hour"]), r["event_type"]):
             (r["open"], r["close"], r["low"], r["high"], r["n_events"])
             for r in ohlc_hourly(load_events(spark, sf_dir)).collect()}
    schema = load_events(spark, sf_dir).schema
    stream = {(str(r["hour"]), r["event_type"]):
              (r["open"], r["close"], r["low"], r["high"], r["n_events"])
              for r in replay_ohlc_hourly(spark, sf_dir, schema).collect()}
    assert batch == stream and len(batch) > 0


def test_bm25_ranks_relevance_and_respects_length_norm(spark):
    from olap_xtrctr_spark.operators import text as TX
    df = spark.createDataFrame([
        Row(doc_id=0, text="hash join hash join hash"),
        Row(doc_id=1, text="hash table scan"),
        Row(doc_id=2, text="sort merge only here"),
        Row(doc_id=3, text="hash " + "filler " * 50),
    ])
    out = TX.bm25_topk(df, ["hash", "join"], k=10).collect()
    got = {r["doc_id"]: r for r in out}
    assert 2 not in got                       # no query term -> absent
    ranks = {r["doc_id"]: r["rank"] for r in out}
    assert ranks[0] == 1                      # both terms, high tf
    # same single term, but doc 3 is 17x longer -> length norm demotes
    assert got[1]["score_milli"] > got[3]["score_milli"]


def test_ngram_novelty_originator_vs_echo(spark):
    base = "uno dos tres cuatro cinco seis siete ocho"
    df = _docs(spark, [base,                          # originator
                       base,                          # exact echo
                       base + " nueve diez once doce",  # partial echo
                       "fresh totally different words here now ok"])
    out = {r["doc_id"]: r for r in D.ngram_novelty(df, n=3).collect()}
    assert out[0]["novelty_milli"] == 1000    # first owner of all
    assert out[1]["novelty_milli"] == 0       # owns nothing
    assert 0 < out[2]["novelty_milli"] < 1000
    assert out[3]["novelty_milli"] == 1000


def test_winnow_span_dedup_removes_later_copy(spark):
    base = ("uno dos tres cuatro cinco seis siete ocho nueve diez "
            "once doce trece catorce quince")
    df = _docs(spark, [base,
                       f"prefix words here {base} suffix words there",
                       "unrelated content entirely different words "
                       "and more of them to shingle with"])
    out = {r["doc_id"]: r
           for r in D.winnow_span_dedup(df, k=4, w=5,
                                        min_shared=1).collect()}
    assert len(out) == 3                       # every doc present
    assert out[0]["n_tokens_removed"] == 0     # earliest keeps text
    assert out[0]["clean_text"] == base
    assert out[1]["n_tokens_removed"] > 0      # later copy loses span
    assert "cinco seis siete" not in out[1]["clean_text"]
    # span bounds have window resolution (docstring caveat): the
    # neighbors of the duplicated run may be swept in, but the clean
    # text must keep the far prefix/suffix context
    assert out[1]["clean_text"].startswith("prefix")
    assert out[1]["clean_text"].endswith("words there")
    assert out[2]["n_tokens_removed"] == 0
    # exact whole-doc duplicate of doc 0 stays present, emptied
    df2 = _docs(spark, [base, base])
    out2 = {r["doc_id"]: r
            for r in D.winnow_span_dedup(df2, k=4, w=5,
                                         min_shared=1).collect()}
    assert out2[0]["clean_text"] == base
    assert out2[1]["n_tokens"] == 0 and out2[1]["clean_text"] == ""


def test_build_vocab_ids_and_floors(spark):
    df = _docs(spark, ["aa bb aa cc", "aa bb dd", "aa ee"])
    rows = {r["token"]: (r["token_id"], r["n"])
            for r in TX.build_vocab(df, max_size=2,
                                    min_count=2).collect()}
    # aa:4, bb:2 survive min_count=2 and the size cap; cc/dd/ee out
    assert rows == {"aa": (0, 4), "bb": (1, 2)}


def test_quality_threshold_sweep_monotone_and_totals(spark):
    df = _docs(spark, ["a " * 50, "b! ! ! !", "the of to in is and " * 10,
                       "zz"])
    rows = sorted(TX.quality_threshold_sweep(df).collect(),
                  key=lambda r: -r["threshold_milli"])
    # kept counts are monotone non-decreasing as the threshold drops,
    # and the loosest threshold keeps everything
    kd = [r["kept_docs"] for r in rows]
    assert kd == sorted(kd)
    assert rows[-1]["kept_docs"] == 4
    assert rows[-1]["kept_docs_milli"] == 1000
    assert rows[-1]["kept_tokens_milli"] == 1000


def test_dedup_impact_report_counts(spark):
    df = spark.createDataFrame(
        [(0, "one two three", "a"), (1, "one two three", "a"),
         (2, "four five", "a"), (3, "one two three", "b")],
        "doc_id long, text string, source string")
    rows = {r["source"]: r
            for r in D.dedup_impact_report(df).collect()}
    a, b = rows["a"], rows["b"]
    # source a: 3 docs, dup pair keeps min id -> 2 kept; tokens 8 -> 5
    assert (a["n_docs"], a["n_docs_kept"]) == (3, 2)
    assert (a["n_tokens"], a["n_tokens_kept"]) == (8, 5)
    assert a["tokens_kept_milli"] == 625
    # source b's only doc duplicates a's id-0 text -> dropped entirely
    assert (b["n_docs"], b["n_docs_kept"]) == (1, 0)
    assert b["docs_kept_milli"] == 0


def test_lang_id_ngram_beats_stopwords_on_stripped_text(spark):
    """The trigram voter's reason to exist: word-boundary stopwords
    never match in punctuation-stripped/agglutinated text, trigram
    substrings still do."""
    df = spark.createDataFrame(
        [(0, "theunitedkingdomandthecommonwealthofnations", "en"),
         (1, "la casa de la gente que vive en el campo", "es")],
        "doc_id long, text string, lang string")
    tri = {r["doc_id"]: r["lang_guess"]
           for r in TX.lang_id_ngram(df).collect()}
    assert tri[0] == "en" and tri[1] == "es"
    stop = {r["doc_id"]: r["lang_guess"]
            for r in TX.lang_id(df).collect()}
    assert stop[0] == "und"     # the stopword voter is blind here


def test_quality_classifier_report_and_gate(spark, monkeypatch):
    """Round-7 classifier filter: the report separates held-out weak
    labels (AUC gate passes, deciles' heuristic means rise with the
    classifier score), and the gate FAILS LOUDLY when the labels carry
    no signal (the negative path that keeps a rows-only entry honest)."""
    from olap_xtrctr_spark.operators import classifier as C
    from olap_xtrctr_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    rep = C.classifier_quality_report(docs).collect()
    by_decile = {r["decile"]: r for r in rep}
    assert all(r["holdout_auc_milli"] >= 750 for r in rep)
    lo, hi = min(by_decile), max(by_decile)
    assert by_decile[hi]["avg_heuristic"] >= by_decile[lo]["avg_heuristic"]
    assert sum(r["n_docs"] for r in rep) == docs.count()

    # negative path: random labels -> no separation -> gate raises
    real = C.weak_quality_labels

    def noise_labels(d, text_col="text", **kw):
        lab = real(d, text_col, **kw)
        return lab.withColumn(
            "label", (F.pmod(F.xxhash64("doc_id", F.lit("noise")), 2))
            .cast("double"))

    monkeypatch.setattr(C, "weak_quality_labels", noise_labels)
    with pytest.raises(RuntimeError, match="holdout AUC"):
        C.classifier_quality_report(docs)


def test_train_quality_classifier_sample_cap(spark):
    """The trainer's max_train_rows cap is a deterministic hash sample
    and is LOGGED (no silent caps)."""
    import logging

    from olap_xtrctr_spark.operators import classifier as C
    from olap_xtrctr_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    labeled = C.weak_quality_labels(docs)
    records = []

    class Cap(logging.Handler):
        def emit(self, r):
            records.append(r.getMessage())

    logging.getLogger("olap_xtrctr_spark.operators.classifier") \
        .addHandler(h := Cap())
    try:
        model = C.train_quality_classifier(labeled, max_train_rows=50)
    finally:
        logging.getLogger("olap_xtrctr_spark.operators.classifier") \
            .removeHandler(h)
    assert any("sampled training set" in m for m in records)
    # the capped model still scores the full corpus
    assert C.score_quality_classifier(docs, model).count() == docs.count()


def test_cluster_balanced_sample_contract(spark):
    """Structural contract: <=k per cell, deterministic across runs,
    small cells returned whole, and a head-heavy corpus cannot crowd
    out the tail (each cell keeps its own quota)."""
    from olap_xtrctr_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = S.cluster_balanced_sample(emb, k_per_cluster=10, n_clusters=8)
    b = S.cluster_balanced_sample(emb, k_per_cluster=10, n_clusters=8)
    ra, rb = (sorted(map(tuple, d.collect())) for d in (a, b))
    assert ra == rb                       # deterministic end-to-end
    per_cell = {}
    for vec_id, cluster, rank in ra:
        per_cell.setdefault(cluster, []).append(rank)
    assert all(0 <= c < 8 for c in per_cell)
    for ranks in per_cell.values():
        assert max(ranks) <= 10
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    n_ids = len({t[0] for t in ra})
    assert n_ids == len(ra)               # no vector sampled twice


def test_classifier_filter_modes(spark):
    """Hard threshold vs deterministic score lottery: the lottery keeps
    MORE of the mid-mass than the same-rate cliff, both are exactly
    reproducible, and mode misuse raises."""
    from olap_xtrctr_spark.operators.classifier import classifier_filter

    scored = spark.createDataFrame(
        [(i, i / 999.0) for i in range(1000)],
        "doc_id long, quality_prob double")
    hard = classifier_filter(scored, threshold=0.8)
    assert hard.count() == sum(1 for i in range(1000) if i / 999.0 >= 0.8)
    assert hard.select("keep_reason").distinct().collect()[0][0] \
        == "threshold"
    lot1 = sorted(r.doc_id for r in
                  classifier_filter(scored, lottery_alpha=2.0).collect())
    lot2 = sorted(r.doc_id for r in
                  classifier_filter(scored, lottery_alpha=2.0).collect())
    assert lot1 == lot2                       # deterministic lottery
    # E[kept] = sum(p^2) ~ 333; loose band
    assert 230 <= len(lot1) <= 440
    # the lottery admits some sub-threshold docs a cliff at the same
    # keep-rate would drop
    cliff = {r.doc_id for r in
             scored.orderBy(F.desc("quality_prob")).limit(len(lot1))
             .collect()}
    assert any(d not in cliff for d in lot1)
    import pytest as _pt
    with _pt.raises(ValueError, match="exactly one"):
        classifier_filter(scored)
    with _pt.raises(ValueError, match="exactly one"):
        classifier_filter(scored, threshold=0.5, lottery_alpha=1.0)


def test_ngram_lm_score_hand_computed(spark):
    """Bigram LM micro-unit arithmetic on a hand-built corpus: seen
    bigrams cost ln(C(w1)+V)-ln(C12+1), unseen bigrams keep the
    context term, out-of-vocab contexts back off to ln(V), and docs
    with <2 tokens are absent."""
    import math

    from pyspark.sql import functions as FF

    docs = spark.createDataFrame(
        [(0, "a b a b", "ref"), (1, "a b", "ref"),
         (2, "a c", "raw"), (3, "z q", "raw"), (4, "solo", "raw")],
        "doc_id long, text string, source string")
    out = {r.doc_id: r for r in
           TX.ngram_lm_score(docs, reference_cond=FF.col("source")
                             == "ref").collect()}
    # reference = docs 0,1: unigrams a,b,a,b,a,b -> V=2, C(a)=3, C(b)=3
    # bigrams: "a b" x3, "b a" x1
    V, Ca, Cab, Cba = 2, 3, 3, 1
    m = lambda x: round(math.log(x) * 1e6)
    # doc 0: "a b","b a","a b" -> 2*(m(Ca+V)-m(Cab+1)) + (m(3+V)-m(Cba+1))
    exp0 = 2 * (m(Ca + V) - m(Cab + 1)) + (m(3 + V) - m(Cba + 1))
    assert (out[0].n_bigrams, out[0].nll_sum_micro) == (3, exp0)
    # doc 2: "a c" unseen bigram, known context a -> m(Ca+V) - 0
    assert (out[2].n_bigrams, out[2].nll_sum_micro) == (1, m(Ca + V))
    # doc 3: "z q" -> OOV context -> ln(V)
    assert (out[3].n_bigrams, out[3].nll_sum_micro) == (1, m(V))
    assert 4 not in out                   # single token, no bigrams
    assert out[0].mean_nll_micro == exp0 // 3


def test_auc_rank_sum_hand_computed(spark):
    """DataFrame-native Mann-Whitney AUC: exact value incl. average
    ranks for ties, and the degenerate single-class error path."""
    import pytest

    from olap_xtrctr_spark.operators.classifier import auc_rank_sum
    rows = [(0.9, 1.0), (0.8, 1.0), (0.8, 0.0), (0.3, 0.0)]
    df = spark.createDataFrame(rows, "score double, label double")
    # pairwise: 3 wins + 1 tie (0.5) over 4 pos/neg pairs = 0.875
    assert abs(auc_rank_sum(df, "label", "score") - 0.875) < 1e-12
    perfect = spark.createDataFrame(
        [(0.9, 1.0), (0.7, 1.0), (0.2, 0.0)], "score double, label double")
    assert auc_rank_sum(perfect, "label", "score") == 1.0
    inverted = spark.createDataFrame(
        [(0.1, 1.0), (0.9, 0.0)], "score double, label double")
    assert auc_rank_sum(inverted, "label", "score") == 0.0
    with pytest.raises(ValueError, match="AUC undefined"):
        auc_rank_sum(spark.createDataFrame(
            [(0.5, 1.0)], "score double, label double"), "label", "score")


def test_auc_rank_sum_survives_registered_observation(spark):
    """Regression: MLlib's RDD-based evaluator dies with
    'NotSerializableException: ObservationManager' when the shared
    session holds a registered Observation from an earlier pipeline
    (the no-silent-caps watcher).  The rank-sum AUC is pure DataFrame
    ops and must not care."""
    from pyspark.sql import Observation

    from olap_xtrctr_spark.operators.classifier import auc_rank_sum
    df = spark.createDataFrame(
        [(0.9, 1.0), (0.2, 0.0)], "score double, label double")
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
    # leave the observation registered but unmaterialized, like a
    # parked _observe_dropped watcher — then evaluate a separate frame
    assert auc_rank_sum(df, "label", "score") == 1.0
    observed.count()            # resolve it so the session stays clean


def test_classifier_scores_with_parked_observation(spark):
    """Regression: LR models carry a training summary that pins the
    fit-time SparkSession; with any Observation ever registered in the
    session (our _observe_dropped watchers do this), the session's
    ObservationManager is not java-serializable and scoring closures
    died with NotSerializableException.  train_quality_classifier now
    sheds the summary via a persist/reload round-trip."""
    from pyspark.sql import Observation

    from olap_xtrctr_spark.operators import classifier as C
    from olap_xtrctr_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    obs = Observation()
    parked = docs.observe(obs, F.count(F.lit(1)).alias("n"))
    labeled = C.weak_quality_labels(docs)
    model = C.train_quality_classifier(labeled)
    out = C.score_quality_classifier(docs, model)
    assert out.count() == docs.count()
    assert out.filter((F.col("quality_prob") < 0)
                      | (F.col("quality_prob") > 1)).count() == 0
    parked.count()              # resolve so the session stays clean


def test_redact_pii_leaves_no_matchable_pii_behind(spark):
    """Privacy property: after redaction NONE of the PII patterns may
    still match anywhere in text_redacted — checked differentially with
    Python re over the same patterns, on an adversarial corpus (PII at
    string edges, adjacent to punctuation, doubled, nested in parens,
    IPv4s long enough for the phone pattern to eat — mislabeling is
    acceptable, a survivor is not)."""
    import itertools
    import re

    from olap_xtrctr_spark.operators.text import PII_PATTERNS

    pii = ["a.b+c@ex-ample.co.uk", "x@y.io", "+52 (55) 1234-5678",
           "555-123-4567", "192.168.001.100", "8.8.8.8"]
    ctx = ["", " ", ",", "(", ")", "word", "—", ".", "\n"]
    rows, i = [], 0
    for p, a, b in itertools.product(pii, ctx, ctx):
        rows.append((i, f"{a}{p}{b}"))
        i += 1
    for p, q in itertools.combinations(pii, 2):
        rows.append((i, f"contact {p} or {q} now"))
        i += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = TX.redact_pii(docs).select("doc_id", "text_redacted").collect()
    assert len(out) == len(rows)
    for r in out:
        for name, pat in PII_PATTERNS:
            m = re.search(pat, r["text_redacted"])
            assert m is None, (r["doc_id"], name, m.group(0),
                               r["text_redacted"])


def test_cms_one_sided_guarantee_and_shard_merge(spark):
    """CMS contracts: (1) every estimate >= the true count (one-sided,
    for EVERY vocab token, not just probes); (2) merging per-shard
    counter tables by summing slot-aligned counters equals the global
    counter table."""
    from olap_xtrctr_spark.operators import sketches as SK
    from olap_xtrctr_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    toks = (docs.select(F.explode(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token"))
        .filter(F.col("token") != ""))
    counters = SK.cms_counters(toks, "token", width=64)
    vocab = toks.groupBy("token").agg(F.count("*").alias("true_n"))
    est = SK.cms_estimate(counters, vocab.select("token"), "token",
                          width=64)
    joined = est.join(vocab, "token")
    assert joined.count() == vocab.count()
    under = joined.filter(F.col("freq_est") < F.col("true_n")).count()
    assert under == 0                       # never underestimates

    # shard mergeability: counters(shard A) + counters(shard B) ==
    # counters(A union B), slot-aligned by construction
    toks_a = toks.limit(0).unionByName(
        docs.filter(F.col("doc_id") % 2 == 0).select(F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
            .alias("token")).filter(F.col("token") != ""))
    toks_b = docs.filter(F.col("doc_id") % 2 == 1).select(F.explode(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token")) \
        .filter(F.col("token") != "")
    merged = (SK.cms_counters(toks_a, "token", width=64)
              .unionByName(SK.cms_counters(toks_b, "token", width=64))
              .groupBy("depth", "slot")
              .agg(F.sum("counter").cast("bigint").alias("counter")))
    glob = {(r["depth"], r["slot"]): r["counter"]
            for r in counters.collect()}
    mrg = {(r["depth"], r["slot"]): r["counter"]
           for r in merged.collect()}
    assert glob == mrg

def test_cms_estimate_preserves_probes_and_groups(spark):
    """Round-7 ADVICE fixes: (1) a probe absent from the sketch reports
    freq_est = 0 (probe side preserved, absent slot rows count 0, even
    when EVERY depth is empty); (2) grouped counter tables estimate per
    group; (3) passing a grouped counter table without its group_cols
    raises instead of silently min-ing across groups."""
    import pytest as _pytest

    from olap_xtrctr_spark.operators import sketches as SK

    toks = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", "y"), ("b", "x")],
        "grp string, token string")
    probes = spark.createDataFrame([("zz-never-seen",), ("x",)],
                                   "token string")

    # ungrouped: absent probe present with 0; "x" >= true count 3
    counters = SK.cms_counters(toks, "token", width=8)
    est = {r["token"]: r["freq_est"]
           for r in SK.cms_estimate(counters, probes, "token",
                                    width=8).collect()}
    assert est["zz-never-seen"] == 0
    assert est["x"] >= 3

    # grouped: per-(grp, token) estimates, one-sided within each group
    gcounters = SK.cms_counters(toks, "token", width=8,
                                group_cols=["grp"])
    gprobes = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("b", "zz-never-seen")],
        "grp string, token string")
    gest = {(r["grp"], r["token"]): r["freq_est"]
            for r in SK.cms_estimate(gcounters, gprobes, "token",
                                     width=8,
                                     group_cols=["grp"]).collect()}
    assert gest[("a", "x")] >= 2
    assert gest[("b", "x")] >= 1
    assert gest[("b", "zz-never-seen")] == 0
    # group isolation with width large enough to avoid collisions here:
    # b's "x" estimate must not absorb a's two hits
    assert gest[("b", "x")] < gest[("a", "x")] + gest[("b", "x")]

    # grouped counter table without group_cols -> loud error
    with _pytest.raises(ValueError, match="group_cols"):
        SK.cms_estimate(gcounters, probes, "token", width=8)

def test_ccnet_buckets_equal_counts_and_determinism(spark):
    """CCNet split contracts: per-language bucket sizes differ by at
    most 1 (equal-count cut), every scored doc lands in exactly one
    bucket, head has the LOWEST mean NLL, and the split is a pure
    function of (score, doc_id) — rerunning yields identical rows."""
    from olap_xtrctr_spark.operators.text import ccnet_perplexity_buckets
    from olap_xtrctr_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = ccnet_perplexity_buckets(docs, F.col("source") == "src0")
    rows = out.collect()
    assert {r["bucket"] for r in rows} <= {"head", "middle", "tail"}
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        sizes = {}
        for r in rs:
            sizes[r["bucket_idx"]] = sizes.get(r["bucket_idx"], 0) + 1
        assert max(sizes.values()) - min(sizes.values()) <= 1, (lang, sizes)
        # head NLL <= tail NLL within the language
        head = [r["mean_nll_micro"] for r in rs if r["bucket"] == "head"]
        tail = [r["mean_nll_micro"] for r in rs if r["bucket"] == "tail"]
        assert max(head) <= min(tail), lang
    again = {(r["doc_id"], r["bucket_idx"])
             for r in ccnet_perplexity_buckets(
                 docs, F.col("source") == "src0").collect()}
    assert again == {(r["doc_id"], r["bucket_idx"]) for r in rows}

def test_minhash_md5_variant_contracts(spark):
    """Oracle-exact MinHash (md5 family): exact-duplicate docs always
    collide in every band and score est_jaccard == 1.0; disjoint docs
    never pair; bands must divide num_hashes."""
    import pytest as _pytest

    from olap_xtrctr_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
         (3, "one two three four five six seven"),
         (4, "totally different words entirely here now")],
        "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in D.minhash_lsh_pairs_md5(docs).collect()}
    assert pairs[(1, 2)] == 1.0
    assert all({a, b} == {1, 2} for a, b in pairs), pairs
    with _pytest.raises(ValueError, match="divide"):
        D.minhash_lsh_pairs_md5(docs, num_hashes=16, bands=5)

def test_simhash_md5_variant_contracts(spark):
    """Oracle-exact SimHash: identical docs have hamming 0; docs
    sharing most tokens land within the threshold; the pigeonhole
    guarantee (n_blocks=6, hamming<=5) is exact so no qualifying pair
    is missed vs a brute-force check; validation errors are loud."""
    import pytest as _pytest

    from olap_xtrctr_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta theta"),
         (3, "alpha beta gamma delta epsilon zeta eta iota"),
         (4, "cat dog fish bird mouse horse cow sheep")],
        "doc_id long, text string")
    out = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in D.simhash_near_pairs_md5(docs, max_hamming=5)
           .collect()}
    assert out[(1, 2)] == 0
    assert (1, 4) not in out and (2, 4) not in out

    with _pytest.raises(ValueError, match="divide"):
        D.simhash_near_pairs_md5(docs, n_blocks=7)
    with _pytest.raises(ValueError, match="bits"):
        D.simhash_near_pairs_md5(docs, bits=64)

def test_kmv_sketch_contracts(spark):
    """KMV contracts: (1) below k the estimate IS the exact distinct
    count; (2) above k the estimate is within the standard error bound
    (generous 5/sqrt(k-2) here); (3) merging shard partials then
    estimating equals sketching the union; (4) k<2 is rejected."""
    import pytest as _pytest

    from olap_xtrctr_spark.operators import sketches as SK

    rows = [(i % 7, f"u{i}") for i in range(3000)]
    df = spark.createDataFrame(rows, "g int, user string")

    # small-group exactness: 40 distinct < k=64
    small = spark.createDataFrame([(1, f"v{i}") for i in range(40)],
                                  "g int, user string")
    est_small = SK.kmv_estimate(
        SK.kmv_partial(small, ["g"], "user", k=64), ["g"], k=64)
    assert est_small.collect()[0]["n_distinct_est"] == 40

    # big-group error bound (each g has ~429 distinct users)
    part = SK.kmv_partial(df, ["g"], "user", k=64)
    est = {r["g"]: r["n_distinct_est"]
           for r in SK.kmv_estimate(part, ["g"], k=64).collect()}
    exact = {r["g"]: r["n"] for r in df.groupBy("g").agg(
        F.countDistinct("user").alias("n")).collect()}
    for g, n in exact.items():
        assert abs(est[g] - n) / n < 5 / (62 ** 0.5), (g, est[g], n)

    # shard-merge == union sketch
    a = SK.kmv_partial(df.filter("g < 3"), ["g"], "user", k=64)
    b = SK.kmv_partial(df.filter("g >= 3"), ["g"], "user", k=64)
    merged = {tuple(r) for r in
              SK.kmv_merge(a.unionByName(b), ["g"], k=64).collect()}
    direct = {tuple(r) for r in part.collect()}
    assert merged == direct

    with _pytest.raises(ValueError, match="k must be"):
        SK.kmv_partial(df, ["g"], "user", k=1)


def test_kmv_overlap_contracts(spark):
    """kmv_overlap contracts: (1) when the pooled union fits under k
    both estimates are EXACT set cardinalities; (2) at scale the
    union/intersection estimates land within the standard error bound;
    (3) disjoint sets report inter_est == 0; (4) pairs are unordered
    (g_a < g_b, each pair once); (5) k<2 rejected."""
    import pytest as _pytest

    from olap_xtrctr_spark.operators import sketches as SK

    # exact regime: |A|=30, |B|=25, |A∩B|=15 — union 40 < k=64
    rows = ([("a", f"u{i}") for i in range(30)]
            + [("b", f"u{i}") for i in range(15, 40)]
            + [("c", f"w{i}") for i in range(10)])
    df = spark.createDataFrame(rows, "g string, user string")
    part = SK.kmv_partial(df, ["g"], "user", k=64)
    out = {(r["g_a"], r["g_b"]): (r["union_est"], r["inter_est"])
           for r in SK.kmv_overlap(part, "g", k=64).collect()}
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    assert out[("a", "b")] == (40, 15)
    assert out[("a", "c")] == (40, 0)        # disjoint: exact zeros
    assert out[("b", "c")] == (35, 0)

    # estimate regime: two 2000-element sets sharing 1000
    big = ([("x", f"u{i}") for i in range(2000)]
           + [("y", f"u{i}") for i in range(1000, 3000)])
    bpart = SK.kmv_partial(
        spark.createDataFrame(big, "g string, user string"),
        ["g"], "user", k=64)
    r = SK.kmv_overlap(bpart, "g", k=64).collect()[0]
    assert abs(r["union_est"] - 3000) / 3000 < 5 / (62 ** 0.5)
    assert abs(r["inter_est"] - 1000) / 1000 < 10 / (62 ** 0.5)

    with _pytest.raises(ValueError, match="k must be"):
        SK.kmv_overlap(part, "g", k=1)


def test_kmv_sliding_estimate(spark):
    """kmv_sliding_estimate: below-k windows are EXACT trailing
    distinct counts (values active in several trailing hours count
    once); one output row per active hour."""
    import datetime as dt

    from olap_xtrctr_spark.operators import sketches as SK

    base = dt.datetime(2024, 1, 1, 0, 0)
    rows = []
    # hour h has users u{h*3}..u{h*3+4} -> overlap of 2 with next hour
    for h in range(8):
        for i in range(6):
            rows.append((base + dt.timedelta(hours=h, minutes=i),
                         f"u{h * 3 + i}"))
    df = spark.createDataFrame(rows, "ts timestamp, user string")
    out = {r["hour"].hour: r["n_distinct_est"]
           for r in SK.kmv_sliding_estimate(df, "ts", "user",
                                            window_hours=3).collect()}
    assert len(out) == 8
    for h in range(8):
        lo = max(0, h - 2) * 3
        exact = len({f"u{j * 3 + i}" for j in range(max(0, h - 2), h + 1)
                     for i in range(6)})
        assert out[h] == exact, (h, out[h], exact)


def test_jl_random_projection(spark):
    """random_projection: deterministic across calls, and the JL map
    roughly preserves relative distances (identical vectors stay
    identical, far vectors stay far)."""
    from olap_xtrctr_spark.operators.similarity import (jl_sign_matrix,
                                                        random_projection)

    assert jl_sign_matrix(2, 4) == jl_sign_matrix(2, 4)
    vecs = [(0, [1.0] * 8), (1, [1.0] * 8), (2, [-1.0] * 8)]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<float>")
    out = {r["vec_id"]: [r[f"p{j}"] for j in range(4)]
           for r in random_projection(df, 4).collect()}
    assert out[0] == out[1]                      # identical stays identical
    assert out[2] == [-v for v in out[0]]        # linearity
    out2 = {r["vec_id"]: [r[f"p{j}"] for j in range(4)]
            for r in random_projection(df, 4).collect()}
    assert out == out2


def test_minhash_incremental_and_keep_best(spark):
    """(1) minhash_incremental_pairs_md5 finds new-vs-seen near-dups
    without self-pairs on either side and matches the batch operator's
    cross-side pairs; (2) keep_best keeps the highest-score copy per
    duplicate text (ties by id); (3) bands must divide num_hashes."""
    import pytest as _pytest

    from olap_xtrctr_spark.operators import dedup as D

    text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(1, text, "s0"), (2, text + " iota", "s1"),
            (10, text, "s2"), (11, "totally different words here now",
                               "s0")]
    docs = spark.createDataFrame(
        rows, "doc_id int, text string, source string")
    new = docs.filter("doc_id >= 10")
    seen = docs.filter("doc_id < 10")
    out = {(r["new_id"], r["seen_id"])
           for r in D.minhash_incremental_pairs_md5(new, seen).collect()}
    batch = {(max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"]))
             for r in D.minhash_lsh_pairs_md5(docs).collect()
             if (r["id_a"] >= 10) != (r["id_b"] >= 10)}
    assert out == batch and (10, 1) in out
    assert all(a >= 10 > b for a, b in out)      # strictly cross-side

    with _pytest.raises(ValueError, match="divide"):
        D.minhash_incremental_pairs_md5(new, seen, bands=5)

    scored = docs.withColumn(
        "prio", F.col("doc_id") % 10)       # doc 2's text unique; 1 vs 10
    best = {r["doc_id"] for r in D.keep_best(scored, "prio").collect()}
    # dup group {1, 10} (same text): doc 1 has prio 1, doc 10 prio 0
    assert 1 in best and 10 not in best
    assert 2 in best and 11 in best


def test_kmv_inter_decomposition_property():
    """The overflow-free integer decomposition used by kmv_overlap —
    (u DIV k)*rho + ((u % k)*rho) DIV k — equals floor(u*rho/k)
    whenever rho divides into the remainder term cleanly-or-not; more
    precisely it never differs from the true big-int product by more
    than the nested-floor slack, and both engines compute the same
    value.  Property-checked against exact big-int arithmetic."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    k = 64

    @settings(max_examples=500, deadline=None)
    @given(u=st.integers(min_value=0, max_value=(1 << 60)),
           rho=st.integers(min_value=0, max_value=k))
    def check(u, rho):
        got = (u // k) * rho + ((u % k) * rho) // k
        exact = (u * rho) // k
        # nested flooring can undershoot the exact floor by < 1 unit
        # of the outer division — i.e. by at most rho*(k-1)/k < rho,
        # but never overshoot; for the estimator both engines run the
        # SAME decomposition, so cross-engine equality is exact.
        assert 0 <= exact - got < k
        # and no intermediate exceeds the signed-64 range
        assert (u // k) * rho < (1 << 63)
        assert (u % k) * rho < (1 << 63)

    check()


def test_jl_matrix_and_bucket_arithmetic_pure():
    """Pure-python contracts: the JL sign matrix is +-1-valued,
    deterministic, and roughly balanced; hash-split bucket cutoffs
    cover [0, 10000) exactly for weight maps that sum to 1."""
    from olap_xtrctr_spark.operators.sampling import _BUCKETS
    from olap_xtrctr_spark.operators.similarity import jl_sign_matrix

    m = jl_sign_matrix(16, 64)
    assert len(m) == 16 and all(len(r) == 64 for r in m)
    flat = [v for r in m for v in r]
    assert set(flat) == {-1, 1}
    assert 0.3 < sum(1 for v in flat if v == 1) / len(flat) < 0.7

    cuts = [int(round(w * _BUCKETS))
            for w in (0.8, 0.1, 0.1)]
    assert sum(cuts) == _BUCKETS


def test_bottomk_sketch_merge_and_accuracy(spark):
    """bottom-k sample sketch: (1) merging shard partials == sketching
    the union (exact mergeability); (2) the sampled-median estimate
    lands near the true median for a big group; (3) k<2 rejected."""
    import pytest as _pytest

    from olap_xtrctr_spark.operators import sketches as SK

    rows = [(i % 3, i, float(i % 1000)) for i in range(6000)]
    df = spark.createDataFrame(rows, "g int, k int, value double")

    part = SK.bottomk_partial(df, ["g"], "k", "value", k=64)
    a = SK.bottomk_partial(df.filter("k < 3000"), ["g"], "k", "value",
                           k=64)
    b = SK.bottomk_partial(df.filter("k >= 3000"), ["g"], "k", "value",
                           k=64)
    merged = {tuple(r) for r in
              SK.bottomk_merge(a.unionByName(b), ["g"], k=64).collect()}
    direct = {tuple(r) for r in part.collect()}
    assert merged == direct

    est = {r["g"]: r["q50"]
           for r in SK.bottomk_quantiles(part, ["g"]).collect()}
    for g, v in est.items():       # true median ~499.5; ~1/sqrt(64) err
        assert abs(v - 499.5) < 150, (g, v)

    with _pytest.raises(ValueError, match="k must be"):
        SK.bottomk_partial(df, ["g"], "k", "value", k=1)


def test_bottomk_sliding_quantiles(spark):
    """Sliding bottom-k quantiles: when every trailing window fits
    under k, the picks are EXACT rank statistics over the pooled
    trailing rows; one output row per active hour."""
    import datetime as dt

    from olap_xtrctr_spark.operators import sketches as SK

    base = dt.datetime(2024, 1, 1, 0, 0)
    rows = []
    # hour h carries values h*10 .. h*10+9 (10 rows/hour, distinct keys)
    for h in range(6):
        for i in range(10):
            rows.append((base + dt.timedelta(hours=h, minutes=i),
                         h * 100 + i, float(h * 10 + i)))
    df = spark.createDataFrame(rows, "ts timestamp, k int, value double")
    out = {r["hour"].hour: r for r in SK.bottomk_sliding_quantiles(
        df, "ts", "k", "value", window_hours=3, k=64).collect()}
    assert len(out) == 6
    for h in range(6):
        lo = max(0, h - 2)
        pool = sorted(float(j * 10 + i)
                      for j in range(lo, h + 1) for i in range(10))
        import math
        assert out[h]["q50"] == pool[math.ceil(0.5 * len(pool)) - 1]
        assert out[h]["q90"] == pool[math.ceil(0.9 * len(pool)) - 1]


def test_char_entropy_known_values(spark):
    """Uniform text -> ln(k) exactly in micro-nats; constant text ->
    0; empty docs are absent (no characters, both engines)."""
    from olap_xtrctr_spark.operators.hostmath import fxln, micro
    from olap_xtrctr_spark.operators.text import char_entropy

    docs = spark.createDataFrame(
        [(1, "abcd"), (2, "aaaa"), (3, ""), (4, "aab")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_chars"], r["entropy_micro"])
           for r in char_entropy(docs).collect()}
    assert 3 not in got                       # empty doc absent
    assert got[1] == (4, micro(fxln(4.0)))    # uniform over 4 chars
    assert got[2] == (4, 0)                   # single repeated char
    # "aab": H = ln(3) - (2 ln 2 + 1 ln 1)/3 in frozen integer algebra
    want = (micro(fxln(3.0)) * 3 - 2 * micro(fxln(2.0))) // 3
    assert got[4] == (3, want)
    assert 0 < got[4][1] < got[1][1]          # between constant and uniform


# ---- Bloom filter (membership sketch) --------------------------------------

def test_bloom_no_false_negatives_and_merge(spark):
    from olap_xtrctr_spark.operators import sketches as SK
    vals = spark.createDataFrame([(f"v{i}",) for i in range(200)],
                                 "x string")
    bits = SK.bloom_bits(vals, "x", m=4096)
    verdict = {r["x"]: r["maybe_present"]
               for r in SK.bloom_probe(bits, vals, "x", m=4096).collect()}
    assert all(v == 1 for v in verdict.values())   # zero false negatives
    # merge(build(A), build(B)) == build(A ∪ B) bit-for-bit
    a = vals.filter("x < 'v5'")
    b = vals.filter("x >= 'v5'")
    merged = SK.bloom_merge(SK.bloom_bits(a, "x", m=4096),
                            SK.bloom_bits(b, "x", m=4096))
    one = sorted(r["pos"] for r in bits.collect())
    two = sorted(r["pos"] for r in merged.collect())
    assert one == two


def test_bloom_false_positive_rate_bounded_and_misses(spark):
    from olap_xtrctr_spark.operators import sketches as SK
    ins = spark.createDataFrame([(f"in{i}",) for i in range(100)],
                                "x string")
    outs = spark.createDataFrame([(f"out{i}",) for i in range(500)],
                                 "x string")
    bits = SK.bloom_bits(ins, "x", m=8192)   # kn/m ~ 0.05
    got = {r["x"]: r["maybe_present"]
           for r in SK.bloom_probe(bits, outs, "x", m=8192).collect()}
    fp = sum(got.values())
    assert fp <= 5, f"false-positive rate implausibly high ({fp}/500)"
    # a saturated TINY filter flags everything (the documented failure
    # mode when m is undersized) — still zero false negatives
    tiny = SK.bloom_bits(ins, "x", m=8)
    sat = SK.bloom_probe(tiny, outs, "x", m=8)
    assert sat.agg({"maybe_present": "min"}).first()[0] == 1


def test_bloom_probe_duplicate_probe_rows_no_false_negative(spark):
    """ADVICE r11: a probe table with DUPLICATE rows used to double the
    per-salt rows, so sum(_set) became 2k != k and a genuinely-present
    value flipped to maybe_present=0 — a false negative, violating the
    filter's one hard guarantee.  The probe set is now deduplicated
    inside the function; duplicated and distinct probes must agree."""
    from olap_xtrctr_spark.operators import sketches as SK
    vals = spark.createDataFrame([("a",), ("b",)], "x string")
    dup = spark.createDataFrame([("a",), ("a",), ("b",), ("c",)],
                                "x string")
    bits = SK.bloom_bits(vals, "x", m=4096)
    got = {r["x"]: r["maybe_present"]
           for r in SK.bloom_probe(bits, dup, "x", m=4096).collect()}
    assert got["a"] == 1 and got["b"] == 1      # present, despite dups
    # one verdict row per distinct value, not per probe row
    assert SK.bloom_probe(bits, dup, "x", m=4096).count() == 3
    # grouped variant: duplicates inside one group stay group-local
    gdup = spark.createDataFrame(
        [("g1", "a"), ("g1", "a"), ("g2", "a")], "grp string, x string")
    gbits = SK.bloom_bits(gdup.filter("grp = 'g1'"), "x", m=64,
                          group_cols=["grp"])
    gout = {(r["grp"], r["x"]): r["maybe_present"]
            for r in SK.bloom_probe(gbits, gdup, "x", m=64,
                                    group_cols=["grp"]).collect()}
    assert gout[("g1", "a")] == 1


def test_bloom_probe_rejects_mismatched_group_cols(spark):
    import pytest

    from olap_xtrctr_spark.operators import sketches as SK
    vals = spark.createDataFrame([("g1", "x"), ("g2", "y")],
                                 "grp string, x string")
    bits = SK.bloom_bits(vals, "x", m=64, group_cols=["grp"])
    with pytest.raises(ValueError, match="group_cols"):
        SK.bloom_probe(bits, vals, "x", m=64)   # grouped bits, no groups
    # matched group_cols round-trips
    out = SK.bloom_probe(bits, vals, "x", m=64, group_cols=["grp"])
    assert {(r["grp"], r["x"], r["maybe_present"])
            for r in out.collect()} == {("g1", "x", 1), ("g2", "y", 1)}


# ---- RFM segmentation NULL/ordering contract (ADVICE r11) -------------------

def test_rfm_null_monetary_sorts_last_like_sql_desc(spark):
    """A user whose every value is NULL has NULL monetary; SQL NTILE
    ``ORDER BY monetary DESC`` puts NULLs LAST.  Before the fix the
    ascending ``_negm`` key sorted them FIRST (Spark asc = nulls
    first), silently inverting their m_score on NULL-bearing inputs."""
    import datetime as dt
    rows = []
    base = dt.datetime(2025, 1, 1)
    # users 1..4 with decreasing monetary, user 9 with ONLY NULL values
    for u, v in ((1, 400.0), (2, 300.0), (3, 200.0), (4, 100.0)):
        rows.append((u * 10, base, u, "click", v))
    rows.append((90, base, 9, "click", None))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    out = {r["user_id"]: r for r in EV.rfm_segments(ev, n_bins=5).collect()}
    # richest user scores 1, NULL-monetary user lands in the LAST bin
    assert out[1]["m_score"] == 1
    assert out[9]["m_score"] == 5
    assert out[9]["monetary"] is None
    # non-null users keep strict DESC order of their monetary bins
    assert [out[u]["m_score"] for u in (1, 2, 3, 4)] == [1, 2, 3, 4]


# ---- frozen argmin tie-break contract (round 12) ----------------------------

def test_frozen_argmin_tie_breaks_to_lower_index(spark):
    """Two centroids exactly equidistant from a vector must resolve to
    the LOWER index on both engines: Spark's array_sort orders the
    (distance, cell) struct lexicographically, the oracle's
    ROW_NUMBER orders by (d, cell) — this pins the Spark half of that
    contract on a planted exact tie."""
    from olap_xtrctr_spark.operators.similarity import _argmin_cells_expr
    df = spark.createDataFrame([(1, [5, 5])], "id long, v array<bigint>")
    # centers 0 and 1 are identical (both at L2²=32 from v); center 2
    # is nearest (18) — the tie pair must come back in index order
    expr = _argmin_cells_expr("v", [[1, 1], [1, 1], [2, 2]], 3)
    row = df.selectExpr(f"{expr} AS cells").first()
    assert list(row["cells"]) == [2, 0, 1]


def test_numpy_quant_kernel_tie_breaks_to_lower_index(spark):
    """The Arrow-vectorized kernel (VERDICT r12 task 4) pins the SAME
    tie-break: stable argsort / first-minimum argmin resolve planted
    exact-equal distances to the lower cell index."""
    from olap_xtrctr_spark.operators import similarity as S
    # float32(0.0005) quantizes to floor(·10⁴) = 5 per component, so
    # centers 0 and 1 (both [1,1]) are exactly equidistant (L2²=32)
    # and center 2 ([2,2]) is nearest (18) — index order on the tie
    df = spark.createDataFrame([(1, [0.0005, 0.0005])],
                               "id long, v array<float>")
    row = df.select(S._cells_udf([[1, 1], [1, 1], [2, 2]], 3)("v")
                    .alias("cells")).first()
    assert list(row["cells"]) == [2, 0, 1]


def test_numpy_quant_kernels_match_expression_twins(spark, sf_dir):
    """Bit-equality of the numpy kernels against the interpreted
    expression twins over the whole real embeddings table: coarse
    cells (n=3), direct PQ codes, and the fused cell+residual-codes
    assignment — the invariant that lets the kernels replace the
    expressions in the frozen operators with oracles unchanged."""
    from pyspark.sql import functions as F

    from olap_xtrctr_spark.operators import frozen_codebooks as FC
    from olap_xtrctr_spark.operators import similarity as S
    from olap_xtrctr_spark.session import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", "embedding",
                      F.expr(S._vint_expr("embedding")).alias("_v"))

    exp = {r["vec_id"]: list(r["c"]) for r in base.select(
        "vec_id", F.expr(S._argmin_cells_expr(
            "_v", FC.COARSE_CENTERS_I, 3)).alias("c")).collect()}
    ker = {r["vec_id"]: list(r["c"]) for r in emb.select(
        "vec_id", S._cells_udf(FC.COARSE_CENTERS_I, 3)("embedding")
        .alias("c")).collect()}
    assert exp == ker

    exp = {r["vec_id"]: [r[f"code_{s}"] for s in range(FC.PQ_M)]
           for r in base.selectExpr("vec_id", *S._pq_code_exprs(
               "_v", FC.PQ_CODEBOOKS_I, FC.SUB_D)).collect()}
    ker = {r["vec_id"]: list(r["codes"]) for r in emb.select(
        "vec_id", S._pq_assign_udf()("embedding").alias("codes"))
        .collect()}
    assert exp == ker

    coarse_lit = S._nested_array_lit(FC.COARSE_CENTERS_I)
    exp = {r["vec_id"]: (r["cell"],
                         [r[f"code_{s}"] for s in range(FC.PQ_M)])
           for r in (base.withColumn("cell", F.expr(
               S._argmin_cells_expr("_v", FC.COARSE_CENTERS_I, 1))[0])
               .withColumn("_r", F.expr(
                   f"zip_with(_v, element_at({coarse_lit}, cell + 1), "
                   f"(a, b) -> a - b)"))
               .selectExpr("vec_id", "cell", *S._pq_code_exprs(
                   "_r", FC.RESIDUAL_CODEBOOKS_I, FC.SUB_D))).collect()}
    ker = {r["vec_id"]: (r["a"]["cell"], list(r["a"]["codes"]))
           for r in emb.select(
               "vec_id", S._ivfpq_assign_udf()("embedding").alias("a"))
           .collect()}
    assert exp == ker


# ---- round-13: weighted PageRank + source graph + dim drift -----------------

def _ref_pagerank(edges, nodes, iters=5, damp=85, scale=10**9):
    """Plain-python mirror of graph.weighted_pagerank's integer ops."""
    sym = {}
    for u, v, w in edges:
        sym.setdefault(u, []).append((v, w))
        sym.setdefault(v, []).append((u, w))
    wout = {u: sum(w for _, w in nb) for u, nb in sym.items()}
    n = len(nodes)
    base = (scale * (100 - damp) // 100) // n
    pr = {v: scale // n for v in nodes}
    for _ in range(iters):
        sums = {v: 0 for v in nodes}
        for u, nb in sym.items():
            for v, w in nb:
                sums[v] += (pr[u] * w) // wout[u]
        pr = {v: base + (damp * sums[v]) // 100 for v in nodes}
    return pr


def test_weighted_pagerank_matches_integer_reference(spark):
    from olap_xtrctr_spark.operators import graph as G
    edges = [("a", "b", 2), ("b", "c", 1), ("a", "c", 5)]
    nodes = ["a", "b", "c", "lonely"]   # isolated node: teleport only
    e = spark.createDataFrame(edges, "u string, v string, w long")
    nd = spark.createDataFrame([(x,) for x in nodes], "node string")
    got = {r["node"]: r["pr_ppb"]
           for r in G.weighted_pagerank(e, nd, iters=5).collect()}
    want = _ref_pagerank(edges, nodes, iters=5)
    assert got == want
    # isolated node holds exactly base after every round
    n = len(nodes)
    assert got["lonely"] == (10**9 * 15 // 100) // n
    # heavier a<->c edge must out-rank b
    assert got["c"] > got["b"]


def test_shared_shingle_group_edges_df_bound(spark):
    from olap_xtrctr_spark.operators import graph as G
    # "p q r" is shared by ALL 3 sources -> dropped at max_groups=2;
    # "x y z" shared by exactly s0/s1 -> the only surviving edge.
    rows = [(0, "p q r x y z", "s0"), (1, "p q r x y z k", "s1"),
            (2, "p q r m n o", "s2")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r["u"], r["v"]): r["w"]
           for r in G.shared_shingle_group_edges(
               docs, n=3, max_groups=2).collect()}
    # shared 3-grams between s0 and s1: 'p q r','q r x','r x y','x y z'
    # minus 'p q r' (df=3 > 2) -> weight 3
    assert got == {("s0", "s1"): 3}


def test_source_dim_drift_planted_means(spark):
    from olap_xtrctr_spark.operators import similarity as S
    # dim 1 separates the sources, dim 0 is identical everywhere
    emb = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 4.0]), (2, [1.0, -2.0]),
         (3, [1.0, -4.0])],
        "vec_id long, embedding array<float>")
    docs = spark.createDataFrame(
        [(0, "sA"), (1, "sA"), (2, "sB"), (3, "sB")],
        "doc_id long, source string")
    out = S.source_dim_drift(emb, docs, k=2).collect()
    by = {(r["source"], r["dim"]): (r["mean_diff"], r["rank"]) for r in out}
    # global mean dim1 = 0; sA mean = 3, sB mean = -3
    assert by[("sA", 1)] == (3.0, 1)
    assert by[("sB", 1)] == (-3.0, 1)
    assert by[("sA", 0)][0] == 0.0 and by[("sA", 0)][1] == 2


def test_weighted_pagerank_teleport_semantics(spark):
    from olap_xtrctr_spark.operators import graph as G
    edges = [("a", "b", 2), ("b", "c", 1), ("a", "c", 5)]
    nodes = ["a", "b", "c", "lonely"]
    e = spark.createDataFrame(edges, "u string, v string, w long")
    nd = spark.createDataFrame([(x,) for x in nodes], "node string")
    seeds = spark.createDataFrame([("a",)], "source string")
    got = {r["node"]: r["pr_ppb"]
           for r in G.weighted_pagerank(e, nd, iters=3,
                                        teleport=seeds).collect()}

    # python mirror with teleport: N -> |S|, both terms gated by the flag
    def ref(iters):
        sym = {}
        for u, v, w in edges:
            sym.setdefault(u, []).append((v, w))
            sym.setdefault(v, []).append((u, w))
        wout = {u: sum(w for _, w in nb) for u, nb in sym.items()}
        s = {"a"}
        base = (10**9 * 15 // 100) // len(s)
        pr = {v: (10**9 // len(s) if v in s else 0) for v in nodes}
        for _ in range(iters):
            sums = {v: 0 for v in nodes}
            for u, nb in sym.items():
                for v, w in nb:
                    sums[v] += (pr[u] * w) // wout[u]
            pr = {v: (base if v in s else 0)
                  + (85 * sums[v]) // 100 for v in nodes}
        return pr

    assert got == ref(3)
    # teleport-only node outside the component of the seed gets ZERO
    assert got["lonely"] == 0
    # uniform mode is unchanged by the refactor (flag constant 1)
    uni = {r["node"]: r["pr_ppb"]
           for r in G.weighted_pagerank(e, nd, iters=5).collect()}
    assert uni == _ref_pagerank(edges, nodes, iters=5)


def test_md5_lsh_kernel_matches_expression_twin(spark, sf_dir):
    """Bit-equality of the Arrow int64 md5-LSH bucket kernel against
    the pre-r13 explode/broadcast-join/groupBy expression pipeline
    over the whole real embeddings table — the invariant that lets
    the kernel compute the oracle-exact md5 signature (same planes,
    same float64 quantize sequence, same integer dots) with zero
    exchanges."""
    import hashlib

    from pyspark.sql import functions as F

    from olap_xtrctr_spark.operators import similarity as S
    from olap_xtrctr_spark.session import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    n_tables, bits_per_table, quant_scale = 16, 4, 1000

    ker = {(r["vec_id"], r["t"]): r["bucket"]
           for r in S._md5_lsh_buckets(
               emb, n_tables, bits_per_table, "vec_id", "embedding",
               quant_scale).collect()}

    # the former expression pipeline, verbatim
    dim = emb.select(F.size("embedding").alias("d")).first()["d"]
    rows = []
    for t in range(n_tables):
        for b in range(bits_per_table):
            for i in range(dim):
                nib = int(hashlib.md5(
                    f"lshplane:{t}:{b}:{i}".encode()).hexdigest()[0], 16)
                rows.append((t, b, i, 1 if nib >= 8 else -1))
    planes = spark.createDataFrame(rows, "t int, b int, i int, c long")
    q = emb.select(
        "vec_id",
        F.posexplode(F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
            f" * {quant_scale} + 0.5) AS BIGINT))")).alias("i", "qv"))
    dots = (q.join(F.broadcast(planes), "i")
             .groupBy("vec_id", "t", "b")
             .agg(F.sum(F.col("c") * F.col("qv")).alias("d")))
    exp = {(r["vec_id"], r["t"]): r["bucket"]
           for r in (dots.groupBy("vec_id", "t")
                     .agg(F.sum(F.when(F.col("d") >= 0,
                                       F.expr("CAST(power(2, b) AS "
                                              "BIGINT)"))
                                .otherwise(F.lit(0).cast("long")))
                          .alias("bucket"))).collect()}
    assert exp == ker


def test_gram_kernel_matches_expression_twin(spark, sf_dir):
    """The Arrow gram kernel (`_gram_rows_kernel`, the r13 pair-core
    input) emits the exact multiset of (_id, _sz, shingle) rows the
    zip_with expression twin produces — over the whole real documents
    table AND a synthetic edge corpus (NULL text, empty text,
    whitespace-only, leading tab surviving trim, sub-n docs, in-doc
    duplicate grams, multi-space runs)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from olap_xtrctr_spark.operators.dedup import (_gram_rows_kernel,
                                                   gram_zip_expr)
    from olap_xtrctr_spark.session import load_table

    edge = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "\tx y"), (5, "a"),
         (6, "a b"), (7, "a b c"), (8, "a  b\tc \n d"),
         (9, "a b a b a b a b"), (10, "A B C a b c"),
         # ADVICE r13: non-ASCII case folding — the kernel's Python
         # str.lower() must match the JVM's (locale-pinned in
         # get_spark): Turkish dotted İ (lowers to i + combining dot),
         # dotless ı, German ß / capital ẞ, Greek final-sigma context,
         # full-width Latin, precomposed accents
         (11, "İSTANBUL Iı ÖĞLE ẞtraße STRAßE"),
         (12, "ΟΔΟΣ ΣΟΦΙΑΣ Σίσυφος"),
         (13, "ＦＵＬＬＷＩＤＴＨ Ａ Ｂ ＣＡＳＥ"),
         (14, "ÉCOLE Ñoño ČESKÁ Ŀl")],
        T.StructType([T.StructField("doc_id", T.LongType()),
                      T.StructField("text", T.StringType())]))

    for docs in (load_table(spark, sf_dir, "documents"), edge):
        toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        d = (docs.select(F.col("doc_id"), toks.alias("_t"))
                 .select("doc_id", F.expr(gram_zip_expr(
                     "_t", 3, short="whole", distinct=True)).alias("_g")))
        twin = d.select(F.col("doc_id").alias("_id"),
                        F.size("_g").cast("int").alias("_sz"),
                        F.explode("_g").alias("shingle"))
        ker = _gram_rows_kernel(docs, "text", "doc_id", 3)
        assert ker.exceptAll(twin).count() == 0
        assert twin.exceptAll(ker).count() == 0


def test_multi_entry_workload_run_leaves_zero_tracked_pins(spark, sf_dir):
    """VERDICT r13 item 9 (r12 advice): 14 operators now register
    track_persist pins — after a multi-entry workload run on one thread
    (the runner's fn+count+release discipline), the thread's registry
    must be empty at every entry boundary, and the context-manager
    scope (ADVICE r13) must release without an explicit call."""
    from olap_xtrctr_spark import session as S
    from olap_xtrctr_spark.workload import WORKLOAD
    S.release_tracked_caches()      # drain anything earlier tests left
    entries = ["docs_minhash_lsh_pairs", "docs_simhash_pairs",
               "docs_ngram_jaccard_pairs", "docs_bm25_topk",
               "docs_token_pmi_top", "emb_semantic_dedup_pairs"]
    for name in entries:
        WORKLOAD[name].fn(spark, sf_dir).count()
        S.release_tracked_caches()
        assert len(S._tracked_list()) == 0, name
    # the scope form: pins made inside are gone at exit, pins made
    # before it are untouched
    import pyspark
    outer = S.track_persist(spark.range(3))
    with S.tracked_cache_scope():
        WORKLOAD["docs_minhash_lsh_pairs"].fn(spark, sf_dir).count()
        assert len(S._tracked_list()) > 1
    assert S._tracked_list() == [outer]
    assert outer.storageLevel != pyspark.StorageLevel.NONE
    S.release_tracked_caches()
    assert len(S._tracked_list()) == 0


def test_simhash_kernel_matches_expression_twin(spark, sf_dir):
    """The r14 simhash Arrow kernel (`_simhash_kernel`) emits the
    exact (id, simhash) rows of the pre-r14 explode + per-bit
    conditional-SUM groupBy form, for BOTH hash families (xxhash64/64
    bits and md5-60/60 bits), over the real documents table and the
    edge corpus (NULL text -> no row, whitespace-only -> hash of the
    empty token, ties vote negative)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from olap_xtrctr_spark.operators.dedup import (_MD5_60BIT_TOKEN_SQL,
                                                   _XXHASH64_TOKEN_SQL,
                                                   _simhash_kernel)
    from olap_xtrctr_spark.session import load_table

    def twin(docs, h, bits):
        toks = docs.select(
            "doc_id", F.explode(F.split(F.trim(F.lower(F.col("text"))),
                                        r"\s+")).alias("tok"))
        toks = toks.select("doc_id", h.alias("_h"))
        votes = [
            F.sum(F.when(F.expr(f"(_h DIV {2 ** i}) % 2") != 0, 1)
                   .otherwise(-1)).alias(f"v{i}")
            if bits == 60 else
            F.sum(F.when(F.shiftright("_h", i).bitwiseAND(F.lit(1)) == 1,
                         1).otherwise(-1)).alias(f"v{i}")
            for i in range(bits)
        ]
        agg = toks.groupBy("doc_id").agg(*votes)
        sig = sum([
            F.when(F.col(f"v{i}") > 0,
                   F.lit(1).cast("long")
                   * (2 ** i if i < 63 else -(2 ** 63)))
             .otherwise(0)
            for i in range(bits)
        ])
        return agg.select("doc_id", sig.alias("simhash"))

    edge = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "\tx y"), (5, "a"),
         (6, "a b a b"), (7, "A B C a b c"), (8, "x\ty \n z"),
         (9, "İSTANBUL ẞtraße ΣΟΦΙΑΣ Ｆｕｌｌ")],
        T.StructType([T.StructField("doc_id", T.LongType()),
                      T.StructField("text", T.StringType())]))

    xx_h = F.xxhash64("tok")
    md5_h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10) \
        .cast("bigint")
    # coalesce(1): the NULL row shares one Arrow batch with valid rows
    for docs in (load_table(spark, sf_dir, "documents"), edge,
                 edge.coalesce(1)):
        for h, sql, bits in ((xx_h, _XXHASH64_TOKEN_SQL, 64),
                             (md5_h, _MD5_60BIT_TOKEN_SQL, 60)):
            ker = _simhash_kernel(docs, "text", "doc_id", sql, bits)
            tw = twin(docs, h, bits)
            assert ker.exceptAll(tw).count() == 0
            assert tw.exceptAll(ker).count() == 0
