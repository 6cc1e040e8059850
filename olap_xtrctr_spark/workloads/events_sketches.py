"""Sketch-based event entries: HLL, KMV, count-min and bottom-k sketches
in one-shot and sliding form, and their streaming folds, each of which
provably equals its one-shot sketch and shares its oracle.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.fixedlog import ladder_sql
from ..operators.sampling import _hash_bucket, hash_bucket_sql
from ..operators.sketches import (CMS_SALTS, _hll_alpha_num, cms_slot_sql,
                                  kmv_hash_sql)
from ..session import load_events as _events
from ..session import load_table as _load
from ..workload_shared import drain, stage_batches, tertiles


def register(add) -> None:
    # HLL distinct users per event type, built by MERGING per-hour
    # partial sketches (the persisted-state rollup path, not a direct
    # pass) — rows-only: DataSketches estimates are deterministic for
    # Spark but no SQL oracle reproduces them; tests/test_operators.py
    # pins the estimate within 2% of exact.
    def hll_users(spark, sf):
        from ..operators import sketches as SK
        ev = _events(spark, sf).withColumn(
            "hour", F.date_trunc("hour", F.col("ts")))
        partials = SK.hll_partial(ev, ["event_type", "hour"], "user_id")
        return SK.hll_rollup(partials, ["event_type"]).orderBy("event_type")

    add("events_hll_users_by_type", hll_users, None)

    # mergeable one-pass approximate quantiles (approx_percentile = GK
    # sketch): the 100 TB path where the exact milli-quantized sort of
    # events_value_percentiles is too hot.  Rows-only: the sketch's
    # merge error is engine-specific; tests/test_operators.py pins each
    # estimate within 1% of the exact quantile.
    add("events_value_quantiles_approx",
        lambda spark, sf: (_events(spark, sf)
            .groupBy("event_type")
            .agg(F.percentile_approx(
                    "value", [0.5, 0.9, 0.99], 10_000)
                  .alias("q50_q90_q99"))
            .select("event_type",
                    F.col("q50_q90_q99")[0].alias("q50"),
                    F.col("q50_q90_q99")[1].alias("q90"),
                    F.col("q50_q90_q99")[2].alias("q99"))),
        None)

    # Deterministic-sample exact quantiles: the ORACLE-EXACT
    # complement to events_value_quantiles_approx — a 10% md5 sample of
    # events (reproducible across engines/retries, the hash_split
    # discipline) then percentile_disc-style rank picks (value at rank
    # ceil(p*n), ties broken by event_id).  ceil(p*n) is the same IEEE
    # product on both engines; everything else is integer rank
    # comparison — no interpolation, no engine-specific sketch: the
    # picked values are stored doubles compared bit-exact.
    # Scale shape: the sample filter is a pushdown-able projection; one
    # window per event_type over the 10% sample.
    def _quant_sampled(spark, sf):
        ev = _events(spark, sf).filter(
            _hash_bucket(F.col("event_id"), "qsample-v1") < 1000)
        w = Window.partitionBy("event_type").orderBy("value", "event_id")
        wn = Window.partitionBy("event_type")
        ranked = (ev.select("event_type", "value", "event_id")
                  .withColumn("_rn", F.row_number().over(w))
                  .withColumn("_n", F.count(F.lit(1)).over(wn)))
        picks = [
            F.max(F.when(F.col("_rn") == F.expr(
                f"CAST(ceil({p} * _n) AS BIGINT)"), F.col("value")))
            .alias(name)
            for p, name in ((0.5, "q50"), (0.9, "q90"), (0.99, "q99"))]
        return ranked.groupBy("event_type").agg(*picks)

    add("events_value_quantiles_sampled", _quant_sampled,
        rf"""WITH s AS (
          SELECT event_type, value, event_id FROM events
          WHERE {hash_bucket_sql('event_id', 'qsample-v1')} < 1000),
        r AS (
          SELECT event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY value, event_id) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM s)
        SELECT event_type,
               MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                        THEN value END) AS q50,
               MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                        THEN value END) AS q90,
               MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
                        THEN value END) AS q99
        FROM r GROUP BY event_type""")

    # STREAMING KMV fold: per-micro-batch KMV partials merged
    # into a durable store — the sketch is order-insensitive and its
    # merge is exact (kmv_merge == sketching the union, pytest-pinned),
    # so the stream fold provably equals the one-shot sketch and SHARES
    # its full oracle.  Replayed through the staged-stream harness:
    # three event_id-ordered file batches, store checkpointed per batch
    # with restart recovery, availableNow drain.
    def _stream_kmv(spark, sf):
        import os

        from ..operators import sketches as SK
        ev = _events(spark, sf)
        root = stage_batches("kmv_stream", sf, ev,
                             lambda d: tertiles(d, "event_id"))
        out = os.path.join(root, "out")
        state: dict = {"part": None, "last": None}

        def fold(batch, batch_id: int) -> None:
            bspark = batch.sparkSession
            store_dir = os.path.join(out, f"store_b{batch_id}")
            prev_dir = os.path.join(out, f"store_b{batch_id - 1}")
            part = state["part"]
            if part is None and batch_id > 0:    # restart recovery
                part = bspark.read.parquet(prev_dir)
            new = SK.kmv_partial(batch, ["event_type"], "user_id", k=64)
            merged = new if part is None else SK.kmv_merge(
                part.unionByName(new), ["event_type"], k=64)
            merged.write.mode("overwrite").parquet(store_dir)
            state["part"] = bspark.read.parquet(store_dir)
            state["last"] = store_dir

        drain(spark, ev.schema, root, fold, "ckpt")
        import glob as _glob
        last = state["last"] or sorted(
            _glob.glob(os.path.join(out, "store_b*")))[-1]
        return SK.kmv_estimate(spark.read.parquet(last),
                               ["event_type"], k=64)

    add("events_stream_kmv_users", _stream_kmv,
        rf"""WITH h AS (
          SELECT DISTINCT event_type,
                 {kmv_hash_sql('user_id')} AS kmv_h
          FROM events),
        r AS (
          SELECT event_type, kmv_h,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY kmv_h) AS rn
          FROM h),
        p AS (SELECT event_type, kmv_h FROM r WHERE rn <= 64),
        a AS (SELECT event_type, COUNT(*) AS n, MAX(kmv_h) AS hk
              FROM p GROUP BY 1)
        SELECT event_type,
               CAST(CASE WHEN n < 64 THEN n
                    ELSE (63 * CAST(1152921504606846976 AS HUGEINT))
                         // hk END AS BIGINT) AS n_distinct_est
        FROM a""")

    # STREAMING CMS fold: heavy-hitter detection over
    # an unbounded stream with BOUNDED state — per-micro-batch CMS
    # counters summed into a durable 4x256-cell store (counter addition
    # is the CMS merge, exact and order/batch-insensitive, so the
    # folded counters provably equal the one-shot batch sketch and the
    # entry SHARES the batch CMS's full oracle).  Candidates come from
    # a deterministic 20% hash sample of users (candidate tracking is
    # the part a pure CMS cannot do; the hash-sample discipline keeps
    # it engine-reproducible), each scored by the sketch and flagged
    # heavy at >= 80 events.  Same replay harness as the KMV fold:
    # three event_id-ordered file batches, per-batch store with restart
    # recovery, availableNow drain.
    def _stream_cms_heavy(spark, sf):
        import os

        from ..operators import sketches as SK
        ev = _events(spark, sf)
        root = stage_batches("cms_stream", sf, ev,
                             lambda d: tertiles(d, "event_id"))
        out = os.path.join(root, "out")
        state: dict = {"cnt": None, "last": None}

        def fold(batch, batch_id: int) -> None:
            bspark = batch.sparkSession
            store_dir = os.path.join(out, f"store_b{batch_id}")
            prev_dir = os.path.join(out, f"store_b{batch_id - 1}")
            cnt = state["cnt"]
            if cnt is None and batch_id > 0:     # restart recovery
                cnt = bspark.read.parquet(prev_dir)
            new = SK.cms_counters(batch, "user_id", width=256)
            merged = new if cnt is None else (
                cnt.unionByName(new).groupBy("depth", "slot")
                .agg(F.sum("counter").cast("bigint").alias("counter")))
            merged.write.mode("overwrite").parquet(store_dir)
            state["cnt"] = bspark.read.parquet(store_dir)
            state["last"] = store_dir

        drain(spark, ev.schema, root, fold, "ckpt")
        import glob as _glob
        last = state["last"] or sorted(
            _glob.glob(os.path.join(out, "store_b*")))[-1]
        counters = spark.read.parquet(last)
        probes = (ev.select("user_id").distinct()
                  .filter(_hash_bucket(F.col("user_id"),
                                       "cms-cand-v1") < 2000))
        est = SK.cms_estimate(counters, probes, "user_id", width=256)
        return est.select("user_id", "freq_est",
                          (F.col("freq_est") >= 80).alias("is_heavy"))

    _cnt_union = "\n          UNION ALL ".join(
        f"SELECT {d} AS depth, "
        f"{cms_slot_sql('user_id', salt, 256)} AS slot,"
        f" CAST(COUNT(*) AS BIGINT) AS counter FROM events GROUP BY 1, 2"
        for d, salt in enumerate(CMS_SALTS))
    _probe_union = "\n          UNION ALL ".join(
        f"SELECT user_id, {d} AS depth,"
        f" {cms_slot_sql('user_id', salt, 256)} AS slot FROM probes"
        for d, salt in enumerate(CMS_SALTS))

    add("events_stream_cms_heavy_users", _stream_cms_heavy,
        rf"""WITH probes AS (
          SELECT DISTINCT user_id FROM events
          WHERE {hash_bucket_sql('user_id', 'cms-cand-v1')} < 2000),
        cnt AS ({_cnt_union}),
        ps AS ({_probe_union}),
        est AS (
          SELECT ps.user_id,
                 CAST(MIN(COALESCE(cnt.counter, 0)) AS BIGINT)
                   AS freq_est
          FROM ps LEFT JOIN cnt
            ON cnt.depth = ps.depth AND cnt.slot = ps.slot
          GROUP BY ps.user_id)
        SELECT user_id, freq_est, (freq_est >= 80) AS is_heavy
        FROM est""")

    # STREAMING bottom-k fold: quantiles over an
    # unbounded stream with bounded state — per-batch bottom-k sample
    # partials re-merged into a durable <=64-rows-per-type store (the
    # merge is exact k-minima-of-union, order/batch-insensitive, so
    # the folded state provably equals the one-shot batch sketch and
    # the entry SHARES the batch oracle).  Completes the fold family:
    # KMV (cardinality), CMS (frequency), bottom-k (quantiles).
    def _stream_bottomk(spark, sf):
        import os

        from ..operators import sketches as SK
        ev = _events(spark, sf)
        root = stage_batches("bk_stream", sf, ev,
                             lambda d: tertiles(d, "event_id"))
        out = os.path.join(root, "out")
        state: dict = {"part": None, "last": None}

        def fold(batch, batch_id: int) -> None:
            bspark = batch.sparkSession
            store_dir = os.path.join(out, f"store_b{batch_id}")
            prev_dir = os.path.join(out, f"store_b{batch_id - 1}")
            part = state["part"]
            if part is None and batch_id > 0:    # restart recovery
                part = bspark.read.parquet(prev_dir)
            new = SK.bottomk_partial(batch, ["event_type"], "event_id",
                                     "value", k=64)
            merged = new if part is None else SK.bottomk_merge(
                part.unionByName(new), ["event_type"], k=64)
            merged.write.mode("overwrite").parquet(store_dir)
            state["part"] = bspark.read.parquet(store_dir)
            state["last"] = store_dir

        drain(spark, ev.schema, root, fold, "ckpt")
        import glob as _glob
        last = state["last"] or sorted(
            _glob.glob(os.path.join(out, "store_b*")))[-1]
        from ..operators import sketches as SK2
        return SK2.bottomk_quantiles(spark.read.parquet(last),
                                     ["event_type"])

    _BKH2 = ("TRY_CAST(concat('0x', substr(md5(concat(CAST(event_id AS "
             "VARCHAR), ':bk-v1')), 1, 15)) AS BIGINT)")
    add("events_stream_bottomk_quantiles", _stream_bottomk,
        rf"""WITH h AS (
          SELECT event_type, {_BKH2} AS bk_h, value FROM events),
        r AS (
          SELECT event_type, bk_h, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY bk_h, value) AS rn
          FROM h),
        p AS (SELECT event_type, bk_h, value FROM r WHERE rn <= 64),
        rk AS (
          SELECT event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY value, bk_h) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM p)
        SELECT event_type,
               MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                        THEN value END) AS q50,
               MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                        THEN value END) AS q90,
               MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
                        THEN value END) AS q99
        FROM rk GROUP BY event_type""")

    # KMV distinct-count sketch: the oracle-exact complement
    # to HLL — state is the 64 smallest distinct md5-60bit user hashes
    # per event type, the estimate is ((k-1) * 2^60) DIV h_k, all
    # integer arithmetic any engine reproduces; groups seen fewer than
    # k distinct values report their EXACT count.

    def _kmv_users(spark, sf):
        from ..operators import sketches as SK
        ev = _load(spark, sf, "events")
        part = SK.kmv_partial(ev, ["event_type"], "user_id", k=64)
        return SK.kmv_estimate(part, ["event_type"], k=64)

    add("events_kmv_users_by_type", _kmv_users,
        rf"""WITH h AS (
          SELECT DISTINCT event_type,
                 {kmv_hash_sql('user_id')} AS kmv_h
          FROM events),
        r AS (
          SELECT event_type, kmv_h,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY kmv_h) AS rn
          FROM h),
        p AS (SELECT event_type, kmv_h FROM r WHERE rn <= 64),
        a AS (SELECT event_type, COUNT(*) AS n, MAX(kmv_h) AS hk
              FROM p GROUP BY 1)
        SELECT event_type,
               CAST(CASE WHEN n < 64 THEN n
                    ELSE (63 * CAST(1152921504606846976 AS HUGEINT))
                         // hk END AS BIGINT) AS n_distinct_est
        FROM a""")

    # KMV set-operation estimates: pairwise audience
    # overlap between event types computed from SKETCH STATE ONLY —
    # union/intersection cardinality per unordered type pair via the
    # theta-sketch estimator (operators/sketches.kmv_overlap).  The
    # raw data is touched exactly once (the kmv_partial distinct pass);
    # the G^2 pair matrix then costs O(G^2 * k) sketch rows.  Fully
    # integer arithmetic on md5 hashes => the oracle reproduces every
    # estimate bit-for-bit.
    def _kmv_overlap(spark, sf):
        from ..operators import sketches as SK
        ev = _load(spark, sf, "events")
        part = SK.kmv_partial(ev, ["event_type"], "user_id", k=64)
        return SK.kmv_overlap(part, "event_type", k=64)

    add("events_kmv_type_overlap", _kmv_overlap,
        rf"""WITH h AS (
          SELECT DISTINCT event_type,
                 {kmv_hash_sql('user_id')} AS kmv_h
          FROM events),
        r AS (
          SELECT event_type, kmv_h,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY kmv_h) AS rn
          FROM h),
        p AS (SELECT event_type, kmv_h FROM r WHERE rn <= 64),
        g AS (SELECT DISTINCT event_type FROM p),
        prs AS (SELECT a.event_type AS g_a, b.event_type AS g_b
                FROM g a, g b WHERE a.event_type < b.event_type),
        pooled AS (
          SELECT g_a, g_b, kmv_h,
                 MAX(in_a) AS in_a, MAX(in_b) AS in_b
          FROM (
            SELECT prs.g_a, prs.g_b, p.kmv_h, 1 AS in_a, 0 AS in_b
            FROM prs JOIN p ON p.event_type = prs.g_a
            UNION ALL
            SELECT prs.g_a, prs.g_b, p.kmv_h, 0 AS in_a, 1 AS in_b
            FROM prs JOIN p ON p.event_type = prs.g_b)
          GROUP BY 1, 2, 3),
        sk AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY g_a, g_b
                                       ORDER BY kmv_h) AS rn
          FROM pooled),
        a AS (
          SELECT g_a, g_b, COUNT(*) AS n, MAX(kmv_h) AS hk,
                 SUM(in_a * in_b) AS rho
          FROM sk WHERE rn <= 64 GROUP BY 1, 2),
        u AS (
          SELECT g_a, g_b, n, rho,
                 CAST(CASE WHEN n < 64 THEN n
                      ELSE (63 * CAST(1152921504606846976 AS HUGEINT))
                           // hk END AS BIGINT) AS union_est
          FROM a)
        SELECT g_a, g_b, union_est,
               CAST(CASE WHEN n < 64 THEN rho
                    ELSE (union_est // 64) * rho
                         + ((union_est % 64) * rho) // 64
                    END AS BIGINT) AS inter_est
        FROM u""")

    # Sliding-window distinct users: hourly KMV
    # partials re-merged per trailing 6 h window position — window
    # repositioning costs sketch-sized work, never a corpus re-scan
    # (operators/sketches.kmv_sliding_estimate).
    def _kmv_sliding(spark, sf):
        from ..operators import sketches as SK
        return SK.kmv_sliding_estimate(
            _load(spark, sf, "events"), "ts", "user_id",
            window_hours=6, k=64)

    add("events_sliding_distinct_users", _kmv_sliding,
        rf"""WITH h AS (
          SELECT DISTINCT date_trunc('hour', ts) AS hr,
                 {kmv_hash_sql('user_id')} AS kmv_h
          FROM events),
        r AS (
          SELECT hr, kmv_h,
                 ROW_NUMBER() OVER (PARTITION BY hr
                                    ORDER BY kmv_h) AS rn
          FROM h),
        p AS (SELECT hr, kmv_h FROM r WHERE rn <= 64),
        t AS (SELECT DISTINCT hr AS hour FROM p),
        u AS (
          SELECT DISTINCT t.hour, p.kmv_h
          FROM t JOIN p ON p.hr <= t.hour
                       AND p.hr >= t.hour - INTERVAL 5 HOUR),
        rr AS (
          SELECT hour, kmv_h,
                 ROW_NUMBER() OVER (PARTITION BY hour
                                    ORDER BY kmv_h) AS rn
          FROM u),
        a AS (SELECT hour, COUNT(*) AS n, MAX(kmv_h) AS hk
              FROM rr WHERE rn <= 64 GROUP BY 1)
        SELECT hour,
               CAST(CASE WHEN n < 64 THEN n
                    ELSE (63 * CAST(1152921504606846976 AS HUGEINT))
                         // hk END AS BIGINT) AS n_distinct_est
        FROM a""")

    # Mergeable bottom-k quantile sketch: the
    # quantile complement to KMV — state is the k rows with smallest
    # md5 row hashes per event type (a deterministic uniform sample
    # whose shard merge is exact), estimates are rank picks over the
    # sampled values (operators/sketches.bottomk_*).
    def _bottomk_quant(spark, sf):
        from ..operators import sketches as SK
        ev = _load(spark, sf, "events")
        part = SK.bottomk_partial(ev, ["event_type"], "event_id",
                                  "value", k=64)
        return SK.bottomk_quantiles(part, ["event_type"])

    _BKH = ("TRY_CAST(concat('0x', substr(md5(concat(CAST(event_id AS "
            "VARCHAR), ':bk-v1')), 1, 15)) AS BIGINT)")
    add("events_bottomk_value_quantiles", _bottomk_quant,
        rf"""WITH h AS (
          SELECT event_type, {_BKH} AS bk_h, value FROM events),
        r AS (
          SELECT event_type, bk_h, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY bk_h, value) AS rn
          FROM h),
        p AS (SELECT event_type, bk_h, value FROM r WHERE rn <= 64),
        rk AS (
          SELECT event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY value, bk_h) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM p)
        SELECT event_type,
               MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                        THEN value END) AS q50,
               MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                        THEN value END) AS q90,
               MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
                        THEN value END) AS q99
        FROM rk GROUP BY event_type""")

    # Sliding-window quantiles: rolling value
    # percentiles per hour from trailing 6 h of bottom-k sample state
    # (operators/sketches.bottomk_sliding_quantiles) — window
    # repositioning is sketch-sized work, never a corpus re-scan.
    def _bk_sliding(spark, sf):
        from ..operators import sketches as SK
        return SK.bottomk_sliding_quantiles(
            _load(spark, sf, "events"), "ts", "event_id", "value",
            window_hours=6, k=64)

    _BKH3 = ("TRY_CAST(concat('0x', substr(md5(concat(CAST(event_id AS "
             "VARCHAR), ':bk-v1')), 1, 15)) AS BIGINT)")
    add("events_sliding_value_quantiles", _bk_sliding,
        rf"""WITH h AS (
          SELECT date_trunc('hour', ts) AS hr, {_BKH3} AS bk_h, value
          FROM events),
        r AS (
          SELECT hr, bk_h, value,
                 ROW_NUMBER() OVER (PARTITION BY hr
                                    ORDER BY bk_h, value) AS rn
          FROM h),
        p AS (SELECT hr, bk_h, value FROM r WHERE rn <= 64),
        t AS (SELECT DISTINCT hr AS hour FROM p),
        u AS (
          SELECT DISTINCT t.hour, p.bk_h, p.value
          FROM t JOIN p ON p.hr <= t.hour
                       AND p.hr >= t.hour - INTERVAL 5 HOUR),
        m AS (
          SELECT hour, bk_h, value,
                 ROW_NUMBER() OVER (PARTITION BY hour
                                    ORDER BY bk_h, value) AS rn
          FROM u),
        keep AS (SELECT hour, bk_h, value FROM m WHERE rn <= 64),
        rk AS (
          SELECT hour, value,
                 ROW_NUMBER() OVER (PARTITION BY hour
                                    ORDER BY value, bk_h) AS rn,
                 COUNT(*) OVER (PARTITION BY hour) AS n
          FROM keep)
        SELECT hour,
               MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                        THEN value END) AS q50,
               MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                        THEN value END) AS q90,
               MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
                        THEN value END) AS q99
        FROM rk GROUP BY hour""")

    def _hll_md5(spark, sf):
        from ..operators import sketches as SK
        from ..session import load_table
        return SK.hll_md5_distinct(
            load_table(spark, sf, "events"), ["event_type"], "user_id")

    _HLL_NUM = repr(_hll_alpha_num(10))
    _HLL_LADDER = ladder_sql(
        "SELECT event_type, nreg, v, raw, "
        "(1024.0e0 / CAST(CASE WHEN v = 0 THEN 1 ELSE v END AS DOUBLE))"
        " AS lnarg FROM est",
        lns=[("lnarg", "lnv")])
    _HLL_ORACLE = rf"""WITH h AS (
          SELECT event_type,
                 TRY_CAST(concat('0x', substr(md5(concat(
                   CAST(user_id AS VARCHAR), ':hll-v1')), 1, 15))
                   AS BIGINT) AS hv
          FROM events),
        rk AS (
          SELECT event_type, CAST(hv % 1024 AS INTEGER) AS reg,
                 CASE WHEN hv // 1024 = 0 THEN 51
                      ELSE 51 - length(bin(hv // 1024)) END AS rnk
          FROM h),
        mx AS (SELECT event_type, reg, MAX(rnk) AS max_rank
               FROM rk GROUP BY 1, 2),
        agg AS (
          SELECT event_type, COUNT(*) AS nreg,
                 SUM(CAST(power(2, 60 - max_rank) AS HUGEINT)) AS s_used
          FROM mx GROUP BY 1),
        est AS (
          SELECT event_type, nreg, 1024 - nreg AS v,
                 {_HLL_NUM}
                 / CAST(s_used + CAST(1024 - nreg AS HUGEINT)
                        * 1152921504606846976 AS DOUBLE) AS raw
          FROM agg)
        SELECT event_type,
               CASE WHEN raw <= 2560.0e0 AND v > 0
                    THEN CAST(ROUND(1024.0e0 * lnv) AS BIGINT)
                    ELSE CAST(ROUND(raw) AS BIGINT) END
                 AS n_distinct_est
        FROM ({_HLL_LADDER})"""

    add("events_hll_md5_users_by_type", _hll_md5, _HLL_ORACLE)

    # STREAMING HLL fold: per-micro-batch register tables max-merged
    # into a durable <=1024-rows-per-type store (register max is the
    # HLL union — associative and idempotent, so the folded registers
    # provably equal the one-shot sketch and the entry SHARES the
    # batch HLL's full oracle).  Completes the streaming fold family:
    # KMV cardinality, CMS frequency, bottom-k quantiles, HLL.  Same
    # replay harness as the KMV fold: three id-ordered file batches,
    # per-batch store with restart recovery, availableNow drain.
    def _stream_hll(spark, sf):
        import glob as _glob
        import os

        from pyspark.sql import functions as F

        from ..operators import sketches as SK
        from ..session import load_table
        ev = load_table(spark, sf, "events")
        root = stage_batches("hll_stream", sf, ev,
                             lambda d: tertiles(d, "event_id"))
        out = os.path.join(root, "out")
        state: dict = {"regs": None, "last": None}

        def fold(batch, batch_id: int) -> None:
            bspark = batch.sparkSession
            store_dir = os.path.join(out, f"store_b{batch_id}")
            prev_dir = os.path.join(out, f"store_b{batch_id - 1}")
            regs = state["regs"]
            if regs is None and batch_id > 0:    # restart recovery
                regs = bspark.read.parquet(prev_dir)
            new = SK.hll_md5_registers(batch, ["event_type"],
                                       "user_id")
            merged = new if regs is None else (
                regs.unionByName(new)
                .groupBy("event_type", "reg")
                .agg(F.max("max_rank").alias("max_rank")))
            merged.write.mode("overwrite").parquet(store_dir)
            state["regs"] = bspark.read.parquet(store_dir)
            state["last"] = store_dir

        drain(spark, ev.schema, root, fold, "ckpt")
        last = state["last"] or sorted(
            _glob.glob(os.path.join(out, "store_b*")))[-1]
        return SK.hll_md5_estimate(spark.read.parquet(last),
                                   ["event_type"])

    add("events_stream_hll_md5_users", _stream_hll, _HLL_ORACLE)
