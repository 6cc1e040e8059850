"""Running-sum event entries: cumulative and signed milestones (batch
and streaming), peak concurrency, session occupancy and exact ranks —
the prefix-scan operators in ``operators/prefix.py``.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import prefix as P
from ..session import load_table
from ..workload_shared import drain, stage_batches


def _events(spark, sf):
    return load_table(spark, sf, "events")


# one milestone per 5,000 value units (frozen DECIMAL(18,4) ten-
# thousandths): ~50 crossings at sf0.001, ~500 at sf0.01 — compact
# output regardless of input size, which is the point of the entry.
_STEP = 50_000_000


def register(add) -> None:
    def milestones(spark, sf):
        df = _events(spark, sf).select(
            "event_id", "ts",
            (F.col("value").cast("decimal(18,4)") * 10000)
            .cast("long").alias("v_tenk"),
            F.expr("unix_timestamp(ts) div 3600").alias("hb"))
        return P.running_milestones(
            df, "hb", ["ts", "event_id"], "v_tenk",
            step=_STEP, id_cols=["event_id"])

    # the oracle states the SPEC (one global running sum); the engine
    # path is the two-phase bucket-carry form — same bits, parallel.
    add("events_revenue_milestones", milestones,
        f"""WITH v AS (
          SELECT event_id, ts,
                 CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)
                   AS v_tenk
          FROM events),
        r AS (
          SELECT event_id, v_tenk,
                 SUM(v_tenk) OVER (ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS running
          FROM v)
        SELECT event_id,
               CAST(running // {_STEP} AS BIGINT) AS milestone,
               CAST(running // {_STEP}
                    - (running - v_tenk) // {_STEP} AS BIGINT)
                 AS n_crossed,
               CAST(running AS BIGINT) AS running
        FROM r
        WHERE running // {_STEP} > (running - v_tenk) // {_STEP}""")

    # STREAMING cumulative milestones: an availableNow file stream
    # (one time-ordered slice per micro-batch) folds each batch through
    # running_milestones with the exact BIGINT carry of all prior
    # batches; per-batch reports are idempotent (commit marker after
    # report+carry), restart recovery reloads the last committed carry.
    # Time-ordered arrival makes the folded crossings equal the
    # one-shot crossings, so the SAME batch oracle certifies the
    # stream -> carry-state -> report chain.  This is ingestion-time
    # budget tracking (e.g. "stop at N tokens"): state is ONE integer,
    # never a row set — bounded at any scale.
    def stream_milestones(spark, sf):
        import json
        import os

        def time_slices(ev):             # 4 contiguous time slices
            lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
            lo_s, hi_s = (int(lo.timestamp()), int(hi.timestamp()) + 1)
            span = max(1, (hi_s - lo_s + 3) // 4)
            return [(F.unix_timestamp("ts") >= lo_s + i * span)
                    & (F.unix_timestamp("ts") < lo_s + (i + 1) * span)
                    for i in range(4)]

        ev = _events(spark, sf)
        root = stage_batches("ms_stream", sf, ev, time_slices)
        out = os.path.join(root, "out")
        os.makedirs(out, exist_ok=True)
        state: dict = {"carry": None}

        def fold(batch, batch_id: int) -> None:
            cmark = os.path.join(out, f"_COMMITTED_b{batch_id}")
            if os.path.exists(cmark):
                return                     # replayed batch: no-op
            carry = state["carry"]
            if carry is None:              # restart recovery
                carry = 0 if batch_id == 0 else json.load(
                    open(os.path.join(out,
                                      f"carry_b{batch_id - 1}.json")))
            df = batch.select(
                "event_id", "ts",
                (F.col("value").cast("decimal(18,4)") * 10000)
                .cast("long").alias("v_tenk"),
                F.expr("unix_timestamp(ts) div 3600").alias("hb"))
            rep = P.running_milestones(
                df, "hb", ["ts", "event_id"], "v_tenk",
                step=_STEP, id_cols=["event_id"], base=carry)
            rep.write.mode("overwrite").parquet(
                os.path.join(out, f"report_b{batch_id}"))
            new_carry = carry + (df.agg(F.sum("v_tenk")).first()[0] or 0)
            json.dump(new_carry, open(
                os.path.join(out, f"carry_b{batch_id}.json"), "w"))
            open(cmark, "w").close()
            state["carry"] = new_carry

        drain(spark, ev.schema, root, fold, "ckpt")
        return spark.read.parquet(os.path.join(out, "report_b*"))

    add("events_stream_milestones", stream_milestones, f"""WITH v AS (
          SELECT event_id, ts,
                 CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)
                   AS v_tenk
          FROM events),
        r AS (
          SELECT event_id, v_tenk,
                 SUM(v_tenk) OVER (ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS running
          FROM v)
        SELECT event_id,
               CAST(running // {_STEP} AS BIGINT) AS milestone,
               CAST(running // {_STEP}
                    - (running - v_tenk) // {_STEP} AS BIGINT)
                 AS n_crossed,
               CAST(running AS BIGINT) AS running
        FROM r
        WHERE running // {_STEP} > (running - v_tenk) // {_STEP}""")

    def concurrency(spark, sf):
        iv = P.session_intervals(_events(spark, sf))
        return P.peak_concurrency_hourly(iv)

    # session bounds share events_sessionize's gap convention (strict
    # > 1800 s on floor-epoch seconds, event_id tiebreak); endpoints
    # become +-1 deltas pre-aggregated per distinct second, so the
    # running concurrency curve is tie-free by construction.
    add("events_peak_concurrency", concurrency,
        """WITH secs AS (
          SELECT user_id, event_id, ts,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec
          FROM events),
        flagged AS (
          SELECT user_id, ts, event_id, sec,
                 CASE WHEN sec - lag(sec) OVER w IS NULL THEN 1
                      WHEN sec - lag(sec) OVER w > 1800 THEN 1
                      ELSE 0 END AS new_s
          FROM secs
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sid AS (
          SELECT user_id, sec,
                 SUM(new_s) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_seq
          FROM flagged),
        iv AS (
          SELECT user_id, session_seq,
                 MIN(sec) AS start_sec, MAX(sec) + 1 AS end_sec
          FROM sid GROUP BY 1, 2),
        deltas AS (
          SELECT start_sec AS sec, 1 AS delta FROM iv
          UNION ALL
          SELECT end_sec AS sec, -1 AS delta FROM iv),
        net AS (SELECT sec, SUM(delta) AS net FROM deltas GROUP BY sec),
        curve AS (
          SELECT sec, net, sec // 3600 AS hour,
                 SUM(net) OVER (ORDER BY sec
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS concurrent
          FROM net)
        SELECT CAST(to_timestamp(hour * 3600) AS TIMESTAMP) AS hour,
               CAST(GREATEST(MAX(concurrent),
                             arg_min(concurrent - net, sec)) AS BIGINT)
                 AS peak_concurrent,
               CAST(arg_max(concurrent, sec) AS BIGINT)
                 AS end_concurrent
        FROM curve GROUP BY hour""")

    # time-weighted occupancy: the integral of the concurrency curve
    # decomposes PER INTERVAL (explode to overlapped hours + clamp),
    # so no sweep line or window is needed — embarrassingly parallel,
    # all-integer, same session-interval convention as the peak entry.
    def occupancy(spark, sf):
        iv = P.session_intervals(_events(spark, sf))
        return P.occupancy_hourly(iv)

    add("events_session_occupancy", occupancy,
        """WITH secs AS (
          SELECT user_id, event_id, ts,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec
          FROM events),
        flagged AS (
          SELECT user_id, ts, event_id, sec,
                 CASE WHEN sec - lag(sec) OVER w IS NULL THEN 1
                      WHEN sec - lag(sec) OVER w > 1800 THEN 1
                      ELSE 0 END AS new_s
          FROM secs
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sid AS (
          SELECT user_id, sec,
                 SUM(new_s) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_seq
          FROM flagged),
        iv AS (
          SELECT user_id, session_seq,
                 MIN(sec) AS s, MAX(sec) + 1 AS e
          FROM sid GROUP BY 1, 2),
        hours AS (
          SELECT s, e, unnest(generate_series(s // 3600,
                                              (e - 1) // 3600)) AS hour
          FROM iv)
        SELECT CAST(to_timestamp(hour * 3600) AS TIMESTAMP) AS hour,
               CAST(SUM(LEAST(e, (hour + 1) * 3600)
                        - GREATEST(s, hour * 3600)) AS BIGINT)
                 AS busy_seconds,
               COUNT(*) AS n_active_intervals
        FROM hours GROUP BY hour""")

    # exact GLOBAL rank without a global sort: rank = prefix COUNT, so
    # running_total over lit(1) with value-range buckets is the
    # classic distributed-ranking primitive (the same two-phase shape;
    # a naive ROW_NUMBER() OVER (ORDER BY value) would single-task).
    # Sampled output (every 97th rank) keeps the entry compact.
    def exact_ranks(spark, sf):
        df = _events(spark, sf).select(
            "event_id",
            (F.col("value").cast("decimal(18,4)") * 10000)
            .cast("long").alias("v_tenk"),
            F.lit(1).alias("one"),
            # order-aligned bucket: 50-unit value ranges
            F.expr("cast(cast(value as decimal(18,4)) * 10000 as long)"
                   " div 500000").alias("vb"))
        ranked = P.running_total(df, "vb", ["v_tenk", "event_id"],
                                 "one", out_col="rnk")
        return (ranked.filter(F.col("rnk") % 97 == 0)
                .select("event_id", "v_tenk",
                        F.col("rnk").cast("long").alias("rnk")))

    add("events_value_exact_ranks", exact_ranks,
        """WITH v AS (
          SELECT event_id,
                 CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)
                   AS v_tenk
          FROM events),
        r AS (
          SELECT event_id, v_tenk,
                 ROW_NUMBER() OVER (ORDER BY v_tenk, event_id) AS rnk
          FROM v)
        SELECT event_id, v_tenk, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk % 97 = 0""")

    # SIGNED running milestones (ADVICE r10 fix 5: Spark's div
    # truncates toward zero, the oracle's // floors — the engine now
    # floor-divides, so a mixed-sign stream is oracle-exact): the
    # value stream centered at its nominal 50.0000 mean becomes a
    # near-zero-drift walk whose up-crossings of 100-unit boundaries
    # are the reported milestones.
    def drawdown_milestones(spark, sf):
        df = load_table(spark, sf, "events").select(
            "event_id", "ts",
            ((F.col("value").cast("decimal(18,4)") * 10000)
             .cast("long") - 500000).alias("sv"),
            F.expr("unix_timestamp(ts) div 3600").alias("hb"))
        return P.running_milestones(
            df, "hb", ["ts", "event_id"], "sv",
            step=1_000_000, id_cols=["event_id"])

    # NOTE: DuckDB's integer ``//`` TRUNCATES toward zero (unlike
    # python's, which floors) — the oracle spells FLOOR division out
    # explicitly so both engines use the same milestone indices on the
    # negative side of the walk.
    add("events_value_drawdown_milestones", drawdown_milestones,
        """WITH v AS (
          SELECT event_id, ts,
                 CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)
                   - 500000 AS sv
          FROM events),
        r AS (
          SELECT event_id, sv,
                 SUM(sv) OVER (ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS running
          FROM v),
        r2 AS (
          SELECT event_id, sv, running,
                 (running // 1000000)
                   - (CASE WHEN running < 0
                           AND running % 1000000 <> 0
                      THEN 1 ELSE 0 END) AS hi,
                 ((running - sv) // 1000000)
                   - (CASE WHEN (running - sv) < 0
                           AND (running - sv) % 1000000 <> 0
                      THEN 1 ELSE 0 END) AS lo
          FROM r)
        SELECT event_id,
               CAST(hi AS BIGINT) AS milestone,
               CAST(hi - lo AS BIGINT) AS n_crossed,
               CAST(running AS BIGINT) AS running
        FROM r2 WHERE hi > lo""")
