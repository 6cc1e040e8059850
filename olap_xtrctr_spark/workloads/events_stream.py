"""Structured-streaming event entries: availableNow replays of the
events table through windowed aggregation, sessionization, dedup,
stream-stream joins, stateful tracking and exactly-once upserts, each
certified against the equivalent batch SQL.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ..session import events_schema as _events_schema
from ..session import load_events as _events
from ..streaming import events as EV
from ..workload_shared import SUM_D, staged_root


def register(add) -> None:
    def stream_hourly(spark, sf):
        return EV.replay_hourly_rollup(spark, sf, _events_schema(spark, sf))

    # Structured Streaming end-to-end (readStream → watermark → window →
    # availableNow replay): bounded replay of the events table equals the
    # batch rollup, so the SAME SQL oracle applies to the streaming path.
    add("events_stream_hourly", stream_hourly,
        f"""SELECT date_trunc('hour', ts) AS hour, event_type,
               COUNT(*) AS n_events,
               {SUM_D('value')} AS sum_value
        FROM events
        GROUP BY 1, 2""")

    # streaming OHLC replay equals the batch bars -> same oracle as
    # events_ohlc_hourly
    add("events_stream_ohlc", lambda spark, sf: EV.replay_ohlc_hourly(
            spark, sf, _events_schema(spark, sf)),
        """WITH r AS (
          SELECT date_trunc('hour', ts) AS hour, event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts),
                   event_type ORDER BY ts, event_id) AS rn_a,
                 ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts),
                   event_type ORDER BY ts DESC, event_id DESC) AS rn_d
          FROM events)
        SELECT hour, event_type,
               ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 4) AS open,
               ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 4) AS close,
               ROUND(MIN(value), 4) AS low,
               ROUND(MAX(value), 4) AS high,
               COUNT(*) AS n_events
        FROM r GROUP BY 1, 2""")

    def stream_sessions(spark, sf):
        sess = EV.replay_sessionize(spark, sf, _events_schema(spark, sf),
                                    second_resolution=True)
        return (sess.groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n_sessions")))

    # stateful streaming sessionization (session_window merging state);
    # merging is boundary-INCLUSIVE, so the 30-min gap over second-truncated
    # timestamps equals the batch strict-> convention -> oracle-checkable
    add("events_stream_sessionize", stream_sessions,
        """WITH secs AS (
          SELECT user_id, event_id, ts,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec
          FROM events),
        flagged AS (
          SELECT user_id,
                 CASE WHEN sec - lag(sec) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id)
                      IS NULL THEN 1
                      WHEN sec - lag(sec) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM secs)
        SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions
        FROM flagged
        GROUP BY user_id""")

    def stream_user_totals(spark, sf):
        from ..streaming.stateful import replay_user_totals
        return replay_user_totals(spark, sf, _events_schema(spark, sf))

    # custom stateful operator (applyInPandasWithState): per-user running
    # totals in explicit GroupState; integer-milli accumulation makes the
    # bounded replay exactly equal a batch SQL aggregate
    add("events_stream_user_totals", stream_user_totals,
        """SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(FLOOR(CAST(value AS DOUBLE) * 1000) AS BIGINT))
                    AS BIGINT) AS sum_value_milli
        FROM events
        GROUP BY user_id""")

    def stream_anomalies(spark, sf):
        rolled = EV.replay_hourly_rollup(spark, sf,
                                         _events_schema(spark, sf))
        return EV.anomalies_from_rollup(
            rolled.select("hour", "event_type", "n_events"),
            threshold_sq=9)

    # the same detector over the REPLAYED streaming rollup — stream and
    # batch rollups are provably equal, so one oracle covers both
    add("events_stream_anomalies", stream_anomalies,
        """WITH h AS (
          SELECT date_trunc('hour', ts) AS hour, event_type,
                 COUNT(*) AS n_events
          FROM events GROUP BY 1, 2),
        win AS (
          SELECT event_type, hour, n_events,
                 SUM(n_events) OVER w AS win_sum,
                 SUM(n_events * n_events) OVER w AS win_sq,
                 COUNT(*) OVER w AS win_n
          FROM h
          WINDOW w AS (PARTITION BY event_type ORDER BY hour
                       ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        SELECT event_type, hour, n_events,
               CAST(win_sum AS BIGINT) AS win_sum,
               CAST(win_n AS INTEGER) AS win_n
        FROM win
        WHERE win_n >= 24
          AND (win_n * n_events - win_sum) * (win_n * n_events - win_sum)
              > 9 * (win_n * win_sq - win_sum * win_sum)
          AND win_n * n_events > win_sum""")

    def stream_dedup(spark, sf):
        return EV.replay_dedup_counts(spark, sf, _events_schema(spark, sf))

    # streaming exactly-once ingestion: the self-unioned (redelivered)
    # stream deduped on event_id must count exactly the batch distinct
    add("events_stream_dedup", stream_dedup,
        """SELECT event_type, COUNT(DISTINCT event_id) AS n_events
        FROM events
        GROUP BY event_type""")

    # streaming ingestion-quality drift monitor: watermarked daily
    # type-mix rollup streamed (one legal streaming agg), then batch TV
    # scoring vs a STATIC baseline period (first 10 days) with an alert
    # flag — exact cross-multiplied integers, no floats anywhere
    def stream_type_drift(spark, sf):
        ev = _events(spark, sf)
        baseline = (ev.filter(F.col("ts").cast("date")
                              < F.lit("2024-01-11").cast("date"))
                    .groupBy("event_type")
                    .agg(F.count(F.lit(1)).alias("n")))
        out = EV.replay_type_drift(spark, sf,
                                   _events_schema(spark, sf), baseline,
                                   alert_milli=25)
        return out.select("day", "n_events", "tv_milli",
                          F.col("alert").cast("int").alias("alert"))

    add("events_stream_type_drift", stream_type_drift,
        """WITH c AS (
          SELECT CAST(ts AS DATE) AS day, event_type,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        b AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS b
          FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-11'
          GROUP BY 1),
        bt AS (SELECT CAST(SUM(b) AS BIGINT) AS b_total FROM b),
        days AS (SELECT day, CAST(SUM(c) AS BIGINT) AS c_total
                 FROM c GROUP BY 1),
        types AS (SELECT DISTINCT event_type FROM c
                  UNION SELECT event_type FROM b),
        grid AS (SELECT * FROM days CROSS JOIN types CROSS JOIN bt),
        j AS (
          SELECT g.day, g.c_total, g.b_total,
                 COALESCE(c.c, 0) AS c, COALESCE(b.b, 0) AS b
          FROM grid g
          LEFT JOIN c ON c.day = g.day AND c.event_type = g.event_type
          LEFT JOIN b ON b.event_type = g.event_type)
        SELECT day, CAST(any_value(c_total) AS BIGINT) AS n_events,
               CAST((500 * CAST(SUM(abs(c * b_total - b * c_total))
                                AS HUGEINT))
                    // (any_value(c_total) * any_value(b_total))
                    AS BIGINT) AS tv_milli,
               CAST(CASE WHEN (500 * CAST(SUM(abs(c * b_total
                                 - b * c_total)) AS HUGEINT))
                    // (any_value(c_total) * any_value(b_total)) >= 25
                    THEN 1 ELSE 0 END AS INTEGER) AS alert
        FROM j GROUP BY day""")

    # exactly-once streaming MERGE: availableNow stream upserted into a
    # versioned table (one CoW version per epoch, batchId idempotence),
    # then the converged per-user latest state read back — the oracle
    # is the plain arg-max SQL, so the driver certifies the whole
    # stream→merge→commit→read chain.  A source change wipes the
    # table and checkpoint; re-runs with an existing checkpoint see no
    # new data and no-op.
    def stream_upsert_latest(spark, sf):
        import os

        from ..sources import versioned as V

        # nothing to stage: the stream reads the source table itself
        root = staged_root("upsert_demo", sf, _events(spark, sf),
                           lambda root: None)
        sdf = (EV.event_stream(spark, sf, _events_schema(spark, sf),
                               glob="events.parquet")
               .withColumn("_ord", F.struct("ts", "event_id")))
        q = V.stream_upsert_versioned(
            sdf, os.path.join(root, "tbl"), ["user_id"], "_ord",
            os.path.join(root, "ckpt"))
        q.awaitTermination()
        return (V.read_version(spark, os.path.join(root, "tbl"))
                .select("user_id", "event_id", "event_type",
                        F.round("value", 4).alias("value")))

    add("events_stream_upsert_latest", stream_upsert_latest,
        """WITH r AS (
          SELECT user_id, event_id, event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        SELECT user_id, event_id, event_type,
               ROUND(value, 4) AS value
        FROM r WHERE rn = 1""")

    def stream_dedup_bounded(spark, sf):
        return EV.replay_dedup_counts_bounded(spark, sf,
                                              _events_schema(spark, sf))

    # bounded-state exactly-once dedup (dropDuplicatesWithinWatermark):
    # keys evict once the watermark passes their event time + delay, so
    # state is O(watermark window), not O(stream) — the form that
    # survives an unbounded deployment; instant self-union redelivery
    # is inside any delay, so the replay equals the batch distinct
    add("events_stream_dedup_bounded", stream_dedup_bounded,
        """SELECT event_type, COUNT(DISTINCT event_id) AS n_events
        FROM events
        GROUP BY event_type""")

    # stream-stream interval join: purchases ⋈ preceding-hour clicks per
    # user, both sides watermarked, event time bounded in both
    # directions (state = O(window·rate)); bounded append-mode replay
    # equals the batch interval join, so a plain SQL join is the oracle.
    def stream_ssjoin(spark, sf):
        return EV.replay_interval_join(spark, sf, _events_schema(spark, sf))

    add("events_stream_click_purchase_join", stream_ssjoin,
        """SELECT p.event_id, p.user_id,
               CAST(p.ts AS TIMESTAMP) AS purchase_ts,
               p.value AS purchase_value,
               CAST(c.ts AS TIMESTAMP) AS click_ts,
               c.value AS click_value
        FROM events p JOIN events c
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.ts <= p.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""")

    # stream-stream LEFT OUTER interval join, null-filtered: clicks with
    # no purchase in the following hour.  Unlike the inner join, the
    # null-padded rows are released only on state EVICTION, so clicks
    # whose match window hasn't fallen behind the final watermark
    # (min of both sides' max event time - delay) stay in state and are
    # never emitted in a bounded replay — the oracle encodes exactly
    # that clause (verified set-equal at sf0.001 and sf0.01).
    def stream_unconverted(spark, sf):
        return EV.replay_unconverted_clicks(spark, sf,
                                            _events_schema(spark, sf))

    add("events_stream_unconverted_clicks", stream_unconverted,
        """WITH w AS (SELECT LEAST(
              (SELECT MAX(ts) FROM events WHERE event_type='click'),
              (SELECT MAX(ts) FROM events WHERE event_type='purchase')
            ) - INTERVAL 2 HOUR AS wm)
        SELECT c.event_id AS click_id, c.user_id,
               CAST(c.ts AS TIMESTAMP) AS click_ts,
               c.value AS click_value
        FROM events c, w
        WHERE c.event_type = 'click'
          AND c.ts + INTERVAL 1 HOUR < w.wm
          AND NOT EXISTS (
            SELECT 1 FROM events p
            WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
              AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)""")

    # stream-static broadcast join (the enrichment shape: unbounded
    # stream ⋈ bounded dimension, no state, no watermark); the bounded
    # replay equals the batch tier aggregate so the same SQL is the oracle
    def stream_tiers(spark, sf):
        return EV.replay_enriched_tiers(spark, sf, _events_schema(spark, sf))

    add("events_stream_enriched_tiers", stream_tiers,
        f"""WITH tiers(tier, lo, hi) AS (VALUES
          ('micro', 0.0, 10.0), ('small', 10.0, 50.0),
          ('mid', 50.0, 150.0), ('large', 150.0, 300.0),
          ('huge', 300.0, 1000.0))
        SELECT tier, COUNT(*) AS n_events, {SUM_D('value')} AS sum_value
        FROM events JOIN tiers ON value >= lo AND value < hi
        GROUP BY tier""")

    def stream_session_tracker(spark, sf):
        from ..streaming.stateful import streaming_session_tracker
        sdf = streaming_session_tracker(
            spark, sf, _events_schema(spark, sf), gap_seconds=1800,
            glob="events.parquet")
        return EV.drain_stream_to_table(
            spark, sdf, "events_stream_session_tracker",
            output_mode="append")

    # custom stateful operator with EVENT-TIME TIMEOUT
    # (applyInPandasWithState): emits each closed session exactly once —
    # closed in-batch by a later event, or flushed by the timeout
    # callback once the watermark passes last_event + gap.  The bounded
    # replay's emission set is deterministic, so a full SQL oracle
    # applies: all sessions except each user's final one, UNLESS the
    # final watermark (max ts - 1 s, in engine milliseconds) passed its
    # deadline — the exact ms arithmetic the state store uses.
    add("events_stream_session_tracker", stream_session_tracker,
        """WITH s AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN lag(epoch_us(ts)) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id)
                      IS NULL THEN 1
                      WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id)
                          > 1800000000 THEN 1 ELSE 0 END AS new_s
          FROM events),
        sess AS (
          SELECT user_id, ts,
                 SUM(new_s) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM s),
        agg AS (
          SELECT user_id, sid,
                 MIN(ts) AS session_start, MAX(ts) AS session_end,
                 COUNT(*) AS n_events
          FROM sess GROUP BY user_id, sid),
        agg2 AS (
          SELECT *, MAX(sid) OVER (PARTITION BY user_id) AS max_sid
          FROM agg),
        mx AS (SELECT MAX(ts) AS max_ts FROM events)
        SELECT user_id, session_start, session_end,
               CAST(n_events AS BIGINT) AS n_events
        FROM agg2, mx
        WHERE sid < max_sid
           OR (epoch_us(session_end) + 1800000000) // 1000
              < epoch_us(max_ts) // 1000 - 1000""")
