"""Batch event analytics entries: hourly rollups, drift and anomaly
reports, sessions, funnels, cohorts, segments and distributions over
the ``events`` table.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import sampling as SM
from ..session import load_events as _events
from ..streaming import events as EV
from ..workload_shared import SUM_D


def register(add) -> None:
    # GROUPING SETS over events (hour-of-day × type, each-alone, grand
    # total) — the cube-style subtotal lattice on the stream table
    add("events_grouping_sets",
        lambda spark, sf: (_events(spark, sf)
            .withColumn("hod", F.hour("ts"))
            .groupingSets([["hod", "event_type"], ["hod"],
                           ["event_type"], []], "hod", "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.coalesce(F.col("hod"), F.lit(-1)).alias("hod"),
                    F.coalesce("event_type", F.lit("All"))
                     .alias("event_type"),
                    F.col("n").cast("bigint").alias("n"))),
        """SELECT COALESCE(hod, -1) AS hod,
               COALESCE(event_type, 'All') AS event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
                     event_type FROM events)
        GROUP BY GROUPING SETS ((hod, event_type), (hod),
                                (event_type), ())""")

    add("events_hourly_rollup",
        lambda spark, sf: EV.hourly_rollup(_events(spark, sf)),
        f"""SELECT date_trunc('hour', ts) AS hour, event_type,
               COUNT(*) AS n_events,
               {SUM_D('value')} AS sum_value
        FROM events
        GROUP BY 1, 2""")

    add("events_ohlc_hourly",
        lambda spark, sf: EV.ohlc_hourly(_events(spark, sf)),
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

    # daily event-type mix drift: TV distance vs the whole-period distribution
    def type_drift(spark, sf):
        from ..operators.diff import categorical_tv_distance
        ev = _events(spark, sf).select(
            F.col("ts").cast("date").alias("day"), "event_type")
        return categorical_tv_distance(ev, "day", "event_type")

    add("events_type_drift_daily", type_drift,
        """WITH per AS (
          SELECT CAST(ts AS DATE) AS day, event_type,
                 CAST(COUNT(*) AS HUGEINT) AS c
          FROM events GROUP BY 1, 2),
        cat AS (SELECT event_type, SUM(c) AS ct FROM per GROUP BY 1),
        grp AS (SELECT day, SUM(c) AS ts FROM per GROUP BY 1),
        tot AS (SELECT SUM(ct) AS t FROM cat),
        j AS (SELECT p.day, p.c, ca.ct, g.ts, tot.t
              FROM per p JOIN cat ca USING (event_type)
              JOIN grp g USING (day), tot),
        agg AS (SELECT day, SUM(abs(c*t - ct*ts)) AS abs_part,
                       SUM(ct) AS cov, any_value(ts) AS ts,
                       any_value(t) AS t
                FROM j GROUP BY day)
        SELECT day, CAST(ts AS BIGINT) AS n_rows,
               CAST((500 * (abs_part + ts*(t - cov))) // (ts * t)
                    AS BIGINT) AS tv_milli
        FROM agg""")

    # gap-filled time series: complete hour spine per type so rolling
    # windows downstream never silently shrink over absent hours
    add("events_hourly_gapfilled",
        lambda spark, sf: EV.hourly_rollup_gapfilled(_events(spark, sf)),
        f"""WITH r AS (
          SELECT date_trunc('hour', ts) AS hour, event_type,
                 COUNT(*) AS n_events, {SUM_D('value')} AS sum_value
          FROM events GROUP BY 1, 2),
        b AS (SELECT event_type, MIN(hour) AS lo, MAX(hour) AS hi
              FROM r GROUP BY 1),
        spine AS (SELECT event_type,
                         unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                           AS hour
                  FROM b)
        SELECT s.event_type, s.hour,
               CAST(COALESCE(r.n_events, 0) AS BIGINT) AS n_events,
               COALESCE(r.sum_value, 0.0) AS sum_value
        FROM spine s LEFT JOIN r USING (event_type, hour)""")

    # ops diagnostics: silence gaps per type, key-skew report
    add("events_silence_report",
        lambda spark, sf: EV.silence_report(_events(spark, sf),
                                            min_gap_hours=2),
        """WITH h AS (
          SELECT DISTINCT event_type, date_trunc('hour', ts) AS hour
          FROM events),
        g AS (
          SELECT event_type,
                 lag(hour) OVER (PARTITION BY event_type
                                 ORDER BY hour) AS silent_from,
                 hour AS resumed_at,
                 CAST(date_diff('hour', lag(hour) OVER (
                        PARTITION BY event_type ORDER BY hour), hour)
                      AS INTEGER) AS gap_hours
          FROM h)
        SELECT event_type, silent_from, resumed_at, gap_hours
        FROM g WHERE gap_hours > 2""")

    add("events_key_skew_report",
        lambda spark, sf: EV.key_skew_report(_events(spark, sf),
                                             "event_type", top_n=5),
        """WITH pk AS (SELECT event_type AS key, COUNT(*) AS n
                       FROM events GROUP BY 1),
        t AS (SELECT COUNT(*) AS n_total FROM events)
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, key)
                    AS INTEGER) AS rank,
               key, CAST(n AS BIGINT) AS n,
               CAST(t.n_total AS BIGINT) AS n_total,
               CAST((n * 1000) // t.n_total AS BIGINT) AS share_milli
        FROM pk, t
        ORDER BY n DESC, key LIMIT 5""")

    # query-time file skipping over the clustered rewrite: the entry
    # rewrites events range-clustered on (event_type, ts), ASSERTS the
    # predicate reaches the scan AND that footer min/max stats exclude
    # a majority of row groups (rowgroup_skip_stats — the same stats
    # the reader prunes with), then returns the rollup for the oracle.
    # This is the lake analog of the reference's btree indexes on its
    # members snapshot (001_initial_schema.sql:81-88).
    def _clustered_scan(spark, sf):
        from ..sources.maintenance import clustered_scan_demo
        return clustered_scan_demo(spark, sf, event_type="click")

    add("events_clustered_scan_pruning", _clustered_scan,
        f"""SELECT date_trunc('hour', ts) AS hour,
               COUNT(*) AS n_events, {SUM_D('value')} AS sum_value
        FROM events WHERE event_type = 'click'
        GROUP BY 1""")

    # first-order Markov transitions of event types (milli-probability
    # integers; output bounded by type-vocabulary squared)
    add("events_type_transitions",
        lambda spark, sf: EV.type_transition_matrix(_events(spark, sf)),
        """WITH steps AS (
          SELECT event_type AS type_from,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS type_to
          FROM events),
        c AS (SELECT type_from, type_to, COUNT(*) AS n
              FROM steps WHERE type_to IS NOT NULL GROUP BY 1, 2),
        t AS (SELECT type_from, SUM(n) AS n_from FROM c GROUP BY 1)
        SELECT c.type_from, c.type_to, CAST(c.n AS BIGINT) AS n,
               CAST(t.n_from AS BIGINT) AS n_from,
               CAST((c.n * 1000) // t.n_from AS BIGINT) AS p_milli
        FROM c JOIN t USING (type_from)""")

    # RFM segmentation (dimension-sized windows only; total-order ntile
    # with user_id tiebreak for cross-engine bit-equality)
    add("events_rfm_segments",
        lambda spark, sf: EV.rfm_segments(_events(spark, sf)),
        f"""WITH pu AS (
          SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS frequency,
                 {SUM_D('value')} AS monetary
          FROM events GROUP BY user_id),
        ref AS (SELECT MAX(ts) AS ref_ts FROM events),
        sc AS (
          SELECT user_id,
                 CAST(date_diff('day', CAST(last_ts AS DATE),
                                CAST(ref_ts AS DATE)) AS INTEGER)
                   AS recency_days,
                 frequency, monetary
          FROM pu, ref)
        SELECT user_id, recency_days,
               CAST(frequency AS BIGINT) AS frequency,
               ROUND(monetary, 4) AS monetary,
               CAST(ntile(5) OVER (ORDER BY recency_days, user_id)
                    AS INTEGER) AS r_score,
               CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id)
                    AS INTEGER) AS f_score,
               CAST(ntile(5) OVER (ORDER BY monetary DESC, user_id)
                    AS INTEGER) AS m_score,
               concat_ws('-',
                 ntile(5) OVER (ORDER BY recency_days, user_id),
                 ntile(5) OVER (ORDER BY frequency DESC, user_id),
                 ntile(5) OVER (ORDER BY monetary DESC, user_id))
                 AS segment
        FROM sc""")

    # unordered event-type pair lift over the user population (exact
    # integer milli-units)
    add("events_type_cooccurrence_lift",
        lambda spark, sf: EV.type_cooccurrence_lift(_events(spark, sf)),
        """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        n AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut),
        pt AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1)
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_both,
               CAST(MIN(pa.n) AS BIGINT) AS n_a,
               CAST(MIN(pb.n) AS BIGINT) AS n_b,
               CAST((COUNT(*) * MIN(n.n_users) * 1000)
                    // (MIN(pa.n) * MIN(pb.n)) AS BIGINT) AS lift_milli
        FROM ut a
        JOIN ut b ON a.user_id = b.user_id
                 AND a.event_type < b.event_type
        JOIN pt pa ON pa.event_type = a.event_type
        JOIN pt pb ON pb.event_type = b.event_type, n
        GROUP BY 1, 2""")

    # SCD-2-shaped per-user state history (run-length collapse of the
    # event stream into validity ranges)
    add("events_user_state_history",
        lambda spark, sf: EV.user_state_history(_events(spark, sf)),
        """WITH o AS (
          SELECT user_id, event_id, ts, event_type,
                 CASE WHEN lag(event_type) OVER w IS NULL
                           OR lag(event_type) OVER w <> event_type
                      THEN 1 ELSE 0 END AS chg
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        r AS (
          SELECT *, SUM(chg) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS run_id
          FROM o)
        SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
               MIN(event_type) AS state,
               MIN(ts) AS valid_from, MAX(ts) AS valid_to,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM r GROUP BY user_id, run_id""")

    add("events_sessionize",
        lambda spark, sf: EV.sessionize(_events(spark, sf)),
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
        SELECT user_id,
               CAST(SUM(new_session) AS BIGINT) AS n_sessions,
               COUNT(*) AS n_events
        FROM flagged
        GROUP BY user_id""")

    # trailing-window burst detector in exact integer arithmetic
    # (cross-multiplied z-score — no float stddev/sqrt to diverge on)
    add("events_hourly_anomalies",
        lambda spark, sf: EV.hourly_anomalies(_events(spark, sf),
                                              window_hours=24,
                                              threshold_sq=9),
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

    # percentiles on the milli-quantized integer domain: both engines run
    # the same linear interpolation over the same exact bigints
    add("events_value_percentiles",
        lambda spark, sf: _events(spark, sf)
        .withColumn("milli", F.floor(F.col("value") * 1000).cast("bigint"))
        .groupBy("event_type")
        .agg(F.percentile("milli", 0.5).alias("p50_milli"),
             F.percentile("milli", 0.9).alias("p90_milli"),
             F.min("milli").alias("min_milli"),
             F.max("milli").alias("max_milli")),
        """SELECT event_type,
               quantile_cont(milli, 0.5) AS p50_milli,
               quantile_cont(milli, 0.9) AS p90_milli,
               MIN(milli) AS min_milli,
               MAX(milli) AS max_milli
        FROM (SELECT event_type,
                     CAST(FLOOR(value * 1000) AS BIGINT) AS milli
              FROM events)
        GROUP BY event_type""")

    # join-free funnel: running last-click timestamp carried by a window,
    # conversion is a row-local comparison (k+m rows per user, never k*m)
    add("events_funnel_conversion",
        lambda spark, sf: EV.funnel_conversion(_events(spark, sf),
                                               "click", "purchase", 60),
        """WITH flagged AS (
          SELECT user_id, ts, event_type,
                 last_value(CASE WHEN event_type = 'click' THEN ts END
                            IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS last_click
          FROM events)
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_first,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_then,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                         AND last_click IS NOT NULL
                         AND epoch(ts) - epoch(last_click) <= 3600
                         AND ts >= last_click THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_converted,
               MIN(CASE WHEN event_type = 'purchase'
                         AND last_click IS NOT NULL
                         AND epoch(ts) - epoch(last_click) <= 3600
                         AND ts >= last_click THEN ts END)
                   AS first_conversion_ts
        FROM flagged
        GROUP BY user_id
        HAVING SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) > 0""")

    # weekly retention triangle over the (user, week) distinct grain
    add("events_retention_cohorts",
        lambda spark, sf: EV.retention_cohorts(_events(spark, sf)),
        """WITH uw AS (
          SELECT DISTINCT user_id,
                 CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
          FROM events),
        first AS (
          SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY 1)
        SELECT cohort_week,
               CAST(date_diff('day', cohort_week, week) / 7 AS INTEGER)
                   AS weeks_later,
               COUNT(DISTINCT uw.user_id) AS n_users
        FROM uw JOIN first ON uw.user_id = first.user_id
        GROUP BY 1, 2""")

    def skew_distinct(spark, sf):
        from ..operators.skew import count_distinct_skew_safe
        return count_distinct_skew_safe(_events(spark, sf), ["event_type"],
                                        "user_id", out_name="n_users")

    # skew-safe exact COUNT(DISTINCT): dedup-then-count so a hot key's
    # distinct set never lands on a single reducer
    add("events_type_user_distinct", skew_distinct,
        """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY event_type""")

    add("events_top_hours_per_type",
        lambda spark, sf: EV.top_hours_per_type(_events(spark, sf), k=3),
        """WITH h AS (
          SELECT date_trunc('hour', ts) AS hour, event_type,
                 COUNT(*) AS n_events
          FROM events GROUP BY 1, 2)
        SELECT event_type,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY n_events DESC, hour) AS INTEGER) AS rank,
               hour, n_events
        FROM h
        QUALIFY rank <= 3""")

    add("events_user_activity",
        lambda spark, sf: EV.user_activity(_events(spark, sf)),
        f"""SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               COUNT(*) AS n_events,
               COUNT(DISTINCT event_type) AS n_types,
               {SUM_D('value')} AS sum_value
        FROM events
        GROUP BY 1, 2""")

    # semi-structured extraction: the events `props` JSON column parsed
    # JVM-side (get_json_object stays in codegen — no Python, no UDF),
    # aggregated, and top-10'd with an explicit deterministic rank.
    def props_topk(spark, sf):
        from pyspark.sql import Window
        agg = (_events(spark, sf)
               .select(F.get_json_object("props", "$.k").cast("int")
                        .alias("k"), "value")
               .groupBy("k")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.col("value").cast("decimal(18,4)"))
                     .cast("double").alias("sum_value")))
        # nulls LAST to match DuckDB's ASC default (Spark's asc puts
        # nulls first) — latent k-less-props hardening, no effect today
        top = agg.orderBy(F.desc("n_events"),
                          F.asc_nulls_last("k")).limit(10)
        w = Window.orderBy(F.desc("n_events"),
                           F.asc_nulls_last("k"))  # 10 rows only
        return (top.withColumn("rank", F.row_number().over(w))
                .select("rank", "k", "n_events", "sum_value"))

    add("events_props_topk", props_topk,
        f"""WITH e AS (
          SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
                 value
          FROM events),
        c AS (
          SELECT k, COUNT(*) AS n_events, {SUM_D('value')} AS sum_value
          FROM e GROUP BY k)
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_events DESC, k)
                    AS INTEGER) AS rank, k, n_events, sum_value
        FROM c ORDER BY n_events DESC, k LIMIT 10""")

    # incremental materialized-view discipline: two partial rollups
    # (disjoint halves of the corpus) merged on the rollup grain must
    # equal the single-pass rollup — the oracle IS the full rollup
    def rollup_incremental(spark, sf):
        ev = _events(spark, sf)
        old = EV.hourly_rollup(ev.filter(F.col("event_id") % 2 == 0))
        delta = EV.hourly_rollup(ev.filter(F.col("event_id") % 2 == 1))
        return EV.merge_rollup(old, delta)

    add("events_rollup_incremental", rollup_incremental,
        f"""SELECT date_trunc('hour', ts) AS hour, event_type,
               COUNT(*) AS n_events,
               {SUM_D('value')} AS sum_value
        FROM events
        GROUP BY 1, 2""")

    # VARIANT semi-structured path (Spark 4 binary-encoded JSON): parse
    # once, typed variant_get extraction, aggregate per key range — the
    # modern lakehouse alternative to per-query string JSON parsing
    add("events_props_variant_stats",
        lambda spark, sf: (_events(spark, sf)
            .select(F.parse_json("props").alias("v"), "value")
            .select(F.expr("variant_get(v, '$.k', 'int')").alias("k"),
                    "value")
            .groupBy(F.floor(F.col("k") / 10).cast("int")
                      .alias("k_bucket"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.count_distinct("k").alias("n_distinct_k"),
                 F.sum(F.col("value").cast("decimal(18,4)"))
                  .cast("double").alias("sum_value"))),
        f"""WITH e AS (
          SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
                 value
          FROM events)
        SELECT CAST(FLOOR(k / 10.0) AS INTEGER) AS k_bucket,
               COUNT(*) AS n_events,
               COUNT(DISTINCT k) AS n_distinct_k,
               {SUM_D('value')} AS sum_value
        FROM e GROUP BY 1""")

    # value-based activity deciles: the cumulative window runs over
    # DISTINCT event-count values (bounded), never over users — the
    # scalable replacement for a global NTILE ranking
    add("events_user_deciles",
        lambda spark, sf: EV.user_activity_deciles(_events(spark, sf)),
        """WITH ua AS (
          SELECT user_id, COUNT(*) AS n_events FROM events
          GROUP BY user_id),
        vc AS (
          SELECT n_events, COUNT(*) AS n_users_v FROM ua
          GROUP BY n_events),
        tot AS (SELECT COUNT(*) AS _total FROM ua),
        vd AS (
          SELECT n_events, n_users_v,
                 CAST(least(CEIL((SUM(n_users_v) OVER
                     (ORDER BY n_events DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     * 10) / _total), 10) AS INTEGER) AS decile
          FROM vc, tot)
        SELECT decile,
               CAST(SUM(n_users_v) AS BIGINT) AS n_users,
               MIN(n_events) AS min_events,
               MAX(n_events) AS max_events,
               CAST(SUM(n_events * n_users_v) AS BIGINT) AS total_events
        FROM vd GROUP BY decile""")

    # sequential-pattern mining lite: most common consecutive event-type
    # trigrams across user timelines (one user_id shuffle + bounded-key
    # count + TakeOrderedAndProject — no self-join)
    add("events_type_trigrams",
        lambda spark, sf: EV.event_type_sequences(_events(spark, sf),
                                                  n=3, k=15),
        """WITH s AS (
          SELECT event_type AS t1,
                 lead(event_type, 1) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
                 lead(event_type, 2) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS t3
          FROM events),
        c AS (
          SELECT t1 || ' > ' || t2 || ' > ' || t3 AS seq,
                 COUNT(*) AS n_occurrences
          FROM s WHERE t3 IS NOT NULL
          GROUP BY 1)
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, seq)
                    AS INTEGER) AS rank, seq, n_occurrences
        FROM c ORDER BY n_occurrences DESC, seq LIMIT 15""")

    # Trailing moving average: dashboard smoothing
    # over the hourly rollup — exact window SUMs divided once, so the
    # doubles are engine-identical (streaming/events.hourly_moving_avg).

    add("events_hourly_moving_avg",
        lambda spark, sf: EV.hourly_moving_avg(_events(spark, sf)),
        f"""WITH b AS (
          SELECT date_trunc('hour', ts) AS hour, event_type,
                 COUNT(*) AS n_events,
                 {SUM_D('value')} AS sum_value
          FROM events GROUP BY 1, 2)
        SELECT hour, event_type, n_events,
               CAST(SUM(n_events) OVER w AS DOUBLE)
                 / CAST(COUNT(*) OVER w AS DOUBLE) AS ma_events,
               CAST(SUM(CAST(sum_value AS DECIMAL(18,4))) OVER w
                    AS DOUBLE)
                 / CAST(COUNT(*) OVER w AS DOUBLE) AS ma_value
        FROM b
        WINDOW w AS (PARTITION BY event_type ORDER BY hour
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""")

    # k-anonymity release suppression over a published aggregate (the
    # reference's domain — a health ministry reporting stack — is
    # exactly where this discipline applies): cells under k=8
    # contributors are primary-suppressed, and a parent group with
    # exactly ONE primary suppression also hides its smallest remaining
    # cell (complementary suppression — otherwise parent total minus
    # visible cells reconstructs the hidden value).  On this data k=8
    # exercises BOTH rules: 8 primaries across 4 parents, one of which
    # triggers the complementary path.
    def _kanon(spark, sf):
        from ..session import load_events
        ev = load_events(spark, sf).withColumn(
            "user_cohort", (F.col("user_id") % 97).cast("bigint"))
        return SM.kanon_release(ev, "event_type", "user_cohort",
                                k=8, value_col="value")

    add("events_kanon_release", _kanon,
        """WITH c AS (
          SELECT event_type, CAST(user_id % 97 AS BIGINT) AS user_cohort,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE),
                       4) AS sum_value
          FROM events GROUP BY 1, 2),
        m AS (
          SELECT *, (n < 8) AS prim,
                 SUM(CASE WHEN n < 8 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY event_type) AS npar,
                 ROW_NUMBER() OVER (PARTITION BY event_type, (n < 8)
                                    ORDER BY n, user_cohort) AS rn
          FROM c),
        s AS (
          SELECT *, (prim OR (npar = 1 AND NOT prim AND rn = 1))
                      AS suppressed
          FROM m)
        SELECT event_type, user_cohort,
               CASE WHEN suppressed THEN NULL ELSE n END AS n,
               CASE WHEN suppressed THEN NULL ELSE sum_value END
                 AS sum_value,
               suppressed
        FROM s""")
