"""Event join entries: as-of attribution, first/linear touch, click to
purchase delay, range-tier joins and the Bloom-prefiltered semi-join.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..session import load_events as _events
from ..streaming import events as EV
from ..workload_shared import SUM_D


def register(add) -> None:
    # ---- temporal / range joins (operators/joins.py) -----------------

    # as-of click attribution: each purchase gets the latest prior click
    # of the same user (inclusive).  Spark side = union+window asof_join;
    # oracle = DuckDB's native ASOF LEFT JOIN over the same deduped
    # click stream (same-ts clicks deduped identically on both sides so
    # the tie choice is engine-independent).
    def asof_attribution(spark, sf):
        from pyspark.sql import Window
        from ..operators import joins as J
        ev = _events(spark, sf)
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts",
            F.col("value").alias("purchase_value"))
        cw = Window.partitionBy("user_id", "ts") \
            .orderBy(F.col("event_id").desc())
        clicks = (ev.filter(F.col("event_type") == "click")
                  .withColumn("_rn", F.row_number().over(cw))
                  .filter(F.col("_rn") == 1)
                  .select("user_id", "ts", F.col("value").alias("cv")))
        out = J.asof_join(purchases, clicks, key="user_id")
        return out.select(
            "event_id", "user_id", "ts", "purchase_value",
            F.col("ts_right").alias("click_ts"),
            F.col("cv_right").alias("click_value"))

    # same model with a 1-hour staleness tolerance: clicks older than
    # the window are nulled out, the purchase rows survive — the
    # asof_join(tolerance_seconds=...) parameter under a full oracle
    def asof_attribution_tol(spark, sf):
        from pyspark.sql import Window
        from ..operators import joins as J
        ev = _events(spark, sf)
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts",
            F.col("value").alias("purchase_value"))
        cw = Window.partitionBy("user_id", "ts") \
            .orderBy(F.col("event_id").desc())
        clicks = (ev.filter(F.col("event_type") == "click")
                  .withColumn("_rn", F.row_number().over(cw))
                  .filter(F.col("_rn") == 1)
                  .select("user_id", "ts", F.col("value").alias("cv")))
        out = J.asof_join(purchases, clicks, key="user_id",
                          tolerance_seconds=3600)
        return out.select(
            "event_id", "user_id", "ts", "purchase_value",
            F.col("ts_right").alias("click_ts"),
            F.col("cv_right").alias("click_value"))

    add("events_asof_attribution_tolerance", asof_attribution_tol,
        """WITH p AS (
          SELECT event_id, user_id, ts, value AS purchase_value
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT user_id, ts, value AS click_value
          FROM events WHERE event_type = 'click'
          QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                     ORDER BY event_id DESC) = 1),
        j AS (
          SELECT p.event_id, p.user_id, p.ts, p.purchase_value,
                 c.ts AS click_ts, c.click_value
          FROM p ASOF LEFT JOIN c
            ON p.user_id = c.user_id AND p.ts >= c.ts)
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
               purchase_value,
               CASE WHEN date_diff('second', click_ts, ts) <= 3600
                    THEN CAST(click_ts AS TIMESTAMP) END AS click_ts,
               CASE WHEN date_diff('second', click_ts, ts) <= 3600
                    THEN click_value END AS click_value
        FROM j""")

    add("events_asof_click_attribution", asof_attribution,
        """WITH p AS (
          SELECT event_id, user_id, ts, value AS purchase_value
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT user_id, ts, value AS click_value
          FROM events WHERE event_type = 'click'
          QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                     ORDER BY event_id DESC) = 1)
        SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
               p.purchase_value,
               CAST(c.ts AS TIMESTAMP) AS click_ts, c.click_value
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.ts >= c.ts""")

    # first-touch attribution: earliest touch since the user's previous
    # conversion (complement of the as-of last-touch model)
    add("events_first_touch_attribution",
        lambda spark, sf: EV.first_touch_attribution(_events(spark, sf)),
        """WITH e AS (
          SELECT *, COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END)
                             OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS epoch
          FROM events),
        f AS (SELECT user_id, epoch, MIN(ts) AS first_touch_ts
              FROM e WHERE event_type = 'click' GROUP BY 1, 2)
        SELECT c.event_id, c.user_id, c.ts,
               c.value AS conversion_value, f.first_touch_ts
        FROM e c LEFT JOIN f
          ON c.user_id = f.user_id AND c.epoch = f.epoch
        WHERE c.event_type = 'purchase'""")

    # linear (equal-credit) attribution — the third standard model
    add("events_linear_attribution",
        lambda spark, sf: EV.linear_attribution(_events(spark, sf)),
        """WITH e AS (
          SELECT *, COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END)
                             OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS epoch
          FROM events),
        t AS (SELECT user_id, epoch, event_id AS touch_event_id,
                     ts AS touch_ts
              FROM e WHERE event_type = 'click'),
        nt AS (SELECT user_id, epoch, COUNT(*) AS n_touches
               FROM t GROUP BY 1, 2),
        c AS (SELECT event_id AS conversion_event_id, user_id, epoch,
                     value AS conversion_value
              FROM e WHERE event_type = 'purchase')
        SELECT c.conversion_event_id, c.user_id, t.touch_event_id,
               t.touch_ts, CAST(nt.n_touches AS BIGINT) AS n_touches,
               CAST(1000 // nt.n_touches AS BIGINT) AS weight_milli,
               c.conversion_value
        FROM c JOIN nt USING (user_id, epoch)
               JOIN t USING (user_id, epoch)""")

    # time-to-convert distribution: seconds from the attributed last
    # click to the purchase, integer-exact quantiles (same asof shape)
    def click_purchase_delay(spark, sf):
        from pyspark.sql import Window

        from ..operators import joins as J
        ev = _events(spark, sf)
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts")
        cw = Window.partitionBy("user_id", "ts") \
            .orderBy(F.col("event_id").desc())
        clicks = (ev.filter(F.col("event_type") == "click")
                  .withColumn("_rn", F.row_number().over(cw))
                  .filter(F.col("_rn") == 1).select("user_id", "ts"))
        joined = J.asof_join(purchases, clicks, key="user_id")
        delays = (joined.filter(F.col("ts_right").isNotNull())
                  .select((F.unix_timestamp("ts")
                           - F.unix_timestamp("ts_right"))
                          .alias("delay_sec")))
        return delays.agg(
            F.count(F.lit(1)).alias("n_attributed"),
            F.percentile("delay_sec", 0.5).alias("p50_sec"),
            F.percentile("delay_sec", 0.9).alias("p90_sec"),
            F.max("delay_sec").alias("max_sec"))

    add("events_click_purchase_delay", click_purchase_delay,
        """WITH p AS (
          SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase'),
        c AS (
          SELECT user_id, ts FROM events WHERE event_type = 'click'
          QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                     ORDER BY event_id DESC) = 1),
        d AS (
          SELECT date_diff('second', c.ts, p.ts) AS delay_sec
          FROM p ASOF JOIN c
            ON p.user_id = c.user_id AND p.ts >= c.ts)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_attributed,
               quantile_cont(delay_sec, 0.5) AS p50_sec,
               quantile_cont(delay_sec, 0.9) AS p90_sec,
               CAST(MAX(delay_sec) AS BIGINT) AS max_sec
        FROM d""")

    # binned range join: events bucketed into half-open value tiers via
    # bin-explode + equi-join (no BroadcastNestedLoopJoin), aggregated
    # per tier; oracle uses the plain inequality join.
    _TIERS = [("micro", 0.0, 10.0), ("small", 10.0, 50.0),
              ("mid", 50.0, 150.0), ("large", 150.0, 300.0),
              ("huge", 300.0, 1000.0)]

    def range_tiers(spark, sf):
        from ..operators import joins as J
        ev = _events(spark, sf).select("event_id", "value")
        ranges = spark.createDataFrame(
            _TIERS, "tier string, lo double, hi double")
        joined = J.bin_range_join(ev, ranges, "value", bin_width=50.0)
        return (joined.groupBy("tier")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.sum(F.col("value").cast("decimal(18,4)"))
                      .cast("double").alias("sum_value")))

    add("events_value_range_tiers", range_tiers,
        f"""WITH tiers(tier, lo, hi) AS (VALUES
          ('micro', 0.0, 10.0), ('small', 10.0, 50.0),
          ('mid', 50.0, 150.0), ('large', 150.0, 300.0),
          ('huge', 300.0, 1000.0))
        SELECT tier, COUNT(*) AS n_events, {SUM_D('value')} AS sum_value
        FROM events JOIN tiers ON value >= lo AND value < hi
        GROUP BY tier""")

    # Bloom-prefiltered semi-join: big-spender
    # activity — events of users who ever posted value > 250, via the
    # deterministic bloom prefilter ahead of the exact semi-join
    # (operators/joins.bloom_semi_join).  The bloom stage is plan
    # shape, not semantics, so the oracle is the plain semi-join.
    def _bloom_semijoin(spark, sf):
        from ..operators import joins as J
        ev = _events(spark, sf)
        build = ev.filter(F.col("value") > 250).select("user_id")
        joined = J.bloom_semi_join(ev, build, "user_id")
        return (joined.groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.sum(F.col("value").cast("decimal(18,4)"))
                      .cast("double").alias("sum_value")))

    add("events_bloom_semijoin", _bloom_semijoin,
        f"""WITH b AS (
          SELECT DISTINCT user_id FROM events WHERE value > 250)
        SELECT e.user_id, COUNT(*) AS n_events,
               {SUM_D('value')} AS sum_value
        FROM events e JOIN b USING (user_id)
        GROUP BY 1""")
