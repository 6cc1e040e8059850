"""Distributed global prefix (running) aggregation and the interval
sweep-line built on it.

The naive Spark form of a GLOBAL running total —
``F.sum(v).over(Window.orderBy(ts))`` — has no partition spec, so
Catalyst funnels the ENTIRE input through one task: the canonical
single-partition scale trap (at 100 TB that task never finishes).  The
classic distributed fix is the two-phase prefix sum:

* Phase 1 (parallel): rows carry an order-aligned ``bucket`` (any
  non-decreasing function of the order key — hour of a timestamp,
  value range, file id).  One ``groupBy(bucket)`` computes per-bucket
  totals; that aggregate is tiny (one row per bucket).
* Phase 2 (tiny + parallel): a window ORDERED BY BUCKET over the
  bucket totals — |buckets| rows, not |input| rows — yields each
  bucket's carry-in offset; broadcast it back and run the in-bucket
  running sum with ``Window.partitionBy(bucket)`` (parallel across
  buckets).  ``running = carry_in + in_bucket_prefix``.

Wall-clock at scale is therefore max(bucket size), not |input|; the
only serial step touches |buckets| rows.  The same shape is how the
sweep line scales: interval endpoints become +1/−1 deltas, deltas are
pre-aggregated per distinct instant (which also erases tie-order
ambiguity — the running sum only ever sees one row per instant), and
the global running sum of deltas IS the concurrency curve.

Exactness contract: callers pass integral (BIGINT) value columns —
frozen units, no float accumulation order to diverge on.  All outputs
are integers, so the DuckDB oracles match bit-for-bit.

Reference parity note: the reference engine has no running-total or
concurrency operator (verified — SURVEY §2.10); this family is part of
the beyond-reference large-scale pipeline surface, where cumulative
milestones (corpus token budgets crossing shard boundaries) and
occupancy curves (concurrent sessions/jobs) are everyday asks.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_CARRY = "__carry_in"
_BTOT = "__bucket_total"


def running_total(df: DataFrame, bucket_col: str, order_cols: list[str],
                  value_col: str, out_col: str = "running",
                  key_cols: list[str] | None = None) -> DataFrame:
    """Exact global running sum of ``value_col`` over the total order
    ``(bucket_col, *order_cols)`` without a single-partition window.

    ``bucket_col`` must be order-aligned: for any two rows, a smaller
    bucket value implies the row sorts earlier globally (hour buckets
    over a timestamp order, range buckets over a numeric order).
    ``order_cols`` must be a within-bucket tiebreak down to a unique
    key, or equal-key rows make ``out_col`` order-dependent.

    ``key_cols`` gives the PER-KEY form: an independent running total
    per key (per-source corpus budgets, per-tenant spend).  The plain
    ``Window.partitionBy(key)`` answer is only safe when every single
    key fits one task; with FEW HUGE keys (three sources of a 100-TB
    corpus) that is the same trap one key at a time — here every
    phase also partitions by key, so the carry window is
    |keys x buckets| rows and the row-level windows stay
    (key, bucket)-parallel.
    """
    keys = list(key_cols or [])
    totals = df.groupBy(*keys, bucket_col).agg(
        F.sum(value_col).alias(_BTOT))
    # |keys x buckets| rows only: this window is the intended tiny
    # serial step of the two-phase prefix sum, not the trap.
    wb = (Window.partitionBy(*keys).orderBy(bucket_col)
          .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.select(
        *keys, bucket_col,
        F.coalesce(F.sum(_BTOT).over(wb), F.lit(0)).alias(_CARRY))
    win = (Window.partitionBy(*keys, bucket_col).orderBy(*order_cols)
           .rowsBetween(Window.unboundedPreceding, 0))
    return (df.join(F.broadcast(offsets), keys + [bucket_col])
            .withColumn(out_col,
                        F.sum(value_col).over(win) + F.col(_CARRY))
            .drop(_CARRY))


def _floordiv(expr: str, step: int) -> str:
    """SQL for FLOOR division of an integral expression by a positive
    step, exact at any magnitude.  Spark's ``div`` truncates toward
    zero (so does DuckDB's integer ``//``; python's ``//`` floors) —
    milestone indices standardize on FLOOR, the symmetric boundary
    convention, so a drawdown (negative running total) crosses the
    same boundaries on every engine; SQL oracles over signed streams
    must spell floor out the same way (see the
    events_value_drawdown_milestones entry in workloads/events_running).
    All-integer: a double ``floor(x / step)`` would lose crossings
    past 2**53."""
    d = f"(({expr}) div {step})"
    return (f"({d} - (CASE WHEN ({expr}) % {step} < 0 "
            f"THEN 1 ELSE 0 END))")


def running_milestones(df: DataFrame, bucket_col: str,
                       order_cols: list[str], value_col: str,
                       step: int, id_cols: list[str] | None = None,
                       base: int = 0,
                       key_cols: list[str] | None = None) -> DataFrame:
    """Rows whose arrival pushes the global running total past one or
    more multiples of ``step`` (integral values; negatives allowed —
    crossings use FLOOR-division milestone indices, so a value that
    drags the total back below a boundary and a later row that
    re-crosses it both report the crossing, matching SQL ``//``
    oracles bit-for-bit).

    Output per crossing row: the highest milestone index reached
    (``milestone = running div step``), how many multiples this single
    row crossed, and the exact running total — compact (≈ total/step
    rows) no matter how large the input, which is what makes the
    global prefix sum oracle-checkable at any scale.

    ``base`` is a carry-in offset added to every running total: the
    streaming fold passes the sum of all PRIOR batches, so per-batch
    crossings equal the one-shot crossings on the concatenated input.
    """
    run = running_total(df, bucket_col, order_cols, value_col,
                        key_cols=key_cols)
    hi = F.expr(_floordiv(f"{int(base)} + running", int(step)))
    lo = F.expr(_floordiv(f"{int(base)} + running - {value_col}",
                          int(step)))
    keep = list(key_cols or []) + list(id_cols or order_cols)
    return (run.filter(hi > lo)
            .select(*keep, hi.alias("milestone"),
                    (hi - lo).alias("n_crossed"),
                    (F.col("running") + F.lit(int(base))).alias("running")))


def session_intervals(events: DataFrame, gap_minutes: int = 30
                      ) -> DataFrame:
    """Per-user gap sessions as half-open second intervals
    ``[start_sec, end_sec)`` with ``end_sec = last event + 1`` (a
    single-event session occupies one second).

    Same gap convention as ``streaming.events.sessionize``
    (strict ``> gap`` on floor-epoch seconds, ties by event_id) so the
    two agree on session COUNTS; this form keeps the bounds instead of
    collapsing to per-user aggregates.  One shuffle on user_id.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.unix_timestamp(F.col("ts"))
    gap = secs - F.lag(secs).over(w)
    sid = F.sum(
        F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (events
            .withColumn("__sec", secs).withColumn("__sid", sid)
            .groupBy("user_id", "__sid")
            .agg(F.min("__sec").alias("start_sec"),
                 (F.max("__sec") + 1).alias("end_sec"),
                 F.count(F.lit(1)).alias("n_events"))
            .withColumnRenamed("__sid", "session_seq"))


def peak_concurrency_hourly(intervals: DataFrame,
                            start_col: str = "start_sec",
                            end_col: str = "end_sec") -> DataFrame:
    """Per-hour peak and end-of-hour interval concurrency via the
    distributed sweep line.

    Endpoints fold to ±1 deltas, deltas pre-aggregate per distinct
    second (one row per instant → the running sum is tie-free), the
    global running sum rides ``running_total`` with hour buckets, and
    the per-hour peak is ``max(concurrency after each change point,
    concurrency carried into the hour)`` — the carry-in term covers
    the plateau before an hour's first change point.  Hours with no
    change points carry the previous curve value and emit no row (the
    curve is constant there by construction).
    """
    # explode, not a 2-branch union: the interval subplan (often a
    # sessionize shuffle) is consumed exactly ONCE by construction
    # instead of relying on ReuseExchange to dedup the two branches
    pts = intervals.select(F.explode(F.array(
        F.struct(F.col(start_col).alias("sec"), F.lit(1).alias("delta")),
        F.struct(F.col(end_col).alias("sec"), F.lit(-1).alias("delta"))
    )).alias("p"))
    net = (pts.select("p.sec", "p.delta")
           .groupBy("sec").agg(F.sum("delta").alias("net"))
           .withColumn("hour", F.expr("sec div 3600")))
    curve = running_total(net, "hour", ["sec"], "net",
                          out_col="concurrent")
    return (curve
            .groupBy("hour")
            .agg(F.greatest(
                     F.max("concurrent"),
                     # carry into the hour = first row's value minus its
                     # own delta (= running at the prior change point)
                     F.min_by(F.col("concurrent") - F.col("net"), "sec")
                 ).alias("peak_concurrent"),
                 F.max_by("concurrent", "sec").alias("end_concurrent"))
            .select((F.col("hour") * 3600).cast("timestamp").alias("hour"),
                    "peak_concurrent", "end_concurrent"))


def occupancy_hourly(intervals: DataFrame,
                     start_col: str = "start_sec",
                     end_col: str = "end_sec") -> DataFrame:
    """Time-weighted interval occupancy per hour: for each hour that
    intersects any interval, the EXACT integer ``busy_seconds`` =
    sum over intervals of their overlap with the hour (equivalently
    the integral of the concurrency curve) — the utilization /
    server-occupancy measure next to ``peak_concurrency_hourly``'s
    maximum.

    Spark shape: each interval explodes to the hours it overlaps
    (fanout = interval span / 3600 — bounded for session-like
    intervals; a multi-day interval is the caller's modeling smell)
    and one groupBy(hour) sums the clamped overlaps.  No window, no
    sweep line needed: the integral decomposes per interval, so this
    is embarrassingly parallel and all-integer.
    """
    h0 = F.expr(f"{start_col} div 3600")
    h1 = F.expr(f"({end_col} - 1) div 3600")   # end-exclusive
    # empty intervals (e <= s) occupy nothing — and must be dropped
    # BEFORE the explode: with e == s at an hour boundary h1 < h0, and
    # Spark's sequence(h0, h1) would silently run DESCENDING, emitting
    # phantom hours
    hours = (intervals
             .filter(F.col(end_col) > F.col(start_col))
             .select(F.col(start_col).alias("s"),
                     F.col(end_col).alias("e"),
                     F.explode(F.sequence(h0, h1)).alias("hour")))
    overlap = (F.least(F.col("e"), (F.col("hour") + 1) * 3600)
               - F.greatest(F.col("s"), F.col("hour") * 3600))
    return (hours
            .groupBy("hour")
            .agg(F.sum(overlap).alias("busy_seconds"),
                 F.count(F.lit(1)).alias("n_active_intervals"))
            .select((F.col("hour") * 3600).cast("timestamp").alias("hour"),
                    F.col("busy_seconds").cast("long").alias(
                        "busy_seconds"),
                    "n_active_intervals"))
