"""The distributed global-prefix family (operators/prefix.py): exact
equivalence with the naive single-window spec, boundary/milestone edge
cases, sweep-line semantics, and the plan guard that keeps the row-level
window PARTITIONED (the whole point of the two-phase form)."""
import datetime as dt

from pyspark.sql import Window
from pyspark.sql import functions as F

from olap_xtrctr_spark.operators import prefix as P


def _ts(h, m=0, s=0):
    return dt.datetime(2024, 1, 1, h, m, s)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v long, bucket long")


def test_running_total_matches_single_window_spec(spark):
    rows = [(i, (i * 37) % 11 - 3, i // 4) for i in range(40)]
    got = P.running_total(_df(spark, rows), "bucket", ["id"], "v")
    naive = _df(spark, rows).withColumn(
        "want", F.sum("v").over(
            Window.orderBy("id").rowsBetween(
                Window.unboundedPreceding, 0)))
    joined = got.join(naive.select("id", "want"), "id")
    assert joined.filter(F.col("running") != F.col("want")).count() == 0
    assert got.count() == 40


def test_running_total_single_bucket_and_single_row(spark):
    rows = [(1, 5, 0)]
    out = P.running_total(_df(spark, rows), "bucket", ["id"], "v").collect()
    assert out[0]["running"] == 5
    rows = [(i, 1, 7) for i in range(5)]  # all one bucket
    out = P.running_total(_df(spark, rows), "bucket", ["id"], "v")
    assert [r["running"] for r in out.orderBy("id").collect()] == [
        1, 2, 3, 4, 5]


def test_milestones_multi_cross_and_exact_boundary(spark):
    # running: 30, 100 (crosses 1,2 -> wait: 30->100 crosses 50 and 100:
    # hi=2, lo=0, n_crossed=2), 150 (exact multiple: hi=3, lo=2 -> 1)
    rows = [(1, 30, 0), (2, 70, 0), (3, 50, 1)]
    out = P.running_milestones(
        _df(spark, rows), "bucket", ["id"], "v", step=50,
        id_cols=["id"]).orderBy("id").collect()
    assert [(r["id"], r["milestone"], r["n_crossed"], r["running"])
            for r in out] == [(2, 2, 2, 100), (3, 3, 1, 150)]


def test_milestones_negative_values_floor_semantics(spark):
    """Negative values (drawdowns) must use FLOOR-division milestone
    indices (python's ``//`` contract; the symmetric boundary rule) —
    not Spark's truncate-toward-zero ``div`` (ADVICE r10: a negative
    stream silently diverged).  NB: DuckDB's integer ``//`` truncates
    too, so SQL oracles spell floor out explicitly
    (workloads/events_running)."""
    # running: -30, -120, -70, 40.  With step=50 and floor division
    # the milestone index sequence is -1, -3, -2, 0; a row crosses
    # when hi > lo (up-crossings only, same filter as the oracles).
    rows = [(1, -30, 0), (2, -90, 0), (3, 50, 1), (4, 110, 1)]
    out = P.running_milestones(
        _df(spark, rows), "bucket", ["id"], "v", step=50,
        id_cols=["id"]).orderBy("id").collect()
    want = []
    run = 0
    for i, v, _b in rows:
        lo = run // 50          # python // floors, like DuckDB
        run += v
        hi = run // 50
        if hi > lo:
            want.append((i, hi, hi - lo, run))
    assert [(r["id"], r["milestone"], r["n_crossed"], r["running"])
            for r in out] == want
    # sanity on the spec itself: the up-crossings here are rows 3, 4
    assert [w[0] for w in want] == [3, 4]


def test_session_intervals_gap_and_bounds(spark):
    rows = [
        (1, _ts(10, 0, 0), 100), (2, _ts(10, 10, 0), 100),
        (3, _ts(11, 0, 0), 100),   # 50 min gap -> new session
        (4, _ts(10, 5, 0), 200),   # single-event session
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long")
    iv = {(r["user_id"], r["session_seq"]):
          (r["start_sec"], r["end_sec"], r["n_events"])
          for r in P.session_intervals(ev).collect()}
    base = int(_ts(10).replace(tzinfo=dt.timezone.utc).timestamp())
    off = iv[(100, 1)][0] - base  # local-tz epoch offset, if any
    assert iv[(100, 1)] == (base + off, base + off + 601, 2)
    assert iv[(100, 2)] == (base + off + 3600, base + off + 3601, 1)
    assert iv[(200, 1)][1] - iv[(200, 1)][0] == 1


def test_peak_concurrency_carry_in_plateau(spark):
    # Session A spans hours 1-3; hour 2 has NO change points (no row);
    # hour 3's only change is A's end -> max(concurrent)=0 in-hour, but
    # the carried-in plateau (1) must win the peak.
    iv = spark.createDataFrame(
        [(3600, 3 * 3600 + 100)], "start_sec long, end_sec long")
    out = {int(r["hour"].timestamp()) // 3600:
           (r["peak_concurrent"], r["end_concurrent"])
           for r in P.peak_concurrency_hourly(iv).collect()}
    assert out[1] == (1, 1)
    assert 2 not in out          # constant curve, no change points
    assert out[3] == (1, 0)      # plateau carry-in beats in-hour max


def test_peak_concurrency_overlap_and_ties(spark):
    # two sessions starting the SAME second + one ending there: the
    # per-instant delta pre-aggregation makes the curve tie-free.
    iv = spark.createDataFrame(
        [(0, 1000), (1000, 2000), (1000, 1500)],
        "start_sec long, end_sec long")
    out = {int(r["hour"].timestamp()) // 3600:
           (r["peak_concurrent"], r["end_concurrent"])
           for r in P.peak_concurrency_hourly(iv).collect()}
    assert out[0] == (2, 0)      # at t=1000: -1 +1 +1 -> 2 concurrent


def test_milestones_carry_base_equals_one_shot(spark):
    rows = [(i, 17 + (i % 5), i // 3) for i in range(20)]
    one_shot = P.running_milestones(
        _df(spark, rows), "bucket", ["id"], "v", step=40,
        id_cols=["id"]).collect()
    # fold the same rows in two halves with the exact carry between
    half = [r for r in rows if r[0] < 10], [r for r in rows if r[0] >= 10]
    carry = sum(r[1] for r in half[0])
    folded = (P.running_milestones(
                  _df(spark, half[0]), "bucket", ["id"], "v", step=40,
                  id_cols=["id"]).collect()
              + P.running_milestones(
                  _df(spark, half[1]), "bucket", ["id"], "v", step=40,
                  id_cols=["id"], base=carry).collect())
    key = lambda r: (r["id"], r["milestone"], r["n_crossed"], r["running"])
    assert sorted(map(key, folded)) == sorted(map(key, one_shot))


def test_stream_milestones_replay_is_idempotent(spark, sf_dir):
    from olap_xtrctr_spark.workload import WORKLOAD
    fn = WORKLOAD["events_stream_milestones"].fn
    first = sorted(map(tuple, fn(spark, sf_dir).collect()))
    # second run re-reads committed reports (markers make folds no-ops)
    again = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert first == again and first


def test_plan_row_level_window_is_partitioned(spark, sf_dir):
    from olap_xtrctr_spark.workload import WORKLOAD
    df = WORKLOAD["events_revenue_milestones"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    row_level = [l for l in specs if "event_id" in l]
    assert row_level, "row-level running-sum window missing from plan"
    # the big-input window partitions by the hour bucket; only the
    # |buckets|-row carry window may be unpartitioned
    assert all("windowspecdefinition(hb" in l for l in row_level), \
        "row-level window lost its bucket partition spec (single-" \
        "partition global sort trap)"


def test_peak_concurrency_randomized_vs_bruteforce(spark):
    # seeded random interval sets, checked against a per-second
    # brute-force occupancy model (independent of the sweep-line code)
    import numpy as np
    rng = np.random.RandomState(7)
    for _case in range(3):
        n = 150
        starts = rng.randint(0, 4 * 3600, size=n)
        lengths = rng.randint(1, 2 * 3600, size=n)
        iv = [(int(s), int(s + l)) for s, l in zip(starts, lengths)]
        df = spark.createDataFrame(iv, "start_sec long, end_sec long")
        got = {int(r["hour"].timestamp()) // 3600:
               (r["peak_concurrent"], r["end_concurrent"])
               for r in P.peak_concurrency_hourly(df).collect()}
        # brute force: occupancy at every second
        hi = max(e for _, e in iv) + 1
        occ = np.zeros(hi + 1, dtype=int)
        for s, e in iv:
            occ[s] += 1
            occ[e] -= 1
        occ = np.cumsum(occ)
        # change-point hours only (hours with no endpoint emit no row)
        change_hours = {s // 3600 for s, _ in iv} | {
            e // 3600 for _, e in iv if e <= hi}
        for h in sorted(change_hours):
            lo_s, hi_s = h * 3600, min((h + 1) * 3600, hi + 1)
            # the curve's peak = max occupancy anywhere in the hour
            # (carry-in plateau included)
            want_peak = int(occ[lo_s:hi_s].max())
            # end concurrency = occupancy AT the hour's last change
            # point (hours can end mid-plateau; occ at hi_s-1 equals
            # it because occupancy is constant between change points)
            assert got[h][0] == want_peak, (h, got[h], want_peak)
        # every emitted end_concurrent matches the occupancy curve
        for h, (_pk, end) in got.items():
            lo_s = h * 3600
            hi_s = min((h + 1) * 3600, len(occ))
            assert end == int(occ[hi_s - 1]), (h, end)


def test_running_milestone_invariants_randomized(spark):
    import numpy as np
    rng = np.random.RandomState(11)
    vals = [int(v) for v in rng.randint(1, 500, size=300)]
    rows = [(i, v, i // 37) for i, v in enumerate(vals)]
    step = 3000
    out = P.running_milestones(
        _df(spark, rows), "bucket", ["id"], "v", step=step,
        id_cols=["id"]).orderBy("milestone").collect()
    # total crossings == floor(total/step); milestones strictly
    # increase and end at the final index
    assert sum(r["n_crossed"] for r in out) == sum(vals) // step
    ms = [r["milestone"] for r in out]
    assert ms == sorted(ms) and len(set(ms)) == len(ms)
    assert ms[-1] == sum(vals) // step
    # each reported running total is the true prefix sum at that row
    prefix = np.cumsum(vals)
    for r in out:
        assert r["running"] == int(prefix[r["id"]])


def test_occupancy_hourly_known_values(spark):
    # interval [1800, 5400): 1800s in hour 0, 1800s in hour 1;
    # [3600, 3601): 1s in hour 1; [0, 3600): full hour 0
    iv = spark.createDataFrame(
        [(1800, 5400), (3600, 3601), (0, 3600)],
        "start_sec long, end_sec long")
    out = {int(r["hour"].timestamp()) // 3600:
           (r["busy_seconds"], r["n_active_intervals"])
           for r in P.occupancy_hourly(iv).collect()}
    assert out[0] == (1800 + 3600, 2)
    assert out[1] == (1800 + 1, 2)
    # exact-boundary interval never leaks into the next hour
    assert 2 not in out


def test_occupancy_equals_curve_integral(spark):
    # the per-interval decomposition must equal integrating the
    # concurrency curve (brute force per second)
    import numpy as np
    rng = np.random.RandomState(3)
    iv = [(int(s), int(s + l))
          for s, l in zip(rng.randint(0, 3 * 3600, 80),
                          rng.randint(1, 5000, 80))]
    df = spark.createDataFrame(iv, "start_sec long, end_sec long")
    got = {int(r["hour"].timestamp()) // 3600: r["busy_seconds"]
           for r in P.occupancy_hourly(df).collect()}
    hi = max(e for _, e in iv)
    occ = np.zeros(hi + 1, dtype=int)
    for s, e in iv:
        occ[s] += 1
        occ[e] -= 1
    occ = np.cumsum(occ)
    for h, busy in got.items():
        assert busy == int(occ[h * 3600:(h + 1) * 3600].sum()), h
    assert sum(got.values()) == sum(e - s for s, e in iv)


def test_keyed_running_total_matches_per_key_window(spark):
    rows = [(i, (i * 13) % 7 + 1, i // 5, f"k{i % 3}")
            for i in range(45)]
    df = spark.createDataFrame(
        rows, "id long, v long, bucket long, key string")
    got = P.running_total(df, "bucket", ["id"], "v", key_cols=["key"])
    naive = df.withColumn(
        "want", F.sum("v").over(
            Window.partitionBy("key").orderBy("id").rowsBetween(
                Window.unboundedPreceding, 0)))
    joined = got.join(naive.select("id", "want"), "id")
    assert joined.filter(F.col("running") != F.col("want")).count() == 0
    assert got.count() == 45


def test_keyed_milestones_independent_per_key(spark):
    # two keys with identical streams cross identical milestones
    rows = ([(i, 30, i // 4, "a") for i in range(10)]
            + [(100 + i, 30, i // 4, "b") for i in range(10)])
    df = spark.createDataFrame(
        rows, "id long, v long, bucket long, key string")
    out = P.running_milestones(df, "bucket", ["id"], "v", step=100,
                               id_cols=["id"], key_cols=["key"])
    by_key: dict = {}
    for r in out.collect():
        by_key.setdefault(r["key"], []).append(
            (r["milestone"], r["n_crossed"], r["running"]))
    assert sorted(by_key) == ["a", "b"]
    assert sorted(by_key["a"]) == sorted(by_key["b"])
    assert sum(n for _, n, _ in by_key["a"]) == 300 // 100


def test_source_token_milestones_nonempty_and_oracle_exact(spark, sf_dir):
    """VERDICT r10: the step=5000 entry passed its oracle with 0 rows
    at every gate SF — a vacuous green.  The re-scaled step must
    produce rows on the fixture AND still match the DuckDB oracle
    value-for-value (the per-key two-phase carry logic, value-checked
    at last)."""
    import duckdb

    from olap_xtrctr_spark.workload import WORKLOAD
    spec = WORKLOAD["docs_source_token_milestones"]
    got = sorted(
        (r["source"], r["doc_id"], r["milestone"], r["n_crossed"],
         r["running"])
        for r in spec.fn(spark, sf_dir).collect())
    assert len(got) >= 100, "entry is vacuous again (too few crossings)"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    want = sorted(map(tuple, con.execute(spec.sql).fetchall()))
    assert got == want


def test_keyed_milestones_heavy_source_carry_values(spark):
    """One heavy key spanning MANY buckets next to a light key: every
    reported crossing must carry the exact per-key prefix sum across
    bucket boundaries (brute-force python model)."""
    import numpy as np
    rng = np.random.RandomState(23)
    rows = [(i, int(v), i // 10, "heavy")
            for i, v in enumerate(rng.randint(1, 90, size=400))]
    rows += [(1000 + i, 30, i // 10, "light") for i in range(20)]
    df = spark.createDataFrame(
        rows, "id long, v long, bucket long, key string")
    out = P.running_milestones(df, "bucket", ["id"], "v", step=250,
                               id_cols=["id"], key_cols=["key"])
    got = sorted((r["key"], r["id"], r["milestone"], r["n_crossed"],
                  r["running"]) for r in out.collect())
    want = []
    for key in ("heavy", "light"):
        run = 0
        for i, v, _b, k in sorted(r for r in rows if r[3] == key):
            lo = run // 250
            run += v
            hi = run // 250
            if hi > lo:
                want.append((k, i, hi, hi - lo, run))
    assert got == sorted(want) and len(got) > 50


def test_occupancy_drops_empty_intervals(spark):
    # e == s exactly at an hour boundary: without the guard, Spark's
    # sequence(h0, h1) with h1 < h0 runs DESCENDING and emits phantom
    # hours; empty intervals must contribute nothing at all
    iv = spark.createDataFrame(
        [(3600, 3600), (7200, 7200), (0, 10)],
        "start_sec long, end_sec long")
    out = {int(r["hour"].timestamp()) // 3600:
           (r["busy_seconds"], r["n_active_intervals"])
           for r in P.occupancy_hourly(iv).collect()}
    assert out == {0: (10, 1)}


# ---- property tests (hypothesis): the floor-division milestone
# contract over arbitrary SIGNED streams, keyed and unkeyed ----------

from hypothesis import given, settings, strategies as st

_vals = st.lists(st.integers(-400, 400), min_size=1, max_size=60)


def _model(vals, step, base=0):
    want, run = [], base
    for i, v in enumerate(vals):
        lo = run // step
        run += v
        hi = run // step
        if hi > lo:
            want.append((i, hi, hi - lo, run))
    return want


@settings(max_examples=12, deadline=None)
@given(vals=_vals, step=st.integers(1, 300), width=st.integers(1, 9),
       base=st.integers(-500, 500))
def test_milestones_floor_division_property(spark, vals, step, width,
                                            base):
    rows = [(i, v, i // width) for i, v in enumerate(vals)]
    out = P.running_milestones(
        _df(spark, rows), "bucket", ["id"], "v", step=step,
        id_cols=["id"], base=base).orderBy("id").collect()
    got = [(r["id"], r["milestone"], r["n_crossed"], r["running"])
           for r in out]
    assert got == _model(vals, step, base)


@settings(max_examples=8, deadline=None)
@given(vals=st.lists(st.tuples(st.integers(-200, 200),
                               st.sampled_from(["a", "b", "c"])),
                     min_size=1, max_size=50),
       width=st.integers(1, 7))
def test_keyed_running_total_property(spark, vals, width):
    rows = [(i, v, i // width, k) for i, (v, k) in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "id long, v long, bucket long, key string")
    got = {r["id"]: r["running"]
           for r in P.running_total(df, "bucket", ["id"], "v",
                                    key_cols=["key"]).collect()}
    run: dict = {}
    for i, (v, k) in enumerate(vals):
        run[k] = run.get(k, 0) + v
        assert got[i] == run[k], (i, k)
