"""Analytics process of the benchmark: workload entries on the library
path, started cold in the run's working directory.

Set-up: Spark start, then one untimed run of every entry on the
measured tables, so each entry's first-run cost (class loading, code
generation, Python workers, and the first read of these tables, which
a warm-up on tiny tables leaves in the first measured pass: that pass
ran about twice as long as the next) stays out of the measured passes.
The warm-up runs the entries side by side, one thread each: their
first-run costs are mostly serial work in the driver, and side by side
the warm-up took 22-30 s where one entry after another took 30-42 s on
the same host.  Then passes over the entries, ``fn`` then ``count`` on
the clock and ``release_tracked_caches()`` off it, until the measuring
time is spent and at least ``min_passes`` passes are done, in each
phase; the per-layer wrappers are installed for the phase named
``traced`` only.  A phase is started only if ``PHASE_SLACK`` times the
longest phase so far still ends within ``budget_s`` of this process's
start; otherwise the answer is an error.  Last, off the clock, the
host calibration job.

Every pass runs the entries in the same order, the order given.  The
JVM keeps warming for several passes after the warm-up (on a quiet
4-core host a pass over the 4 entries ran 12, 10, 9, then 7.5 s); in a
fixed order every entry lands at the same point of that curve in every
run, where a seeded order put it at another point in each run.

Usage: python3 analytics.py <data_dir> <seconds> <min_passes> <budget_s>
                            <phase,...> <entry,...>
"""
from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

T_START = time.perf_counter()

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import tracing  # noqa: E402
from proto import PHASE_SLACK, Channel, wait_for  # noqa: E402


def run_pass(spark, data_dir: str, entries: list[str], tracer=None) -> dict:
    from olap_xtrctr_spark.session import release_tracked_caches
    from olap_xtrctr_spark.workload import WORKLOAD

    recs, release_s = [], 0.0
    for name in entries:
        rec = {"name": name, "rows": 0, "build_s": 0.0, "count_s": 0.0,
               "error": ""}
        t0 = time.perf_counter()
        try:
            df = WORKLOAD[name].fn(spark, data_dir)
            t1 = time.perf_counter()
            if tracer is not None:
                # force the physical plan, so planning is timed apart
                # from execution (count plans its own aggregate on top)
                df._jdf.queryExecution().executedPlan()
                tracer.add_time("spark.plan", time.perf_counter() - t1)
            rec["rows"] = df.count()
            rec["build_s"], rec["count_s"] = t1 - t0, time.perf_counter() - t1
        except Exception as exc:        # one broken entry must not end the run
            rec["error"] = f"{type(exc).__name__}: {exc}"
            rec["build_s"] = time.perf_counter() - t0
        r0 = time.perf_counter()
        release_tracked_caches()
        release_s += time.perf_counter() - r0
        recs.append(rec)
    return {"entries": recs, "release_s": release_s}


def main() -> int:
    channel = Channel()
    data_dir, seconds = sys.argv[1], float(sys.argv[2])
    min_passes, budget_s = int(sys.argv[3]), float(sys.argv[4])
    phases, entries = sys.argv[5].split(","), sys.argv[6].split(",")
    from olap_xtrctr_spark import get_spark

    spark = get_spark("perfbench-analytics")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    timings = {"session.start_s": time.perf_counter() - T_START}
    wait_for(os.path.join(data_dir, "_READY"))
    t0 = time.perf_counter()
    with ThreadPoolExecutor(len(entries)) as pool:
        list(pool.map(lambda name: run_pass(spark, data_dir, [name]),
                      entries))
    timings["session.warmup_s"] = time.perf_counter() - t0

    out = {"timings": timings, "phases": {},
           "t_first_op": time.perf_counter() - T_START}
    longest = 0.0
    for phase in phases:
        if time.perf_counter() - T_START + PHASE_SLACK * longest > budget_s:
            channel.send({"error": f"too little time left for the "
                                   f"{phase} phase"})
            return 0
        tracer = None
        if phase == "traced":
            tracer = tracing.Tracer()
            tracer.install(spark)
        passes = []
        t_phase = time.perf_counter()
        while len(passes) < min_passes \
                or time.perf_counter() - t_phase < seconds:
            passes.append(run_pass(spark, data_dir, entries, tracer))
        rec = {"passes": passes}
        if tracer is not None:
            rec.update(spark=tracer.spark_window(spark),
                       timers=tracer.timers, counts=tracer.counts,
                       install_s=tracer.install_s)
            tracer.uninstall()
        out["phases"][phase] = rec
        longest = max(longest, time.perf_counter() - t_phase)
    out["peak_rss_mb"] = tracing.peak_rss_mb(spark)
    timings["session.calibration_s"] = tracing.calibrate(spark)
    channel.send(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
