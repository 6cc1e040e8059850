"""Per-layer tracing installed from outside the package.

Each wrapper times calls into one module's public function and is
installed at the name its caller imports (``service.parse_mdx``,
``jobs.to_json_result``, ``members.paginate_members`` reached through
``service.M``), so the package itself is not modified.  Spark numbers
come from the driver's status store, read over py4j for the jobs and
stages that ran inside the traced window.

Nothing is installed until :meth:`Tracer.install` runs, so an untraced
run executes the package exactly as shipped.
"""
from __future__ import annotations

import functools
import os
import threading
import time
from typing import Any, Callable


class Tracer:
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.timers: dict[str, list[float]] = {}     # name -> [calls, s]
        self.counts: dict[str, float] = {}
        self.job_submit_t: dict[str, float] = {}
        self.job_start_t: dict[str, float] = {}
        self._undo: list[tuple[Any, str, Any]] = []
        self._spark0: dict[str, int] = {}
        self.install_s = 0.0

    # ---- recording ---------------------------------------------------

    def add_time(self, name: str, seconds: float) -> None:
        with self._lock:
            t = self.timers.setdefault(name, [0, 0.0])
            t[0] += 1
            t[1] += seconds

    def add_count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    # ---- patching ----------------------------------------------------

    def _patch(self, owner: Any, attr: str,
               make: Callable[[Callable], Callable]) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _timed(self, owner: Any, attr: str, name: str) -> None:
        def make(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                t0 = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    self.add_time(name, time.perf_counter() - t0)
            return wrapper
        self._patch(owner, attr, make)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def install(self, spark, serving: bool = False) -> None:
        """Wrap the engine layers (and the HTTP, service, sinks and jobs
        layers when ``serving``), then mark the start of the Spark
        window."""
        t0 = time.perf_counter()
        from olap_xtrctr_spark import members, metadata, query
        from olap_xtrctr_spark.workloads import cube as wl_cube

        eng = query.CubeQueryEngine
        self._timed(eng, "execute", "query.build")
        self._timed(eng, "estimate_cardinality", "query.cardinality")

        def card(orig):
            @functools.wraps(orig)
            def wrapper(engine, cube, dim, lv):
                key = (cube.name, dim.name, dim.view or "", lv.name)
                if key not in engine._card_cache:
                    # a miss loads the spill first; count a Spark scan
                    # only if the count is still missing after that
                    if cube.name not in engine._card_spill_loaded:
                        engine._load_card_spill(cube)
                    if key not in engine._card_cache:
                        self.add_count("query.card_scans")
                return orig(engine, cube, dim, lv)
            return wrapper
        self._patch(eng, "level_cardinality", card)
        self._timed(wl_cube, "parse_mdx", "mdx.parse")
        self._timed(metadata, "register_dmv_views",
                    "metadata.register_dmv_views")
        self._timed(members, "paginate_members", "members.paginate")
        self._timed(members, "search_members", "members.search")
        self._install_spark_actions()
        if serving:
            self._install_service()
        self.spark_mark(spark)
        self.install_s = time.perf_counter() - t0

    def _install_service(self) -> None:
        from olap_xtrctr_spark import http_api, jobs, service as svc_mod
        from olap_xtrctr_spark import session

        self._timed(http_api.ROUTES, "dispatch", "http_api.dispatch")
        for m in ("get_catalogs", "get_members", "search_members",
                  "get_variables", "execute_query", "explain_query",
                  "execute_dmv", "submit_job", "get_job"):
            self._timed(svc_mod.OlapService, m, f"service.{m}")
        self._timed(svc_mod, "parse_mdx", "mdx.parse")
        self._timed(svc_mod, "sanitize", "sinks.sanitize")
        self._timed(session, "release_tracked_caches",
                    "session.release_tracked")

        def to_json(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                t0 = time.perf_counter()
                out = orig(*a, **kw)
                self.add_time("sinks.to_json_result",
                              time.perf_counter() - t0)
                self.add_count("sinks.rows_out", out.get("count", 0))
                return out
            return wrapper
        self._patch(svc_mod, "to_json_result", to_json)
        self._patch(jobs, "to_json_result", to_json)

        reg = jobs.JobRegistry

        def submit(orig):
            @functools.wraps(orig)
            def wrapper(registry, *a, **kw):
                t0 = time.perf_counter()
                job_id = orig(registry, *a, **kw)
                with self._lock:
                    self.job_submit_t[job_id] = t0
                return job_id
            return wrapper

        def run(orig):
            @functools.wraps(orig)
            def wrapper(registry, job_id, runner):
                t0 = time.perf_counter()
                with self._lock:
                    self.job_start_t[job_id] = t0
                try:
                    return orig(registry, job_id, runner)
                finally:
                    self.add_time("jobs.run", time.perf_counter() - t0)
            return wrapper

        def persist(orig):
            @functools.wraps(orig)
            def wrapper(registry, job):
                t0 = time.perf_counter()
                orig(registry, job)
                self.add_time("jobs.persist", time.perf_counter() - t0)
                if registry._store_dir:
                    path = os.path.join(registry._store_dir, f"{job.id}.json")
                    self.add_count("jobs.persist_bytes",
                                   os.path.getsize(path))
            return wrapper
        self._patch(reg, "submit", submit)
        self._patch(reg, "_run", run)
        self._patch(reg, "_persist", persist)

    def _install_spark_actions(self) -> None:
        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:             # pyspark < 4
            from pyspark.sql import DataFrame

        def collect(orig):
            @functools.wraps(orig)
            def wrapper(df, *a, **kw):
                t0 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                t1 = time.perf_counter()
                try:
                    return orig(df, *a, **kw)
                finally:
                    self.add_time("spark.plan", t1 - t0)
                    self.add_time("spark.collect", time.perf_counter() - t1)
            return wrapper
        self._patch(DataFrame, "collect", collect)
        self._timed(DataFrame, "count", "spark.collect")

    # ---- Spark status store -------------------------------------------

    @staticmethod
    def _lists(spark):
        """(jobs, stages) of the status store as Python lists."""
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        return (list(conv.asJava(store.jobsList(None))),
                list(conv.asJava(store.stageList(None, False, False,
                                                 no_quantiles, None))))

    def spark_mark(self, spark) -> None:
        jobs, stages = self._lists(spark)
        self._spark0 = {
            "job": max((j.jobId() for j in jobs), default=-1),
            "stage": max((s.stageId() for s in stages), default=-1),
        }

    def spark_window(self, spark) -> dict[str, float]:
        """Totals over the jobs and stages started since the mark."""
        try:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:       # private API; a short wait does the same
            time.sleep(1.0)
        jobs, stages = self._lists(spark)
        out = {"jobs": sum(j.jobId() > self._spark0["job"] for j in jobs),
               "stages": 0, "tasks": 0, "task_time_ms": 0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0}
        for s in stages:
            if s.stageId() <= self._spark0["stage"] \
                    or s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["task_time_ms"] += s.executorRunTime()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.diskBytesSpilled()
        return out


def peak_rss_mb(spark=None) -> float:
    """High-water resident set of this process plus its Spark JVM."""
    pids = [os.getpid()]
    proc = getattr(getattr(spark, "sparkContext", None), "_gateway", None)
    proc = getattr(proc, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def calibrate(spark) -> float:
    """``bench.py``'s host calibration job, run once: a shuffling
    aggregation over 50M generated rows (CPU and shuffle, no I/O).
    ``bench.py`` takes the median of three; one run per benchmark run
    keeps the cost down, and the runs give the spread."""
    t0 = time.perf_counter()
    (spark.range(50_000_000)
     .selectExpr("id % 1000 AS k", "id AS v")
     .groupBy("k").sum("v").count())
    return time.perf_counter() - t0
