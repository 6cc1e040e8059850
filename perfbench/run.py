"""The repository benchmark: one workload per run, from the checkout root.

    python3 perfbench/run.py --workload jobs_mixed --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md):

* ``jobs_mixed`` -- an ``OlapService`` served by ``http_api.make_server``
  in its own process; 2 analyst clients replay seeded sessions while 2
  job clients submit full-result MDX jobs and poll them.
* ``analytics`` -- 4 of ``bench.py``'s headline entries (``PASS``, in
  the order of the imported ``HEADLINE``) on the library path, ``fn``
  then ``count``, every pass in that order.

Every run builds its inputs from the seed in a fresh working directory
under ``.bench_work/`` (tables, warehouse, job store, Spark local dir),
so the members spill and ``_cards.json`` are rebuilt and billed to
``setup_s``.  The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``; the per-layer metrics (plus the traced-minus-untraced
overhead of every end-to-end metric) with ``--trace 1``.
"""
from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import http.client  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import socket  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from typing import Optional  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import datagen  # noqa: E402
import sessions  # noqa: E402
from proto import PHASE_SLACK  # noqa: E402
from stats import Op, end_to_end  # noqa: E402

SCALE = 0.1                 # sf0.1 row counts
ANALYSTS, JOB_CLIENTS = 2, 2
POLL_S = 0.1                # job poll interval
# goodput latency limits: an analyst request, an async job, an entry.
# None sits near a kind's usual latency, where goodput would flip from
# run to run: a DMV request takes 4-7 s beside the jobs.
REQUEST_LIMIT_S, JOB_LIMIT_S, ENTRY_LIMIT_S = 10.0, 30.0, 10.0
REQUEST_TIMEOUT_S = 30.0
JOB_TIMEOUT_S = 60.0
RUN_LIMIT_S = 170.0         # a run ends, result or not, within this
# Analytics passes per window, at least: an untraced run takes the
# median of 2 even on a slow host; a traced run, which measures two
# windows, makes 1 pass in each to stay well within the time limit.
MIN_PASSES = {False: 2, True: 1}
DRIVER_MEM = "4g"

END_TO_END = {
    "setup_s": "s", "throughput_rps": "1/s", "goodput_rps": "1/s",
    "query_geomean_ms": "ms", "nav_geomean_ms": "ms",
    "job_turnaround_geomean_ms": "ms", "job_rows_per_s": "1/s",
    "pass_s": "s", "entry_geomean_ms": "ms",
}
# The plain medians over a window's mix, reported per layer from the
# traced window: a window holds about two samples of each kind, so such
# a median falls between two kinds of unlike cost and takes on the
# noise of one or two samples (quartile spread in ten runs up to 0.7
# for the query and navigation classes, 0.24-0.27 for all requests and
# for jobs, against 0.08-0.22 for the geometric means over kinds).
CLIENT_P50 = ("latency_p50_ms", "query_p50_ms", "nav_p50_ms",
              "job_turnaround_p50_ms")
SERVICE_METHODS = ("get_catalogs", "get_members", "search_members",
                   "get_variables", "execute_query", "explain_query",
                   "execute_dmv", "submit_job", "get_job")
FAMILIES = ("cube", "tpch", "members", "docs", "emb", "events", "multimodal")
PER_LAYER = {
    **{f"client.{k}": "ms" for k in CLIENT_P50},
    "http_api.dispatch_ms": "ms", "http_api.transport_ms": "ms",
    "http_api.bytes_out": "B", "http_api.non2xx": "count",
    **{f"service.{m}_ms": "ms" for m in SERVICE_METHODS},
    "mdx.parse_ms": "ms", "query.build_ms": "ms",
    "query.cardinality_ms": "ms", "query.card_scans": "count",
    "metadata.members_build_s": "s", "metadata.register_dmv_views_ms": "ms",
    "metadata.register_dmv_views_calls": "count",
    "members.paginate_ms": "ms", "members.search_ms": "ms",
    "sinks.sanitize_ms": "ms", "sinks.to_json_result_ms": "ms",
    "sinks.rows_out": "count",
    "jobs.queue_wait_ms": "ms", "jobs.run_ms": "ms", "jobs.persist_ms": "ms",
    "jobs.persist_bytes": "B", "jobs.polls_per_job": "count",
    "jobs.useful_poll_frac": "ratio",
    "spark.plan_ms": "ms", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.task_time_ms": "ms",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B", "spark.collect_ms": "ms",
    **{f"workload.build_ms.{f}": "ms" for f in FAMILIES},
    **{f"workload.count_ms.{f}": "ms" for f in FAMILIES},
    "session.start_s": "s", "session.warmup_s": "s",
    "session.calibration_s": "s", "session.release_tracked_ms": "ms",
    "session.peak_rss_mb": "MB",
    **{f"trace_overhead.{m}": u for m, u in END_TO_END.items()},
}
# A traced run measures an untraced, then a traced window in one
# process; the overhead is the traced value minus the untraced one.  A
# third, untraced window after the traced one would cancel the JVM
# still warming up between them, but does not fit in a run's time limit
# on a slow host.
TRACE_PHASES = ("untraced", "traced")
# the Spark status-store totals, reported per operation
SPARK_TOTALS = ("jobs", "stages", "tasks", "task_time_ms",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


class BenchError(RuntimeError):
    pass


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---- working directory and child processes --------------------------------

def make_workdir(root: str, workload: str) -> str:
    work = os.path.join(root, ".bench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("data", "spark-local", "tmp", "ckpt", "conf"):
        os.makedirs(os.path.join(work, d))
    with open(os.path.join(work, "conf", "spark-defaults.conf"), "w") as f:
        # keep every job and stage of a run in the status store, which
        # the traced run reads
        f.write("spark.ui.retainedJobs 100000\n"
                "spark.ui.retainedStages 100000\n")
    return work


def child_env(root: str, work: str) -> dict[str, str]:
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    tmp = os.path.join(work, "tmp")
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH", "")) if p),
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_SF_DIR": os.path.join(work, "data"),
        "SPARK_GRAFT_STREAM_CKPT_DIR": os.path.join(work, "ckpt"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_CONF_DIR": os.path.join(work, "conf"),
        "SPARK_SUBMIT_OPTS": (env.get("SPARK_SUBMIT_OPTS", "")
                              + f" -Djava.io.tmpdir={tmp}").strip(),
        "TMPDIR": tmp,
        "OLAP_EXPORT_DIR": os.path.join(work, "exports"),
        "OLAP_INDEX_DIR": os.path.join(work, "indexes"),
    })
    return env


class Child:
    """A benchmark child process (own session, so the whole tree --
    Python and its Spark JVM -- is stopped together)."""

    def __init__(self, args: list[str], work: str, env: dict[str, str]):
        self.log_path = os.path.join(work, "child.log")
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, *args], cwd=work, env=env, text=True,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            start_new_session=True)
        self._lines: list[str] = []
        self._cv = threading.Condition()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@@"):
                with self._cv:
                    self._lines.append(line[2:])
                    self._cv.notify_all()
        with self._cv:
            self._lines.append("")          # end of stream
            self._cv.notify_all()

    def message(self, timeout: float) -> dict:
        with self._cv:
            if not self._cv.wait_for(lambda: self._lines, timeout):
                raise BenchError("child process did not answer in time")
            line = self._lines.pop(0)
        if not line:
            raise BenchError(f"child process exited "
                             f"(code {self.proc.wait()}): {self.tail()}")
        return json.loads(line)

    def command(self, cmd: str, timeout: float) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.message(timeout)

    def tail(self, n: int = 2000) -> str:
        self._log.flush()
        with open(self.log_path, errors="replace") as f:
            return f.read()[-n:]

    def stop(self) -> None:
        """Stop the child's whole process group (Python and its JVM) and
        wait until every process of it has ended.  SIGKILL at once:
        everything a child writes lies in the run's working directory,
        which is removed next, so skipping the JVM's shutdown hooks loses
        nothing and saves about 2 s a run."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            try:
                os.killpg(self.proc.pid, 0)
            except ProcessLookupError:
                break                       # the group is empty
            time.sleep(0.05)
        self._reader.join(5)
        self._log.close()


def time_left() -> float:
    return max(RUN_LIMIT_S - (time.perf_counter() - T_START), 1.0)


def may_send() -> bool:
    """A client sends nothing that could outlast the run's time limit;
    a hung server then ends the run with failed operations, in time."""
    return time_left() > REQUEST_TIMEOUT_S + 5


def ready(out_dir: str) -> None:
    """Tell the child process that its inputs are ready."""
    open(os.path.join(out_dir, "_READY"), "w").close()


# ---- HTTP clients ----------------------------------------------------------

class Client:
    """One analyst or job client: a persistent HTTP connection."""

    def __init__(self, port: int, expected: dict, log: list, lock):
        self.port, self.expected = port, expected
        self.http_log, self.lock = log, lock
        self.conn = None
        self.aborted = False

    def call(self, method: str, path: str, body=None):
        """(status, payload, latency_s, error); status 0 on a refused,
        reset or timed-out request."""
        data = None if body is None else json.dumps(body).encode()
        headers = {"Content-Type": "application/json"} if data else {}
        t0 = time.perf_counter()
        try:
            if self.conn is None:
                self.conn = http.client.HTTPConnection(
                    "127.0.0.1", self.port, timeout=REQUEST_TIMEOUT_S)
            self.conn.request(method, path, body=data, headers=headers)
            resp = self.conn.getresponse()
            raw = resp.read()
            lat = time.perf_counter() - t0
            status = resp.status
        except (OSError, http.client.HTTPException) as exc:
            lat = time.perf_counter() - t0
            if self.conn is not None:
                self.conn.close()
            self.conn = None
            if not self.aborted:
                with self.lock:
                    self.http_log.append((lat, 0, 0))
            return 0, None, lat, f"{type(exc).__name__}: {exc}"
        with self.lock:
            self.http_log.append((lat, status, len(raw)))
        try:
            payload = json.loads(raw)
        except ValueError:
            return status, None, lat, "reply is not JSON"
        return status, payload, lat, ""

    def abort(self) -> None:
        """Cut the request in flight, from another thread, once nothing
        the client sends is counted any more."""
        self.aborted = True
        conn = self.conn
        if conn is not None and conn.sock is not None:
            try:
                conn.sock.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()


def check_reply(req: dict, status: int, payload, expected) -> str:
    """Empty string when the reply is right, else what is wrong."""
    if status != 200:
        return f"status {status}: {str(payload)[:200]}"
    kind = req["kind"]
    if kind in ("catalogs", "cubes", "measures", "dimensions", "search",
                "apartados", "variables"):
        got = len(payload) if isinstance(payload, list) else None
    elif kind == "members":
        if not {"members", "total", "limit", "offset"} <= set(payload):
            return "members reply lacks keys"
        got = [payload["total"], len(payload["members"])]
    elif kind in ("execute", "mdx", "mdx2"):
        if not {"rows", "columns", "rowCount"} <= set(payload) \
                or len(payload["rows"]) != payload["rowCount"]:
            return "query reply lacks keys or rows"
        got = payload["rowCount"]
    elif kind == "explain":
        if not {"estimated_rows", "plan", "columns"} <= set(payload):
            return "explain reply lacks keys"
        got = payload["estimated_rows"]
    elif kind == "dmv":
        if not {"columns", "data", "count"} <= set(payload):
            return "dmv reply lacks keys"
        got = payload["count"]
    else:
        return f"unknown kind {kind}"
    return "" if got == expected else f"expected {expected}, got {got}"


class Window:
    """One measured window shared by the clients.  A client counts the
    units (sessions, job cycles) it starts before the deadline; after
    its last one it keeps sending uncounted load until every client has
    finished counting, so every counted operation runs beside the same
    mix of analysts and jobs.  The window ends when the last counted
    unit does.  A window the run's time limit cuts short is marked
    ``cut``: its numbers are not a measurement."""

    def __init__(self, seconds: float, clients: int):
        self.deadline = time.perf_counter() + seconds
        self._counting = clients
        self._lock = threading.Lock()
        self._done = threading.Event()
        self.end = 0.0
        self.cut = False

    def open(self) -> bool:
        if time.perf_counter() >= self.deadline:
            return False
        if not may_send():
            self.cut = True
            return False
        return True

    def running(self) -> bool:
        return not self._done.is_set() and may_send()

    def finished(self) -> None:
        with self._lock:
            self._counting -= 1
            if self._counting == 0:
                self.end = time.perf_counter()
                self._done.set()

    def wait(self) -> None:
        """Until every client has finished counting."""
        self._done.wait()


def analyst(client: Client, session: list[dict], window: Window,
            ops: list) -> None:
    """Closed loop over whole sessions: the next request goes out when
    the reply to the last one is read."""
    counted = True
    while True:
        if counted and not window.open():
            counted = False
            window.finished()
        if not window.running():
            break
        for req in session:
            if not window.running():
                # only the time limit stops a client that still counts
                window.cut |= counted
                break
            status, payload, lat, err = client.call(
                req["method"], req["path"], req["body"])
            if counted:
                if not err:
                    err = check_reply(req, status, payload,
                                      client.expected.get(req["key"]))
                ops.append(Op(req["kind"], lat, not err,
                              frozenset(("lat", req["cls"])), error=err))
    if counted:                 # stopped by the time limit
        window.cut = True
        window.finished()
    client.close()


def run_job(client: Client, req: dict, keep_going=lambda: True
            ) -> Optional[tuple[Op, tuple[int, int]]]:
    """Submit one job and poll it until it completes: (the job as one
    operation, (polls, polls that saw a new status)), or None when
    ``keep_going`` turns false first and the job is abandoned."""
    t0 = time.perf_counter()
    status, payload, _, err = client.call("POST", req["path"], req["body"])
    if not err and (status != 201 or "id" not in payload):
        err = f"submit status {status}: {str(payload)[:200]}"
    rows, n_polls, useful, seen = 0, 0, 0, "PENDING"
    while not err:
        time.sleep(POLL_S)
        if not keep_going():
            return None
        status, job, _, err = client.call("GET",
                                          f"/api/jobs/{payload['id']}")
        n_polls += 1
        if err:
            break
        if status != 200 or "status" not in job:
            err = f"poll status {status}"
            break
        if job["status"] != seen:
            useful += 1
            seen = job["status"]
        if seen == "COMPLETED":
            rows = (job.get("result_data") or {}).get("count")
            want = client.expected.get(req["key"])
            if rows != want:
                err = f"job rows {rows}, expected {want}"
            break
        if seen == "FAILED":
            err = f"job failed: {job.get('error_message')}"
            break
        if time.perf_counter() - t0 > JOB_TIMEOUT_S:
            err = "job timed out"
    op = Op(req["kind"], time.perf_counter() - t0, not err,
            frozenset(("job",)), rows=rows or 0, error=err)
    return op, (n_polls, useful)


def job_client(client: Client, cycle: list[dict], window: Window,
               ops: list, polls: list) -> None:
    """Closed loop over whole cycles of the job shapes: a job is
    submitted when the last one completed, so every window holds the
    same mix of jobs."""
    counted = True
    while True:
        if counted and not window.open():
            counted = False
            window.finished()
        if not window.running():
            break
        for req in cycle:
            done = window.running() and run_job(client, req, window.running)
            if not done:
                # only the time limit stops a client that still counts
                window.cut |= counted
                break
            if counted:
                ops.append(done[0])
                polls.append(done[1])
    if counted:                 # stopped by the time limit
        window.cut = True
        window.finished()
    client.close()


def service_window(port: int, plan: sessions.Plan, expected: dict,
                   seconds: float) -> dict:
    """One measured window: analysts and job clients run together."""
    ops, polls, http_log = [], [], []
    lock = threading.Lock()
    window = Window(seconds, ANALYSTS + JOB_CLIENTS)
    t0 = time.perf_counter()
    clients = [Client(port, expected, http_log, lock)
               for _ in range(ANALYSTS + JOB_CLIENTS)]
    threads = []
    for c in range(ANALYSTS):
        # analysts run the script from different starting points, so
        # they do not send the same kind at the same time
        start = c * len(sessions.SCRIPT) // ANALYSTS
        session = plan.session()
        threads.append(threading.Thread(target=analyst, args=(
            clients[c], session[start:] + session[:start], window, ops)))
    for c in range(JOB_CLIENTS):
        threads.append(threading.Thread(target=job_client, args=(
            clients[ANALYSTS + c], plan.job_cycle(c), window, ops, polls)))
    for t in threads:
        t.start()
    window.wait()
    # the uncounted requests still in flight (a DMV query takes seconds)
    # are not waited for
    for c in clients:
        c.abort()
    for t in threads:
        t.join()
    if window.cut:
        raise BenchError("the run's time limit cut a measured window short")
    return {"ops": ops, "polls": polls, "http_log": http_log,
            "elapsed_s": window.end - t0}


# ---- workloads -------------------------------------------------------------

def run_jobs_mixed(root: str, work: str, args) -> dict:
    plan = sessions.Plan(args.seed)
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan.distinct(), f)
    data = os.path.join(work, "data")
    child = Child([os.path.join(HERE, "server.py"), data, plan_path], work,
                  child_env(root, work))
    try:
        datagen.generate(data, args.seed, SCALE)
        ready(data)
        hello = child.message(time_left())
        port, expected = hello["port"], hello["expected"]
        setup_s = time.perf_counter() - T_START
        # the host calibration job runs off the clock, before the first
        # window, when no request or job is running
        hello["timings"].update(child.command("calibrate", 60))
        windows, server = {}, {}
        for phase in TRACE_PHASES if args.trace else ("untraced",):
            if windows:
                # a traced run measures every phase or none: a window
                # that would run into the time limit is not started
                need = PHASE_SLACK * max(w["elapsed_s"]
                                         for w in windows.values())
                if time_left() - REQUEST_TIMEOUT_S - 5 < need:
                    raise BenchError(f"too little time left for the "
                                     f"{phase} window")
            if phase == "traced":
                install = child.command("trace", 60)
            windows[phase] = service_window(port, plan, expected,
                                            args.seconds)
            if phase == "traced":
                server = child.command("stats", 60)
                server["install_s"] = install["install_s"]
    finally:
        child.stop()
    return {"setup_s": setup_s, "timings": hello["timings"],
            "windows": windows, "server": server,
            "install_s": server.get("install_s", 0.0)}


def analytics_entries(root: str) -> list[str]:
    """PASS in the order of ``bench.py``'s HEADLINE (imported, not
    copied; importing it starts no Spark)."""
    sys.path.insert(0, root)
    from bench import HEADLINE
    return [n for n in HEADLINE if n in PASS]


def oracle_counts(data_dir: str, names: list[str]) -> dict[str, int]:
    """Row count of each entry's DuckDB oracle SQL, where one exists.
    It runs while the analytics process starts Spark, before that
    process may begin its warm-up, so it takes no CPU from the passes."""
    import duckdb

    from olap_xtrctr_spark.session import TABLES
    from olap_xtrctr_spark.workload import WORKLOAD

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {nproc()}")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{data_dir}/{t}.parquet'")
        return {n: con.execute(f"SELECT count(*) FROM ({WORKLOAD[n].sql})"
                               ).fetchone()[0]
                for n in names if WORKLOAD[n].sql}
    finally:
        con.close()


def run_analytics(root: str, work: str, args) -> dict:
    data = os.path.join(work, "data")
    entries = analytics_entries(root)
    t_spawn = time.perf_counter() - T_START
    # time the child may spend before its answer: the run's limit less
    # the calibration job and stopping the child
    budget_s = time_left() - 20.0
    child = Child([os.path.join(HERE, "analytics.py"), data,
                   str(args.seconds),
                   str(MIN_PASSES[bool(args.trace)]), str(budget_s),
                   ",".join(TRACE_PHASES if args.trace else ("untraced",)),
                   ",".join(entries)], work, child_env(root, work))
    try:
        datagen.generate(data, args.seed, SCALE)
        oracle = oracle_counts(data, entries)
        ready(data)
        out = child.message(time_left())
    finally:
        child.stop()
    if "error" in out:
        raise BenchError(out["error"])
    out["oracle"] = oracle
    out["setup_s"] = t_spawn + out["t_first_op"]
    out["install_s"] = out["phases"].get("traced", {}).get("install_s", 0.0)
    return out


# ---- metrics ---------------------------------------------------------------

def service_e2e(win: dict, setup_s: float) -> tuple[dict, list[Op]]:
    m = end_to_end(win["ops"], win["elapsed_s"], REQUEST_LIMIT_S,
                   JOB_LIMIT_S)
    m["setup_s"] = setup_s
    return m, win["ops"]


# Every entry's first run in a JVM costs seconds more than its warm
# runs, so a cold start, a warm-up pass and a measured pass over all 30
# headline entries take minutes on 4 cores, and priming the members
# cache the members_* entries read takes another 15-20 s: far more
# than one run's time allows.  A pass runs these 4: the n-gram Jaccard
# pair core (shared by 9 entries, ROADMAP item 5), the cube crossjoin
# and TPC-H Q18 (shuffle-heavy), and a streaming replay.  The members
# and metadata layers are measured on jobs_mixed.
PASS = {"docs_ngram_jaccard_pairs", "cube_3dim_crossjoin",
        "tpch_q18_large_orders", "events_stream_sessionize"}
# Entry classes: the cube and TPC-H queries are "query", the other
# entries (the pipelines) stand in for the service's "nav", and the
# shuffle-heavy entries are "job" (the workload's batch work).  "nav"
# holds two entries so that its geometric mean does not rest on the
# streaming replay alone, the entry that slows most on a busy host.
HEAVY = {"docs_ngram_jaccard_pairs", "cube_3dim_crossjoin",
         "tpch_q18_large_orders"}


def entry_tags(name: str) -> frozenset:
    tags = {"lat", "query" if name.startswith(("cube_", "tpch_")) else "nav"}
    if name in HEAVY:
        tags.add("job")
    return frozenset(tags)


def analytics_ops(phase: dict, oracle: dict, first: dict) -> list[Op]:
    ops = []
    for p in phase["passes"]:
        for e in p["entries"]:
            err = e["error"]
            if not err and e["name"] in oracle \
                    and e["rows"] != oracle[e["name"]]:
                err = f"rows {e['rows']}, oracle {oracle[e['name']]}"
            if not err and e["rows"] != first.setdefault(e["name"],
                                                          e["rows"]):
                err = f"rows {e['rows']} differ between passes"
            ops.append(Op(e["name"], e["build_s"] + e["count_s"], not err,
                          entry_tags(e["name"]), rows=e["rows"], error=err))
    return ops


def analytics_e2e(phase: dict, setup_s: float, oracle: dict,
                  first: dict) -> tuple[dict, list[Op]]:
    ops = analytics_ops(phase, oracle, first)
    m = end_to_end(ops, sum(o.latency_s for o in ops), ENTRY_LIMIT_S)
    m["setup_s"] = setup_s
    return m, ops


# timers whose mean per call is reported as "<name>_ms"
TIMED = ("http_api.dispatch", "mdx.parse", "query.build", "query.cardinality",
         "metadata.register_dmv_views", "members.paginate", "members.search",
         "sinks.sanitize", "sinks.to_json_result", "jobs.run", "jobs.persist",
         "spark.plan", "spark.collect", "session.release_tracked",
         *(f"service.{m}" for m in SERVICE_METHODS))


def traced_layers(trace: dict, timings: dict, n_ops: int) -> dict[str, float]:
    """The per-layer numbers both workloads take from the tracer: mean
    ms per call, counts, Spark totals per operation, set-up timings.  A
    layer the workload does not run reads 0.  The client and
    ``trace_overhead`` numbers come from the windows, in ``main``."""
    timers, counts = trace["timers"], trace["counts"]

    def mean_ms(name: str) -> float:
        calls, total = timers.get(name, (0, 0.0))
        return total * 1000.0 / calls if calls else 0.0

    out = {k: 0.0 for k in PER_LAYER
           if not k.startswith(("client.", "trace_overhead."))}
    for name in TIMED:
        out[f"{name}_ms"] = mean_ms(name)
    out["query.card_scans"] = counts.get("query.card_scans", 0)
    out["metadata.register_dmv_views_calls"] = \
        timers.get("metadata.register_dmv_views", (0, 0))[0]
    out["sinks.rows_out"] = counts.get("sinks.rows_out", 0)
    persists = timers.get("jobs.persist", (0, 0))[0]
    if persists:
        out["jobs.persist_bytes"] = counts["jobs.persist_bytes"] / persists
    for k in SPARK_TOTALS:
        out[f"spark.{k}"] = trace["spark"].get(k, 0) / max(n_ops, 1)
    for k in ("session.start_s", "session.warmup_s", "session.calibration_s",
              "metadata.members_build_s"):
        out[k] = timings.get(k, 0.0)
    out["session.peak_rss_mb"] = trace["peak_rss_mb"]
    return out


def per_layer_service(res: dict) -> dict[str, float]:
    win = res["windows"]["traced"]
    out = traced_layers(res["server"], res["timings"], len(win["ops"]))
    log = win["http_log"]
    n_http = max(len(log), 1)
    out["http_api.transport_ms"] = (sum(lat for lat, _, _ in log) * 1000.0
                                    / n_http - out["http_api.dispatch_ms"])
    out["http_api.bytes_out"] = sum(b for _, _, b in log) / n_http
    out["http_api.non2xx"] = sum(not 200 <= st < 300 for _, st, _ in log)
    waits = res["server"].get("queue_wait_s") or []
    if waits:
        out["jobs.queue_wait_ms"] = sum(waits) * 1000.0 / len(waits)
    polls = win["polls"]
    n_polls = sum(p for p, _ in polls)
    if n_polls:
        out["jobs.polls_per_job"] = n_polls / len(polls)
        out["jobs.useful_poll_frac"] = sum(u for _, u in polls) / n_polls
    return out


def per_layer_analytics(res: dict) -> dict[str, float]:
    phase = res["phases"]["traced"]
    entries = [e for p in phase["passes"] for e in p["entries"]]
    out = traced_layers({**phase, "peak_rss_mb": res["peak_rss_mb"]},
                        res["timings"], len(entries))
    for fam in FAMILIES:
        mine = [e for e in entries if e["name"].split("_", 1)[0] == fam]
        if mine:
            out[f"workload.build_ms.{fam}"] = \
                sum(e["build_s"] for e in mine) * 1000.0 / len(mine)
            out[f"workload.count_ms.{fam}"] = \
                sum(e["count_s"] for e in mine) * 1000.0 / len(mine)
    out["session.release_tracked_ms"] = sum(
        p["release_s"] for p in phase["passes"]) * 1000.0 / max(len(entries), 1)
    return out


def cpu_ticks() -> list[int]:
    """The aggregate CPU line of /proc/stat (empty where there is none)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests: a host
    covariate that explains slow runs on a shared machine."""
    if len(t0) < 8 or len(t1) < 8:
        return 0.0
    total = sum(t1) - sum(t0)
    return (t1[7] - t0[7]) / total if total else 0.0


def versions() -> dict[str, str]:
    out = {"python": platform.python_version()}
    for mod in ("pyspark", "pyarrow", "duckdb"):
        try:
            out[mod] = __import__(mod).__version__
        except ImportError:
            out[mod] = "missing"
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("jobs_mixed", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a run stopped from outside still stops its children and removes
    # its working directory (the ``finally`` blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "olap_xtrctr_spark"))
            and os.path.isfile(os.path.join(root, "bench.py"))):
        print("perfbench: run from the repository root (olap_xtrctr_spark/ "
              "and bench.py not found)", file=sys.stderr)
        return 2
    work = make_workdir(root, args.workload)
    ticks0 = cpu_ticks()
    try:
        if args.workload == "jobs_mixed":
            res = run_jobs_mixed(root, work, args)
            e2e = {ph: service_e2e(w, res["setup_s"])
                   for ph, w in res["windows"].items()}
            timings = res["timings"]
        else:
            res = run_analytics(root, work, args)
            first: dict[str, int] = {}
            for ph, p in res["phases"].items():
                for i, ps in enumerate(p["passes"]):
                    print(f"# {ph} pass {i}: " + " ".join(
                        f"{e['name']}={e['build_s']:.2f}+{e['count_s']:.2f}"
                        for e in ps["entries"]), file=sys.stderr)
            e2e = {ph: analytics_e2e(p, res["setup_s"], res["oracle"], first)
                   for ph, p in res["phases"].items()}
            timings = res["timings"]
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    ops = [o for _, phase_ops in e2e.values() for o in phase_ops]
    failed = [o for o in ops if not o.ok]
    kinds: dict[str, list[float]] = {}
    for o in e2e["untraced"][1]:
        kinds.setdefault(o.kind, []).append(o.latency_s)
    print("# median s by kind " + json.dumps(
        {k: round(statistics.median(v), 3) for k, v in kinds.items()}),
        file=sys.stderr)
    # reported only with at least 10 samples beyond it (200 requests)
    print(f"# latency_p95_ms {e2e['untraced'][0]['latency_p95_ms']}",
          file=sys.stderr)
    for o in failed[:20]:
        print(f"perfbench: failed {o.kind}: {o.error}", file=sys.stderr)
    base = e2e["untraced"][0]
    wanted = [*END_TO_END] + (list(CLIENT_P50) if args.trace else [])
    missing = [f"{ph}:{k}" for ph, (m, _) in e2e.items()
               for k in wanted if m.get(k) is None]
    if missing:
        print(f"perfbench: no successful sample for {missing}",
              file=sys.stderr)
        return 1
    if args.trace:
        layer = (per_layer_service(res) if args.workload == "jobs_mixed"
                 else per_layer_analytics(res))
        traced = e2e["traced"][0]
        for k in CLIENT_P50:
            layer[f"client.{k}"] = traced[k]
        for k in END_TO_END:
            layer[f"trace_overhead.{k}"] = traced[k] - base[k]
        # tracing is installed after set-up; its install time is the
        # only set-up cost it adds
        layer["trace_overhead.setup_s"] = res["install_s"]
        metrics = {k: {"value": layer[k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": base[k], "unit": u}
                   for k, u in END_TO_END.items()}
    covariates = {"workload": args.workload, "seed": args.seed,
                  "nproc": nproc(), "scale": SCALE,
                  "cpu_steal_share": steal_share(ticks0, cpu_ticks()),
                  "session.calibration_s": timings["session.calibration_s"],
                  **versions()}
    print("# covariates " + json.dumps(covariates))
    print("# set-up " + json.dumps(timings), file=sys.stderr)
    print(json.dumps({"correct": not failed,
                      "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
