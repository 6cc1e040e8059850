"""Self-tests of the benchmark's generator, clients and statistics.

Run from the repository root: python3 -m pytest perfbench -q
No Spark is started; the HTTP tests use a stub server on localhost.
"""
from __future__ import annotations

import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import datagen  # noqa: E402
import run  # noqa: E402
import sessions  # noqa: E402
from stats import Op, end_to_end, percentile  # noqa: E402


# ---- generator --------------------------------------------------------------

def test_same_seed_same_requests():
    a, b = sessions.Plan(7), sessions.Plan(7)
    assert a.distinct() == b.distinct()
    assert a.session() == b.session()
    assert a.job_cycle(1) == b.job_cycle(1)


def test_other_seed_other_requests():
    a, b = sessions.Plan(7), sessions.Plan(8)
    assert a.distinct() != b.distinct()
    assert a.session() != b.session()


def test_every_seed_replays_the_fixed_script():
    for seed in range(20):
        plan = sessions.Plan(seed)
        keys = {r["key"] for r in plan.distinct()}
        session = plan.session()
        assert [r["kind"] for r in session] == sessions.SCRIPT
        assert all(r["key"] in keys for r in session)


def test_same_seed_same_tables(tmp_path):
    datagen.generate(str(tmp_path / "a"), 5, scale=0.001)
    datagen.generate(str(tmp_path / "b"), 5, scale=0.001)
    datagen.generate(str(tmp_path / "c"), 6, scale=0.001)
    for name in os.listdir(tmp_path / "a"):
        same = (tmp_path / "a" / name).read_bytes() \
            == (tmp_path / "b" / name).read_bytes()
        assert same, name
    assert (tmp_path / "a" / "lineitem.parquet").read_bytes() \
        != (tmp_path / "c" / "lineitem.parquet").read_bytes()


# ---- statistics --------------------------------------------------------------

def test_percentile_needs_ten_samples_beyond():
    assert percentile([float(i) for i in range(199)], 95) is None
    assert percentile([float(i) for i in range(200)], 95) is not None
    assert percentile([1.0, 2.0, 3.0], 50) == 2.0


def test_failed_ops_miss_the_limit_and_leave_latency():
    ops = [Op("a", 0.1, True, frozenset({"lat", "nav"})),
           Op("a", 0.2, True, frozenset({"lat", "nav"})),
           Op("b", 0.01, False, frozenset({"lat", "query"}), error="500"),
           Op("b", 9.0, True, frozenset({"lat", "query"}))]
    m = end_to_end(ops, elapsed_s=1.0, limit_s=1.0)
    assert m["throughput_rps"] == 3.0
    assert m["goodput_rps"] == 2.0          # the fast failure does not count
    assert m["query_p50_ms"] == 9000.0      # only the successful query
    assert m["latency_p95_ms"] is None      # too few samples


def test_class_geomeans_weigh_each_kind_once():
    nav = frozenset({"lat", "nav"})
    ops = [Op("a", 0.1, True, nav), Op("a", 0.15, True, nav),
           Op("a", 0.2, True, nav), Op("c", 0.6, True, nav)]
    m = end_to_end(ops, elapsed_s=1.0, limit_s=10.0)
    assert m["nav_p50_ms"] == pytest.approx(175.0)     # over the mix
    assert m["nav_geomean_ms"] == pytest.approx(300.0)  # sqrt(150 * 600)
    assert m["query_geomean_ms"] is None


def test_empty_window_has_no_throughput():
    failed = Op("a", 0.1, False, frozenset({"lat"}), error="500")
    m = end_to_end([failed], elapsed_s=1.0, limit_s=10.0)
    assert m["throughput_rps"] is None and m["goodput_rps"] is None


def test_analytics_job_weighs_each_heavy_entry_once():
    def entry(name, seconds):
        return {"name": name, "build_s": 0.0, "count_s": seconds,
                "rows": 1, "error": ""}
    passes = [{"entries": [entry("cube_3dim_crossjoin", c),
                           entry("tpch_q18_large_orders", 1.0),
                           entry("docs_ngram_jaccard_pairs", 8.0),
                           entry("events_stream_sessionize", 2.0)]}
              for c in (2.0, 2.2, 2.4)]
    m, ops = run.analytics_e2e({"passes": passes}, 1.0, {}, {})
    assert len(ops) == 12
    # the median over single heavy entries is the cube crossjoin's
    assert m["job_turnaround_p50_ms"] == pytest.approx(2200.0)
    # cube root of 2200 * 1000 * 8000
    assert m["job_turnaround_geomean_ms"] == pytest.approx(
        (2200.0 * 1000.0 * 8000.0) ** (1 / 3))


# ---- HTTP clients against a stub server ---------------------------------------

class _Stub(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    polls: dict = {}

    def log_message(self, *a):
        pass

    def _send(self, status, payload):
        data = json.dumps(payload).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def do_GET(self):
        if self.path == "/api/catalogs":
            self._send(200, [{"CATALOG_NAME": "X"}])
        elif self.path == "/boom":
            self._send(500, {"detail": "boom"})
        elif self.path == "/slow":
            time.sleep(1.0)
            self._send(200, [])
        elif self.path.startswith("/api/jobs/"):
            n = self.polls[self.path] = self.polls.get(self.path, 0) + 1
            if n < 3:
                self._send(200, {"status": "RUNNING"})
            else:
                self._send(200, {"status": "COMPLETED",
                                 "result_data": {"count": 42}})
        else:
            self._send(404, {"detail": "no route"})

    def do_POST(self):
        self.rfile.read(int(self.headers.get("Content-Length") or 0))
        job_id = f"{len(self.polls):08x}"
        self.polls[f"/api/jobs/{job_id}"] = 0
        self._send(201, {"id": job_id, "status": "PENDING"})


@pytest.fixture
def stub():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Stub)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    _Stub.polls = {}
    try:
        yield srv.server_port
    finally:
        srv.shutdown()
        srv.server_close()
        t.join(5)
        assert not t.is_alive()


def _client(port, expected=None):
    return run.Client(port, expected or {}, [], threading.Lock())


def _ask(client, path):
    req = {"kind": "catalogs", "cls": "nav", "method": "GET", "path": path,
           "body": None, "key": f"GET {path}"}
    status, payload, lat, err = client.call("GET", path)
    if not err:
        err = run.check_reply(req, status, payload,
                              client.expected.get(req["key"]))
    return Op("catalogs", lat, not err, frozenset({"lat", "nav"}), error=err)


def test_5xx_refused_and_timeout_are_failures(stub, monkeypatch):
    monkeypatch.setattr(run, "REQUEST_TIMEOUT_S", 0.2)
    ok = _ask(_client(stub, {"GET /api/catalogs": 1}), "/api/catalogs")
    wrong = _ask(_client(stub, {"GET /api/catalogs": 2}), "/api/catalogs")
    server_error = _ask(_client(stub), "/boom")
    timed_out = _ask(_client(stub), "/slow")
    closed = ThreadingHTTPServer(("127.0.0.1", 0), _Stub)
    port = closed.server_port
    closed.server_close()
    refused = _ask(_client(port), "/api/catalogs")
    assert ok.ok
    for op in (wrong, server_error, timed_out, refused):
        assert not op.ok and op.error
    m = end_to_end([ok, wrong, server_error, timed_out, refused],
                   elapsed_s=1.0, limit_s=10.0)
    assert m["throughput_rps"] == 1.0 and m["goodput_rps"] == 1.0


def test_polls_stay_out_of_latency(stub, monkeypatch):
    monkeypatch.setattr(run, "POLL_S", 0.1)
    job = {"kind": "job_part", "cls": "job", "method": "POST",
           "path": "/api/jobs", "body": {"catalog_code": "X",
                                         "mdx_query": "q"}, "key": "JOB q"}
    client = _client(stub, {"JOB q": 42})
    ops, polls = [], []
    run.job_client(client, [job, job], run.Window(0.0, 1), ops, polls)
    assert ops == []                         # no cycle starts after the end
    # a cycle (2 jobs x 3 polls x 100 ms) outlasts the window: it
    # finishes (the window is wide enough to open on a busy host)
    run.job_client(client, [job, job], run.Window(0.2, 1), ops, polls)
    assert len(ops) == 2 and all(o.ok and o.rows == 42 for o in ops)
    # 3 polls per job, of which 2 saw a new status; every poll went out
    assert polls == [(3, 2)] * 2
    assert len(client.http_log) == 8
    m = end_to_end(ops, elapsed_s=1.0, limit_s=10.0)
    assert m["latency_p50_ms"] is None       # no poll, no job in latency
    assert m["throughput_rps"] == len(ops)   # a job counts once


def test_time_limit_cuts_the_window_and_fails_no_job(stub, monkeypatch):
    monkeypatch.setattr(run, "POLL_S", 0.05)
    job = {"kind": "job_part", "cls": "job", "method": "POST",
           "path": "/api/jobs", "body": {"catalog_code": "X",
                                         "mdx_query": "q"}, "key": "JOB q"}
    # the limit falls while the first job runs: it is abandoned, not
    # failed, and the window is marked cut
    t_limit = time.perf_counter() + 0.02
    monkeypatch.setattr(run, "may_send",
                        lambda: time.perf_counter() < t_limit)
    window, ops, polls = run.Window(5.0, 1), [], []
    run.job_client(_client(stub, {"JOB q": 42}), [job], window, ops, polls)
    assert window.cut and ops == [] and polls == []
    # the limit falls before the deadline, between units: also cut
    monkeypatch.setattr(run, "may_send", lambda: False)
    window = run.Window(5.0, 1)
    run.job_client(_client(stub, {"JOB q": 42}), [job], window, ops, polls)
    assert window.cut and ops == []


def test_abort_cuts_a_request_in_flight_and_logs_nothing(stub):
    client = _client(stub)
    out = []
    t = threading.Thread(target=lambda: out.append(client.call("GET",
                                                               "/slow")))
    t0 = time.perf_counter()
    t.start()
    time.sleep(0.1)
    client.abort()
    t.join(5)
    assert time.perf_counter() - t0 < 0.9      # /slow answers after 1 s
    assert out[0][0] == 0 and out[0][3]        # status 0, with an error
    assert client.http_log == []


def test_benchmark_json_names_every_metric():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == {"jobs_mixed",
                                                      "analytics"}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == run.PER_LAYER


def test_load_continues_until_every_client_has_counted(stub, monkeypatch):
    monkeypatch.setattr(run, "POLL_S", 0.15)
    session = [{"kind": "catalogs", "cls": "nav", "method": "GET",
                "path": "/api/catalogs", "body": None,
                "key": "GET /api/catalogs"}]
    job = {"kind": "job_part", "cls": "job", "method": "POST",
           "path": "/api/jobs", "body": {"catalog_code": "X",
                                         "mdx_query": "q"}, "key": "JOB q"}
    expected = {"GET /api/catalogs": 1, "JOB q": 42}
    log, lock = [], threading.Lock()
    window = run.Window(0.2, 2)
    ops, job_ops, polls = [], [], []
    analyst = threading.Thread(target=run.analyst, args=(
        run.Client(stub, expected, log, lock), session, window, ops))
    jobs = threading.Thread(target=run.job_client, args=(
        run.Client(stub, expected, log, lock), [job], window, job_ops,
        polls))
    for t in (analyst, jobs):
        t.start()
    for t in (analyst, jobs):
        t.join(10)
        assert not t.is_alive()
    # one job cycle (3 polls x 150 ms) outlasts the 200 ms window; the
    # analyst kept sending uncounted requests until it completed
    assert len(job_ops) == 1 and job_ops[0].ok
    assert ops and all(o.ok for o in ops)
    catalogs_sent = sum(1 for _, st, n in log if st == 200) - 3
    assert catalogs_sent > len(ops)
    assert window.end > 0
