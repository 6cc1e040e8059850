"""Thin HTTP binding over OlapService, mirroring the reference's route
surface: FastAPI routes backend/api_server.py:101-347 (catalogs,
measures, dimensions, apartados, variables, members, query/execute) and
the Workers jobs API workers/api/src/routes/jobs.ts:12-112 (POST /api/
jobs, GET /api/jobs/:id).  Built on stdlib http.server — no web
framework ships in this environment, and the transport layer is
deliberately dumb: every route is one service call + JSON serialization.

Error contract mirrors FastAPI's: non-2xx bodies are {"detail": "..."}.
A 500 says only {"detail": "internal error", "error_id": ...}; the id
and the traceback go to stderr, so no JVM stack reaches a client.
"""
from __future__ import annotations

import json
import re
import sys
import threading
import traceback
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Callable, Optional
from urllib.parse import parse_qs, unquote, urlparse

from .query import (AxisItem, CalcMeasure, FilterSpec, QueryRequest,
                    TopCountSpec)
from .service import OlapService
from .validators import parse_range_list


def _names(items: list[Any]) -> list[str]:
    """Accept both the repo-native form (list of strings) and the
    reference's wire form (list of {"uniqueName": ...} dicts,
    backend/api_server.py:83-91)."""
    out = []
    for it in items or []:
        out.append(it["uniqueName"] if isinstance(it, dict) else it)
    return out


def query_request_from_json(payload: dict[str, Any]) -> QueryRequest:
    """Reference QueryRequest JSON → engine QueryRequest."""
    rows = [AxisItem(dimension=r["dimension"], hierarchy=r["hierarchy"],
                     level=r.get("level"), depth=r.get("depth"),
                     members=r.get("members"),
                     properties=bool(r.get("properties", False)))
            for r in payload.get("rows", [])]
    filters = [FilterSpec(dimension=f["dimension"], hierarchy=f["hierarchy"],
                          members=list(f.get("members", [])))
               for f in payload.get("filters", [])]
    calculated = [CalcMeasure(name=c["name"], expr=c["expr"],
                              out_name=c.get("out_name", ""))
                  for c in payload.get("calculated", [])]
    tc = payload.get("topcount")
    return QueryRequest(
        catalog=payload["catalog"],
        cube=payload.get("cube"),
        measures=_names(payload.get("measures")),
        variables=_names(payload.get("variables")),
        rows=rows,
        filters=filters,
        slicers=list(payload.get("slicers", [])),
        non_empty=bool(payload.get("non_empty", True)),
        all_measures=bool(payload.get("all_measures", False)),
        calculated=calculated,
        having=list(payload.get("having", [])),
        topcount=(TopCountSpec(int(tc["n"]), tc["measure"])
                  if tc else None),
        order_by=(tuple(payload["order_by"])
                  if payload.get("order_by") else None),
    )


class _Reply(Exception):
    """A client-error reply raised by a check shared between routes;
    dispatch answers it as ``(status, {"detail": detail})``."""

    def __init__(self, status: int, detail: str) -> None:
        super().__init__(detail)
        self.status, self.detail = status, detail


class _Routes:
    """Route table: (method, compiled-path-regex) -> handler(service,
    path_groups, query_params, body) -> (status, payload)."""

    def __init__(self) -> None:
        self.table: list[tuple[str, re.Pattern[str], Callable]] = []

    def add(self, method: str, pattern: str):
        rx = re.compile("^" + pattern + "$")

        def deco(fn):
            self.table.append((method, rx, fn))
            return fn
        return deco

    def dispatch(self, service, method, path, qs, body):
        for m, rx, fn in self.table:
            if m != method:
                continue
            match = rx.match(path)
            if match:
                try:
                    return fn(service, match, qs, body)
                except _Reply as r:
                    return r.status, {"detail": r.detail}
                finally:
                    # Request-scoped cache hygiene (ADVICE r11): the
                    # diamond-shaped operators pin intermediates for
                    # the duration of their consuming action; in this
                    # long-lived process those pins would otherwise
                    # accumulate in executor memory/disk forever.
                    # The registry is per-thread (ADVICE r12), and
                    # this finally runs on the request's own handler
                    # thread, so only THIS request's pins are freed —
                    # concurrent requests keep theirs.
                    from .session import release_tracked_caches
                    release_tracked_caches()
        return 404, {"detail": f"no route for {method} {path}"}


ROUTES = _Routes()
_CAT = r"/api/catalogs/(?P<catalog>[^/]+)"


def _q1(qs: dict[str, list[str]], key: str,
        default: Optional[str] = None) -> Optional[str]:
    vals = qs.get(key)
    return vals[0] if vals else default


@ROUTES.add("GET", r"/")
def _root(service, m, qs, body):
    return 200, {"status": "ok", "service": "olap-xtrctr-spark",
                 "endpoints": sorted({f"{meth} {rx.pattern[1:-1]}"
                                      for meth, rx, _ in ROUTES.table})}


@ROUTES.add("GET", r"/api/catalogs")
def _catalogs(service, m, qs, body):
    return 200, service.get_catalogs()


@ROUTES.add("GET", _CAT + r"/cubes")
def _cubes(service, m, qs, body):
    return 200, service.get_cubes(unquote(m["catalog"]))


@ROUTES.add("GET", _CAT + r"/measures")
def _measures(service, m, qs, body):
    return 200, service.get_measures(unquote(m["catalog"]))


@ROUTES.add("GET", _CAT + r"/dimensions")
def _dimensions(service, m, qs, body):
    return 200, service.get_dimensions(unquote(m["catalog"]))


@ROUTES.add("GET", _CAT + r"/apartados")
def _apartados(service, m, qs, body):
    return 200, service.get_apartados(unquote(m["catalog"]))


@ROUTES.add("GET", _CAT + r"/variables")
def _variables(service, m, qs, body):
    """?apartados= supports the reference's range-list selection over the
    apartado listing ("1,3,5-10", 1-based positions — N13,
    backend/api_server.py:189-217) or explicit member unique names;
    omitted -> variables of ALL apartados."""
    catalog = unquote(m["catalog"])
    apartados = service.get_apartados(catalog)
    sel = _q1(qs, "apartados")
    if sel is None:
        uniques = [a["MIEMBRO_UNIQUE_NAME"] for a in apartados]
    elif "[" in sel:
        # parse_qs already percent-decoded the value; a second unquote
        # would corrupt member names containing literal % sequences
        uniques = [s for s in sel.split(";") if s]
    else:
        idx = parse_range_list(sel, max_value=len(apartados))
        uniques = [apartados[i - 1]["MIEMBRO_UNIQUE_NAME"] for i in idx]
    return 200, service.get_variables(catalog, uniques)


@ROUTES.add("GET", _CAT + r"/members/search")
def _members_search(service, m, qs, body):
    term = _q1(qs, "q", "")
    return 200, service.search_members(unquote(m["catalog"]), term,
                                       dimension=_q1(qs, "dimension"))


@ROUTES.add("GET", _CAT + r"/members")
def _members(service, m, qs, body):
    for req in ("dimension", "hierarchy", "level"):
        if not _q1(qs, req):
            return 422, {"detail": f"missing query param {req!r}"}
    return 200, service.get_members(
        unquote(m["catalog"]), _q1(qs, "dimension"), _q1(qs, "hierarchy"),
        _q1(qs, "level"), limit=int(_q1(qs, "limit", "1000")),
        offset=int(_q1(qs, "offset", "0")))


@ROUTES.add("POST", r"/api/query/execute")
def _execute(service, m, qs, body):
    req = query_request_from_json(body)
    return 200, service.execute_query(
        req, preview=bool(body.get("preview", False)))


@ROUTES.add("POST", r"/api/query/explain")
def _explain(service, m, qs, body):
    return 200, service.explain_query(query_request_from_json(body),
                                      mode=body.get("mode", "formatted"))


@ROUTES.add("POST", r"/api/query/mdx")
def _mdx(service, m, qs, body):
    return 200, service.execute_mdx(body["catalog"], body["mdx"],
                                    preview=bool(body.get("preview", False)))


@ROUTES.add("POST", r"/api/dmv")
def _dmv(service, m, qs, body):
    return 200, service.execute_dmv(body["sql"],
                                    catalog=body.get("catalog"))


@ROUTES.add("GET", r"/api/diagnostics/schema")
def _diag(service, m, qs, body):
    return 200, service.diagnose_schema()


@ROUTES.add("GET", r"/api/diagnostics/properties")
def _diag_props(service, m, qs, body):
    return 200, service.get_server_properties()


@ROUTES.add("POST", r"/api/export/workbook")
def _export_workbook(service, m, qs, body):
    """Metadata workbook export (the reference's catalog discovery
    workbook) — writes server-side into the export directory
    ($OLAP_EXPORT_DIR, default ./exports) and returns the path plus
    per-sheet row counts.  Only a bare FILENAME is accepted: an
    arbitrary client-supplied path would be an arbitrary-file-write
    primitive on the server."""
    import os

    filename = body.get("filename") or body.get("path", "")
    if (not filename.endswith(".xlsx") or os.sep in filename
            or (os.altsep and os.altsep in filename)
            or filename.startswith(".")):
        return 400, {"detail": "body needs a bare 'filename' ending in "
                               ".xlsx (no directories — exports land in "
                               "$OLAP_EXPORT_DIR)"}
    base = os.environ.get("OLAP_EXPORT_DIR",
                          os.path.join(os.getcwd(), "exports"))
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, filename)
    counts = service.export_metadata_workbook(path,
                                              catalog=body.get("catalog"))
    return 200, {"path": path, "sheets": counts}


@ROUTES.add("GET", r"/api/workload")
def _workload_list(service, m, qs, body):
    """Catalog of every analytics/pipeline operator the engine ships
    (the beyond-reference surface), with its correctness-oracle kind."""
    from .workload import WORKLOAD
    return 200, [{"name": n,
                  "oracle": "full" if s.sql else "rows-only"}
                 for n, s in WORKLOAD.items()]


_WORKLOAD_RUN_LOCK = threading.Lock()
_WORKLOAD_LOCK_TIMEOUT = 30.0   # seconds before a busy 503


@ROUTES.add("GET", r"/api/workload/(?P<name>[A-Za-z0-9_]+)")
def _workload_run(service, m, qs, body):
    """Run one workload entry against the service's data directory and
    return a bounded row preview (the reference's run-query ergonomics
    extended to the whole operator surface; 1000-row cap = L4).

    Serialized under a lock: the server is threaded, and the STREAMING
    entries are not concurrency-safe on a shared SparkSession — two
    replays of the same entry collide on the memory-sink query name,
    and drain_stream_to_table's shuffle-width save/restore races (B
    could save A's temporary width and 'restore' it permanently)."""
    from .workload import WORKLOAD
    spec = WORKLOAD.get(m["name"])
    if spec is None:
        return 404, {"detail": f"unknown workload entry {m['name']!r}"}
    limit = min(int(_q1(qs, "limit", "100")), 1000)
    # bounded wait, not indefinite: one slow entry (a full streaming
    # replay) must not wedge every other workload request forever
    if not _WORKLOAD_RUN_LOCK.acquire(timeout=_WORKLOAD_LOCK_TIMEOUT):
        return 503, {"detail": "another workload entry is running; "
                               "retry shortly"}
    try:
        df = spec.fn(service.spark, service.sf_dir)
        rows = ([r.asDict(recursive=True)
                 for r in df.limit(limit).collect()] if limit > 0 else [])
    finally:
        _WORKLOAD_RUN_LOCK.release()
    return 200, {"name": m["name"], "columns": df.columns,
                 "n_rows_returned": len(rows), "rows": rows}


# ---- persisted IVF ANN index (build once -> query many) -------------------
# The reference exposes its cached artifacts through the service
# facade (frontend/src/utils/cache.ts consumes them over HTTP); the
# engine's equivalent durable artifact is the partition-pruned IVF
# index (operators/similarity.py), so its lifecycle gets first-class
# routes.  Same security posture as the workbook export: clients name
# indexes with a BARE name under $OLAP_INDEX_DIR and pick corpora by
# registered TABLE name — never by filesystem path.

def _index_dir(name: str) -> Optional[str]:
    import os
    if (not name or os.sep in name or (os.altsep and os.altsep in name)
            or name.startswith(".")):
        return None
    base = os.environ.get("OLAP_INDEX_DIR",
                          os.path.join(os.getcwd(), "indexes"))
    return os.path.join(base, name)


def _index_request(body: dict[str, Any], kind: str, query: bool):
    """The checks the four index routes share.  A build gets the index
    dir once the name is bare and the table registered; a query gets
    (dir, meta, ids) once the index is built and ``query_ids`` are
    valid.  A failed check raises the route's 400/404 reply."""
    from .operators.similarity import read_index_meta
    from .session import TABLES
    d = _index_dir(body.get("name", ""))
    if d is None:
        raise _Reply(400, "body needs a bare index 'name'" if query else
                     "body needs a bare index 'name' (no directories — "
                     "indexes land in $OLAP_INDEX_DIR)")
    if not query:
        table = body.get("table", "embeddings")
        if table not in TABLES:
            raise _Reply(400, f"unknown table {table!r} "
                              f"(one of {sorted(TABLES)})")
        return d
    try:
        meta = read_index_meta(d)
    except (OSError, ValueError):
        raise _Reply(404, f"index {body.get('name')!r} not built "
                          f"(POST /api/index/{kind}/build first)")
    qids = body.get("query_ids") or []
    if not isinstance(qids, list) or not qids or len(qids) > 1000:
        raise _Reply(400, "body needs 'query_ids': a non-empty list of "
                          "at most 1000 vector ids")
    # Client input validation (ADVICE r11): a non-numeric id used to
    # raise an uncaught ValueError out of int() and surface as a 500.
    # bool is excluded explicitly — int(True) would silently query id 1.
    ids: list[int] = []
    for q in qids:
        try:
            if isinstance(q, bool):
                raise TypeError
            ids.append(int(q))
        except (TypeError, ValueError):
            raise _Reply(400, f"query_ids entries must be integer "
                              f"vector ids, got {q!r}")
    return d, meta, ids


@ROUTES.add("POST", r"/api/index/ivf/build")
def _ivf_build(service, m, qs, body):
    from .operators.similarity import ivf_build_index
    from .session import load_table
    d = _index_request(body, "ivf", query=False)
    emb = load_table(service.spark, service.sf_dir,
                     body.get("table", "embeddings"))
    meta = ivf_build_index(emb, d,
                           n_clusters=int(body.get("n_clusters", 8)),
                           id_col=body.get("id_col", "vec_id"),
                           vec_col=body.get("vec_col", "embedding"),
                           seed=int(body.get("seed", 42)))
    return 200, {"name": body["name"], **meta}


@ROUTES.add("POST", r"/api/index/ivf/query")
def _ivf_query(service, m, qs, body):
    from pyspark.sql import functions as F

    from .operators.similarity import ivf_query_index
    from .session import load_table
    d, meta, ids = _index_request(body, "ivf", query=True)
    table = body.get("table", "embeddings")
    queries = load_table(service.spark, service.sf_dir, table).filter(
        F.col(meta["id_col"]).isin(ids))
    df = ivf_query_index(service.spark, d, queries,
                         k=int(body.get("k", 3)),
                         n_probe=int(body.get("n_probe", 2)),
                         id_col=meta["id_col"], vec_col=meta["vec_col"])
    rows = [r.asDict() for r in df.collect()]
    return 200, {"name": body["name"], "n_rows": len(rows),
                 "columns": df.columns, "rows": rows}


@ROUTES.add("POST", r"/api/index/ivfpq/build")
def _ivfpq_build(service, m, qs, body):
    from .operators.similarity import ivfpq_build_index
    from .session import load_table
    d = _index_request(body, "ivfpq", query=False)
    emb = load_table(service.spark, service.sf_dir,
                     body.get("table", "embeddings"))
    meta = ivfpq_build_index(emb, d,
                             id_col=body.get("id_col", "vec_id"),
                             vec_col=body.get("vec_col", "embedding"))
    return 200, {"name": body["name"], **meta}


@ROUTES.add("POST", r"/api/index/ivfpq/query")
def _ivfpq_query(service, m, qs, body):
    from pyspark.sql import functions as F

    from .operators.similarity import ivfpq_query_index
    from .session import load_table
    d, meta, ids = _index_request(body, "ivfpq", query=True)
    table = body.get("table", "embeddings")
    corpus = load_table(service.spark, service.sf_dir, table)
    queries = corpus.filter(F.col(meta["id_col"]).isin(ids))
    try:
        df = ivfpq_query_index(
            service.spark, d, queries, k=int(body.get("k", 3)),
            n_probe=int(body.get("n_probe", 3)),
            id_col=meta["id_col"], vec_col=meta["vec_col"],
            refine_with=corpus if body.get("refine") else None)
    except ValueError as e:           # codebook_sig mismatch → client
        return 409, {"detail": str(e)}
    rows = [r.asDict() for r in df.collect()]
    return 200, {"name": body["name"], "n_rows": len(rows),
                 "columns": df.columns, "rows": rows}


def _analysis_knobs(body: dict[str, Any], ints: tuple[str, ...],
                    floats: tuple[str, ...] = ()):
    """The numeric knobs a corpus-analysis body names, coerced (the
    service owns their defaults), and the row ``limit`` (default 100,
    1..10000).  A bad value raises the route's 400 reply."""
    try:
        knobs = {k: int(body[k]) for k in ints if k in body}
        knobs.update({k: float(body[k]) for k in floats if k in body})
        limit = int(body.get("limit", 100))
    except (TypeError, ValueError):
        raise _Reply(400, "/".join((*ints, "limit")) + " must be integers"
                     + "".join(f" ({k}: float)" for k in floats))
    if not (0 < limit <= 10_000):
        raise _Reply(400, "limit must be in 1..10000")
    return knobs, limit


def _rows_page(df, limit: int) -> dict[str, Any]:
    rows = [r.asDict() for r in df.limit(limit + 1).collect()]
    return {"columns": df.columns, "rows": rows[:limit],
            "truncated": len(rows) > limit}


@ROUTES.add("POST", r"/api/dedup")
def _dedup(service, m, qs, body):
    """Near-duplicate analysis over a registered table
    (``OlapService.dedup``).  Body: {"mode": "soft"|"groups"|"keep"|
    "semantic", "table": ..., "id_col": ..., "max_dist": ...,
    "prefix_chars": ..., "block_width": ..., "threshold": ...,
    "limit": ...}."""
    knobs, limit = _analysis_knobs(
        body, ("max_dist", "prefix_chars", "block_width"), ("threshold",))
    mode = body.get("mode", "soft")
    table, df = service.dedup(mode, body.get("table"), body.get("id_col"),
                              **knobs)
    return 200, {"mode": mode, "table": table, **_rows_page(df, limit)}


@ROUTES.add("POST", r"/api/sources")
def _sources(service, m, qs, body):
    """Source/domain governance over the registered corpus
    (``OlapService.sources``).  Body: {"mode": "rank"|"drift"|"audit",
    "ngram": ..., "max_groups": ..., "iters": ..., "damping_pct": ...,
    "top_dims": ..., "top_seeds": ..., "limit": ...}."""
    knobs, limit = _analysis_knobs(
        body, ("ngram", "max_groups", "iters", "damping_pct", "top_dims",
               "top_seeds"))
    mode = body.get("mode", "rank")
    df = service.sources(mode, **knobs)
    return 200, {"mode": mode, **_rows_page(df, limit)}


@ROUTES.add("POST", r"/api/jobs")
def _job_submit(service, m, qs, body):
    """Mirrors workers/api/src/routes/jobs.ts:45-82: create PENDING,
    dispatch, return the job id immediately (201)."""
    job_id = service.submit_job(body["catalog_code"], body["mdx_query"])
    return 201, {"id": job_id, "status": "PENDING"}


@ROUTES.add("GET", r"/api/jobs/(?P<job_id>[0-9a-f-]+)")
def _job_get(service, m, qs, body):
    job = service.get_job(m["job_id"])
    if job is None:
        return 404, {"detail": "job not found"}
    return 200, job


@ROUTES.add("GET", r"/api/jobs")
def _job_list(service, m, qs, body):
    return 200, service.jobs.list(limit=int(_q1(qs, "limit", "50")))


def _make_handler(service: OlapService):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        # headers and body go out in two writes; with Nagle on, the
        # body waits for the client's delayed ACK (~40 ms a reply on a
        # keep-alive connection)
        disable_nagle_algorithm = True

        def log_message(self, fmt, *args):   # quiet by default
            pass

        def _reply(self, status: int, payload: Any) -> None:
            data = json.dumps(payload, default=str).encode("utf-8")
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _handle(self, method: str) -> None:
            parsed = urlparse(self.path)
            body = {}
            if method == "POST":
                n = int(self.headers.get("Content-Length") or 0)
                raw = self.rfile.read(n) if n else b"{}"
                try:
                    body = json.loads(raw or b"{}")
                except json.JSONDecodeError as exc:
                    self._reply(400, {"detail": f"bad JSON: {exc}"})
                    return
            try:
                status, payload = ROUTES.dispatch(
                    service, method, parsed.path,
                    parse_qs(parsed.query), body)
            except (KeyError, ValueError) as exc:
                status, payload = 400, {"detail": str(exc)}
            except Exception:
                error_id = str(uuid.uuid4())
                sys.stderr.write(f"error_id={error_id} {method} "
                                 f"{parsed.path}\n{traceback.format_exc()}")
                status, payload = 500, {"detail": "internal error",
                                        "error_id": error_id}
            self._reply(status, payload)

        def do_GET(self):
            self._handle("GET")

        def do_POST(self):
            self._handle("POST")

    return Handler


def make_server(service: OlapService, host: str = "127.0.0.1",
                port: int = 0) -> ThreadingHTTPServer:
    """Bind (port=0 -> ephemeral); caller drives serve_forever/shutdown."""
    return ThreadingHTTPServer((host, port), _make_handler(service))


def serve_in_thread(service: OlapService, host: str = "127.0.0.1",
                    port: int = 0) -> tuple[ThreadingHTTPServer, threading.Thread]:
    srv = make_server(service, host, port)
    t = threading.Thread(target=srv.serve_forever, daemon=True,
                         name="olap-http")
    t.start()
    return srv, t


def serve(service: OlapService, host: str = "127.0.0.1",
          port: int = 8000) -> None:
    """Blocking entry point (CLI: python -m olap_xtrctr_spark serve)."""
    srv = make_server(service, host, port)
    print(f"olap-xtrctr-spark HTTP API on http://{host}:{srv.server_port}")
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        srv.shutdown()
