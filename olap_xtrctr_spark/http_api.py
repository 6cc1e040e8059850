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


@ROUTES.add("POST", r"/api/index/ivf/build")
def _ivf_build(service, m, qs, body):
    from .operators.similarity import ivf_build_index
    from .session import TABLES, load_table
    d = _index_dir(body.get("name", ""))
    if d is None:
        return 400, {"detail": "body needs a bare index 'name' (no "
                               "directories — indexes land in "
                               "$OLAP_INDEX_DIR)"}
    table = body.get("table", "embeddings")
    if table not in TABLES:
        return 400, {"detail": f"unknown table {table!r} "
                               f"(one of {sorted(TABLES)})"}
    emb = load_table(service.spark, service.sf_dir, table)
    meta = ivf_build_index(emb, d,
                           n_clusters=int(body.get("n_clusters", 8)),
                           id_col=body.get("id_col", "vec_id"),
                           vec_col=body.get("vec_col", "embedding"),
                           seed=int(body.get("seed", 42)))
    return 200, {"name": body["name"], **meta}


@ROUTES.add("POST", r"/api/index/ivf/query")
def _ivf_query(service, m, qs, body):
    import json
    import os

    from .operators.similarity import ivf_query_index
    from .session import load_table
    from pyspark.sql import functions as F
    d = _index_dir(body.get("name", ""))
    if d is None:
        return 400, {"detail": "body needs a bare index 'name'"}
    try:
        with open(os.path.join(d, "_INDEX_META.json"),
                  encoding="utf-8") as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return 404, {"detail": f"index {body.get('name')!r} not built "
                               f"(POST /api/index/ivf/build first)"}
    qids = body.get("query_ids") or []
    if not isinstance(qids, list) or not qids or len(qids) > 1000:
        return 400, {"detail": "body needs 'query_ids': a non-empty "
                               "list of at most 1000 vector ids"}
    # Client input validation (ADVICE r11): a non-numeric id used to
    # raise an uncaught ValueError out of int() and surface as a 500.
    # bool is excluded explicitly — int(True) would silently query id 1.
    ids: list[int] = []
    for q in qids:
        if isinstance(q, bool):
            return 400, {"detail": f"query_ids entries must be integer "
                                   f"vector ids, got {q!r}"}
        try:
            ids.append(int(q))
        except (TypeError, ValueError):
            return 400, {"detail": f"query_ids entries must be integer "
                                   f"vector ids, got {q!r}"}
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
    from .session import TABLES, load_table
    d = _index_dir(body.get("name", ""))
    if d is None:
        return 400, {"detail": "body needs a bare index 'name' (no "
                               "directories — indexes land in "
                               "$OLAP_INDEX_DIR)"}
    table = body.get("table", "embeddings")
    if table not in TABLES:
        return 400, {"detail": f"unknown table {table!r} "
                               f"(one of {sorted(TABLES)})"}
    emb = load_table(service.spark, service.sf_dir, table)
    meta = ivfpq_build_index(emb, d,
                             id_col=body.get("id_col", "vec_id"),
                             vec_col=body.get("vec_col", "embedding"))
    return 200, {"name": body["name"], **meta}


@ROUTES.add("POST", r"/api/index/ivfpq/query")
def _ivfpq_query(service, m, qs, body):
    import json
    import os

    from pyspark.sql import functions as F

    from .operators.similarity import ivfpq_query_index
    from .session import load_table
    d = _index_dir(body.get("name", ""))
    if d is None:
        return 400, {"detail": "body needs a bare index 'name'"}
    try:
        with open(os.path.join(d, "_INDEX_META.json"),
                  encoding="utf-8") as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return 404, {"detail": f"index {body.get('name')!r} not built "
                               f"(POST /api/index/ivfpq/build first)"}
    qids = body.get("query_ids") or []
    if not isinstance(qids, list) or not qids or len(qids) > 1000:
        return 400, {"detail": "body needs 'query_ids': a non-empty "
                               "list of at most 1000 vector ids"}
    ids: list[int] = []
    for q in qids:
        if isinstance(q, bool):
            return 400, {"detail": f"query_ids entries must be integer "
                                   f"vector ids, got {q!r}"}
        try:
            ids.append(int(q))
        except (TypeError, ValueError):
            return 400, {"detail": f"query_ids entries must be integer "
                                   f"vector ids, got {q!r}"}
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


@ROUTES.add("POST", r"/api/dedup")
def _dedup(service, m, qs, body):
    """Near-duplicate analysis over a registered table (VERDICT r11
    task 5 — the soft-dedup/CC pipeline behind docs_softdedup_weights,
    driven through the service façade like ivf-build/ivf-query).
    Body: {"mode": "soft"|"groups"|"keep", "table": ..., "max_dist":
    ..., "prefix_chars": ..., "block_width": ..., "limit": ...}."""
    from .operators.dedup import dedup_frame
    from .session import TABLES, load_table
    mode = body.get("mode", "soft")
    if mode not in ("soft", "groups", "keep", "semantic"):
        return 400, {"detail": f"mode must be soft|groups|keep|"
                               f"semantic, got {mode!r}"}
    semantic = mode == "semantic"
    table = body.get("table", "embeddings" if semantic else "documents")
    if table not in TABLES:
        return 400, {"detail": f"unknown table {table!r} "
                               f"(one of {sorted(TABLES)})"}
    try:
        max_dist = int(body.get("max_dist", 20))
        prefix_chars = int(body.get("prefix_chars", 80))
        block_width = int(body.get("block_width", 100))
        # 0.995 = near-duplicate semantics, matching the trained
        # SemDeDup twin's default (ADVICE r12: the 0.45 it used to
        # inherit drops far more aggressively than "near-dup" implies)
        threshold = float(body.get("threshold", 0.995))
        limit = int(body.get("limit", 100))
    except (TypeError, ValueError):
        return 400, {"detail": "max_dist/prefix_chars/block_width/"
                               "limit must be integers (threshold: "
                               "float)"}
    if not (0 < limit <= 10_000):
        return 400, {"detail": "limit must be in 1..10000"}
    docs = load_table(service.spark, service.sf_dir, table)
    id_col = body.get("id_col", "vec_id" if semantic else "doc_id")
    if semantic:
        df = dedup_frame(docs, "semantic", id_col=id_col,
                         threshold=threshold)
    else:
        df = dedup_frame(docs, mode, id_col=id_col,
                         max_dist=max_dist, prefix_chars=prefix_chars,
                         block_width=block_width)
    rows = [r.asDict() for r in df.limit(limit + 1).collect()]
    return 200, {"mode": mode, "table": table, "columns": df.columns,
                 "rows": rows[:limit], "truncated": len(rows) > limit}


@ROUTES.add("POST", r"/api/sources")
def _sources(service, m, qs, body):
    """Source/domain governance over the registered corpus (round 13):
    mode "rank" = weighted PageRank over the shared-shingle source
    graph (exact integer fixed-point, iterations plan-unrolled); mode
    "drift" = top drifted embedding dimensions per source vs the
    global centroid.  Body: {"mode": "rank"|"drift", "ngram": ...,
    "max_groups": ..., "iters": ..., "damping_pct": ...,
    "top_dims": ..., "limit": ...}."""
    from pyspark.sql import functions as F

    from .session import load_table
    mode = body.get("mode", "rank")
    if mode not in ("rank", "drift", "audit"):
        return 400, {"detail": f"mode must be rank|drift|audit, "
                               f"got {mode!r}"}
    try:
        ngram = int(body.get("ngram", 3))
        max_groups = int(body.get("max_groups", 8))
        iters = int(body.get("iters", 5))
        damping_pct = int(body.get("damping_pct", 85))
        top_dims = int(body.get("top_dims", 5))
        top_seeds = int(body.get("top_seeds", 5))
        limit = int(body.get("limit", 100))
    except (TypeError, ValueError):
        return 400, {"detail": "ngram/max_groups/iters/damping_pct/"
                               "top_dims/top_seeds/limit must be "
                               "integers"}
    if not (0 < limit <= 10_000):
        return 400, {"detail": "limit must be in 1..10000"}
    if not 1 <= iters <= 20:
        return 400, {"detail": "iters must be in 1..20 (iterations "
                               "are unrolled into the plan)"}
    if not 0 <= damping_pct <= 100:
        return 400, {"detail": "damping_pct must be in 0..100"}
    if mode == "audit" and top_seeds < 1:
        return 400, {"detail": "top_seeds must be >= 1"}
    docs = load_table(service.spark, service.sf_dir, "documents")
    if mode in ("rank", "audit"):
        from .operators import graph as G
        edges = G.shared_shingle_group_edges(docs, n=ngram,
                                             max_groups=max_groups)
        nodes = docs.select(F.col("source").alias("node")).distinct()
        seeds = (G.contamination_seed_sources(docs, top_k=top_seeds)
                 if mode == "audit" else None)
        df = (G.weighted_pagerank(edges, nodes, iters=iters,
                                  damping_pct=damping_pct,
                                  teleport=seeds)
              .select(F.col("node").alias("source"), "pr_ppb")
              .orderBy(F.desc("pr_ppb"), "source"))
    else:
        from .operators import similarity as S
        emb = load_table(service.spark, service.sf_dir, "embeddings")
        df = S.source_dim_drift(emb, docs, k=top_dims)
    rows = [r.asDict() for r in df.limit(limit + 1).collect()]
    return 200, {"mode": mode, "columns": df.columns,
                 "rows": rows[:limit], "truncated": len(rows) > limit}


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
