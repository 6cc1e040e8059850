"""End-to-end tests for the HTTP binding: real server on an ephemeral
port, real OlapService over sf0.001, urllib client — the full
request → route → service → Spark → JSON loop."""
from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from urllib.parse import quote

import pytest

from olap_xtrctr_spark.http_api import serve_in_thread
from olap_xtrctr_spark.service import OlapService

CATALOG = "VENTAS_2025"


@pytest.fixture(scope="module")
def base_url(spark, sf_dir):
    service = OlapService(spark, sf_dir)
    srv, _t = serve_in_thread(service)
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as resp:
        return resp.status, json.loads(resp.read())


def _post(url: str, payload: dict):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with urllib.request.urlopen(req, timeout=120) as resp:
        return resp.status, json.loads(resp.read())


def test_root_lists_endpoints(base_url):
    status, body = _get(base_url + "/")
    assert status == 200 and body["status"] == "ok"
    assert any("query/execute" in e for e in body["endpoints"])


def test_catalog_metadata_routes(base_url):
    status, cats = _get(base_url + "/api/catalogs")
    assert status == 200
    assert CATALOG in {c["CATALOG_NAME"] for c in cats}

    _, measures = _get(f"{base_url}/api/catalogs/{CATALOG}/measures")
    assert {"name", "uniqueName", "aggregator"} <= set(measures[0])

    _, dims = _get(f"{base_url}/api/catalogs/{CATALOG}/dimensions")
    by_name = {d["name"]: d for d in dims}
    assert "Dim Customer" in by_name
    levels = [lv["name"] for h in by_name["Dim Customer"]["hierarchies"]
              for lv in h["levels"]]
    assert "Nation" in levels


def test_members_route_and_validation(base_url):
    qs = (f"dimension={quote('Dim Customer')}"
          f"&hierarchy={quote('Dim Customer.Geografía')}"
          f"&level=Nation&limit=5&offset=0")
    status, body = _get(f"{base_url}/api/catalogs/{CATALOG}/members?{qs}")
    assert status == 200
    assert body["total"] == 25 and len(body["members"]) == 5

    with pytest.raises(urllib.error.HTTPError) as err:
        _get(f"{base_url}/api/catalogs/{CATALOG}/members?level=Nation")
    assert err.value.code == 422


def test_apartados_and_range_variables(base_url):
    _, aps = _get(f"{base_url}/api/catalogs/{CATALOG}/apartados")
    assert len(aps) > 2
    # reference-style 1-based range selection (N13)
    status, variables = _get(
        f"{base_url}/api/catalogs/{CATALOG}/variables?apartados=1-2")
    assert status == 200 and variables
    parents = {v["PARENT_UNIQUE_NAME"] for v in variables}
    assert parents == {aps[0]["MIEMBRO_UNIQUE_NAME"],
                       aps[1]["MIEMBRO_UNIQUE_NAME"]}


def test_execute_query_reference_wire_shape(base_url):
    """POST body in the reference's exact wire shape
    (measures as [{uniqueName}], rows as RowConfig dicts)."""
    status, body = _post(base_url + "/api/query/execute", {
        "catalog": CATALOG,
        "measures": [{"uniqueName": "[Measures].[Total Registros]"}],
        "rows": [{"dimension": "Dim Customer",
                  "hierarchy": "Dim Customer.Geografía",
                  "level": "Region"}],
    })
    assert status == 200
    assert body["rowCount"] == 5 and len(body["rows"]) == 5
    assert {c["field"] for c in body["columns"]} \
        == {"region", "total_registros"}


def test_execute_raw_mdx_and_explain(base_url):
    mdx = ("SELECT {[Measures].[Total Registros]} ON COLUMNS, "
           "NON EMPTY [Dim Customer].[Geografía].[Region].MEMBERS ON ROWS "
           "FROM [sales]")
    status, body = _post(base_url + "/api/query/mdx",
                         {"catalog": CATALOG, "mdx": mdx})
    assert status == 200 and body["rowCount"] == 5

    status, plan = _post(base_url + "/api/query/explain", {
        "catalog": CATALOG, "measures": ["Total Registros"],
        "rows": [{"dimension": "Dim Customer",
                  "hierarchy": "Dim Customer.Geografía",
                  "level": "Region"}]})
    assert status == 200
    assert plan["estimated_rows"] > 0 and "Exchange" in plan["plan"]


def test_jobs_lifecycle_over_http(base_url):
    mdx = ("SELECT {[Measures].[Sum Quantity]} ON COLUMNS, "
           "NON EMPTY [Dim Orders].[Estado].[Estado].MEMBERS ON ROWS "
           "FROM [sales]")
    status, sub = _post(base_url + "/api/jobs",
                        {"catalog_code": CATALOG, "mdx_query": mdx})
    assert status == 201 and sub["status"] == "PENDING"

    deadline = time.time() + 60
    job = None
    while time.time() < deadline:
        _, job = _get(f"{base_url}/api/jobs/{sub['id']}")
        if job["status"] in ("COMPLETED", "FAILED"):
            break
        time.sleep(0.2)
    assert job["status"] == "COMPLETED", job.get("error_message")
    # JSONB job envelope (db_runner.py:75-81): columns/data/count
    assert job["result_data"]["count"] == 3

    _, listing = _get(base_url + "/api/jobs")
    assert sub["id"] in {j["id"] for j in listing}

    with pytest.raises(urllib.error.HTTPError) as err:
        _get(base_url + "/api/jobs/00000000-0000-0000-0000-000000000000")
    assert err.value.code == 404


def test_bad_query_returns_4xx_not_500(base_url):
    with pytest.raises(urllib.error.HTTPError) as err:
        _post(base_url + "/api/query/execute", {"catalog": CATALOG,
                                                "rows": [{"dimension": "X"}]})
    assert err.value.code == 400


def test_workload_catalog_and_run(base_url):
    status, listing = _get(f"{base_url}/api/workload")
    assert status == 200
    names = {e["name"] for e in listing}
    assert "docs_length_histogram" in names and "cube_nation_sales" in names
    kinds = {e["name"]: e["oracle"] for e in listing}
    assert kinds["docs_length_histogram"] == "full"
    assert kinds["docs_minhash_lsh_pairs"] == "rows-only"

    status, out = _get(f"{base_url}/api/workload/docs_length_histogram")
    assert status == 200
    assert out["name"] == "docs_length_histogram"
    assert out["n_rows_returned"] == len(out["rows"]) > 0
    assert set(out["columns"]) == set(out["rows"][0].keys())


def test_workload_run_unknown_404(base_url):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base_url}/api/workload/not_a_real_entry")
    assert e.value.code == 404


def test_workload_run_busy_503(base_url, monkeypatch):
    """One wedged workload entry must not block other requests forever:
    the route waits a bounded time for the serialization lock and then
    answers 503."""
    from olap_xtrctr_spark import http_api

    monkeypatch.setattr(http_api, "_WORKLOAD_LOCK_TIMEOUT", 0.2)
    assert http_api._WORKLOAD_RUN_LOCK.acquire(timeout=5)
    try:
        with pytest.raises(urllib.error.HTTPError) as exc:
            _get(f"{base_url}/api/workload/docs_length_histogram")
        assert exc.value.code == 503
        assert "running" in json.loads(exc.value.read())["detail"]
    finally:
        http_api._WORKLOAD_RUN_LOCK.release()
    # lock released → the same request succeeds again
    status, out = _get(f"{base_url}/api/workload/docs_length_histogram")
    assert status == 200 and out["n_rows_returned"] > 0


def test_export_workbook_route(base_url, tmp_path, monkeypatch):
    import os

    monkeypatch.setenv("OLAP_EXPORT_DIR", str(tmp_path))
    status, out = _post(f"{base_url}/api/export/workbook",
                        {"filename": "wb.xlsx"})
    assert status == 200 and out["sheets"]["RESUMEN"] == 3
    assert os.path.exists(tmp_path / "wb.xlsx")
    # path traversal / absolute paths / wrong extension all rejected —
    # the route must not be an arbitrary-file-write primitive
    for bad in ("/tmp/x.xlsx", "../escape.xlsx", "x.csv", ".hidden.xlsx"):
        with pytest.raises(urllib.error.HTTPError) as exc:
            _post(f"{base_url}/api/export/workbook", {"filename": bad})
        assert exc.value.code == 400, bad


def test_query_json_accepts_mdx_extensions(spark, sf_dir):
    """The structured JSON request surface carries the round-6 MDX
    extensions (calculated measures, FILTER/TOPCOUNT/ORDER)."""
    from olap_xtrctr_spark.http_api import query_request_from_json
    from olap_xtrctr_spark.query import TopCountSpec

    req = query_request_from_json({
        "catalog": "VENTAS_2025",
        "measures": ["Avg Price"],
        "rows": [{"dimension": "Dim Customer", "hierarchy": "Geografía",
                  "level": "Nation"}],
        "calculated": [{"name": "Avg Price",
                        "expr": "[Measures].[Sum Extendedprice] / "
                                "[Measures].[Sum Quantity]"}],
        "having": ["[Measures].[Sum Quantity] > 0"],
        "topcount": {"n": 3, "measure": "Avg Price"},
        "order_by": ["Avg Price", True],
    })
    assert req.calculated[0].name == "Avg Price"
    assert req.topcount == TopCountSpec(3, "Avg Price")
    assert req.order_by == ("Avg Price", True)
    from olap_xtrctr_spark.cube import default_registry
    from olap_xtrctr_spark.query import CubeQueryEngine
    out = CubeQueryEngine(spark, default_registry(), sf_dir).execute(req)
    assert out.columns == ["nation", "avg_price"]
    assert out.count() == 3

def test_diagnostics_properties_route(base_url):
    status, props = _get(f"{base_url}/api/diagnostics/properties")
    assert status == 200
    by_name = {p["PROPERTY_NAME"]: p["VALUE"] for p in props}
    assert by_name["ProviderName"] == "olap_xtrctr_spark"
    assert by_name["PreviewLimit"] == "20"


def test_excel_shaped_query_over_http(base_url):
    """The full wrapper stack a PivotTable client sends — axis
    ordinals, ADDCALCULATEDMEMBERS + HIERARCHIZE, CELL PROPERTIES —
    must execute over the wire and return the same rows as the bare
    query."""
    excel = ("SELECT NON EMPTY HIERARCHIZE(ADDCALCULATEDMEMBERS("
             "{[Measures].[Total Registros]})) DIMENSION PROPERTIES "
             "MEMBER_CAPTION ON 0, NON EMPTY HIERARCHIZE("
             "ADDCALCULATEDMEMBERS("
             "[Dim Customer].[Geografía].[Region].MEMBERS)) ON 1 "
             "FROM [sales] "
             "CELL PROPERTIES VALUE, FORMAT_STRING, LANGUAGE")
    # columns-axis wrappers around a measure set are not in the engine
    # subset — send the realistic rows-side stack instead
    excel = ("SELECT {[Measures].[Total Registros]} ON 0, "
             "NON EMPTY HIERARCHIZE(ADDCALCULATEDMEMBERS("
             "[Dim Customer].[Geografía].[Region].MEMBERS)) ON 1 "
             "FROM [sales] "
             "CELL PROPERTIES VALUE, FORMAT_STRING, LANGUAGE")
    status, body = _post(base_url + "/api/query/mdx",
                         {"catalog": CATALOG, "mdx": excel})
    assert status == 200 and body["rowCount"] == 5
    bare = ("SELECT {[Measures].[Total Registros]} ON COLUMNS, "
            "NON EMPTY [Dim Customer].[Geografía].[Region].MEMBERS "
            "ON ROWS FROM [sales]")
    status2, body2 = _post(base_url + "/api/query/mdx",
                           {"catalog": CATALOG, "mdx": bare})
    assert status2 == 200 and body2["rows"] == body["rows"]


def test_mdschema_functions_over_dmv_endpoint(base_url):
    status, body = _post(base_url + "/api/dmv", {
        "catalog": CATALOG,
        "sql": "SELECT [FUNCTION_NAME] FROM $system.MDSCHEMA_FUNCTIONS "
               "WHERE [RETURN_TYPE]='Scalar' ORDER BY [FUNCTION_NAME]"})
    assert status == 200
    idx = body["columns"].index("FUNCTION_NAME")
    names = [row[idx] for row in body["data"]]
    assert names == ["AGGREGATE", "MAX", "MEDIAN", "MIN", "RANK", "SUM"]


# ---- persisted IVF index lifecycle over HTTP (VERDICT r10 task 5) ---------

def test_ivf_index_http_lifecycle(base_url, tmp_path, monkeypatch):
    import os

    monkeypatch.setenv("OLAP_INDEX_DIR", str(tmp_path / "indexes"))

    # query before build -> 404 with the build hint
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base_url + "/api/index/ivf/query",
              {"name": "embx", "query_ids": [0, 1]})
    assert e.value.code == 404
    assert "build first" in json.loads(e.value.read())["detail"]

    # path-shaped names are rejected, never written
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base_url + "/api/index/ivf/build", {"name": "../evil"})
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base_url + "/api/index/ivf/build",
              {"name": "embx", "table": "nope"})
    assert e.value.code == 400

    status, meta = _post(base_url + "/api/index/ivf/build",
                         {"name": "embx", "n_clusters": 4})
    assert status == 200 and meta["n_clusters"] == 4
    assert meta["n_vectors"] > 0 and meta["corpus_sig"]
    # idempotent rebuild returns the same meta
    _, meta2 = _post(base_url + "/api/index/ivf/build",
                     {"name": "embx", "n_clusters": 4})
    assert meta2 == meta

    status, out = _post(base_url + "/api/index/ivf/query",
                        {"name": "embx", "query_ids": [0, 1, 2],
                         "k": 2, "n_probe": 2})
    assert status == 200
    assert out["columns"] == ["query_id", "rank", "neighbor_id",
                              "cosine"]
    per_q: dict = {}
    for r in out["rows"]:
        per_q.setdefault(r["query_id"], []).append(r)
        assert r["neighbor_id"] != r["query_id"]
    assert set(per_q) == {0, 1, 2}
    assert all(len(v) == 2 for v in per_q.values())

    # corrupt meta -> query 404s again; a rebuild recovers it
    idx_meta = os.path.join(str(tmp_path / "indexes"), "embx",
                            "_INDEX_META.json")
    with open(idx_meta, "w") as f:
        f.write("{not json")
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base_url + "/api/index/ivf/query",
              {"name": "embx", "query_ids": [0]})
    assert e.value.code == 404
    _, meta3 = _post(base_url + "/api/index/ivf/build",
                     {"name": "embx", "n_clusters": 4})
    assert meta3 == meta
    status, out2 = _post(base_url + "/api/index/ivf/query",
                         {"name": "embx", "query_ids": [0, 1, 2],
                          "k": 2, "n_probe": 2})
    assert status == 200 and out2["rows"] == out["rows"]

    # bounded query sets: empty and oversized lists are rejected
    for bad in ([], list(range(1001))):
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(base_url + "/api/index/ivf/query",
                  {"name": "embx", "query_ids": bad})
        assert e.value.code == 400

    # non-numeric / non-integral ids are a client error, not a 500
    # (ADVICE r11: int('abc') used to escape as an uncaught ValueError)
    for bad_ids in (["abc"], [1, None], [True], [[1]]):
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(base_url + "/api/index/ivf/query",
                  {"name": "embx", "query_ids": bad_ids})
        assert e.value.code == 400
        assert "integer vector ids" in json.loads(e.value.read())["detail"]


def test_dispatch_releases_tracked_caches(base_url, spark):
    """Request-scoped cache hygiene (ADVICE r11 + r12): a pin an
    operator registers ON THE HANDLER THREAD during a request is
    bulk-released when that request finishes, while pins belonging to
    OTHER threads (concurrent requests, the embedding host) are left
    alone — the registry is per-thread, so one request completing can
    no longer unpersist an intermediate a concurrent request is still
    computing over."""
    from olap_xtrctr_spark import http_api as H
    from olap_xtrctr_spark import session as SS

    state = {}

    @H.ROUTES.add("GET", r"/api/_test_pin")
    def _pin(service, m, qs, body):
        df = service.spark.range(5)
        SS.track_persist(df)            # an operator's pin, handler thread
        state["df"] = df
        state["cached_during"] = df.is_cached
        return 200, {"ok": True}

    SS.release_tracked_caches()         # clean slate on this thread:
    # earlier tests in the session may have called pin-tracking
    # operators directly on this thread without a scope release (the
    # r13 signature pins made that common), and this test asserts an
    # exact pin count below.  Same discipline as the sibling tests.
    foreign = spark.range(3)
    SS.track_persist(foreign)           # a pin on the TEST thread
    try:
        status, _ = _get(base_url + "/api/_test_pin")
        assert status == 200
        assert state["cached_during"]   # pinned while the handler ran
        assert not state["df"].is_cached    # released by dispatch finally
        assert foreign.is_cached        # other-thread pin untouched
        assert SS.release_tracked_caches() == 1   # test thread's own pin
        assert not foreign.is_cached
    finally:
        H.ROUTES.table = [t for t in H.ROUTES.table if t[2] is not _pin]
        SS.release_tracked_caches()
        foreign.unpersist(blocking=False)


def test_multi_entry_run_releases_all_pins(spark, sf_dir):
    """VERDICT r12 task 8: a long session running many workload
    entries (driver_sim / check_correctness pattern: run entry,
    release, next) must end with ZERO tracked frames — the per-entry
    release the runner scripts now perform, exercised over pin-heavy
    entries (shingle table, semantic-dedup assignment, rfm rollup)."""
    from olap_xtrctr_spark import session as SS
    from olap_xtrctr_spark.workload import WORKLOAD

    SS.release_tracked_caches()         # clean slate on this thread
    for name in ("docs_containment_pairs_prefix",
                 "emb_semantic_dedup_pairs", "events_rfm_segments"):
        WORKLOAD[name].fn(spark, sf_dir).count()
        SS.release_tracked_caches()     # the runner's per-entry call
    assert SS._tracked_list() == [], \
        "tracked pins survived a multi-entry run with per-entry release"


def test_track_persist_thread_isolation(spark):
    """The per-thread registry contract itself (ADVICE r12): releasing
    on thread B frees none of thread A's pins; thread A's own release
    frees exactly its pins."""
    import threading

    from olap_xtrctr_spark import session as SS

    SS.release_tracked_caches()         # clean slate on this thread
    df = SS.track_persist(spark.range(7))
    released_elsewhere = []
    t = threading.Thread(
        target=lambda: released_elsewhere.append(
            SS.release_tracked_caches()))
    t.start()
    t.join()
    assert released_elsewhere == [0]    # thread B saw no pins
    assert df.is_cached
    assert SS.release_tracked_caches() == 1
    assert not df.is_cached


def test_dedup_route_soft_weights_end_to_end(base_url):
    """VERDICT r11 task 5: the soft-dedup weights pipeline driven over
    the HTTP facade, matching the workload operator exactly."""
    status, out = _post(base_url + "/api/dedup",
                        {"mode": "soft", "limit": 10000})
    assert status == 200
    assert out["columns"] == ["doc_id", "group_size", "weight_ppm"]
    assert out["rows"] and not out["truncated"]
    for r in out["rows"]:
        assert r["weight_ppm"] == 1_000_000 // r["group_size"]
    n_docs = len({r["doc_id"] for r in out["rows"]})
    assert n_docs == len(out["rows"])       # one row per doc

    # groups/keep modes compose: survivors = docs - (grouped - groups)
    _, grp = _post(base_url + "/api/dedup",
                   {"mode": "groups", "limit": 10000})
    _, keep = _post(base_url + "/api/dedup",
                    {"mode": "keep", "limit": 10000})
    comps = {}
    for r in grp["rows"]:
        comps.setdefault(r["component"], []).append(r["doc_id"])
    dropped = sum(len(v) - 1 for v in comps.values())
    assert len(keep["rows"]) == n_docs - dropped
    # canonical representative (the min id) always survives
    kept_ids = {r["doc_id"] for r in keep["rows"]}
    for comp, members in comps.items():
        assert min(members) in kept_ids

    # client errors are 400s, never 500s
    for bad in ({"mode": "bogus"}, {"table": "nope"},
                {"limit": 0}, {"max_dist": "x"}):
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(base_url + "/api/dedup", bad)
        assert e.value.code == 400


def test_ivfpq_index_http_lifecycle(base_url, tmp_path, monkeypatch):
    """Persisted compressed IVFPQ index over HTTP: build (frozen
    codebooks, idempotent), ADC query, exact-refined query, codebook
    staleness as a 409."""
    import json as _json
    import os

    monkeypatch.setenv("OLAP_INDEX_DIR", str(tmp_path / "indexes"))
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base_url + "/api/index/ivfpq/query",
              {"name": "pq1", "query_ids": [0]})
    assert e.value.code == 404

    status, meta = _post(base_url + "/api/index/ivfpq/build",
                         {"name": "pq1"})
    assert status == 200 and meta["kind"] == "ivfpq-frozen"
    _, meta2 = _post(base_url + "/api/index/ivfpq/build", {"name": "pq1"})
    assert {k: meta2[k] for k in meta2 if k != "name"} \
        == {k: meta[k] for k in meta if k != "name"}

    status, out = _post(base_url + "/api/index/ivfpq/query",
                        {"name": "pq1", "query_ids": [0, 1, 2],
                         "k": 2, "n_probe": 3})
    assert status == 200
    assert out["columns"] == ["query_id", "rank", "neighbor_id",
                              "adc_score"]
    assert {r["query_id"] for r in out["rows"]} == {0, 1, 2}

    status, ref = _post(base_url + "/api/index/ivfpq/query",
                        {"name": "pq1", "query_ids": [0, 1, 2],
                         "k": 2, "n_probe": 3, "refine": True})
    assert status == 200
    assert ref["columns"] == ["query_id", "rank", "neighbor_id",
                              "cosine"]

    # the same query_ids validation as the IVF route
    for bad in ([], list(range(1001))):
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(base_url + "/api/index/ivfpq/query",
                  {"name": "pq1", "query_ids": bad})
        assert e.value.code == 400
        assert _json.loads(e.value.read()) == {
            "detail": "body needs 'query_ids': a non-empty list of at "
                      "most 1000 vector ids"}
    for bad_ids in (["abc"], [1, None], [True], [[1]]):
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(base_url + "/api/index/ivfpq/query",
                  {"name": "pq1", "query_ids": bad_ids})
        assert e.value.code == 400
        assert _json.loads(e.value.read()) == {
            "detail": f"query_ids entries must be integer vector ids, "
                      f"got {bad_ids[-1]!r}"}

    # a stale codebook signature is a conflict, not a 500
    mp = os.path.join(str(tmp_path / "indexes"), "pq1",
                      "_INDEX_META.json")
    with open(mp) as f:
        m = _json.load(f)
    m["codebook_sig"] = "0" * 16
    with open(mp, "w") as f:
        _json.dump(m, f)
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base_url + "/api/index/ivfpq/query",
              {"name": "pq1", "query_ids": [0]})
    assert e.value.code == 409
    assert "codebook_sig" in _json.loads(e.value.read())["detail"]


def test_dedup_route_semantic_mode(base_url):
    status, out = _post(base_url + "/api/dedup",
                        {"mode": "semantic", "limit": 10000})
    assert status == 200 and out["table"] == "embeddings"
    assert "vec_id" in out["columns"] and out["rows"]
    # tighter threshold keeps at least as many vectors
    _, strict = _post(base_url + "/api/dedup",
                      {"mode": "semantic", "threshold": 0.99,
                       "limit": 10000})
    assert len(strict["rows"]) >= len(out["rows"])


def test_sources_route_rank_and_drift(base_url):
    """Round-13 governance facade: PageRank + dim drift over HTTP,
    invariants checked against the entry-level conventions."""
    status, out = _post(base_url + "/api/sources",
                        {"mode": "rank", "limit": 10000})
    assert status == 200
    assert out["columns"] == ["source", "pr_ppb"]
    assert len(out["rows"]) == 20 and not out["truncated"]
    prs = [r["pr_ppb"] for r in out["rows"]]
    assert prs == sorted(prs, reverse=True)     # served rank-ordered
    assert len(set(r["source"] for r in out["rows"])) == 20

    status, out = _post(base_url + "/api/sources",
                        {"mode": "drift", "top_dims": 2, "limit": 10000})
    assert status == 200
    assert out["columns"] == ["source", "dim", "mean_diff", "rank"]
    per = {}
    for r in out["rows"]:
        per.setdefault(r["source"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2] for v in per.values())

    # audit mode: personalized PPR — seeds hold the lion's share of
    # the stationary mass, so the top row must be a seed-reachable
    # source and all 20 sources still appear
    status, out = _post(base_url + "/api/sources",
                        {"mode": "audit", "top_seeds": 3,
                         "limit": 10000})
    assert status == 200
    assert out["columns"] == ["source", "pr_ppb"]
    assert len(out["rows"]) == 20
    prs = [r["pr_ppb"] for r in out["rows"]]
    assert prs == sorted(prs, reverse=True)

    # client errors are 400s, never 500s
    for bad in ({"mode": "nope"}, {"mode": "rank", "iters": 99},
                {"mode": "rank", "damping_pct": 200},
                {"mode": "rank", "iters": "many"},
                {"mode": "audit", "top_seeds": 0}):
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(base_url + "/api/sources", bad)
        assert e.value.code == 400, bad


def test_cli_and_http_run_one_path(base_url, spark, sf_dir):
    """dedup and sources answer the same rows through the CLI and over
    HTTP, and a bad input gets the same text from both front-ends."""
    from olap_xtrctr_spark.__main__ import build_parser, run
    svc = OlapService(spark, sf_dir)

    def cli(*argv):
        return run(build_parser().parse_args(argv), service=svc)

    def canon(rows):
        return sorted(json.dumps(r, sort_keys=True, default=str)
                      for r in json.loads(json.dumps(rows, default=str)))

    for argv, body in ((["dedup", "--soft"], {"mode": "soft"}),
                       (["dedup", "--semantic"], {"mode": "semantic"}),
                       (["sources", "--rank"], {"mode": "rank"}),
                       (["sources", "--drift"], {"mode": "drift"})):
        out = cli(*argv, "--limit", "10000")
        _, http = _post(f"{base_url}/api/{argv[0]}",
                        {**body, "limit": 10000})
        assert out["columns"] == http["columns"], argv
        assert out.get("table") == http.get("table"), argv
        assert not out["truncated"] and not http["truncated"]
        assert http["rows"] and canon(out["preview"]) == canon(http["rows"])

    for argv, body in ((["dedup", "--table", "nope"], {"table": "nope"}),
                       (["sources", "--rank", "--iters", "0"],
                        {"mode": "rank", "iters": 0})):
        with pytest.raises(SystemExit) as cli_err:
            cli(*argv)
        with pytest.raises(urllib.error.HTTPError) as http_err:
            _post(f"{base_url}/api/{argv[0]}", body)
        assert http_err.value.code == 400
        assert cli_err.value.code == json.loads(
            http_err.value.read())["detail"]
