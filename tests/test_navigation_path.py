"""Fixed per-request costs of navigation requests: the HTTP reply path
(no Nagle stall, no JVM trace in a 500), DMV views built once per cube
structure as driver-local relations, and catalogs answered without
Spark."""
from __future__ import annotations

import dataclasses
import http.client
import json
import os
import statistics
import time
import uuid

import pytest

from olap_xtrctr_spark import metadata
from olap_xtrctr_spark.cube import CubeRegistry, Measure, sales_cube
from olap_xtrctr_spark.http_api import serve_in_thread
from olap_xtrctr_spark.service import OlapService

JVM_TRACE = (
    "An error occurred while calling o42.collect.\n"
    ": org.apache.spark.SparkException: Job aborted due to stage failure\n"
    "\tat org.apache.spark.scheduler.DAGScheduler"
    ".failJobAndIndependentStages(DAGScheduler.scala:2898)\n")


class StubService:
    """Answers the catalogs route without Spark; ``fail`` makes it raise."""

    def __init__(self, fail: BaseException | None = None):
        self.fail = fail

    def get_catalogs(self):
        if self.fail is not None:
            raise self.fail
        return [{"CATALOG_NAME": "VENTAS_2025",
                 "DESCRIPTION": "Catalogo VENTAS_2025"}]


@pytest.fixture
def stub_server():
    servers = []

    def start(service):
        srv, _t = serve_in_thread(service)
        servers.append(srv)
        return http.client.HTTPConnection("127.0.0.1", srv.server_port,
                                          timeout=10)
    yield start
    for srv in servers:
        srv.shutdown()
        srv.server_close()


def _get(conn: http.client.HTTPConnection, path: str):
    conn.request("GET", path)
    resp = conn.getresponse()
    return resp.status, resp.read()


def test_keep_alive_reply_has_no_nagle_stall(stub_server):
    """30 GETs on one keep-alive connection: with Nagle on, every reply
    body waited for the client's delayed ACK (about 44 ms each)."""
    conn = stub_server(StubService())
    _get(conn, "/api/catalogs")                       # connect + warm
    times = []
    for _ in range(30):
        t0 = time.perf_counter()
        status, body = _get(conn, "/api/catalogs")
        times.append(time.perf_counter() - t0)
        assert status == 200
        assert json.loads(body)[0]["CATALOG_NAME"] == "VENTAS_2025"
    conn.close()
    assert statistics.median(times) < 0.010, times


def test_500_body_carries_an_error_id_not_the_trace(stub_server, capfd):
    conn = stub_server(StubService(fail=RuntimeError(JVM_TRACE)))
    status, raw = _get(conn, "/api/catalogs")
    conn.close()
    assert status == 500
    body = json.loads(raw)
    assert set(body) == {"detail", "error_id"}
    assert body["detail"] == "internal error"
    uuid.UUID(body["error_id"])
    assert b"org.apache" not in raw and b"o42" not in raw
    err = capfd.readouterr().err
    assert body["error_id"] in err and "DAGScheduler" in err


def test_400_body_is_unchanged(stub_server):
    conn = stub_server(StubService(fail=KeyError("no cube registered")))
    status, raw = _get(conn, "/api/catalogs")
    conn.close()
    assert status == 400
    assert json.loads(raw) == {"detail": "'no cube registered'"}


# ---- catalogs and DMV views ---------------------------------------------

@pytest.fixture
def svc(spark, sf_dir):
    return OlapService(spark, sf_dir)


def test_get_catalogs_equals_dataframe_path(spark, svc):
    df = metadata.catalogs_df(spark, svc.registry)
    old = [r.asDict() for r in
           df.filter(~df.CATALOG_NAME.startswith("$")).collect()]
    assert svc.get_catalogs() == old
    assert [c["CATALOG_NAME"] for c in old] == sorted(
        c["CATALOG_NAME"] for c in old)


@pytest.fixture
def count_builds(monkeypatch):
    """Counts DMV view builds and members_df calls by sf_dir."""
    counts = {"builds": 0, "members": []}
    build, members = metadata._build_dmv_views, metadata.members_df

    def counting_build(*a, **kw):
        counts["builds"] += 1
        return build(*a, **kw)

    def counting_members(spark, cube, sf_dir, *a, **kw):
        counts["members"].append(sf_dir)
        return members(spark, cube, sf_dir, *a, **kw)
    monkeypatch.setattr(metadata, "_build_dmv_views", counting_build)
    monkeypatch.setattr(metadata, "members_df", counting_members)
    monkeypatch.setattr(metadata, "_DMV_VIEWS", {})
    return counts


def test_repeated_dmv_calls_build_rowsets_once(svc, count_builds):
    for rowset in ("MDSCHEMA_LEVELS", "MDSCHEMA_CUBES", "MDSCHEMA_MEASURES",
                   "MDSCHEMA_LEVELS", "DISCOVER_SESSIONS"):
        assert svc.execute_dmv(f"SELECT * FROM $SYSTEM.{rowset}")["count"]\
            >= (0 if rowset == "DISCOVER_SESSIONS" else 1)
    svc.execute_dmv("SELECT * FROM $SYSTEM.MDSCHEMA_CUBES",
                    catalog="VENTAS_2025")
    # one build for the default prefix, one for the catalog's
    assert count_builds["builds"] == 2
    assert len(count_builds["members"]) == 2


def test_job_submitted_after_first_dmv_appears_in_sessions(svc):
    sql = "SELECT [SESSION_ID] FROM $system.DISCOVER_SESSIONS"
    before = {r[0] for r in svc.execute_dmv(sql)["data"]}
    jid = svc.submit_job("VENTAS_2025",
                         "SELECT {[Measures].[Total Registros]} ON COLUMNS "
                         "FROM [sales]")
    assert jid not in before
    assert jid in {r[0] for r in svc.execute_dmv(sql)["data"]}
    svc.jobs.wait(jid, timeout=60)
    res = svc.execute_dmv("SELECT [SESSION_ID], [SESSION_STATUS] "
                          "FROM $system.DISCOVER_SESSIONS")
    assert [jid, "COMPLETED"] in res["data"]


def test_changed_measures_or_sf_dir_give_fresh_rowsets(
        spark, sf_dir, tmp_path, count_builds):
    cube = sales_cube()
    reg = CubeRegistry()
    reg.register(cube)

    def measures():
        metadata.register_dmv_views(spark, reg, cube, cur_sf,
                                    prefix="memo_probe")
        return {r["MEASURE_NAME"]: r["MEASURE_IS_VISIBLE"] for r in
                spark.table("memo_probe_MDSCHEMA_MEASURES").collect()}

    cur_sf = sf_dir
    first = measures()
    assert measures() == first and count_builds["builds"] == 1
    # a measure added
    cube.measures["Max Quantity"] = Measure("Max Quantity", "MAX", "quantity")
    assert measures() == {**first, "Max Quantity": True}
    # a measure hidden
    name = next(iter(first))
    cube.measures[name] = dataclasses.replace(cube.measures[name],
                                              visible=False)
    assert measures()[name] is False
    assert count_builds["builds"] == 3
    # the same data under another sf_dir
    alias = tmp_path / "sf_alias"
    os.symlink(sf_dir, alias)
    cur_sf = str(alias)
    measures()
    assert count_builds["builds"] == 4
    assert count_builds["members"][-1] == cur_sf


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_rowsets_equal_reference_builders(spark, sf_dir, svc):
    jid = svc.submit_job("VENTAS_2025",
                         "SELECT {[Measures].[Total Registros]} ON COLUMNS "
                         "FROM [sales]")
    svc.jobs.wait(jid, timeout=60)
    svc.execute_dmv("SELECT * FROM $system.MDSCHEMA_CUBES")
    reg = svc.registry
    cube = next(iter(reg._cubes.values()))
    reference = {
        "DBSCHEMA_CATALOGS": metadata.catalogs_df(spark, reg),
        "MDSCHEMA_CUBES": metadata.cubes_df(spark, reg),
        "MDSCHEMA_DIMENSIONS": metadata.dimensions_df(spark, cube),
        "MDSCHEMA_HIERARCHIES": metadata.hierarchies_df(spark, cube),
        "MDSCHEMA_LEVELS": metadata.levels_df(spark, cube),
        "MDSCHEMA_MEASURES": metadata.measures_df(spark, cube),
        "MDSCHEMA_MEMBERS": metadata.members_df(spark, cube, sf_dir),
        "MDSCHEMA_PROPERTIES": metadata.properties_df(spark, cube),
        "MDSCHEMA_FUNCTIONS": metadata.mdschema_functions_df(spark),
        "DISCOVER_SCHEMA_ROWSETS": metadata.discover_schema_rowsets_df(
            spark, reg, cube, sf_dir),
        "DISCOVER_SESSIONS": metadata.discover_sessions_df(spark, svc.jobs),
        "DISCOVER_CONNECTIONS": metadata.discover_connections_df(spark),
        "DISCOVER_PROPERTIES": metadata.discover_properties_df(spark),
    }
    assert set(reference) == (set(metadata.DMV_BUILDERS)
                              | set(metadata.DISCOVER_ROWSETS))
    for name, ref in reference.items():
        view = spark.table(f"system_{name}")
        assert view.schema.simpleString() == ref.schema.simpleString(), name
        assert _sorted_rows(view) == _sorted_rows(ref), name


def test_properties_rowset_of_single_level_cube(spark):
    """A cube without multi-level hierarchies has an empty
    MDSCHEMA_PROPERTIES with the reference builder's schema."""
    cube = dataclasses.replace(sales_cube(), dimensions={})
    ref = metadata.properties_df(spark, cube)
    local = metadata._local_df(spark, metadata._properties_rows(cube),
                               metadata._PROPERTIES_SCHEMA)
    assert local.schema.simpleString() == ref.schema.simpleString()
    assert local.collect() == ref.collect() == []


def _jobs_in_group(spark, group: str, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_select_star_over_static_rowset_runs_no_job(spark, svc):
    svc.execute_dmv("SELECT * FROM $system.MDSCHEMA_LEVELS")
    tag = uuid.uuid4().hex
    assert _jobs_in_group(spark, f"star-{tag}", lambda: svc.execute_dmv(
        "SELECT * FROM $system.MDSCHEMA_LEVELS")) == 0
    assert _jobs_in_group(spark, f"where-{tag}", lambda: svc.execute_dmv(
        "SELECT [LEVEL_NAME] FROM $system.MDSCHEMA_LEVELS "
        "WHERE [LEVEL_NUMBER] > 1")) == 0
    # the probe sees jobs: the reference builder's rows are a Python RDD
    cube = next(iter(svc.registry._cubes.values()))
    assert _jobs_in_group(spark, f"ref-{tag}", lambda: metadata.levels_df(
        spark, cube).collect()) > 0


def test_members_navigation_runs_no_job(spark, svc):
    """Members pages, search, apartados and variables answer from the
    driver-local member index: after one warm call, no Spark job."""
    cat = "VENTAS_2025"
    apartados = svc.get_apartados(cat)
    names = [a["MIEMBRO_UNIQUE_NAME"] for a in apartados[:3]]
    calls = {
        "members": lambda: svc.get_members(
            cat, "Dim Customer", "Dim Customer.Geografía", "Customer",
            limit=1000, offset=100),
        "search": lambda: svc.search_members(cat, "red"),
        "apartados": lambda: svc.get_apartados(cat),
        "variables": lambda: svc.get_variables(cat, names),
    }
    tag = uuid.uuid4().hex
    for name, call in calls.items():
        assert call()
        assert _jobs_in_group(spark, f"{name}-{tag}", call) == 0, name
