"""Quick local smoke at sf0.001: the flagship query against a DuckDB
oracle, then the service over HTTP on one keep-alive connection
(catalogs, cubes, a DMV, an MDX query), each body checked against the
direct ``OlapService`` call and timed."""
import sys

sys.path.insert(0, "/root/repo")

import duckdb

from olap_xtrctr_spark import (AxisItem, CubeQueryEngine, QueryRequest,
                               default_registry, get_spark)

SF = "/root/testdata/sf0.001"

spark = get_spark("smoke")
eng = CubeQueryEngine(spark, default_registry(), SF)

req = QueryRequest(
    catalog="VENTAS_2025",
    measures=["Sum Extendedprice", "Total Registros"],
    rows=[AxisItem("Dim Customer", "Geografía", level="Nation")],
)
df = eng.execute(req)
df.show(30, truncate=False)
df.explain("formatted")

got = {(r["nation"], round(r["sum_extendedprice"], 2), r["total_registros"])
       for r in df.collect()}

con = duckdb.connect()
for t in ["lineitem", "orders", "customer", "nation", "region"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
exp = {(n, round(s, 2), c) for n, s, c in con.execute("""
    SELECT n_name, SUM(l_extendedprice), COUNT(*)
    FROM lineitem JOIN orders ON l_orderkey=o_orderkey
    JOIN customer ON o_custkey=c_custkey
    JOIN nation ON c_nationkey=n_nationkey
    GROUP BY n_name
""").fetchall()}

assert got == exp, f"MISMATCH\nonly spark: {got - exp}\nonly duck: {exp - got}"
print(f"OK: {len(got)} rows match duckdb oracle")

# ---- HTTP leg: one keep-alive connection through the service ------------
import http.client  # noqa: E402
import json  # noqa: E402
import time  # noqa: E402

from olap_xtrctr_spark.http_api import serve_in_thread  # noqa: E402
from olap_xtrctr_spark.service import OlapService  # noqa: E402

CATALOG = "VENTAS_2025"
svc = OlapService(spark, SF)
srv, _thread = serve_in_thread(svc)
conn = http.client.HTTPConnection("127.0.0.1", srv.server_port, timeout=120)
dmv = "SELECT * FROM $SYSTEM.MDSCHEMA_LEVELS"
mdx = ("SELECT {[Measures].[Total Registros]} ON COLUMNS, NON EMPTY "
       "[Dim Customer].[Geografía].[Nation].MEMBERS ON ROWS FROM [sales]")
# (name, method, path, body, direct service call); the DMV envelope's
# timing fields differ per call, so they are left out of the comparison
TIMING = ("duration_seconds", "executed_at")
legs = [
    ("catalogs", "GET", "/api/catalogs", None, svc.get_catalogs),
    ("cubes", "GET", f"/api/catalogs/{CATALOG}/cubes", None,
     lambda: svc.get_cubes(CATALOG)),
    ("dmv", "POST", "/api/dmv", {"sql": dmv},
     lambda: svc.execute_dmv(dmv)),
    ("mdx", "POST", "/api/query/mdx", {"catalog": CATALOG, "mdx": mdx},
     lambda: svc.execute_mdx(CATALOG, mdx)),
]
try:
    for name, method, path, body, direct in legs:
        t0 = time.perf_counter()
        conn.request(method, path,
                     body=None if body is None else json.dumps(body),
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        got = json.loads(resp.read())
        ms = (time.perf_counter() - t0) * 1000
        assert resp.status == 200, (name, resp.status, got)
        want = json.loads(json.dumps(direct(), default=str))
        if isinstance(want, dict):
            for k in TIMING:
                got.pop(k, None)
                want.pop(k, None)
        assert got == want, f"{name}: HTTP body differs from the service"
        print(f"OK: HTTP {name:<9} {ms:8.1f} ms")
finally:
    conn.close()
    srv.shutdown()
    srv.server_close()
