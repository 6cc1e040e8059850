"""Seeded request generator for the service workload.

The benchmark's seed picks, for one run, the parameters of each
request kind (member level and offset, search term, query measures
and slicer members, DMV rowset, job measures); every analyst session
then replays the same fixed script of request kinds.  The kind mix is
therefore identical on every seed, and the distinct requests of a run
are few enough to compute each one's expected answer once during
set-up.

A request is a plain dict: ``kind``, ``cls`` (query | nav | job),
``method``, ``path``, ``body`` (None for GET) and ``key``, the
canonical text used to match it with its expected answer.
"""
from __future__ import annotations

import json
import random
from urllib.parse import quote, urlencode

CATALOG = "VENTAS_2025"
CAT = f"/api/catalogs/{quote(CATALOG)}"

# (dimension, hierarchy, level, approximate member count at scale 0.1).
# Levels of like size, so a members page costs about the same on every
# seed: a page of the Supplier level (1000 members, the whole level)
# took half as long as a page of these.
LARGE_LEVELS = [
    ("Dim Customer", "Dim Customer.Geografía", "Customer", 15000),
    ("Dim Producto", "Dim Producto.Producto", "Part", 20000),
    ("DIM VARIABLES2025", "DIM VARIABLES2025.Apartado y Variable",
     "Variable", 20000),
]
SEARCH_TERMS = ["NATION_1", "Customer#00000012", "Brand#2", "gear",
                "Supplier#0000003", "Marzo", "red", "1997"]
# Query shapes, one per query kind: (customer level on rows, the level
# crossed with it, slicer hierarchy), each level as (dimension,
# hierarchy, level).  The seed picks the slicer member and the measures,
# never which levels a query kind reads: when it picked the levels, a
# kind's latency moved by a third from seed to seed (a Segmento query
# cost more than a Nation one).  The engine rejects a slicer on an axis
# hierarchy.
QUERY_SHAPES = {
    "execute": (("Dim Customer", "Geografía", "Nation"),
                ("D Tiempo", "Calendario", "Año"), ("Dim Orders", "Estado")),
    "mdx": (("Dim Customer", "Geografía", "Region"),
            ("Dim Orders", "Estado", "Estado"), ("D Tiempo", "Calendario")),
    "mdx2": (("Dim Customer", "Segmento", "Segmento"),
             ("Dim Orders", "Prioridad", "Prioridad"),
             ("D Tiempo", "Calendario")),
    "explain": (("Dim Customer", "Geografía", "Nation"),
                ("D Tiempo", "Calendario", "Año"),
                ("Dim Orders", "Prioridad")),
}
MEASURES = ["Sum Extendedprice", "Total Registros", "Sum Quantity",
            "Avg Discount"]
# (dimension, hierarchy, member unique name); whole years only (orders
# run from 1995 to August 2001)
SLICERS = (
    [("D Tiempo", "Calendario", f"[D Tiempo].[Calendario].[Año].&[{y}]")
     for y in range(1995, 2001)]
    + [("Dim Orders", "Estado", f"[Dim Orders].[Estado].[Estado].&[{s}]")
       for s in "FOP"]
    + [("Dim Orders", "Prioridad",
        f"[Dim Orders].[Prioridad].[Prioridad].&[{p}]")
       for p in ("1-URGENT", "2-HIGH", "3-MEDIUM")]
)
DMV_ROWSETS = ["MDSCHEMA_LEVELS", "MDSCHEMA_CUBES", "MDSCHEMA_MEASURES",
               "MDSCHEMA_DIMENSIONS", "MDSCHEMA_HIERARCHIES"]
# Job shapes: a large level crossed with a small one.  Customer-level
# results exceed the job registry's 10,000-row cap, Supplier-level ones
# run to a few thousand rows, Part-level ones (64 part names) to a few
# hundred.  The seed picks only the measure, so every run delivers the
# same number of rows per job.
JOBS = [
    (("Dim Customer", "Geografía", "Customer"),
     ("D Tiempo", "Calendario", "Año")),
    (("Dim Proveedor", "Geografía Proveedor", "Supplier"),
     ("Dim Orders", "Prioridad", "Prioridad")),
    (("Dim Producto", "Producto", "Part"),
     ("D Tiempo", "Calendario", "Año")),
]
JOB_RESULT_LIMIT = 10_000

# One analyst session, in order.  It sends 9 navigation and 4 query
# requests: with an odd number of both requests and navigation requests
# and an even number of query requests, each median falls inside the
# latencies of one request shape (variables, apartados and search, the
# two MDX queries) rather than between two shapes of unlike cost, where
# it would swing with every run.
SCRIPT = ["catalogs", "cubes", "measures", "dimensions", "members",
          "search", "apartados", "variables", "execute", "mdx", "mdx2",
          "explain", "dmv"]
QUERY_KINDS = {"execute", "mdx", "mdx2", "explain"}


def _req(kind: str, method: str, path: str, body=None) -> dict:
    key = f"{method} {path}"
    if body is not None:
        key += " " + json.dumps(body, sort_keys=True, ensure_ascii=False)
    return {"kind": kind, "cls": "query" if kind in QUERY_KINDS else "nav",
            "method": method, "path": path, "body": body, "key": key}


def _level_set(dim: str, hier: str, level: str) -> str:
    return f"[{dim}].[{hier}].[{level}].MEMBERS"


def _axes_and_slicer(rng: random.Random, kind: str):
    """The axes and slicer member of one query kind."""
    rows, second, slicer_hier = QUERY_SHAPES[kind]
    slicer = rng.choice([m for d, h, m in SLICERS if (d, h) == slicer_hier])
    return [rows, second], slicer


def _structured(rng: random.Random, kind: str) -> dict:
    axes, slicer = _axes_and_slicer(rng, kind)
    body = {
        "catalog": CATALOG,
        "measures": rng.sample(MEASURES, 2),
        "rows": [{"dimension": d, "hierarchy": h, "level": lv}
                 for d, h, lv in axes],
        "slicers": [slicer],
    }
    if kind != "explain":
        body["preview"] = True
    return body


def _mdx(rng: random.Random, kind: str) -> str:
    (a, b), slicer = _axes_and_slicer(rng, kind)
    m = rng.choice(MEASURES)
    return (f"SELECT {{[Measures].[{m}]}} ON COLUMNS, NON EMPTY "
            f"CROSSJOIN({_level_set(*a)}, {_level_set(*b)}) ON ROWS "
            f"FROM [sales] WHERE ({slicer})")


def job_mdx(level: tuple, second: tuple, measure: str) -> str:
    return (f"SELECT {{[Measures].[{measure}]}} ON COLUMNS, NON EMPTY "
            f"CROSSJOIN({_level_set(*level)}, {_level_set(*second)}) "
            f"ON ROWS FROM [sales]")


class Plan:
    """Every request one run may send, derived from the seed alone.

    Each request kind has one fixed shape (a page of a large member
    level, a two-axis query, ...) whose parameters the seed picks, so
    every seed runs the same mix of shapes and the distinct requests of
    a run are few."""

    def __init__(self, seed: int):
        rng = random.Random(seed)
        self.seed = seed
        dim, hier, level, n = rng.choice(LARGE_LEVELS)
        members = urlencode({"dimension": dim, "hierarchy": hier,
                             "level": level, "limit": 1000,
                             "offset": rng.randrange(0, max(n - 1000, 1),
                                                     100)})
        apartados = str(rng.randint(1, 25))
        search = urlencode({"q": rng.choice(SEARCH_TERMS)})
        dmv = f"SELECT * FROM $SYSTEM.{rng.choice(DMV_ROWSETS)}"
        self.requests: dict[str, dict] = {
            "catalogs": _req("catalogs", "GET", "/api/catalogs"),
            "cubes": _req("cubes", "GET", f"{CAT}/cubes"),
            "measures": _req("measures", "GET", f"{CAT}/measures"),
            "dimensions": _req("dimensions", "GET", f"{CAT}/dimensions"),
            "members": _req("members", "GET", f"{CAT}/members?{members}"),
            "search": _req("search", "GET", f"{CAT}/members/search?{search}"),
            "apartados": _req("apartados", "GET", f"{CAT}/apartados"),
            "variables": _req("variables", "GET", f"{CAT}/variables?"
                              f"{urlencode({'apartados': apartados})}"),
            "execute": _req("execute", "POST", "/api/query/execute",
                            _structured(rng, "execute")),
            **{kind: _req(kind, "POST", "/api/query/mdx",
                          {"catalog": CATALOG, "mdx": _mdx(rng, kind),
                           "preview": True}) for kind in ("mdx", "mdx2")},
            "explain": _req("explain", "POST", "/api/query/explain",
                            _structured(rng, "explain")),
            "dmv": _req("dmv", "POST", "/api/dmv", {"sql": dmv}),
        }
        self.jobs = []
        for level, second in JOBS:
            mdx = job_mdx(level, second, rng.choice(MEASURES))
            self.jobs.append({
                "kind": f"job_{level[2].lower()}", "cls": "job",
                "method": "POST", "path": "/api/jobs",
                "body": {"catalog_code": CATALOG, "mdx_query": mdx},
                "key": f"JOB {mdx}"})

    def distinct(self) -> list[dict]:
        """Every distinct request an analyst or job client may send."""
        return [self.requests[kind] for kind in SCRIPT] + self.jobs

    def session(self) -> list[dict]:
        """One analyst session: the script's requests, in order."""
        return [self.requests[kind] for kind in SCRIPT]

    def job_cycle(self, client: int) -> list[dict]:
        """The job shapes one job client submits, in order, forever."""
        k = client % len(self.jobs)
        return self.jobs[k:] + self.jobs[:k]
