"""Service process of the benchmark: one ``OlapService`` behind
``http_api.make_server``, started cold in the run's working directory.

Set-up: Spark start, then the cold members build (its spill and
``_cards.json`` land in this directory's warehouse) beside one direct
``OlapService`` call per distinct request of the run's plan.  Those
calls warm every request path and give the expected answer each HTTP
reply is checked against.  Then the server listens.

Messages go out through :class:`proto.Channel`; commands arrive one per
line on stdin: ``trace`` (install the per-layer wrappers), ``stats``
(report and remove them), ``calibrate`` (run the host calibration job).

Usage: python3 server.py <data_dir> <plan.json>
"""
from __future__ import annotations

import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import parse_qs, urlparse

T_START = time.perf_counter()

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import sessions  # noqa: E402
import tracing  # noqa: E402
from proto import Channel, wait_for  # noqa: E402


# request kinds answered from the members cache
MEMBERS_KINDS = {"members", "search", "apartados", "variables"}


def expected_answer(svc, req: dict):
    """The answer a request must get, from a direct service call."""
    from olap_xtrctr_spark.http_api import query_request_from_json
    from olap_xtrctr_spark.mdx import parse_mdx
    from olap_xtrctr_spark.validators import parse_range_list

    cat = sessions.CATALOG
    kind, body = req["kind"], req["body"]
    url = urlparse(req["path"])
    qs = {k: v[0] for k, v in parse_qs(url.query).items()}
    if kind == "catalogs":
        return len(svc.get_catalogs())
    if kind == "cubes":
        return len(svc.get_cubes(cat))
    if kind == "measures":
        return len(svc.get_measures(cat))
    if kind == "dimensions":
        return len(svc.get_dimensions(cat))
    if kind == "apartados":
        return len(svc.get_apartados(cat))
    if kind == "members":
        page = svc.get_members(cat, qs["dimension"], qs["hierarchy"],
                               qs["level"], limit=int(qs["limit"]),
                               offset=int(qs["offset"]))
        return [page["total"], len(page["members"])]
    if kind == "search":
        return len(svc.search_members(cat, qs["q"]))
    if kind == "variables":
        aps = svc.get_apartados(cat)
        idx = parse_range_list(qs["apartados"], max_value=len(aps))
        return len(svc.get_variables(
            cat, [aps[i - 1]["MIEMBRO_UNIQUE_NAME"] for i in idx]))
    if kind == "execute":
        return svc.execute_query(query_request_from_json(body),
                                 preview=True)["rowCount"]
    if kind in ("mdx", "mdx2"):
        return svc.execute_mdx(cat, body["mdx"], preview=True)["rowCount"]
    if kind == "explain":
        return svc.explain_query(
            query_request_from_json(body))["estimated_rows"]
    if kind == "dmv":
        return svc.execute_dmv(body["sql"])["count"]
    if req["cls"] == "job":
        n = svc.engine.execute(parse_mdx(body["mdx_query"], cat)).count()
        return min(n, sessions.JOB_RESULT_LIMIT)
    raise ValueError(f"unknown request kind {kind!r}")


def main() -> int:
    channel = Channel()
    data_dir, plan_path = sys.argv[1], sys.argv[2]
    from olap_xtrctr_spark import get_spark
    from olap_xtrctr_spark.http_api import make_server
    from olap_xtrctr_spark.service import OlapService

    spark = get_spark("perfbench-service")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    timings = {"session.start_s": time.perf_counter() - T_START}
    wait_for(os.path.join(data_dir, "_READY"))
    svc = OlapService(spark, data_dir,
                      job_store_dir=os.path.join(os.getcwd(), "jobs"))
    with open(plan_path) as f:
        distinct = json.load(f)

    def build_members() -> float:
        t0 = time.perf_counter()
        svc._members(sessions.CATALOG).count()
        return time.perf_counter() - t0

    # The cold members build overlaps the requests that do not read the
    # members cache; the ones that do wait for it.
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=os.cpu_count() or 4) as pool:
        members = pool.submit(build_members)

        def answer(req):
            if req["kind"] in MEMBERS_KINDS:
                members.result()
            return expected_answer(svc, req)
        distinct.sort(key=lambda r: r["kind"] in MEMBERS_KINDS)
        futures = [(r["key"], pool.submit(answer, r)) for r in distinct]
        expected = {k: f.result() for k, f in futures}
        timings["metadata.members_build_s"] = members.result()
    timings["session.warmup_s"] = time.perf_counter() - t0

    srv = make_server(svc)
    serving = threading.Thread(target=srv.serve_forever, daemon=True)
    serving.start()
    channel.send({"port": srv.server_port, "expected": expected,
          "timings": timings})

    tracer = None
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "trace":
            tracer = tracing.Tracer()
            tracer.install(spark, serving=True)
            channel.send({"ok": True, "install_s": tracer.install_s})
        elif cmd == "stats":
            out = {"timers": {}, "counts": {}, "spark": {},
                   "peak_rss_mb": tracing.peak_rss_mb(spark)}
            if tracer is not None:
                out["spark"] = tracer.spark_window(spark)
                out["timers"] = tracer.timers
                out["counts"] = tracer.counts
                out["queue_wait_s"] = [
                    tracer.job_start_t[j] - t
                    for j, t in tracer.job_submit_t.items()
                    if j in tracer.job_start_t]
                tracer.uninstall()
                tracer = None
            channel.send(out)
        elif cmd == "calibrate":
            channel.send({"session.calibration_s": tracing.calibrate(spark)})
    # the benchmark stops this process group when it has its answers
    return 0


if __name__ == "__main__":
    sys.exit(main())
