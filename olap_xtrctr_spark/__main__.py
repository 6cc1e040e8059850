"""CLI entry point — the reference's generation-1 interactive scanner
(scanner/DGIS_SCAN_2_stable.py menu) as a scriptable command surface:

    python -m olap_xtrctr_spark catalogs
    python -m olap_xtrctr_spark measures --catalog VENTAS_2025
    python -m olap_xtrctr_spark members --catalog VENTAS_2025 \
        --dimension "Dim Customer" --hierarchy "Dim Customer.Geografía" \
        --level Nation --limit 10
    python -m olap_xtrctr_spark query --catalog VENTAS_2025 \
        --mdx "SELECT {[Measures].[Total Registros]} ON COLUMNS, \
               NON EMPTY [Dim Customer].[Geografía].[Region].MEMBERS \
               ON ROWS FROM [sales]" --export out.csv
    python -m olap_xtrctr_spark dmv \
        --sql "SELECT [LEVEL_NAME] FROM $system.MDSCHEMA_LEVELS"
    python -m olap_xtrctr_spark explain --catalog VENTAS_2025 --mdx "..."

Every command prints one JSON document to stdout (the reference's
result.json contract, backend/actions_runner.py:409-411).
"""
from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="olap_xtrctr_spark")
    p.add_argument("--sf-dir", default=None,
                   help="test-data dir (default $SPARK_GRAFT_SF_DIR)")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("catalogs")
    for name in ("measures", "dimensions", "apartados"):
        s = sub.add_parser(name)
        s.add_argument("--catalog", required=True)

    s = sub.add_parser("members")
    s.add_argument("--catalog", required=True)
    s.add_argument("--dimension", required=True)
    s.add_argument("--hierarchy", required=True)
    s.add_argument("--level", required=True)
    s.add_argument("--limit", type=int, default=1000)
    s.add_argument("--offset", type=int, default=0)

    s = sub.add_parser("search")
    s.add_argument("--catalog", required=True)
    s.add_argument("--term", required=True)

    s = sub.add_parser("variables")
    s.add_argument("--catalog", required=True)
    s.add_argument("--parents", nargs="+", required=True)

    s = sub.add_parser("query")
    s.add_argument("--catalog", required=True)
    s.add_argument("--mdx", required=True)
    s.add_argument("--preview", action="store_true")
    s.add_argument("--export", default=None,
                   help="write result to this path (.csv or .json)")

    s = sub.add_parser("explain")
    s.add_argument("--catalog", required=True)
    s.add_argument("--mdx", required=True)

    s = sub.add_parser("dmv")
    s.add_argument("--sql", required=True)
    s.add_argument("--catalog", default=None,
                   help="which catalog's cube the system_* rowsets "
                        "expose (default: first registered)")

    s = sub.add_parser("diagnose")

    s = sub.add_parser(
        "maintain",
        help="lake layout maintenance: compact / cluster / zorder / hilbert a "
             "parquet directory, or export size-targeted training "
             "shards with a manifest")
    s.add_argument("--op", required=True,
                   choices=["compact", "cluster", "zorder", "hilbert",
                            "shards", "verify-shards",
                            "commit-version", "versions",
                            "rollback-version", "gc-versions",
                            "retention", "ivf-build", "ivf-query",
                            "ivfpq-build", "ivfpq-query"])
    s.add_argument("--src", required=True)
    s.add_argument("--dst", default=None,
                   help="output directory (not needed for verify-shards)")
    s.add_argument("--cols", nargs="*", default=[],
                   help="cluster/zorder key columns")
    s.add_argument("--target-mb", type=int, default=128)
    s.add_argument("--to-version", type=int, default=None,
                   help="rollback-version target")
    s.add_argument("--keep-last", type=int, default=None,
                   help="retention: keep the N most recent versions")
    s.add_argument("--keep-newer-than", type=float, default=None,
                   help="retention: keep versions committed at/after "
                        "this epoch-seconds timestamp")
    s.add_argument("--keep-from", type=int, default=None,
                   help="gc-versions: drop data unreachable from "
                        "manifests >= this version")
    s.add_argument("--fmt", default="parquet",
                   choices=["parquet", "jsonl"],
                   help="shards output format")
    s.add_argument("--n-clusters", type=int, default=8,
                   help="ivf-build: KMeans cell count")
    s.add_argument("--k", type=int, default=3,
                   help="ivf-query: neighbors per query")
    s.add_argument("--n-probe", type=int, default=2,
                   help="ivf-query: cells probed per query")
    s.add_argument("--queries", default=None,
                   help="ivf-query: parquet of query vectors "
                        "(same id/vec columns the index was built on)")
    s.add_argument("--query-ids", type=int, nargs="*", default=None,
                   help="ivf-query: restrict --queries to these ids")
    s.add_argument("--refine", action="store_true",
                   help="ivfpq-query: exact-cosine re-rank of the ADC "
                        "shortlist against --corpus (the FULL vector "
                        "table the index was built from; falls back "
                        "to --queries, which then must contain every "
                        "corpus vector, not just the queries — "
                        "missing shortlist neighbors fail loudly)")
    s.add_argument("--corpus", default=None,
                   help="ivfpq-query --refine: parquet of the full "
                        "corpus vectors used for the exact re-rank")

    s = sub.add_parser(
        "workbook",
        help="export the metadata workbook (RESUMEN + one sheet per "
             "DMV rowset) to an .xlsx file")
    s.add_argument("--out", required=True)
    s.add_argument("--catalog", default=None)

    s = sub.add_parser(
        "action",
        help="one-shot env-var relay: reads ACTION/CATALOG/PARAMS/"
             "REQUEST_ID, writes the result.json envelope "
             "(reference backend/actions_runner.py contract)")
    s.add_argument("--out", default=None,
                   help="envelope path (default ./result.json)")

    s = sub.add_parser("serve",
                       help="HTTP API mirroring the reference's routes")
    # loopback by default; pass --host 0.0.0.0 to expose deliberately
    s.add_argument("--host", default="127.0.0.1")
    s.add_argument("--port", type=int, default=8000)

    s = sub.add_parser(
        "dedup",
        help="near-duplicate analysis over a registered table: "
             "--soft emits 1/|group| training weights (keep "
             "information, lose redundancy), --groups the transitive "
             "component labels, --keep the canonical min-id survivors")
    g = s.add_mutually_exclusive_group()
    g.add_argument("--soft", dest="mode", action="store_const",
                   const="soft", help="per-doc weight_ppm = 1e6 div "
                                      "|transitive near-dup group|")
    g.add_argument("--groups", dest="mode", action="store_const",
                   const="groups", help="(doc_id, component) labels "
                                        "for paired docs")
    g.add_argument("--keep", dest="mode", action="store_const",
                   const="keep", help="canonical survivors (drop "
                                      "non-min ids of each group)")
    g.add_argument("--semantic", dest="mode", action="store_const",
                   const="semantic",
                   help="embedding-space survivors (frozen-cell "
                        "SemDeDup over a vector table)")
    s.set_defaults(mode="soft")
    s.add_argument("--table", default=None,
                   help="registered table (default by mode: documents, "
                        "or embeddings for --semantic)")
    s.add_argument("--id-col", default=None,
                   help="id column (default by mode: doc_id, or vec_id "
                        "for --semantic)")
    s.add_argument("--max-dist", type=int, default=20,
                   help="Levenshtein threshold over the prefix")
    s.add_argument("--prefix-chars", type=int, default=80)
    s.add_argument("--block-width", type=int, default=100,
                   help="length-bucket width for the blocking join")
    s.add_argument("--threshold", type=float, default=0.995,
                   help="semantic: exact-cosine near-dup threshold "
                        "(0.995 = near-duplicates, matching the "
                        "trained SemDeDup default; lower it, e.g. "
                        "0.45, for an aggressive soft-similarity "
                        "sweep)")
    s.add_argument("--limit", type=int, default=20,
                   help="preview row cap (0 = count only)")
    s.add_argument("--export", default=None,
                   help="write full result to this path (.csv or .json)")

    s = sub.add_parser(
        "sources",
        help="source/domain governance: --rank scores sources by "
             "weighted PageRank over the shared-shingle duplication "
             "graph (exact integer fixed-point), --drift reports the "
             "top drifted embedding dimensions per source vs the "
             "global centroid")
    g = s.add_mutually_exclusive_group()
    g.add_argument("--rank", dest="mode", action="store_const",
                   const="rank",
                   help="(source, pr_ppb) — higher = more central in "
                        "the cross-source content-sharing graph")
    g.add_argument("--drift", dest="mode", action="store_const",
                   const="drift",
                   help="(source, dim, mean_diff, rank) — which "
                        "embedding dimensions a source drifts along")
    g.add_argument("--audit", dest="mode", action="store_const",
                   const="audit",
                   help="personalized PageRank: teleport mass on the "
                        "--top-seeds most-contaminated sources (exact "
                        "held-out/train shingle collisions) — "
                        "proximity-to-contamination audit ranks")
    s.set_defaults(mode="rank")
    s.add_argument("--ngram", type=int, default=3,
                   help="rank: shingle width for the shared-content "
                        "edge weights")
    s.add_argument("--max-groups", type=int, default=8,
                   help="rank: drop shingles present in more sources "
                        "than this (cross-source boilerplate)")
    s.add_argument("--iters", type=int, default=5,
                   help="rank: PageRank iterations (plan-unrolled)")
    s.add_argument("--damping-pct", type=int, default=85,
                   help="rank: damping factor in percent (0-100)")
    s.add_argument("--top-dims", type=int, default=5,
                   help="drift: dimensions reported per source")
    s.add_argument("--top-seeds", type=int, default=5,
                   help="audit: size of the contamination teleport set")
    s.add_argument("--limit", type=int, default=20,
                   help="preview row cap (0 = count only)")
    s.add_argument("--export", default=None,
                   help="write full result to this path (.csv or .json)")

    s = sub.add_parser("workload",
                       help="run a named workload query (dedup/sampling/"
                            "similarity/streaming/TPC-H/cube — see --list)")
    s.add_argument("--name", default=None)
    s.add_argument("--list", action="store_true",
                   help="list available query names")
    s.add_argument("--limit", type=int, default=20,
                   help="preview row cap (0 = count only)")
    s.add_argument("--export", default=None,
                   help="write full result to this path (.csv or .json)")
    s.add_argument("--audit", action="store_true",
                   help="include a physical-plan audit (shuffles, join "
                        "strategies, pushed filters, python-eval check)")
    return p


def _emit(df, out: dict, export, limit=None) -> dict:
    """Write ``--export`` (.json envelope, else one CSV file) and, when
    the command has a ``--limit``, add the first ``limit`` rows as
    ``preview``/``truncated`` (or ``n_rows`` for a limit of 0)."""
    if export:
        from .sinks import write_csv, write_json
        if export.endswith(".json"):
            write_json(df, export)
        else:
            write_csv(df, export, single_file=True)
        out["exported_to"] = export
    if limit is None:
        return out
    if limit > 0:
        rows = df.limit(limit + 1).collect()
        out["preview"] = [r.asDict() for r in rows[:limit]]
        out["truncated"] = len(rows) > limit
    else:
        out["n_rows"] = df.count()
    return out


def run(args, service=None) -> dict:
    """Dispatch one command; ``service`` injectable for tests."""
    if service is None:
        import os

        from . import get_spark
        from .service import OlapService
        sf_dir = args.sf_dir or os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
        spark = get_spark("cli")
        spark.sparkContext.setLogLevel("ERROR")
        service = OlapService(spark, sf_dir)

    if args.cmd == "catalogs":
        return {"catalogs": service.get_catalogs()}
    if args.cmd == "measures":
        return {"measures": service.get_measures(args.catalog)}
    if args.cmd == "dimensions":
        return {"dimensions": service.get_dimensions(args.catalog)}
    if args.cmd == "apartados":
        return {"apartados": service.get_apartados(args.catalog)}
    if args.cmd == "members":
        return service.get_members(args.catalog, args.dimension,
                                   args.hierarchy, args.level,
                                   limit=args.limit, offset=args.offset)
    if args.cmd == "search":
        return {"hits": service.search_members(args.catalog, args.term)}
    if args.cmd == "variables":
        return {"variables": service.get_variables(args.catalog,
                                                   args.parents)}
    if args.cmd == "query":
        res = service.execute_mdx(args.catalog, args.mdx,
                                  preview=args.preview)
        if args.export:
            from .mdx import parse_mdx
            _emit(service.engine.execute(parse_mdx(args.mdx, args.catalog)),
                  res, args.export)
        return res
    if args.cmd == "explain":
        from .mdx import parse_mdx
        return service.explain_query(parse_mdx(args.mdx, args.catalog))
    if args.cmd == "dmv":
        return service.execute_dmv(args.sql, catalog=args.catalog)
    if args.cmd == "diagnose":
        return {"rowsets": service.diagnose_schema()}
    if args.cmd == "serve":
        from .http_api import serve
        serve(service, host=args.host, port=args.port)   # blocks
        return {"status": "stopped"}
    if args.cmd == "dedup":
        try:
            table, df = service.dedup(
                args.mode, args.table, args.id_col, max_dist=args.max_dist,
                prefix_chars=args.prefix_chars,
                block_width=args.block_width, threshold=args.threshold)
        except ValueError as exc:
            raise SystemExit(str(exc))
        return _emit(df, {"mode": args.mode, "table": table,
                          "columns": df.columns}, args.export, args.limit)
    if args.cmd == "sources":
        try:
            df = service.sources(
                args.mode, ngram=args.ngram, max_groups=args.max_groups,
                iters=args.iters, damping_pct=args.damping_pct,
                top_dims=args.top_dims, top_seeds=args.top_seeds)
        except ValueError as exc:
            raise SystemExit(str(exc))
        return _emit(df, {"mode": args.mode, "columns": df.columns},
                     args.export, args.limit)
    if args.cmd == "workload":
        from .workload import WORKLOAD
        if args.list or not args.name:
            return {"queries": sorted(WORKLOAD)}
        spec = WORKLOAD.get(args.name)
        if spec is None:
            raise SystemExit(f"unknown workload query {args.name!r} "
                             f"(use --list)")
        df = spec.fn(service.spark, service.sf_dir)
        out: dict = {"name": args.name, "columns": df.columns}
        if args.audit:
            from .plans import audit
            out["plan_audit"] = audit(df)
        return _emit(df, out, args.export, args.limit)
    if args.cmd == "maintain":
        from .sources import maintenance as MT
        from .sources import shards as SH
        spark = service.spark
        if args.op in ("ivf-build", "ivfpq-build"):
            from .operators import similarity as S
            if not args.dst:
                raise SystemExit(f"--dst (index dir) required for "
                                 f"{args.op}")
            emb = spark.read.parquet(args.src)
            if args.op == "ivf-build":
                return S.ivf_build_index(emb, args.dst,
                                         n_clusters=args.n_clusters)
            return S.ivfpq_build_index(emb, args.dst)
        if args.op in ("ivf-query", "ivfpq-query"):
            from pyspark.sql import functions as F

            from .operators import similarity as S
            if not args.queries:
                raise SystemExit(f"--queries (parquet of query vectors) "
                                 f"required for {args.op}")
            try:
                meta = S.read_index_meta(args.src)
            except (OSError, ValueError):
                raise SystemExit(f"no index at {args.src!r} (run --op "
                                 f"{args.op.replace('query', 'build')} "
                                 f"first)")
            q = spark.read.parquet(args.queries)
            if args.query_ids:
                q = q.filter(F.col(meta["id_col"]).isin(args.query_ids))
            kw = dict(k=args.k, n_probe=args.n_probe,
                      id_col=meta["id_col"], vec_col=meta["vec_col"])
            if args.op == "ivf-query":
                df = S.ivf_query_index(spark, args.src, q, **kw)
            else:
                # --refine re-ranks against the FULL corpus: --corpus
                # if given, else --queries (the re-rank raises on any
                # shortlist neighbor missing from it, so a queries-only
                # table fails loudly instead of truncating the top-k)
                refine_with = (spark.read.parquet(args.corpus
                                                  or args.queries)
                               if args.refine else None)
                df = S.ivfpq_query_index(spark, args.src, q,
                                         refine_with=refine_with, **kw)
            return {"columns": df.columns,
                    "rows": [r.asDict() for r in df.collect()]}
        if args.op == "verify-shards":
            return SH.verify_training_shards(spark, args.src)
        if args.op == "versions":
            # --src is the versioned table dir; lists the committed
            # chain plus column-level schema changes (manifests only)
            from .sources import versioned as V
            return {"versions": V.list_versions(args.src),
                    "schema_changes": V.version_schema_changes(args.src)}
        if args.op == "retention":
            from .sources import versioned as V
            if args.keep_last is None and args.keep_newer_than is None:
                raise SystemExit("retention needs --keep-last and/or "
                                 "--keep-newer-than")
            return V.retention_sweep(
                args.src, keep_last=args.keep_last,
                keep_newer_than=args.keep_newer_than)
        if args.op == "gc-versions":
            from .sources import versioned as V
            if args.keep_from is None:
                raise SystemExit("--keep-from required for gc-versions")
            return {"removed": V.gc_unreachable(args.src,
                                                args.keep_from)}
        if args.op == "rollback-version":
            from .sources import versioned as V
            if args.to_version is None:
                raise SystemExit("--to-version required for "
                                 "rollback-version")
            return V.rollback(spark, args.src, args.to_version)
        if args.op == "commit-version":
            from .sources import versioned as V
            if not args.dst:
                raise SystemExit("--dst (table dir) required for "
                                 "commit-version")
            return V.write_version(spark.read.parquet(args.src), args.dst)
        if not args.dst:
            raise SystemExit(f"--dst is required for --op {args.op}")
        if args.op == "compact":
            return MT.compact_parquet(spark, args.src, args.dst,
                                      target_mb=args.target_mb)
        if args.op == "cluster":
            if not args.cols:
                raise SystemExit("--cols required for cluster")
            return MT.cluster_parquet(spark, args.src, args.dst, args.cols,
                                      target_mb=args.target_mb)
        if args.op == "zorder":
            return MT.zorder_parquet(spark, args.src, args.dst, args.cols,
                                     target_mb=args.target_mb)
        if args.op == "hilbert":
            return MT.hilbert_parquet(spark, args.src, args.dst, args.cols,
                                      target_mb=args.target_mb)
        return SH.write_training_shards(
            spark.read.parquet(args.src), args.dst,
            target_mb=args.target_mb, fmt=args.fmt)
    if args.cmd == "workbook":
        counts = service.export_metadata_workbook(args.out,
                                                  catalog=args.catalog)
        return {"path": args.out, "sheets": counts}
    if args.cmd == "action":
        from .actions import RESULT_FILE, run_action_env
        return run_action_env(service, out_path=args.out or RESULT_FILE)
    raise SystemExit(f"unknown command {args.cmd!r}")


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    try:
        result = run(args)
    except Exception as exc:  # noqa: BLE001
        if getattr(args, "cmd", None) != "action":
            raise
        # the relay consumer reads result.json, never a stack trace —
        # even a pre-dispatch failure (Spark startup, bad sf dir) must
        # land in the envelope (backend/actions_runner.py contract)
        import os
        from .actions import RESULT_FILE
        result = {"request_id": os.environ.get("REQUEST_ID", "unknown"),
                  "action": os.environ.get("ACTION", ""),
                  "status": "error", "error": f"startup failure: {exc}"}
        with open(args.out or RESULT_FILE, "w", encoding="utf-8") as f:
            json.dump(result, f, ensure_ascii=False, indent=2)
    print(json.dumps(result, ensure_ascii=False, default=str))
    # the relay contract exits non-zero on an error envelope
    # (backend/actions_runner.py:417-418)
    return 1 if (getattr(args, "cmd", None) == "action"
                 and result.get("status") == "error") else 0


if __name__ == "__main__":
    sys.exit(main())
