"""Service façade mirroring the reference's API surface
(backend/api_server.py:101-347, workers/api/src/routes/*): catalogs,
cubes, measures, dimensions+hierarchies+levels, apartados, variables,
members (paged + search), query execute (structured or raw MDX), jobs,
plus the corpus analyses beyond the reference (near-dup, source
governance) that the CLI and HTTP front-ends both call.

Transport-agnostic: returns plain dicts/lists, ready for any HTTP layer.
All responses go through the same result shaping as the reference
(sanitization + AG-Grid descriptors + rowCount).
"""
from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

from . import metadata
from .cube import CubeRegistry, default_registry
from .jobs import JobRegistry
from .mdx import execute_dmv, parse_mdx
from .query import CubeQueryEngine, QueryRequest
from .sinks import (ag_grid_columns, sanitize, to_json_result,
                    write_excel_workbook)
from .validators import sanitize_search

PREVIEW_LIMIT = 20          # reference head(20)
MEMBER_PAGE_SIZE = 1000     # reference page size


class OlapService:
    def __init__(self, spark: SparkSession, sf_dir: str,
                 registry: Optional[CubeRegistry] = None,
                 job_store_dir: Optional[str] = None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.registry = registry or default_registry()
        self.engine = CubeQueryEngine(spark, self.registry, sf_dir)
        self.jobs = JobRegistry(store_dir=job_store_dir)

    # ---- metadata endpoints ----------------------------------------------

    def get_catalogs(self) -> list[dict[str, Any]]:
        return [r.asDict() for r in metadata.catalog_rows(self.registry)
                if not r.CATALOG_NAME.startswith("$")]

    def get_cubes(self, catalog: str) -> list[str]:
        return [c.name for c in self.registry.cubes_in_catalog(catalog)]

    def get_measures(self, catalog: str) -> list[dict[str, Any]]:
        cube = self.registry.resolve(catalog)
        return [{"name": m.name, "uniqueName": m.unique_name,
                 "aggregator": m.aggregator.upper()}
                for m in cube.visible_measures()]

    def get_dimensions(self, catalog: str) -> list[dict[str, Any]]:
        cube = self.registry.resolve(catalog)
        out = []
        for d in cube.dimensions.values():
            hiers = [{
                "name": h.name,
                "uniqueName": f"[{d.name}].[{h.name}]",
                "levels": [{"name": lv.name, "depth": i + 1}
                           for i, lv in enumerate(h.levels)],
            } for h in d.hierarchies.values()]
            out.append({"name": d.name, "uniqueName": f"[{d.name}]",
                        "hierarchies": hiers})
        return out

    # ---- members ----------------------------------------------------------

    def _members(self, catalog: str):
        """Members metadata per catalog through the two-tier X5 cache
        (in-process persist + fingerprint-keyed parquet spill)."""
        return metadata.cached_members_df(
            self.spark, self.registry.resolve(catalog), self.sf_dir)

    def _member_index(self, catalog: str):
        """The driver-local index of ``_members``: navigation calls
        answer from it with no Spark job, in key order."""
        return metadata.cached_member_index(
            self.spark, self.registry.resolve(catalog), self.sf_dir)

    def get_members(self, catalog: str, dimension: str, hierarchy: str,
                    level: str, limit: int = MEMBER_PAGE_SIZE,
                    offset: int = 0) -> dict[str, Any]:
        rows, total = self._member_index(catalog).page(
            dimension, hierarchy, level, limit=limit, offset=offset)
        return {"members": rows, "total": total,
                "limit": limit, "offset": offset}

    def search_members(self, catalog: str, term: str,
                       dimension: Optional[str] = None) -> list[dict[str, Any]]:
        term = sanitize_search(term)
        if not term:
            return []
        return self._member_index(catalog).search(
            term, dimension, limit=MEMBER_PAGE_SIZE)

    def get_apartados(self, catalog: str) -> list[dict[str, Any]]:
        return self._member_index(catalog).apartados()

    def get_variables(self, catalog: str,
                      apartado_unique_names: list[str]) -> list[dict[str, Any]]:
        return self._member_index(catalog).children(apartado_unique_names)

    # ---- query execution ---------------------------------------------------

    def execute_query(self, request: QueryRequest,
                      preview: bool = False) -> dict[str, Any]:
        """QueryResponse shape of the reference
        (backend/api_server.py:93-96,328-340)."""
        df = sanitize(self.engine.execute(request))
        if preview:
            df = df.limit(PREVIEW_LIMIT)
        rows = [r.asDict() for r in df.collect()]
        return {"rows": rows, "columns": ag_grid_columns(df),
                "rowCount": len(rows)}

    def execute_mdx(self, catalog: str, mdx: str,
                    preview: bool = False) -> dict[str, Any]:
        """Raw-MDX entry point (Q16): parse the subset → same path."""
        return self.execute_query(parse_mdx(mdx, catalog), preview=preview)

    def explain_query(self, request: QueryRequest,
                      mode: str = "formatted") -> dict[str, Any]:
        """X8 dry-run (reference migrate_csv_to_db.py:81-86): validate and
        plan the query without executing it.  Returns the estimated row
        cardinality (N18 guard input) and the physical plan text."""
        df = self.engine.execute(request)     # lazy: plans, never runs
        jmode = (self.spark._jvm.org.apache.spark.sql.execution
                 .ExplainMode.fromString(mode))
        plan = df._jdf.queryExecution().explainString(jmode)
        cube = self.engine.registry.resolve(request.catalog, request.cube)
        axes = [self.engine._resolve_axis(cube, item) for item in request.rows]
        est = self.engine.estimate_cardinality(cube, axes)
        return {"estimated_rows": est, "plan": plan,
                "columns": [f.name for f in df.schema.fields]}

    def diagnose_schema(self) -> dict[str, list[str]]:
        """M10 (reference diagnose_schema, backend/actions_runner.py:252-306):
        probe every DMV rowset and report its available columns.  M1's
        probe-and-cache becomes spark.catalog + df.columns."""
        cube = next(iter(self.registry._cubes.values()))
        metadata.register_dmv_views(self.spark, self.registry, cube,
                                    self.sf_dir, jobs=self.jobs)
        out: dict[str, list[str]] = {}
        for rowset in (list(metadata.DMV_BUILDERS)
                       + metadata.DISCOVER_ROWSETS):
            view = f"system_{rowset}"
            if self.spark.catalog.tableExists(view):
                out[rowset] = self.spark.table(view).columns
            else:
                out[rowset] = []
        return out

    def get_server_properties(self) -> list[dict[str, Any]]:
        """DISCOVER_PROPERTIES as a plain diagnostics payload (reference
        scans it first in full_discovery, DGIS_SCAN_2_stable.py:338)."""
        return [r.asDict() for r in
                metadata.discover_properties_df(self.spark).collect()]

    def export_metadata_workbook(self, path: str,
                                 catalog: Optional[str] = None,
                                 ) -> dict[str, int]:
        """Metadata workbook: a RESUMEN summary sheet plus one sheet per
        DMV rowset — the reference's catalog discovery export
        (scanner/DGIS_SCAN_2_stable.py:429-451 exports every discovered
        dataset as its own sheet; :344-357 the server-level variant).
        Returns per-sheet row counts."""
        import datetime as _dt

        cube = (self.registry.resolve(catalog) if catalog
                else next(iter(self.registry._cubes.values())))
        metadata.register_dmv_views(self.spark, self.registry, cube,
                                    self.sf_dir)
        resumen = self.spark.createDataFrame(
            [("Catalogo", cube.catalog), ("Cubo", cube.name),
             ("Fecha", _dt.datetime.now().isoformat(sep=" ",
                                                    timespec="seconds"))],
            "Info string, Valor string")
        sheets: dict[str, Any] = {"RESUMEN": resumen}
        for rowset in metadata.DMV_BUILDERS:
            sheets[rowset] = self.spark.table(f"system_{rowset}")
        return write_excel_workbook(path, sheets)

    def execute_dmv(self, sql: str,
                    catalog: Optional[str] = None) -> dict[str, Any]:
        """Run a DMV query; ``catalog`` selects which cube's rowsets
        back the query (default: first registered cube).  Catalog-scoped
        calls use per-cube view names so concurrent requests against
        DIFFERENT catalogs never clobber each other's temp views on the
        threaded server (same-catalog re-registration is idempotent)."""
        if catalog:
            import re
            cube = self.registry.resolve(catalog)
            prefix = "system_" + re.sub(r"\W+", "_", cube.name)
        else:
            cube = next(iter(self.registry._cubes.values()))
            prefix = "system"
        metadata.register_dmv_views(self.spark, self.registry, cube,
                                    self.sf_dir, prefix=prefix,
                                    jobs=self.jobs)
        df = execute_dmv(self.spark, sql, view_prefix=prefix)
        return to_json_result(df, limit=MEMBER_PAGE_SIZE, stringify=False)

    # ---- corpus analysis ---------------------------------------------------

    def dedup(self, mode: str, table: Optional[str] = None,
              id_col: Optional[str] = None, *, max_dist: int = 20,
              prefix_chars: int = 80, block_width: int = 100,
              threshold: float = 0.995) -> tuple[str, DataFrame]:
        """Near-duplicate analysis over a registered table: ``soft``
        1/|group| training weights, ``groups`` transitive component
        labels, ``keep`` canonical min-id survivors, ``semantic``
        embedding-space survivors (frozen-cell SemDeDup; ``threshold``
        0.995 = near-duplicates, the trained default).  ``table`` and
        ``id_col`` default by mode: embeddings/vec_id for ``semantic``,
        documents/doc_id otherwise.  Returns (table, frame); bad input
        raises ValueError."""
        from .operators.dedup import dedup_frame
        from .session import TABLES, load_table
        if mode not in ("soft", "groups", "keep", "semantic"):
            raise ValueError(f"mode must be soft|groups|keep|semantic, "
                             f"got {mode!r}")
        semantic = mode == "semantic"
        if table is None:
            table = "embeddings" if semantic else "documents"
        if id_col is None:
            id_col = "vec_id" if semantic else "doc_id"
        if table not in TABLES:
            raise ValueError(f"unknown table {table!r} "
                             f"(one of {sorted(TABLES)})")
        knobs = ({"threshold": threshold} if semantic else
                 {"max_dist": max_dist, "prefix_chars": prefix_chars,
                  "block_width": block_width})
        docs = load_table(self.spark, self.sf_dir, table)
        # the schema comes from the parquet footer: no job runs
        need = [id_col, "embedding"] if semantic else [id_col, "text", "lang"]
        missing = [c for c in need if c not in docs.columns]
        if missing:
            raise ValueError(f"table {table!r} lacks column(s) {missing} "
                             f"for mode {mode!r}")
        return table, dedup_frame(docs, mode, id_col=id_col, **knobs)

    def sources(self, mode: str, *, ngram: int = 3, max_groups: int = 8,
                iters: int = 5, damping_pct: int = 85, top_dims: int = 5,
                top_seeds: int = 5) -> DataFrame:
        """Source/domain governance over the documents corpus: ``rank``
        = weighted PageRank (exact integer fixed-point, ``iters``
        unrolled into the plan) over the shared-shingle source graph,
        ``audit`` = the same with teleport mass on the ``top_seeds``
        most-contaminated sources, ``drift`` = the ``top_dims`` most
        drifted embedding dimensions per source vs the global
        centroid.  Bad input raises ValueError."""
        from pyspark.sql import functions as F

        from .session import load_table
        if mode not in ("rank", "drift", "audit"):
            raise ValueError(f"mode must be rank|drift|audit, got {mode!r}")
        if not 1 <= iters <= 20:
            raise ValueError("iters must be in 1..20 (iterations are "
                             "unrolled into the plan)")
        if not 0 <= damping_pct <= 100:
            raise ValueError("damping_pct must be in 0..100")
        if mode == "audit" and top_seeds < 1:
            raise ValueError("top_seeds must be >= 1")
        docs = load_table(self.spark, self.sf_dir, "documents")
        if mode == "drift":
            from .operators.similarity import source_dim_drift
            emb = load_table(self.spark, self.sf_dir, "embeddings")
            return source_dim_drift(emb, docs, k=top_dims)
        from .operators import graph as G
        edges = G.shared_shingle_group_edges(docs, n=ngram,
                                             max_groups=max_groups)
        nodes = docs.select(F.col("source").alias("node")).distinct()
        seeds = (G.contamination_seed_sources(docs, top_k=top_seeds)
                 if mode == "audit" else None)
        return (G.weighted_pagerank(edges, nodes, iters=iters,
                                    damping_pct=damping_pct,
                                    teleport=seeds)
                .select(F.col("node").alias("source"), "pr_ppb")
                .orderBy(F.desc("pr_ppb"), "source"))

    # ---- jobs --------------------------------------------------------------

    def submit_job(self, catalog: str, mdx: str) -> str:
        req = parse_mdx(mdx, catalog)   # validate before dispatch
        return self.jobs.submit(catalog, mdx,
                                lambda: self.engine.execute(req))

    def get_job(self, job_id: str) -> Optional[dict[str, Any]]:
        return self.jobs.get(job_id)
