"""DMV-equivalent metadata DataFrames derived from the cube registry.

The reference discovers metadata through XMLA DMV rowsets
($system.DBSCHEMA_*/MDSCHEMA_*, scanner/DGIS_SCAN_2_stable.py:256-342)
and caches a members table (CSV contract
scanner/DGIS_SCAN_2_stable.py:491-497).  Here all of it is *derived*
from the registered cubes: static rowsets (catalogs/cubes/dimensions/
hierarchies/levels/measures) come straight from the registry;
``MDSCHEMA_MEMBERS`` / the members cache table is a distributed
``select distinct`` per hierarchy level over the dimension views with
synthesized unique names (SURVEY §1.4 "Member").

Scale: members generation is pure DataFrame ops — no driver-side
loops — so a 1.7M-member catalog (reference scale,
001_initial_schema.sql:67) or far larger remains distributed.  Each
hierarchy costs ONE scan of its dimension view: scan → leaf-grain
``distinct`` (map-side combinable, output bounded by member count) →
``rollup`` over the small grain, with every level decoded from
``grouping_id`` in a single projection.  The naive alternative (a
distinct scan per level plus a countDistinct job per non-leaf level)
re-reads the view 2×levels times and is what this replaces.
"""
from __future__ import annotations

import threading
from functools import reduce

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import naming
from .cube import CubeDef, CubeRegistry, Dimension, Hierarchy
from .session import load_table

MEMBER_COLS = [
    "CATALOGO", "DIMENSION", "JERARQUIA", "NIVEL_NOMBRE", "NIVEL_NUMERO",
    "MIEMBRO_CAPTION", "MIEMBRO_UNIQUE_NAME", "PARENT_UNIQUE_NAME",
    "CHILDREN_CARDINALITY", "MIEMBRO_ORDINAL", "MIEMBRO_KEY",
]


def _hier_source(spark: SparkSession, cube: CubeDef, dim: Dimension,
                 sf_dir: str) -> DataFrame:
    view = dim.members_view or dim.view
    if view is None:  # degenerate: derive from the fact table
        if dim.degenerate_source_cols and cube.derive is not None:
            # distinct the raw source columns first (cheap columnar scan,
            # map-side combine), derive levels on the tiny distinct set
            raw = load_table(spark, sf_dir, cube.fact_table) \
                .select(*dim.degenerate_source_cols).distinct()
            return cube.derive(raw)
        return cube.fact(spark, sf_dir)
    return cube.views[view](spark, sf_dir)


def _hier_members(cube: CubeDef, dim: Dimension, hier: Hierarchy,
                  src: DataFrame) -> DataFrame:
    """Every level's members for one hierarchy in a single plan.

    scan(view) → distinct leaf grain (one shuffle, map-side combined,
    output = #leaf members) → ``rollup`` over the key-column prefixes
    (the grouping sets ARE the levels) → one projection decoding
    ``grouping_id`` into level name/number, unique name, parent,
    children count, ordinal and key.  No per-level jobs, no joins.
    """
    n = len(hier.levels)
    # leaf grain: all key/caption/ordinal columns of every level, distinct
    grain_cols: list = []
    for i, lv in enumerate(hier.levels):
        grain_cols.append(F.col(lv.key_col).alias(f"_k{i+1}"))
        grain_cols.append(F.col(lv.caption_col).alias(f"_cap{i+1}"))
        if lv.ordinal_col is not None:
            grain_cols.append(F.col(lv.ordinal_col).cast("int")
                              .alias(f"_ord{i+1}"))
    grain = src.select(*grain_cols).distinct()

    # rollup on key prefixes; captions/ordinals are functionally dependent
    # on their key prefix so max() just picks the one value per group
    aggs: list = []
    for i, lv in enumerate(hier.levels):
        aggs.append(F.max(f"_cap{i+1}").alias(f"_cap{i+1}"))
        if lv.ordinal_col is not None:
            aggs.append(F.max(f"_ord{i+1}").alias(f"_ord{i+1}"))
    for i in range(1, n):  # children at depth d = distinct level-(d+1) keys
        aggs.append(F.countDistinct(f"_k{i+1}").alias(f"_cc{i}"))
    rolled = (grain.rollup(*[f"_k{i+1}" for i in range(n)])
                   .agg(*aggs, F.grouping_id().alias("_gid"))
                   .filter(F.col("_gid") != 2 ** n - 1))  # drop grand total

    # rollup depth-d rows carry _gid = 2^(n-d) - 1
    def by_depth(make):
        expr = None
        for d in range(1, n + 1):
            cond = F.col("_gid") == 2 ** (n - d) - 1
            expr = F.when(cond, make(d)) if expr is None \
                else expr.when(cond, make(d))
        return expr

    def uname_at(d: int):
        return naming.encode_col(
            dim.name, hier.name, hier.levels[0].name,
            [F.col(f"_k{i+1}") for i in range(d)])

    def ordinal_at(d: int):
        lv = hier.levels[d - 1]
        if lv.ordinal_col is None:
            return F.lit(None).cast("int")
        return F.col(f"_ord{d}")

    uname = by_depth(uname_at)
    return rolled.select(
        F.lit(cube.catalog).alias("CATALOGO"),
        F.lit(dim.name).alias("DIMENSION"),
        F.lit(f"{dim.name}.{hier.name}").alias("JERARQUIA"),
        by_depth(lambda d: F.lit(hier.levels[d - 1].name)).alias("NIVEL_NOMBRE"),
        by_depth(lambda d: F.lit(d)).alias("NIVEL_NUMERO"),
        by_depth(lambda d: F.col(f"_cap{d}").cast("string"))
            .alias("MIEMBRO_CAPTION"),
        uname.alias("MIEMBRO_UNIQUE_NAME"),
        naming.parent_col(uname).alias("PARENT_UNIQUE_NAME"),
        by_depth(lambda d: F.col(f"_cc{d}").cast("long") if d < n
                 else F.lit(0).cast("long")).alias("CHILDREN_CARDINALITY"),
        by_depth(ordinal_at).alias("MIEMBRO_ORDINAL"),
        by_depth(lambda d: F.col(f"_k{d}").cast("string")).alias("MIEMBRO_KEY"),
    ).select(*MEMBER_COLS)


def _all_member(spark: SparkSession, cube: CubeDef, dim: Dimension,
                hier: Hierarchy, level1_count: int) -> DataFrame:
    """The synthetic 'All' member (NIVEL_NUMERO 0) the reference suppresses
    everywhere (N3, scanner/DGIS_SCAN_2_stable.py:746-747)."""
    row = Row(
        CATALOGO=cube.catalog, DIMENSION=dim.name,
        JERARQUIA=f"{dim.name}.{hier.name}", NIVEL_NOMBRE="(All)",
        NIVEL_NUMERO=0, MIEMBRO_CAPTION="All",
        MIEMBRO_UNIQUE_NAME=f"[{dim.name}].[{hier.name}].[All]",
        PARENT_UNIQUE_NAME=None, CHILDREN_CARDINALITY=level1_count,
        MIEMBRO_ORDINAL=None, MIEMBRO_KEY=None,
    )
    schema = T.StructType([
        T.StructField("CATALOGO", T.StringType()),
        T.StructField("DIMENSION", T.StringType()),
        T.StructField("JERARQUIA", T.StringType()),
        T.StructField("NIVEL_NOMBRE", T.StringType()),
        T.StructField("NIVEL_NUMERO", T.IntegerType()),
        T.StructField("MIEMBRO_CAPTION", T.StringType()),
        T.StructField("MIEMBRO_UNIQUE_NAME", T.StringType()),
        T.StructField("PARENT_UNIQUE_NAME", T.StringType()),
        T.StructField("CHILDREN_CARDINALITY", T.LongType()),
        T.StructField("MIEMBRO_ORDINAL", T.IntegerType()),
        T.StructField("MIEMBRO_KEY", T.StringType()),
    ])
    return spark.createDataFrame([row], schema)


def members_df(spark: SparkSession, cube: CubeDef, sf_dir: str,
               include_all: bool = False) -> DataFrame:
    """The members cache table (reference CSV contract, FIXTURES.md §1).

    ``include_all=False`` by default: the All rows need a separate count
    job per hierarchy, and every reference consumer suppresses them; the
    navigation API adds them only when asked.
    """
    frames: list[DataFrame] = []
    for dim in cube.dimensions.values():
        for hier in dim.hierarchies.values():
            src = _hier_source(spark, cube, dim, sf_dir)
            frames.append(_hier_members(cube, dim, hier, src))
            if include_all:
                n1 = src.select(hier.levels[0].key_col).distinct().count()
                frames.append(_all_member(spark, cube, dim, hier, n1))
    return reduce(DataFrame.unionByName, frames)


# Members cache (reference X5: members CSV cache with auto-populate on miss
# and version-suffixed invalidation, scanner/DGIS_SCAN_2_stable.py:686-705,
# backend/DGIS_SCAN_2.py:700-702).  The members table is bounded metadata
# (~1.7M rows at reference scale), read by every navigation call:
#   tier 1 — in-process memo + .persist()
#   tier 2 — parquet spill under the warehouse
# Both tiers are keyed by a fingerprint of the cube's hierarchy structure
# (stale definitions can never serve: a changed cube changes the key).
_MEMBERS_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_MEMBERS_LOCK = threading.Lock()


def _cube_fingerprint(cube: CubeDef) -> str:
    import hashlib
    desc = repr([
        (cube.catalog, d.name, h.name,
         [(lv.name, lv.caption_col, lv.key_col, lv.ordinal_col)
          for lv in h.levels])
        for d in cube.dimensions.values()
        for h in d.hierarchies.values()
    ])
    return hashlib.md5(desc.encode()).hexdigest()[:12]


def _disk_cache_path(spark: SparkSession, cube: CubeDef, sf_dir: str) -> str:
    warehouse = spark.conf.get("spark.sql.warehouse.dir") \
        .removeprefix("file:")
    tag = sf_dir.strip("/").replace("/", "_")
    return (f"{warehouse}/members_cache/"
            f"{cube.name}_{_cube_fingerprint(cube)}_{tag}")


def _evict_stale_spills(spark: SparkSession, cube: CubeDef,
                        sf_dir: str) -> None:
    """Remove spills for this (cube, sf) under OTHER fingerprints — a
    structure change (reference v2 invalidates on cache-name change,
    backend/DGIS_SCAN_2.py:700-702) would otherwise leave orphaned
    parquet dirs and _cards.json files accumulating forever."""
    import os
    import re
    import shutil

    current = _disk_cache_path(spark, cube, sf_dir)
    base = os.path.dirname(current)
    tag = sf_dir.strip("/").replace("/", "_")
    # exact-fingerprint match (12 hex chars), NOT a glob: a '*' would
    # span '{other_fp}_{other_tag_prefix}' and delete live caches of a
    # different sf_dir whose tag merely ends with this tag
    pat = re.compile(
        rf"^{re.escape(cube.name)}_[0-9a-f]{{12}}_{re.escape(tag)}"
        rf"(_cards\.json)?$")
    try:
        entries = os.listdir(base)
    except OSError:
        return
    for name in entries:
        if not pat.match(name):
            continue
        p = os.path.join(base, name)
        if p not in (current, f"{current}_cards.json"):
            try:
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
            except OSError:
                pass   # eviction is hygiene, never query-blocking


def _members_key(cube: CubeDef, sf_dir: str) -> tuple[str, str, str]:
    return (cube.name, _cube_fingerprint(cube), sf_dir)


def cached_members_df(spark: SparkSession, cube: CubeDef,
                      sf_dir: str) -> DataFrame:
    """Single-flight: a miss builds under ``_MEMBERS_LOCK`` and checks
    the memo again once it holds it, so concurrent first requests build
    and spill once (two overwriting writers would each read files the
    other deletes); a hit takes no lock.  The key carries the cube's
    fingerprint, so a cube redefined under the same name never serves
    the old members."""
    key = _members_key(cube, sf_dir)
    df = _MEMBERS_CACHE.get(key)
    if df is not None:
        return df
    with _MEMBERS_LOCK:
        df = _MEMBERS_CACHE.get(key)
        if df is None:
            df = _MEMBERS_CACHE[key] = _build_members_cache(
                spark, cube, sf_dir)
    return df


def _build_members_cache(spark: SparkSession, cube: CubeDef,
                         sf_dir: str) -> DataFrame:
    path = _disk_cache_path(spark, cube, sf_dir)
    try:
        df = spark.read.parquet(path)
    except Exception:
        # miss → build once, spill, re-read (the re-read gives the
        # compact file-backed plan instead of the 8-branch union)
        members_df(spark, cube, sf_dir).write.mode("overwrite") \
            .parquet(path)
        _evict_stale_spills(spark, cube, sf_dir)
        df = spark.read.parquet(path)
    return df.persist()


# ---- static DMV rowsets (registry-derived) --------------------------------
# Each rowset's rows come from one ``_*_rows`` function.  The ``*_df``
# builders turn them into DataFrames with a plain ``createDataFrame``
# and are the reference; register_dmv_views turns the same rows into
# driver-local relations (``_local_df``).

def catalog_rows(registry: CubeRegistry) -> list[Row]:
    cats = sorted({c.catalog for c in registry._cubes.values()})
    return [Row(CATALOG_NAME=c, DESCRIPTION=f"Catalogo {c}") for c in cats]


def catalogs_df(spark: SparkSession, registry: CubeRegistry) -> DataFrame:
    return spark.createDataFrame(catalog_rows(registry))


def _cubes_rows(registry: CubeRegistry) -> list[Row]:
    return [Row(CATALOG_NAME=c.catalog, CUBE_NAME=c.name)
            for c in registry._cubes.values()]


def cubes_df(spark: SparkSession, registry: CubeRegistry) -> DataFrame:
    return spark.createDataFrame(_cubes_rows(registry))


def _dimensions_rows(cube: CubeDef) -> list[Row]:
    return [Row(CUBE_NAME=cube.name,
                DIMENSION_NAME=d.name,
                DIMENSION_UNIQUE_NAME=f"[{d.name}]")
            for d in cube.dimensions.values()]


def dimensions_df(spark: SparkSession, cube: CubeDef) -> DataFrame:
    return spark.createDataFrame(_dimensions_rows(cube))


def _hierarchies_rows(cube: CubeDef) -> list[Row]:
    return [Row(CUBE_NAME=cube.name,
                DIMENSION_UNIQUE_NAME=f"[{d.name}]",
                HIERARCHY_NAME=h.name,
                HIERARCHY_UNIQUE_NAME=f"[{d.name}].[{h.name}]",
                HIERARCHY_CAPTION=h.name,
                HIERARCHY_IS_VISIBLE=True)
            for d in cube.dimensions.values()
            for h in d.hierarchies.values()]


def hierarchies_df(spark: SparkSession, cube: CubeDef) -> DataFrame:
    return spark.createDataFrame(_hierarchies_rows(cube))


def _levels_rows(cube: CubeDef) -> list[Row]:
    return [Row(CUBE_NAME=cube.name,
                DIMENSION_UNIQUE_NAME=f"[{d.name}]",
                HIERARCHY_UNIQUE_NAME=f"[{d.name}].[{h.name}]",
                LEVEL_NAME=lv.name,
                LEVEL_UNIQUE_NAME=f"[{d.name}].[{h.name}].[{lv.name}]",
                LEVEL_CAPTION=lv.name,
                LEVEL_NUMBER=i + 1)
            for d in cube.dimensions.values()
            for h in d.hierarchies.values()
            for i, lv in enumerate(h.levels)]


def levels_df(spark: SparkSession, cube: CubeDef) -> DataFrame:
    return spark.createDataFrame(_levels_rows(cube))


def _measures_rows(cube: CubeDef) -> list[Row]:
    return [Row(CUBE_NAME=cube.name,
                MEASURE_NAME=m.name,
                MEASURE_UNIQUE_NAME=m.unique_name,
                MEASURE_CAPTION=m.name,
                MEASURE_AGGREGATOR=m.aggregator.upper(),
                MEASURE_IS_VISIBLE=m.visible)
            for m in cube.measures.values()]


def measures_df(spark: SparkSession, cube: CubeDef) -> DataFrame:
    return spark.createDataFrame(_measures_rows(cube))


def _string_schema(cols: list[str]) -> T.StructType:
    return T.StructType([T.StructField(c, T.StringType()) for c in cols])


_PROPERTIES_SCHEMA = _string_schema([
    "CUBE_NAME", "DIMENSION_UNIQUE_NAME", "LEVEL_UNIQUE_NAME",
    "PROPERTY_NAME", "PROPERTY_CAPTION"])


def _properties_rows(cube: CubeDef) -> list[Row]:
    return [Row(CUBE_NAME=cube.name,
                DIMENSION_UNIQUE_NAME=f"[{d.name}]",
                LEVEL_UNIQUE_NAME=f"[{d.name}].[{h.name}].[{lv.name}]",
                PROPERTY_NAME=f"{anc.name}_CAPTION",
                PROPERTY_CAPTION=anc.name)
            for d in cube.dimensions.values()
            for h in d.hierarchies.values()
            for i, lv in enumerate(h.levels)
            for anc in h.levels[:i]]


def properties_df(spark: SparkSession, cube: CubeDef) -> DataFrame:
    """MDSCHEMA_PROPERTIES (FIXTURES §2; reference consumes it for
    DIMENSION PROPERTIES discovery, backend/actions_runner.py:342):
    ancestor-level member properties per non-root level."""
    rows = _properties_rows(cube)
    if not rows:  # degenerate cube with single-level hierarchies only
        return spark.createDataFrame([], _PROPERTIES_SCHEMA)
    return spark.createDataFrame(rows)


def _functions_rows() -> list[Row]:
    from .mdx import _SET_WRAPPERS

    rows = [(f, "set function (rows-axis wrapper)", "(Set, ...)",
             "Set") for f in sorted(_SET_WRAPPERS)]
    rows += [
        ("CROSSJOIN", "set function (axis composition)",
         "(Set, Set)", "Set"),
        ("DESCENDANTS", "set function (member tree)",
         "(Member|Set, Level|Distance)", "Set"),
        ("ANCESTOR", "member function (member tree)",
         "(Member, Level)", "Member"),
        ("UNION", "set algebra (member-literal sets)",
         "(Set, Set)", "Set"),
        ("EXCEPT", "set algebra (member-literal sets)",
         "(Set, Set)", "Set"),
        ("INTERSECT", "set algebra (member-literal sets)",
         "(Set, Set)", "Set"),
        ("SUM", "numeric (set aggregation; additive bases)",
         "(Set|YTD|LASTPERIODS, Expression)", "Scalar"),
        ("AGGREGATE", "numeric (base measure's own aggregator)",
         "(Set, Expression)", "Scalar"),
        ("MEDIAN", "numeric (order statistic over per-member values)",
         "(Set, Expression)", "Scalar"),
        ("MIN", "numeric (order statistic over per-member values)",
         "(Set, Expression)", "Scalar"),
        ("MAX", "numeric (order statistic over per-member values)",
         "(Set, Expression)", "Scalar"),
        ("RANK", "numeric (position among the axis rows)",
         "(Member.CurrentMember, Expression)", "Scalar"),
        ("YTD", "time intelligence (periods-to-date set)",
         "(Hierarchy[.CurrentMember])", "Set"),
        ("LASTPERIODS", "time intelligence (trailing window set)",
         "(Integer, Hierarchy[.CurrentMember])", "Set"),
        ("PARALLELPERIOD", "time intelligence (lag member)",
         "(Hierarchy, Integer)", "Member"),
    ]
    return [Row(FUNCTION_NAME=n, DESCRIPTION=d, PARAMETER_LIST=p,
                RETURN_TYPE=t, ORIGIN=1) for n, d, p, t in rows]


def mdschema_functions_df(spark: SparkSession) -> DataFrame:
    """$system.MDSCHEMA_FUNCTIONS: the MDX functions this engine
    parses — SSAS clients probe the rowset to light up UI affordances.
    The rows-set wrapper block enumerates ``mdx._SET_WRAPPERS`` (the
    literal dispatch list, so parser and rowset cannot drift); the
    member/value functions are the grammar's remaining fixed surface.
    Static by design — full-oracle checkable like DISCOVER_PROPERTIES."""
    return spark.createDataFrame(_functions_rows())


DMV_BUILDERS = {
    "DBSCHEMA_CATALOGS": "catalogs",
    "MDSCHEMA_CUBES": "cubes",
    "MDSCHEMA_DIMENSIONS": "dimensions",
    "MDSCHEMA_HIERARCHIES": "hierarchies",
    "MDSCHEMA_LEVELS": "levels",
    "MDSCHEMA_MEASURES": "measures",
    "MDSCHEMA_MEMBERS": "members",
    "MDSCHEMA_PROPERTIES": "properties",
    "MDSCHEMA_FUNCTIONS": "functions",
}


# ---- DISCOVER_* server rowsets -------------------------------------------
# The reference's server-discovery scan probes these alongside the schema
# rowsets (scanner/DGIS_SCAN_2_stable.py:256-268; DISCOVER_PROPERTIES at
# :338).  In an embedded engine they are views over the engine's own
# registries: SCHEMA_ROWSETS over DMV_BUILDERS itself, SESSIONS over the
# jobs registry, CONNECTIONS over the SparkSession, PROPERTIES over the
# declared engine defaults.

DISCOVER_ROWSETS = ["DISCOVER_SCHEMA_ROWSETS", "DISCOVER_SESSIONS",
                    "DISCOVER_CONNECTIONS", "DISCOVER_PROPERTIES"]

_ROWSET_DESCRIPTIONS = {
    "DBSCHEMA_CATALOGS": "available catalogs",
    "MDSCHEMA_CUBES": "cubes per catalog",
    "MDSCHEMA_DIMENSIONS": "dimensions of the resolved cube",
    "MDSCHEMA_HIERARCHIES": "hierarchies per dimension",
    "MDSCHEMA_LEVELS": "levels per hierarchy",
    "MDSCHEMA_MEASURES": "measures with aggregator and visibility",
    "MDSCHEMA_MEMBERS": "member enumeration (cached view)",
    "MDSCHEMA_PROPERTIES": "ancestor-caption member properties",
    "MDSCHEMA_FUNCTIONS": "MDX functions the engine parses",
    "DISCOVER_SCHEMA_ROWSETS": "this rowset: every queryable rowset "
                               "with its column list",
    "DISCOVER_SESSIONS": "query jobs known to this engine process",
    "DISCOVER_CONNECTIONS": "the backing Spark session",
    "DISCOVER_PROPERTIES": "engine properties and declared defaults",
}

_SCHEMA_ROWSETS_COLS = ["SCHEMA_NAME", "SCHEMA_COLUMNS", "RESTRICTIONS",
                        "DESCRIPTION"]
_SESSIONS_COLS = ["SESSION_ID", "SESSION_STATUS",
                  "SESSION_CURRENT_DATABASE", "SESSION_LAST_COMMAND",
                  "SESSION_START_TIME", "SESSION_LAST_UPDATE_TIME"]
_SESSIONS_SCHEMA = _string_schema(_SESSIONS_COLS)
_CONNECTIONS_COLS = ["CONNECTION_ID", "CONNECTION_USER_NAME",
                     "CONNECTION_HOST_NAME", "CONNECTION_START_TIME"]
_PROPERTIES_COLS = ["PROPERTY_NAME", "PROPERTY_TYPE",
                    "PROPERTY_ACCESS_TYPE", "VALUE", "PROPERTY_DESCRIPTION"]


def _discover_properties_rows() -> list[Row]:
    from . import __version__
    from .query import CARDINALITY_WARN_THRESHOLD

    props = [
        ("ProviderName", "string", "Read", "olap_xtrctr_spark",
         "engine package name"),
        ("ProviderVersion", "string", "Read", __version__,
         "engine package version"),
        ("DataSourceInfo", "string", "Read", "spark",
         "execution backend"),
        ("PreviewLimit", "int", "Read", "20",
         "rows returned by preview-mode query execution (L1)"),
        ("MemberPageSize", "int", "Read", "1000",
         "page size for member listing and DMV results (L2/L4)"),
        ("CardinalityWarnThreshold", "int", "Read",
         str(CARDINALITY_WARN_THRESHOLD),
         "estimated axis cardinality that triggers the N18 warning"),
        ("JobResultLimit", "int", "Read", "10000",
         "max rows persisted per job result envelope"),
        ("MaxRowAxisDimensions", "int", "Read", "3",
         "CROSSJOIN chain depth accepted on the row axis (Q8)"),
    ]
    return [Row(PROPERTY_NAME=n, PROPERTY_TYPE=t, PROPERTY_ACCESS_TYPE=a,
                VALUE=v, PROPERTY_DESCRIPTION=d) for n, t, a, v, d in props]


def discover_properties_df(spark: SparkSession) -> DataFrame:
    """$system.DISCOVER_PROPERTIES: engine identity plus the declared
    operational defaults the reference surfaces through its properties
    discovery (scanner/DGIS_SCAN_2_stable.py:338).  Static by design —
    every row is a documented engine constant, so the rowset is
    full-oracle checkable."""
    return spark.createDataFrame(_discover_properties_rows())


def _schema_rowsets_rows(columns: dict[str, list[str]]) -> list[Row]:
    """One row per rowset; ``columns`` holds the column lists of the
    DMV_BUILDERS rowsets other than MDSCHEMA_FUNCTIONS."""
    cols = {**columns,
            "DISCOVER_SCHEMA_ROWSETS": _SCHEMA_ROWSETS_COLS,
            "DISCOVER_SESSIONS": _SESSIONS_COLS,
            "DISCOVER_CONNECTIONS": _CONNECTIONS_COLS,
            "DISCOVER_PROPERTIES": _PROPERTIES_COLS}
    return [Row(SCHEMA_NAME=name, SCHEMA_COLUMNS=",".join(c),
                RESTRICTIONS=True, DESCRIPTION=_ROWSET_DESCRIPTIONS[name])
            for name, c in sorted(cols.items())]


def discover_schema_rowsets_df(spark: SparkSession, registry: CubeRegistry,
                               cube: CubeDef, sf_dir: str) -> DataFrame:
    """$system.DISCOVER_SCHEMA_ROWSETS: one row per queryable rowset
    with its column list — the view the reference's availability scan
    reconstructs by probing each rowset with ``WHERE 1=0`` and reading
    cursor.description (scanner/DGIS_SCAN_2_stable.py:244-249,292-316).
    Here the engine IS the catalog, so the rowset is a driver-side
    enumeration of DMV_BUILDERS plus the DISCOVER family itself; column
    lists come from the builders' declared schemas (schema analysis
    only — no data job runs)."""
    frames = {
        "DBSCHEMA_CATALOGS": catalogs_df(spark, registry),
        "MDSCHEMA_CUBES": cubes_df(spark, registry),
        "MDSCHEMA_DIMENSIONS": dimensions_df(spark, cube),
        "MDSCHEMA_HIERARCHIES": hierarchies_df(spark, cube),
        "MDSCHEMA_LEVELS": levels_df(spark, cube),
        "MDSCHEMA_MEASURES": measures_df(spark, cube),
        "MDSCHEMA_MEMBERS": members_df(spark, cube, sf_dir),
        "MDSCHEMA_PROPERTIES": properties_df(spark, cube),
    }
    return spark.createDataFrame(_schema_rowsets_rows(
        {name: df.columns for name, df in frames.items()}))


def _sessions_rows(jobs) -> list[tuple]:
    if jobs is None:
        return []
    return [(j["id"], j["status"], j["catalog_code"], j["mdx_query"],
             j["created_at"], j["updated_at"])
            for j in jobs.list(limit=1000)]


def discover_sessions_df(spark: SparkSession, jobs=None) -> DataFrame:
    """$system.DISCOVER_SESSIONS: the jobs registry projected to the
    session-rowset shape the reference scans.  Dynamic by nature (ids
    and timings differ per process), so graded by tests rather than a
    value oracle."""
    return spark.createDataFrame(_sessions_rows(jobs), _SESSIONS_SCHEMA)


def _connections_rows(spark: SparkSession) -> list[Row]:
    sc = spark.sparkContext
    import datetime as _dt
    start = _dt.datetime.fromtimestamp(sc.startTime / 1000.0) \
        .isoformat(sep=" ", timespec="seconds")
    return [Row(CONNECTION_ID=sc.applicationId,
                CONNECTION_USER_NAME=sc.sparkUser(),
                CONNECTION_HOST_NAME=sc.master,
                CONNECTION_START_TIME=start)]


def discover_connections_df(spark: SparkSession) -> DataFrame:
    """$system.DISCOVER_CONNECTIONS: one row — the embedded engine's
    single 'connection' is its SparkSession."""
    return spark.createDataFrame(_connections_rows(spark))


# ---- DMV views -------------------------------------------------------------

def _local_df(spark: SparkSession, rows: list,
              schema: T.StructType | None = None) -> DataFrame:
    """``rows`` as a driver-local relation: Python rows → Arrow →
    ``LocalRelation``, with the schema ``createDataFrame(rows)`` infers
    when none is given.  Building it runs no Spark job, and a scan,
    filter or limit over it collects on the driver without one, where
    a plain ``createDataFrame(rows)`` is a Python RDD whose every
    collect is a job that queues behind whatever else the session
    runs."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if schema is None:
        schema = spark._inferSchemaFromList(rows)
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                 schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def _build_dmv_views(spark: SparkSession, registry: CubeRegistry,
                     cube: CubeDef, sf_dir: str, prefix: str) -> None:
    """Register every rowset but DISCOVER_SESSIONS under ``prefix``."""
    frames = {
        "DBSCHEMA_CATALOGS": _local_df(spark, catalog_rows(registry)),
        "MDSCHEMA_CUBES": _local_df(spark, _cubes_rows(registry)),
        "MDSCHEMA_DIMENSIONS": _local_df(spark, _dimensions_rows(cube)),
        "MDSCHEMA_HIERARCHIES": _local_df(spark, _hierarchies_rows(cube)),
        "MDSCHEMA_LEVELS": _local_df(spark, _levels_rows(cube)),
        "MDSCHEMA_MEASURES": _local_df(spark, _measures_rows(cube)),
        "MDSCHEMA_PROPERTIES": _local_df(spark, _properties_rows(cube),
                                         _PROPERTIES_SCHEMA),
        "MDSCHEMA_MEMBERS": members_df(spark, cube, sf_dir),
    }
    columns = {name: df.columns for name, df in frames.items()}
    frames.update({
        "MDSCHEMA_FUNCTIONS": _local_df(spark, _functions_rows()),
        "DISCOVER_SCHEMA_ROWSETS": _local_df(spark,
                                             _schema_rowsets_rows(columns)),
        "DISCOVER_CONNECTIONS": _local_df(spark, _connections_rows(spark)),
        "DISCOVER_PROPERTIES": _local_df(spark, _discover_properties_rows()),
    })
    for name, df in frames.items():
        df.createOrReplaceTempView(f"{prefix}_{name}")


def _dmv_key(registry: CubeRegistry, cube: CubeDef, sf_dir: str) -> tuple:
    """Everything the rowsets other than DISCOVER_SESSIONS derive from."""
    return (sf_dir, cube.name, _cube_fingerprint(cube),
            tuple((m.name, m.unique_name, m.aggregator, m.visible)
                  for m in cube.measures.values()),
            tuple((c.catalog, c.name) for c in registry._cubes.values()))


# (session, prefix) -> (_dmv_key, DISCOVER_SESSIONS rows) of the views
# registered under that prefix
_DMV_VIEWS: dict[tuple[SparkSession, str], tuple[tuple, list]] = {}
_DMV_LOCK = threading.Lock()


def register_dmv_views(spark: SparkSession, registry: CubeRegistry,
                       cube: CubeDef, sf_dir: str,
                       prefix: str = "system",
                       jobs=None) -> None:
    """Expose the DMV rowsets as temp views named ``<prefix>_<ROWSET>``
    so the DMV SQL front-end (M2-M5) can scan them.  Catalog-scoped
    callers pass a per-cube prefix so CONCURRENT requests against
    different catalogs never overwrite each other's shared view names
    (temp views are session-global and the HTTP server is threaded).
    ``jobs``: the JobRegistry backing DISCOVER_SESSIONS (empty rowset
    when omitted).

    The views are built once per cube structure: while the session,
    prefix, ``sf_dir``, cube structure and measures and the registry's
    cubes match the last build under ``prefix``, a call only refreshes
    DISCOVER_SESSIONS, and only when the jobs it lists changed.  Every
    rowset but MDSCHEMA_MEMBERS is a driver-local relation, so neither
    building nor scanning it runs a Spark job.  One lock covers the
    check and the build, so concurrent requests neither build twice
    nor replace views another request is registering."""
    key = _dmv_key(registry, cube, sf_dir)
    with _DMV_LOCK:
        built, sessions = _DMV_VIEWS.get((spark, prefix), (None, None))
        if built != key:
            _build_dmv_views(spark, registry, cube, sf_dir, prefix)
            sessions = None
        rows = _sessions_rows(jobs)
        if rows != sessions:
            _local_df(spark, rows, _SESSIONS_SCHEMA) \
                .createOrReplaceTempView(f"{prefix}_DISCOVER_SESSIONS")
        _DMV_VIEWS[(spark, prefix)] = (key, rows)
