"""Cube registry: the virtual-cube-over-DataFrames data model.

A ``CubeDef`` plays the role SSAS plays for the reference
(SURVEY.md §1.4): fact table + dimension views + hierarchies
(ordered level lists) + declared measures with aggregators
(MEASURE_AGGREGATOR semantics, reference backend/olap_service.py:110).

Scale design notes
------------------
* Dimensions are *views* (lazy DataFrames), grouped by physical view
  name so that two logical dimensions backed by the same join chain
  (e.g. customer-geography and order-attributes both riding the
  ``orders`` bridge) cost ONE fact join, not two.
* ``region``/``nation`` are constant-size (5/25 rows at every scale
  factor) → hard ``F.broadcast``.  Spark honours an explicit hint at
  any ``autoBroadcastJoinThreshold``, ``-1`` included, so these two
  stay broadcast even in a session that turns broadcasting off; that
  is the intended policy for tables this small, not an oversight.
  ``customer``/``supplier``/``part``
  grow with SF → left to AQE's runtime broadcast conversion instead of
  a hardcoded hint that would be wrong at 100 TB.
* Degenerate dimensions (time from ``l_shipdate``) are computed columns
  on the fact — no join at all.
"""
from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import load_table

MONTHS_ES = [
    "Enero", "Febrero", "Marzo", "Abril", "Mayo", "Junio",
    "Julio", "Agosto", "Septiembre", "Octubre", "Noviembre", "Diciembre",
]


@dataclass(frozen=True)
class Level:
    name: str          # e.g. "Nation"
    caption_col: str   # column in the dim view holding the member caption
    key_col: str       # column holding the member key (unique within parent)
    out_name: str      # column name used in query output (snake_case)
    ordinal_col: Optional[str] = None  # explicit sort ordinal (months fixture)


@dataclass(frozen=True)
class Hierarchy:
    name: str
    levels: tuple[Level, ...]

    def level_by_name(self, name: str) -> Optional[Level]:
        for lv in self.levels:
            if lv.name == name:
                return lv
        return None

    def level_at_depth(self, depth: int) -> Level:
        """1-based depth (MDX Levels(0) is the All level, SURVEY N2/Q5)."""
        return self.levels[depth - 1]


@dataclass(frozen=True)
class Dimension:
    name: str                      # e.g. "Dim Customer"
    view: Optional[str]            # physical view key; None = degenerate
    fact_key: Optional[str]        # fact column for the join
    view_key: Optional[str]        # view column for the join
    hierarchies: dict[str, Hierarchy] = field(default_factory=dict)
    # view used for MEMBER ENUMERATION (defaults to ``view``): dimensions
    # bridged through a big table (customer-geo rides orders_wide for the
    # fact join) enumerate from the slim dimension-only view instead —
    # members exist even when no fact references them (SSAS semantics),
    # and the enumeration scan shrinks by orders of magnitude.
    members_view: Optional[str] = None
    # for degenerate dimensions (view=None): the raw fact columns the
    # derived levels depend on.  Member enumeration then distincts these
    # cheap raw columns FIRST (map-side combinable on the scan) and runs
    # the derivation on the tiny distinct set, instead of deriving on
    # every fact row — the difference between O(|fact|) and O(|distinct|)
    # derivation work at 100 TB.
    degenerate_source_cols: tuple = ()

    def hierarchy(self, name: str) -> Hierarchy:
        h = self.hierarchies.get(name)
        if h is None:
            # tolerate "[Dim].[Hier]"-style long names
            short = name.split(".")[-1].strip("[]")
            h = self.hierarchies.get(short)
        if h is None:
            raise KeyError(f"unknown hierarchy {name!r} in dimension {self.name!r}")
        return h


@dataclass(frozen=True)
class Measure:
    name: str               # e.g. "Sum Extendedprice"
    aggregator: str         # SUM | COUNT | AVG | MIN | MAX
    source_col: Optional[str]  # None for COUNT(*)
    visible: bool = True
    out_name: str = ""      # output column alias (snake_case)

    def agg_expr(self):
        """SUM/AVG of double columns run through DECIMAL(18,4): exact,
        order-independent arithmetic so results are bit-identical across
        engines and shuffle orders (then cast back to double).  The
        double→decimal rounding is itself deterministic (no double lies
        exactly on a 5e-5 boundary)."""
        agg = self.aggregator.upper()
        name = self.out_name or self.name
        if agg == "COUNT" and self.source_col is None:
            return F.count(F.lit(1)).alias(name)
        col = F.col(self.source_col)
        if agg == "SUM":
            return F.sum(col.cast("decimal(18,4)")).cast("double").alias(name)
        if agg == "AVG":
            return (F.sum(col.cast("decimal(18,4)")).cast("double")
                    / F.count(col)).alias(name)
        if agg == "DISTINCTCOUNT":
            # the SSAS DistinctCount aggregator: exact per-cell
            # distinct keys.  Spark plans it as a two-phase
            # expand/partial-distinct aggregate (map-side dedup before
            # the shuffle), so the cost is bounded by distinct keys
            # per group, not fact rows.
            return F.countDistinct(col).alias(name)
        fn = {"COUNT": F.count, "MIN": F.min, "MAX": F.max}[agg]
        return fn(col).alias(name)

    @property
    def unique_name(self) -> str:
        return f"[Measures].[{self.name}]"

    @property
    def never_null(self) -> bool:
        return self.aggregator.upper() in ("COUNT", "DISTINCTCOUNT")


ViewBuilder = Callable[[SparkSession, str], DataFrame]
Deriver = Callable[[DataFrame], DataFrame]


@dataclass
class CubeDef:
    name: str
    catalog: str
    fact_table: str
    views: dict[str, ViewBuilder]
    dimensions: dict[str, Dimension]
    measures: dict[str, Measure]
    derive: Optional[Deriver] = None      # degenerate-dim column deriver
    default_measure: str = ""
    # Q15 (reference mdxBuilder.ts:20-31): requests written against an older
    # metadata snapshot use stale dimension names; the alias map rewrites
    # them to the current ones during name resolution.
    dimension_aliases: dict = field(default_factory=dict)

    def fact(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load_table(spark, sf_dir, self.fact_table)
        if self.derive is not None:
            df = self.derive(df)
        return df

    def dimension(self, name: str) -> Dimension:
        n = name.strip("[]")
        n = self.dimension_aliases.get(n, n)
        d = self.dimensions.get(name) or self.dimensions.get(n)
        if d is None:
            raise KeyError(f"unknown dimension {name!r} in cube {self.name!r}")
        return d

    def measure(self, name: str) -> Measure:
        n = name.strip("[]")
        if n.startswith("Measures]."):       # "[Measures].[X]" stripped outer
            n = n.split("].[")[-1]
        if n.lower().startswith("measures"):
            n = name.split("].[")[-1].rstrip("]")
        m = self.measures.get(n) or self.measures.get(name)
        if m is None:
            raise KeyError(f"unknown measure {name!r} in cube {self.name!r}")
        return m

    def visible_measures(self) -> list[Measure]:
        return [m for m in self.measures.values() if m.visible]


class CubeRegistry:
    """catalog → cube resolution (SURVEY Q14: first non-'$' cube of the
    catalog, fallback to a cube named like the catalog)."""

    def __init__(self) -> None:
        self._cubes: dict[str, CubeDef] = {}

    def register(self, cube: CubeDef) -> None:
        self._cubes[cube.name] = cube

    def cubes_in_catalog(self, catalog: str) -> list[CubeDef]:
        return [c for c in self._cubes.values() if c.catalog == catalog]

    def resolve(self, catalog: str, cube: Optional[str] = None) -> CubeDef:
        if cube:
            c = self._cubes.get(cube.strip("[]"))
            if c is not None:
                # An explicitly named cube must belong to the requested
                # catalog — silently returning a cube registered under a
                # different catalog would defeat year-scoped semantics.
                if catalog and c.catalog != catalog:
                    raise KeyError(
                        f"cube {cube!r} is registered under catalog "
                        f"{c.catalog!r}, not {catalog!r}")
                return c
        cands = [c for c in self.cubes_in_catalog(catalog)
                 if not c.name.startswith("$")]
        if not cands:
            raise KeyError(f"no cube registered for catalog {catalog!r}")
        for c in cands:  # prefer cube named like the catalog
            if c.name == catalog:
                return c
        return cands[0]


# ---------------------------------------------------------------------------
# The `sales` cube over the driver test star schema (FIXTURES.md §3)
# ---------------------------------------------------------------------------

def _orders_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer ⋈ nation ⋈ region — the bridge view shared by the
    customer-geography and order-attribute dimensions (one fact join)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    geo = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return o.join(geo, o.o_custkey == geo.c_custkey).select(
        F.col("o_orderkey"),
        F.col("r_name").alias("cust_region"),
        F.col("r_regionkey").alias("cust_region_key"),
        F.col("n_name").alias("cust_nation"),
        F.col("n_nationkey").alias("cust_nation_key"),
        F.col("c_name").alias("cust_customer"),
        F.col("c_custkey").alias("cust_customer_key"),
        F.col("c_mktsegment").alias("cust_segment"),
        F.col("o_orderstatus").alias("order_estado"),
        F.col("o_orderpriority").alias("order_prioridad"),
    )


def _customer_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ nation ⋈ region — member-enumeration view for the
    customer dimensions (no orders bridge: 10x smaller scan, and members
    with zero orders still exist)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
         .select(
             F.col("r_name").alias("cust_region"),
             F.col("r_regionkey").alias("cust_region_key"),
             F.col("n_name").alias("cust_nation"),
             F.col("n_nationkey").alias("cust_nation_key"),
             F.col("c_name").alias("cust_customer"),
             F.col("c_custkey").alias("cust_customer_key"),
             F.col("c_mktsegment").alias("cust_segment"),
         )
    )


def _orders_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection of orders for enumerating the order-attribute members."""
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("order_estado"),
        F.col("o_orderpriority").alias("order_prioridad"),
    )


def _supplier_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
         .select(
             F.col("s_suppkey"),
             F.col("r_name").alias("supp_region"),
             F.col("r_regionkey").alias("supp_region_key"),
             F.col("n_name").alias("supp_nation"),
             F.col("n_nationkey").alias("supp_nation_key"),
             F.col("s_name").alias("supp_supplier"),
             F.col("s_suppkey").alias("supp_supplier_key"),
         )
    )


def _part_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        F.col("p_partkey"),
        F.col("p_brand").alias("prod_brand"),
        F.col("p_type").alias("prod_tipo"),
        F.col("p_name").alias("prod_part"),
        F.col("p_partkey").alias("prod_part_key"),
    )


def _derive_time(fact: DataFrame) -> DataFrame:
    """Degenerate time dimension: Año > Mes from l_shipdate, Spanish month
    captions (the month-ordinal sort fixture, FIXTURES.md §1)."""
    months = F.array(*[F.lit(m) for m in MONTHS_ES])
    return (
        fact.withColumn("anio", F.year("l_shipdate"))
            .withColumn("mes_num", F.month("l_shipdate"))
            .withColumn("mes", F.element_at(months, F.col("mes_num")))
    )


def sales_cube(catalog: str = "VENTAS_2025", name: str = "sales",
               fact_filter: Optional[Deriver] = None) -> CubeDef:
    """The sales cube over the test star schema.  ``fact_filter`` runs
    after the time-derivation (so it can reference ``anio``/``mes``) and
    models a year-scoped catalog — the reference's one-catalog-per-year
    layout (README catalog list, docs/request id test 002 action.txt)."""
    geo_cust = Hierarchy("Geografía", (
        Level("Region", "cust_region", "cust_region_key", "region"),
        Level("Nation", "cust_nation", "cust_nation_key", "nation"),
        Level("Customer", "cust_customer", "cust_customer_key", "customer"),
    ))
    seg = Hierarchy("Segmento", (
        Level("Segmento", "cust_segment", "cust_segment", "segmento"),
    ))
    geo_supp = Hierarchy("Geografía Proveedor", (
        Level("Region", "supp_region", "supp_region_key", "supp_region"),
        Level("Nation", "supp_nation", "supp_nation_key", "supp_nation"),
        Level("Supplier", "supp_supplier", "supp_supplier_key", "supplier"),
    ))
    producto = Hierarchy("Producto", (
        Level("Brand", "prod_brand", "prod_brand", "brand"),
        Level("Tipo", "prod_tipo", "prod_tipo", "tipo"),
        Level("Part", "prod_part", "prod_part_key", "part"),
    ))
    apartado_var = Hierarchy("Apartado y Variable", (
        Level("Apartado", "prod_brand", "prod_brand", "apartado"),
        Level("Variable", "prod_part", "prod_part_key", "variable"),
    ))
    calendario = Hierarchy("Calendario", (
        Level("Año", "anio", "anio", "anio"),
        Level("Mes", "mes", "mes_num", "mes", ordinal_col="mes_num"),
    ))
    estado = Hierarchy("Estado", (
        Level("Estado", "order_estado", "order_estado", "estado"),
    ))
    prioridad = Hierarchy("Prioridad", (
        Level("Prioridad", "order_prioridad", "order_prioridad", "prioridad"),
    ))

    dims = {
        "Dim Customer": Dimension(
            "Dim Customer", "orders_wide", "l_orderkey", "o_orderkey",
            {"Geografía": geo_cust, "Segmento": seg},
            members_view="customer_geo"),
        "Dim Proveedor": Dimension(
            "Dim Proveedor", "supplier_geo", "l_suppkey", "s_suppkey",
            {"Geografía Proveedor": geo_supp}),
        "Dim Producto": Dimension(
            "Dim Producto", "part_view", "l_partkey", "p_partkey",
            {"Producto": producto}),
        "DIM VARIABLES2025": Dimension(
            "DIM VARIABLES2025", "part_view", "l_partkey", "p_partkey",
            {"Apartado y Variable": apartado_var}),
        "D Tiempo": Dimension(
            "D Tiempo", None, None, None, {"Calendario": calendario},
            degenerate_source_cols=("l_shipdate",)),
        "Dim Orders": Dimension(
            "Dim Orders", "orders_wide", "l_orderkey", "o_orderkey",
            {"Estado": estado, "Prioridad": prioridad},
            members_view="orders_dim"),
    }

    measures = {
        "Sum Extendedprice": Measure(
            "Sum Extendedprice", "SUM", "l_extendedprice",
            out_name="sum_extendedprice"),
        "Total Registros": Measure(
            "Total Registros", "COUNT", None, out_name="total_registros"),
        "Sum Quantity": Measure(
            "Sum Quantity", "SUM", "l_quantity", out_name="sum_quantity"),
        "Avg Discount": Measure(
            "Avg Discount", "AVG", "l_discount", out_name="avg_discount"),
        "Sum Tax": Measure(  # invisible fixture (MEASURE_IS_VISIBLE=false)
            "Sum Tax", "SUM", "l_tax", visible=False, out_name="sum_tax"),
        # round 9: the SSAS DistinctCount aggregator — distinct order
        # keys contributing to each cell (a fact-local key, so no
        # measure-driven dimension join is ever needed)
        "Distinct Orders": Measure(
            "Distinct Orders", "DISTINCTCOUNT", "l_orderkey",
            out_name="distinct_orders"),
    }

    deriver: Deriver = _derive_time
    if fact_filter is not None:
        base_filter = fact_filter
        deriver = lambda df: base_filter(_derive_time(df))  # noqa: E731

    return CubeDef(
        name=name,
        catalog=catalog,
        fact_table="lineitem",
        views={
            "orders_wide": _orders_wide,
            "supplier_geo": _supplier_geo,
            "part_view": _part_view,
            "customer_geo": _customer_geo,
            "orders_dim": _orders_dim,
        },
        dimensions=dims,
        measures=measures,
        derive=deriver,
        default_measure="Total Registros",
        # stale-snapshot names accepted for requests built against an older
        # catalog year (Q15 parity fixture)
        dimension_aliases={"DIM VARIABLES": "DIM VARIABLES2025"},
    )


def default_registry() -> CubeRegistry:
    """The default catalog layout mirrors the reference's: one main cube
    per catalog plus a '$'-prefixed internal dimension cube that
    main-cube detection must skip (M8, backend/actions_runner.py:101-102,
    324-328).  The internal cube reuses the sales structure — only its
    name matters to the resolution rule."""
    reg = CubeRegistry()
    reg.register(sales_cube())
    internal = sales_cube()
    internal.name = "$Dim Customer"
    reg.register(internal)
    # second catalog: the same star scoped to years <= 1998 (the
    # reference's one-catalog-per-year model)
    reg.register(sales_cube(
        catalog="VENTAS_1998", name="ventas1998",
        fact_filter=lambda df: df.filter(F.col("anio") <= 1998)))
    return reg
