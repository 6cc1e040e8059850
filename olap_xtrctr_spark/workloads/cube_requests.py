"""Cube workload entries built as structured ``QueryRequest`` objects
(axes, slicers, filters, ordering, catalogs) rather than MDX text, each
against a DuckDB oracle over the reference views (SURVEY §2.4-§2.5).
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..oracle import view_cte
from ..query import AxisItem, FilterSpec, QueryRequest
from ..workload_shared import (AVG_D, CATALOG, MES_CASE, SUM_D, _FACT_OW, _OW,
                               _OW_PART, _SUPP, _eng)


def register(add) -> None:
    # ================= cube queries (SURVEY §2.4/§2.5) ====================

    add("cube_nation_sales",
        lambda spark, sf: _eng(spark, sf).execute(QueryRequest(
            CATALOG,
            measures=["Sum Extendedprice", "Total Registros", "Sum Quantity"],
            rows=[AxisItem("Dim Customer", "Geografía", level="Nation")])),
        f"""WITH {_OW}
        SELECT cust_nation AS nation,
               {SUM_D('l_extendedprice')} AS sum_extendedprice,
               COUNT(*) AS total_registros,
               {SUM_D('l_quantity')} AS sum_quantity
        FROM {_FACT_OW}
        GROUP BY cust_nation""")

    add("cube_region_priority_crossjoin",
        lambda spark, sf: _eng(spark, sf).execute(QueryRequest(
            CATALOG, measures=["Sum Extendedprice"],
            rows=[AxisItem("Dim Customer", "Geografía", level="Region"),
                  AxisItem("Dim Orders", "Prioridad", level="Prioridad")])),
        f"""WITH {_OW}
        SELECT cust_region AS region, order_prioridad AS prioridad,
               {SUM_D('l_extendedprice')} AS sum_extendedprice
        FROM {_FACT_OW}
        GROUP BY 1, 2""")

    add("cube_member_literal_rows",
        lambda spark, sf: _eng(spark, sf).execute(QueryRequest(
            CATALOG, measures=["Sum Quantity"],
            rows=[AxisItem("Dim Customer", "Geografía", members=[
                "[Dim Customer].[Geografía].[Region].&[0]",
                "[Dim Customer].[Geografía].[Region].&[2]"])])),
        f"""WITH {_OW}
        SELECT cust_region AS region, {SUM_D('l_quantity')} AS sum_quantity
        FROM {_FACT_OW}
        WHERE cust_region_key IN (0, 2)
        GROUP BY 1""")

    add("cube_slicer_where_tuple",
        lambda spark, sf: _eng(spark, sf).execute(QueryRequest(
            CATALOG, measures=["Sum Extendedprice", "Total Registros"],
            rows=[AxisItem("Dim Producto", "Producto", level="Brand")],
            slicers=["[Dim Orders].[Estado].[Estado].&[F]"])),
        f"""WITH {_OW_PART}
        SELECT prod_brand AS brand,
               {SUM_D('l_extendedprice')} AS sum_extendedprice,
               COUNT(*) AS total_registros
        FROM {_FACT_OW}
        JOIN part_view ON l_partkey = p_partkey
        WHERE order_estado = 'F'
        GROUP BY 1""")

    add("cube_time_rollup",
        lambda spark, sf: _eng(spark, sf).execute(QueryRequest(
            CATALOG, measures=["Sum Quantity"],
            rows=[AxisItem("D Tiempo", "Calendario", level="Mes",
                           properties=True)])),
        f"""SELECT anio, mes, {SUM_D('l_quantity')} AS sum_quantity
        FROM (SELECT CAST(year(l_shipdate) AS INTEGER) AS anio,
                     {MES_CASE} AS mes,
                     l_quantity
              FROM lineitem)
        GROUP BY 1, 2""")

    add("cube_all_measures_global",
        lambda spark, sf: _eng(spark, sf).execute(QueryRequest(
            CATALOG, all_measures=True)),
        f"""SELECT {SUM_D('l_extendedprice')} AS sum_extendedprice,
               COUNT(*) AS total_registros,
               {SUM_D('l_quantity')} AS sum_quantity,
               {AVG_D('l_discount')} AS avg_discount,
               COUNT(DISTINCT l_orderkey) AS distinct_orders
        FROM lineitem""")

    add("cube_variables_pivot",
        lambda spark, sf: _eng(spark, sf).execute(QueryRequest(
            CATALOG,
            variables=[
                "[DIM VARIABLES2025].[Apartado y Variable].[Apartado].&[Brand#11]",
                "[DIM VARIABLES2025].[Apartado y Variable].[Apartado].&[Brand#12]"],
            rows=[AxisItem("Dim Customer", "Geografía", level="Region")])),
        f"""WITH {_OW_PART}
        SELECT cust_region AS region,
               COUNT(CASE WHEN prod_brand = 'Brand#11' THEN 1 END) AS "Brand#11",
               COUNT(CASE WHEN prod_brand = 'Brand#12' THEN 1 END) AS "Brand#12"
        FROM {_FACT_OW}
        JOIN part_view ON l_partkey = p_partkey
        WHERE prod_brand IN ('Brand#11', 'Brand#12')
        GROUP BY 1""")

    add("cube_empty_preserving_axis",
        lambda spark, sf: _eng(spark, sf).execute(QueryRequest(
            CATALOG, measures=["Sum Extendedprice"], non_empty=False,
            rows=[AxisItem("Dim Orders", "Estado", level="Estado"),
                  AxisItem("D Tiempo", "Calendario", level="Año")]),
            empty_preserving=True),
        f"""WITH {view_cte('orders_wide', 'time_view')},
        ax1 AS (SELECT DISTINCT order_estado AS estado FROM orders_wide),
        ax2 AS (SELECT DISTINCT anio FROM time_view),
        agg AS (
          SELECT order_estado AS estado,
                 CAST(year(l_shipdate) AS INTEGER) AS anio,
                 {SUM_D('l_extendedprice')} AS sum_extendedprice
          FROM {_FACT_OW}
          GROUP BY 1, 2)
        SELECT ax1.estado, ax2.anio, agg.sum_extendedprice
        FROM ax1 CROSS JOIN ax2
        LEFT JOIN agg ON agg.estado = ax1.estado AND agg.anio = ax2.anio""")

    add("cube_dimension_properties",
        lambda spark, sf: _eng(spark, sf).execute(QueryRequest(
            CATALOG, measures=["Total Registros"],
            rows=[AxisItem("Dim Customer", "Geografía", level="Nation",
                           properties=True)])),
        f"""WITH {_OW}
        SELECT cust_region AS region, cust_nation AS nation,
               COUNT(*) AS total_registros
        FROM {_FACT_OW}
        GROUP BY 1, 2""")

    add("cube_supplier_nation",
        lambda spark, sf: _eng(spark, sf).execute(QueryRequest(
            CATALOG, measures=["Sum Extendedprice", "Avg Discount"],
            rows=[AxisItem("Dim Proveedor", "Geografía Proveedor",
                           level="Nation")])),
        f"""WITH {_SUPP}
        SELECT supp_nation,
               {SUM_D('l_extendedprice')} AS sum_extendedprice,
               {AVG_D('l_discount')} AS avg_discount
        FROM lineitem JOIN supplier_geo ON l_suppkey = s_suppkey
        GROUP BY 1""")

    add("cube_3dim_crossjoin",
        lambda spark, sf: _eng(spark, sf).execute(QueryRequest(
            CATALOG, measures=["Sum Quantity"],
            rows=[AxisItem("Dim Customer", "Geografía", level="Region"),
                  AxisItem("Dim Orders", "Estado", level="Estado"),
                  AxisItem("D Tiempo", "Calendario", level="Año")])),
        f"""WITH {_OW}
        SELECT cust_region AS region, order_estado AS estado,
               CAST(year(l_shipdate) AS INTEGER) AS anio,
               {SUM_D('l_quantity')} AS sum_quantity
        FROM {_FACT_OW}
        GROUP BY 1, 2, 3""")

    add("cube_filter_set",
        lambda spark, sf: _eng(spark, sf).execute(QueryRequest(
            CATALOG, measures=["Total Registros"],
            rows=[AxisItem("Dim Customer", "Segmento", level="Segmento")],
            filters=[FilterSpec("Dim Producto", "Producto", members=[
                "[Dim Producto].[Producto].[Brand].&[Brand#21]",
                "[Dim Producto].[Producto].[Brand].&[Brand#22]"])])),
        f"""WITH {_OW_PART}
        SELECT cust_segment AS segmento, COUNT(*) AS total_registros
        FROM {_FACT_OW}
        JOIN part_view ON l_partkey = p_partkey
        WHERE prod_brand IN ('Brand#21', 'Brand#22')
        GROUP BY 1""")

    # multi-catalog resolution: the year-scoped VENTAS_1998 catalog routes
    # to its own cube whose fact is filtered to anio <= 1998 (Q14 + the
    # reference's one-catalog-per-year layout)
    add("cube_catalog_1998_nation",
        lambda spark, sf: _eng(spark, sf).execute(QueryRequest(
            "VENTAS_1998", measures=["Total Registros", "Sum Quantity"],
            rows=[AxisItem("Dim Customer", "Geografía", level="Nation")])),
        f"""WITH {_OW}
        SELECT cust_nation AS nation,
               COUNT(*) AS total_registros,
               {SUM_D('l_quantity')} AS sum_quantity
        FROM {_FACT_OW}
        WHERE year(l_shipdate) <= 1998
        GROUP BY cust_nation""")

    # ---- ORDER by a measure NOT on the columns axis ----------
    # Exercises the ADVICE-r6 resolution path: the ORDER key (Sum
    # Quantity) must be aggregated as an extra base and projected away,
    # leaving only the selected measure.  The driver compare is
    # order-insensitive, so the oracle checks the row SET + values;
    # ordering itself is pinned by t:test_order_by_unselected_measure.
    add("cube_order_by_unselected_measure",
        lambda spark, sf: _eng(spark, sf).execute(QueryRequest(
            CATALOG, measures=["Sum Extendedprice"],
            rows=[AxisItem("Dim Customer", "Geografía", level="Nation")],
            order_by=("Sum Quantity", True))),
        f"""WITH {_OW}
        SELECT cust_nation AS nation,
               {SUM_D('l_extendedprice')} AS sum_extendedprice
        FROM {_FACT_OW}
        GROUP BY cust_nation""")

    # OLAP subtotal rows via Spark rollup(): every aggregation level of
    # the geography hierarchy in ONE pass (grouping-sets shuffle), the
    # same machinery the members-cache build uses — exposed as a query
    def cube_rollup(spark, sf):
        from ..cube import sales_cube
        cube = sales_cube()
        fact = cube.fact(spark, sf)
        ow = cube.views["orders_wide"](spark, sf)
        j = fact.join(ow, F.col("l_orderkey") == F.col("o_orderkey"))
        return (j.rollup("cust_region", "cust_nation")
                .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
                     .cast("double").alias("sum_extendedprice"),
                     F.count(F.lit(1)).alias("n_rows"))
                .select(F.coalesce("cust_region", F.lit("All"))
                        .alias("region"),
                        F.coalesce("cust_nation", F.lit("All"))
                        .alias("nation"),
                        "sum_extendedprice", "n_rows"))

    add("cube_rollup_subtotals", cube_rollup,
        f"""WITH {_OW}
        SELECT coalesce(cust_region, 'All') AS region,
               coalesce(cust_nation, 'All') AS nation,
               {SUM_D('l_extendedprice')} AS sum_extendedprice,
               COUNT(*) AS n_rows
        FROM {_FACT_OW}
        GROUP BY ROLLUP (cust_region, cust_nation)""")

    # ratio-to-parent: each nation's revenue share of its region in
    # exact integer milli-units (the classic percent-of-parent report)
    add("cube_nation_share_of_region",
        lambda spark, sf: (
            _eng(spark, sf).execute(QueryRequest(
                CATALOG, measures=["Sum Extendedprice"],
                rows=[AxisItem("Dim Customer", "Geografía", level="Nation",
                               properties=True)]))
            .withColumn("region_total",
                        F.sum("sum_extendedprice").over(
                            Window.partitionBy("region")))
            .withColumn("share_milli",
                        F.floor(F.col("sum_extendedprice") * 1000
                                / F.col("region_total")).cast("bigint"))
            .select("region", "nation",
                    F.round("sum_extendedprice", 4)
                     .alias("sum_extendedprice"),
                    F.round("region_total", 4).alias("region_total"),
                    "share_milli")),
        f"""WITH {_OW},
        n AS (
          SELECT cust_region AS region, cust_nation AS nation,
                 {SUM_D('l_extendedprice')} AS sum_extendedprice
          FROM {_FACT_OW}
          GROUP BY 1, 2)
        SELECT region, nation,
               ROUND(sum_extendedprice, 4) AS sum_extendedprice,
               ROUND(SUM(sum_extendedprice) OVER (PARTITION BY region), 4)
                 AS region_total,
               CAST(FLOOR(sum_extendedprice * 1000
                    / SUM(sum_extendedprice) OVER (PARTITION BY region))
                 AS BIGINT) AS share_milli
        FROM n""")
