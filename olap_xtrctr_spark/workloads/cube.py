"""Cube / MDX workload entries: MDX strings parsed and run through the
cube engine, each against a DuckDB oracle over the reference views
(SURVEY §2.4-§2.5).  The cube entries built as ``QueryRequest`` objects
live in ``cube_requests``.

Every entry calls the module-global ``parse_mdx``, so a tracer can wrap
MDX parsing in one place.
"""
from __future__ import annotations

from ..mdx import parse_mdx
from ..workload_shared import (AVG_D, CATALOG, MES_CASE, SUM_D, _FACT_OW, _OW,
                               _eng)


_REGION_SET = ("{ [Dim Customer].[Geografía].[Region].&[0], "
               "[Dim Customer].[Geografía].[Region].&[1], "
               "[Dim Customer].[Geografía].[Region].&[2], "
               "[Dim Customer].[Geografía].[Region].&[3], "
               "[Dim Customer].[Geografía].[Region].&[4] }")


def register(add) -> None:
    # the Q13 full-MDX form: named DIMENSION PROPERTIES list resolved to
    # the specific ancestor level (reference scanner emits
    # [Dim].[Hier].[Level] per superior level)
    add("cube_mdx_named_properties",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "SELECT {[Measures].[Total Registros]} ON COLUMNS, "
            "NON EMPTY [Dim Customer].[Geografía].[Nation].MEMBERS "
            "DIMENSION PROPERTIES [Dim Customer].[Geografía].[Region] "
            "ON ROWS FROM [sales]", CATALOG)),
        f"""WITH {_OW}
        SELECT cust_region AS region, cust_nation AS nation,
               COUNT(*) AS total_registros
        FROM {_FACT_OW}
        GROUP BY 1, 2""")

    # ---- MDX extensions beyond the reference's emitted subset --------
    # WITH MEMBER calculated measure: post-aggregation arithmetic with
    # SSAS-like safe divide (NULL on zero denominator), through the
    # full parser (query.parse_measure_expr — recursive descent, no
    # eval).  Exact: both engines divide the identical decimal-exact
    # sums, so the double quotients are bit-equal.
    add("cube_calc_measure_avg_price",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "WITH MEMBER [Measures].[Avg Price] AS "
            "[Measures].[Sum Extendedprice] / [Measures].[Sum Quantity] "
            "SELECT { [Measures].[Avg Price], [Measures].[Sum Quantity] } "
            "ON COLUMNS, NON EMPTY [Dim Customer].[Geografía].[Nation]"
            ".MEMBERS ON ROWS FROM [sales]", CATALOG)),
        f"""WITH {_OW}
        SELECT cust_nation AS nation,
               {SUM_D('l_extendedprice')}
                 / NULLIF({SUM_D('l_quantity')}, 0) AS avg_price,
               {SUM_D('l_quantity')} AS sum_quantity
        FROM {_FACT_OW}
        GROUP BY 1""")

    # TOPCOUNT(set, n, measure): post-aggregation top-k, ties broken on
    # the group columns so the selection is engine-deterministic
    add("cube_topcount_nations",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "SELECT { [Measures].[Sum Quantity] } ON COLUMNS, "
            "NON EMPTY TOPCOUNT([Dim Customer].[Geografía].[Nation]"
            ".MEMBERS, 5, [Measures].[Sum Quantity]) ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH {_OW}, agg AS (
          SELECT cust_nation AS nation,
                 {SUM_D('l_quantity')} AS sum_quantity
          FROM {_FACT_OW}
          GROUP BY 1)
        SELECT nation, sum_quantity FROM agg
        ORDER BY sum_quantity DESC NULLS LAST, nation LIMIT 5""")

    add("cube_bottomcount_nations",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "SELECT { [Measures].[Sum Quantity] } ON COLUMNS, "
            "NON EMPTY BOTTOMCOUNT([Dim Customer].[Geografía].[Nation]"
            ".MEMBERS, 5, [Measures].[Sum Quantity]) ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH {_OW}, agg AS (
          SELECT cust_nation AS nation,
                 {SUM_D('l_quantity')} AS sum_quantity
          FROM {_FACT_OW}
          GROUP BY 1)
        SELECT nation, sum_quantity FROM agg
        ORDER BY sum_quantity ASC NULLS LAST, nation LIMIT 5""")

    # FILTER(set, condition): a measure predicate over the aggregated
    # axis (HAVING), referencing a measure that is NOT in the output
    add("cube_filter_measure_condition",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "SELECT { [Measures].[Sum Extendedprice] } ON COLUMNS, "
            "NON EMPTY FILTER([Dim Customer].[Geografía].[Nation]"
            ".MEMBERS, [Measures].[Sum Quantity] > 65000) ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH {_OW}
        SELECT cust_nation AS nation,
               {SUM_D('l_extendedprice')} AS sum_extendedprice
        FROM {_FACT_OW}
        GROUP BY 1
        HAVING {SUM_D('l_quantity')} > 65000""")

    # ---- HEAD / TAIL set functions ---------------------------
    # HEAD without ORDER keeps the first n rows of the canonical
    # group-column ascending order (MDX's natural member order).
    add("cube_head_nations",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "SELECT { [Measures].[Sum Quantity] } ON COLUMNS, "
            "NON EMPTY HEAD([Dim Customer].[Geografía].[Nation]"
            ".MEMBERS, 7) ON ROWS FROM [sales]", CATALOG)),
        f"""WITH {_OW}, agg AS (
          SELECT cust_nation AS nation,
                 {SUM_D('l_quantity')} AS sum_quantity
          FROM {_FACT_OW}
          GROUP BY 1)
        SELECT nation, sum_quantity FROM agg
        ORDER BY nation LIMIT 7""")

    # TAIL composed over ORDER: the last 5 of the descending measure
    # order == the 5 smallest (reversed key, ties on nation reversed);
    # the driver compare is order-insensitive, so the oracle pins the
    # row SET — forward-order restoration is pinned by t:test_head_tail.
    add("cube_tail_ordered_nations",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "SELECT { [Measures].[Sum Quantity] } ON COLUMNS, "
            "NON EMPTY TAIL(ORDER([Dim Customer].[Geografía].[Nation]"
            ".MEMBERS, [Measures].[Sum Quantity], DESC), 5) ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH {_OW}, agg AS (
          SELECT cust_nation AS nation,
                 {SUM_D('l_quantity')} AS sum_quantity
          FROM {_FACT_OW}
          GROUP BY 1)
        SELECT nation, sum_quantity FROM agg
        ORDER BY sum_quantity ASC, nation DESC LIMIT 5""")

    # ---- member-tree navigation in-query
    # DESCENDANTS(member, level): the members at `level` under the
    # named member — the parent→children walk the reference scanner
    # does in pandas (scanner/DGIS_SCAN_2_stable.py:1041-1049),
    # lowered to a grouping at the target level constrained by the
    # member's key-path prefix (parquet-pushdown-able).  Parsed from
    # MDX so the parse → engine → build_mdx round-trip is the thing
    # driver-graded.
    add("cube_descendants_region_nations",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "SELECT { [Measures].[Sum Extendedprice], "
            "[Measures].[Total Registros] } ON COLUMNS, "
            "DESCENDANTS([Dim Customer].[Geografía].[Region].&[2], "
            "[Dim Customer].[Geografía].[Nation]) ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH {_OW}
        SELECT cust_nation AS nation,
               {SUM_D('l_extendedprice')} AS sum_extendedprice,
               COUNT(*) AS total_registros
        FROM {_FACT_OW}
        WHERE cust_region_key = 2
        GROUP BY 1""")

    # ANCESTOR(member, level): the single member at the shallower
    # level on the member's unique-name path; its cell is the FULL
    # rollup of the ancestor (all of region 2, not just nation 2) —
    # the SSAS cell semantics the scanner reproduces by re-querying
    # the parent.
    add("cube_ancestor_region_rollup",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "SELECT { [Measures].[Sum Quantity], "
            "[Measures].[Total Registros] } ON COLUMNS, "
            "ANCESTOR([Dim Customer].[Geografía].[Nation].&[2].&[2], "
            "[Dim Customer].[Geografía].[Region]) ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH {_OW}
        SELECT cust_region AS region,
               {SUM_D('l_quantity')} AS sum_quantity,
               COUNT(*) AS total_registros
        FROM {_FACT_OW}
        WHERE cust_region_key = 2
        GROUP BY 1""")

    # .CHILDREN sugar (== DESCENDANTS distance 1): semantics as
    # cube_descendants_region_nations; execution equivalence pinned in
    # tests/test_mdx.py.
    add("cube_children_of_region",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "SELECT { [Measures].[Sum Quantity] } ON COLUMNS, "
            "[Dim Customer].[Geografía].[Region].&[0].CHILDREN ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH {_OW}
        SELECT cust_nation AS nation,
               {SUM_D('l_quantity')} AS sum_quantity
        FROM {_FACT_OW}
        WHERE cust_region_key = 0
        GROUP BY 1""")

    # PrevMember time intelligence: the SSAS
    # period-over-period pattern — WITH MEMBER ... AS [Measures].[X] -
    # ([Measures].[X], <hier>.PrevMember) — realized as one lag()
    # window over the materialized axis rows, ordered by the level's
    # ORDINAL (months lag chronologically, not alphabetically; see
    # query.LagRef).  Cost is bounded by axis cardinality, never fact
    # rows.  First period reports NULL (SSAS's empty cell).
    add("cube_month_delta",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "WITH MEMBER [Measures].[Qty Delta] AS "
            "[Measures].[Sum Quantity] - "
            "([Measures].[Sum Quantity], [D Tiempo].[Calendario]"
            ".PrevMember) "
            "SELECT { [Measures].[Sum Quantity], [Measures].[Qty Delta] } "
            "ON COLUMNS, [D Tiempo].[Calendario].[Mes].MEMBERS "
            "DIMENSION PROPERTIES MEMBER_CAPTION ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH m AS (
          SELECT CAST(year(l_shipdate) AS INTEGER) AS anio,
                 {MES_CASE} AS mes,
                 month(l_shipdate) AS mn, l_quantity
          FROM lineitem),
        a AS (
          SELECT anio, mes, mn, {SUM_D('l_quantity')} AS sum_quantity
          FROM m GROUP BY 1, 2, 3)
        SELECT anio, mes, sum_quantity,
               sum_quantity - LAG(sum_quantity)
                 OVER (ORDER BY anio, mn) AS qty_delta
        FROM a""")

    # crossjoined form: the lag window PARTITIONS by every other row
    # hierarchy — year-over-year delta within each region.
    add("cube_region_yoy_delta",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "WITH MEMBER [Measures].[YoY Delta] AS "
            "[Measures].[Sum Quantity] - "
            "([Measures].[Sum Quantity], [D Tiempo].[Calendario]"
            ".CurrentMember.PrevMember) "
            "SELECT { [Measures].[Sum Quantity], [Measures].[YoY Delta] } "
            "ON COLUMNS, CROSSJOIN("
            "[Dim Customer].[Geografía].[Region].MEMBERS, "
            "[D Tiempo].[Calendario].[Año].MEMBERS) ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH {_OW}
        SELECT region, anio, sum_quantity,
               sum_quantity - LAG(sum_quantity)
                 OVER (PARTITION BY region ORDER BY anio) AS yoy_delta
        FROM (
          SELECT cust_region AS region,
                 CAST(year(l_shipdate) AS INTEGER) AS anio,
                 {SUM_D('l_quantity')} AS sum_quantity
          FROM {_FACT_OW}
          GROUP BY 1, 2)""")

    # SUM(YTD(...)) running totals: months accumulate
    # within their year (the axis's ancestor level partitions the
    # window), regions partition independently; accumulation runs in
    # DECIMAL(18,4) so the running sums are order-independent and
    # oracle-exact (query.YtdRef).
    add("cube_region_ytd",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "WITH MEMBER [Measures].[Ytd Qty] AS "
            "SUM(YTD([D Tiempo].[Calendario].CurrentMember), "
            "[Measures].[Sum Quantity]) "
            "SELECT { [Measures].[Sum Quantity], [Measures].[Ytd Qty] } "
            "ON COLUMNS, CROSSJOIN("
            "[Dim Customer].[Geografía].[Region].MEMBERS, "
            "[D Tiempo].[Calendario].[Mes].MEMBERS) "
            "DIMENSION PROPERTIES MEMBER_CAPTION ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH {_OW},
        a AS (
          SELECT cust_region AS region,
                 CAST(year(l_shipdate) AS INTEGER) AS anio,
                 {MES_CASE} AS mes, month(l_shipdate) AS mn,
                 {SUM_D('l_quantity')} AS sum_quantity
          FROM {_FACT_OW}
          GROUP BY 1, 2, 3, 4)
        SELECT region, anio, mes, sum_quantity,
               CAST(SUM(CAST(sum_quantity AS DECIMAL(18,4))) OVER (
                 PARTITION BY region, anio ORDER BY mn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) AS ytd_qty
        FROM a""")

    # SUM(LASTPERIODS(3, ...)) rolling window: the
    # trailing-quarter sum on the month axis — unlike YTD it CROSSES
    # year boundaries (Jan's window reaches the previous Nov-Dec), the
    # SSAS LastPeriods contract (query.LastPeriodsRef).
    add("cube_rolling_quarter",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "WITH MEMBER [Measures].[Roll3 Qty] AS "
            "SUM(LASTPERIODS(3, [D Tiempo].[Calendario].CurrentMember), "
            "[Measures].[Sum Quantity]) "
            "SELECT { [Measures].[Sum Quantity], [Measures].[Roll3 Qty] } "
            "ON COLUMNS, [D Tiempo].[Calendario].[Mes].MEMBERS "
            "DIMENSION PROPERTIES MEMBER_CAPTION ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH a AS (
          SELECT CAST(year(l_shipdate) AS INTEGER) AS anio,
                 {MES_CASE} AS mes, month(l_shipdate) AS mn,
                 {SUM_D('l_quantity')} AS sum_quantity
          FROM lineitem
          GROUP BY 1, 2, 3)
        SELECT anio, mes, sum_quantity,
               CAST(SUM(CAST(sum_quantity AS DECIMAL(18,4))) OVER (
                 ORDER BY anio, mn
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                 AS DOUBLE) AS roll3_qty
        FROM a""")

    # NextMember: the forward tuple — next period's
    # value minus the current one (lead(); the last period reports
    # NULL, SSAS's empty cell).
    add("cube_next_month_delta",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "WITH MEMBER [Measures].[Next Delta] AS "
            "([Measures].[Sum Quantity], [D Tiempo].[Calendario]"
            ".NextMember) - [Measures].[Sum Quantity] "
            "SELECT { [Measures].[Sum Quantity], "
            "[Measures].[Next Delta] } ON COLUMNS, "
            "[D Tiempo].[Calendario].[Mes].MEMBERS "
            "DIMENSION PROPERTIES MEMBER_CAPTION ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH a AS (
          SELECT CAST(year(l_shipdate) AS INTEGER) AS anio,
                 {MES_CASE} AS mes, month(l_shipdate) AS mn,
                 {SUM_D('l_quantity')} AS sum_quantity
          FROM lineitem
          GROUP BY 1, 2, 3)
        SELECT anio, mes, sum_quantity,
               LEAD(sum_quantity) OVER (ORDER BY anio, mn)
                 - sum_quantity AS next_delta
        FROM a""")

    # WITH SET named sets: query-scoped set
    # definition referenced on the row axis — expanded at parse time
    # (the SSAS named-set sugar), so the engine sees the member
    # literals and the plan is the usual pushed key filter.
    add("cube_named_set_rows",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "WITH SET [Mis Regiones] AS "
            "'{ [Dim Customer].[Geografía].[Region].&[1], "
            "[Dim Customer].[Geografía].[Region].&[3] }' "
            "SELECT { [Measures].[Sum Extendedprice] } ON COLUMNS, "
            "[Mis Regiones] ON ROWS FROM [sales]", CATALOG)),
        f"""WITH {_OW}
        SELECT cust_region AS region,
               {SUM_D('l_extendedprice')} AS sum_extendedprice
        FROM {_FACT_OW}
        WHERE cust_region_key IN (1, 3)
        GROUP BY 1""")

    # Composition: FILTER over a PrevMember calc —
    # the months whose quantity DECLINED vs the previous month.  The
    # lag computes over the full axis first, the filter prunes after
    # (the engine's calc -> having ordering), matching the oracle's
    # window-then-WHERE.
    add("cube_declining_months",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "WITH MEMBER [Measures].[Qty Delta] AS "
            "[Measures].[Sum Quantity] - ([Measures].[Sum Quantity], "
            "[D Tiempo].[Calendario].PrevMember) "
            "SELECT { [Measures].[Sum Quantity], [Measures].[Qty Delta] } "
            "ON COLUMNS, FILTER([D Tiempo].[Calendario].[Mes].MEMBERS, "
            "[Measures].[Qty Delta] < 0) "
            "DIMENSION PROPERTIES MEMBER_CAPTION ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH a AS (
          SELECT CAST(year(l_shipdate) AS INTEGER) AS anio,
                 {MES_CASE} AS mes, month(l_shipdate) AS mn,
                 {SUM_D('l_quantity')} AS sum_quantity
          FROM lineitem
          GROUP BY 1, 2, 3),
        d AS (
          SELECT anio, mes, sum_quantity,
                 sum_quantity - LAG(sum_quantity)
                   OVER (ORDER BY anio, mn) AS qty_delta
          FROM a)
        SELECT anio, mes, sum_quantity, qty_delta
        FROM d WHERE qty_delta < 0""")

    # PARALLELPERIOD distance form: month vs the
    # SAME month last year — lag 12 over the chronological month axis
    # (query.LagRef.n), the canonical SSAS year-over-year-at-month-
    # grain comparison.
    add("cube_month_vs_last_year",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "WITH MEMBER [Measures].[Yoy Month] AS "
            "[Measures].[Sum Quantity] - ([Measures].[Sum Quantity], "
            "PARALLELPERIOD([D Tiempo].[Calendario], 12)) "
            "SELECT { [Measures].[Sum Quantity], [Measures].[Yoy Month] } "
            "ON COLUMNS, [D Tiempo].[Calendario].[Mes].MEMBERS "
            "DIMENSION PROPERTIES MEMBER_CAPTION ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH a AS (
          SELECT CAST(year(l_shipdate) AS INTEGER) AS anio,
                 {MES_CASE} AS mes, month(l_shipdate) AS mn,
                 {SUM_D('l_quantity')} AS sum_quantity
          FROM lineitem
          GROUP BY 1, 2, 3)
        SELECT anio, mes, sum_quantity,
               sum_quantity - LAG(sum_quantity, 12)
                 OVER (ORDER BY anio, mn) AS yoy_month
        FROM a""")

    # SUM over a WITH SET name: per-year total next to the same total
    # restricted to the named region set — single scan, the set is a
    # CASE predicate inside the aggregate.
    add("cube_named_set_sum_member",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "WITH SET [Mis Regiones] AS "
            "'{ [Dim Customer].[Geografía].[Region].&[1], "
            "[Dim Customer].[Geografía].[Region].&[3] }' "
            "MEMBER [Measures].[Region Sales] AS "
            "SUM([Mis Regiones], [Measures].[Sum Extendedprice]) "
            "SELECT { [Measures].[Sum Extendedprice], "
            "[Measures].[Region Sales] } ON COLUMNS, "
            "[D Tiempo].[Calendario].[Año].MEMBERS ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH {_OW}
        SELECT CAST(year(l_shipdate) AS INTEGER) AS anio,
               {SUM_D('l_extendedprice')} AS sum_extendedprice,
               CAST(SUM(CASE WHEN cust_region_key IN (1, 3)
                        THEN CAST(l_extendedprice AS DECIMAL(18,4)) END)
                    AS DOUBLE) AS region_sales
        FROM {_FACT_OW}
        GROUP BY 1""")

    # AGGREGATE over a set uses the base measure's OWN aggregator
    # (here COUNT) — per-region row, the set-restricted count is
    # non-zero exactly on the set's members (per-coordinate compose).
    add("cube_aggregate_set_member",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "WITH SET [Dos] AS "
            "'{ [Dim Customer].[Geografía].[Region].&[1], "
            "[Dim Customer].[Geografía].[Region].&[3] }' "
            "MEMBER [Measures].[Set Rows] AS "
            "AGGREGATE([Dos], [Measures].[Total Registros]) "
            "SELECT { [Measures].[Total Registros], "
            "[Measures].[Set Rows] } ON COLUMNS, "
            "[Dim Customer].[Geografía].[Region].MEMBERS ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH {_OW}
        SELECT cust_region AS region,
               COUNT(*) AS total_registros,
               COUNT(CASE WHEN cust_region_key IN (1, 3) THEN 1 END)
                 AS set_rows
        FROM {_FACT_OW}
        GROUP BY 1""")

    # TOPPERCENT: the smallest top prefix of nations whose cumulative
    # quantity reaches 50% of the total — exact-DECIMAL cumulative cut
    # (cum*100 < total*50, no float division), ties on (region,
    # nation) ascending, identical window logic in the oracle.
    _TP_CUM = """
        r AS (
          SELECT nation, sum_quantity,
                 COALESCE(SUM(CAST(COALESCE(sum_quantity, 0)
                              AS DECIMAL(18,4))) OVER (
                     ORDER BY sum_quantity DESC NULLS LAST, nation
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING),
                   CAST(0 AS DECIMAL(18,4))) AS cumb,
                 SUM(CAST(COALESCE(sum_quantity, 0)
                          AS DECIMAL(18,4))) OVER () AS tot
          FROM a)"""
    add("cube_toppercent_nations",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "SELECT { [Measures].[Sum Quantity] } ON COLUMNS, "
            "TOPPERCENT([Dim Customer].[Geografía].[Nation].MEMBERS, "
            "50, [Measures].[Sum Quantity]) ON ROWS FROM [sales]",
            CATALOG)),
        f"""WITH {_OW},
        a AS (
          SELECT cust_nation AS nation,
                 {SUM_D('l_quantity')} AS sum_quantity
          FROM {_FACT_OW}
          GROUP BY 1),{_TP_CUM}
        SELECT nation, sum_quantity
        FROM r WHERE cumb * 100 < tot * 50""")

    # BOTTOMPERCENT: same machinery, smallest values accumulate first.
    _BP_CUM = _TP_CUM.replace("DESC NULLS LAST", "ASC NULLS LAST")
    add("cube_bottompercent_nations",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "SELECT { [Measures].[Sum Quantity] } ON COLUMNS, "
            "BOTTOMPERCENT([Dim Customer].[Geografía].[Nation].MEMBERS,"
            " 25, [Measures].[Sum Quantity]) ON ROWS FROM [sales]",
            CATALOG)),
        f"""WITH {_OW},
        a AS (
          SELECT cust_nation AS nation,
                 {SUM_D('l_quantity')} AS sum_quantity
          FROM {_FACT_OW}
          GROUP BY 1),{_BP_CUM}
        SELECT nation, sum_quantity
        FROM r WHERE cumb * 100 < tot * 25""")

    # TOPSUM: absolute threshold in measure units — the month axis
    # keeps the largest months until their running total reaches
    # 500 000 units (all months when the corpus is smaller than the
    # threshold; a strict ~4-month subset at the gate SF).
    add("cube_topsum_months",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "SELECT { [Measures].[Sum Quantity] } ON COLUMNS, "
            "TOPSUM([D Tiempo].[Calendario].[Mes].MEMBERS, 500000, "
            "[Measures].[Sum Quantity]) ON ROWS FROM [sales]",
            CATALOG)),
        f"""WITH a AS (
          SELECT {MES_CASE} AS mes,
                 {SUM_D('l_quantity')} AS sum_quantity
          FROM lineitem
          GROUP BY 1),
        r AS (
          SELECT mes, sum_quantity,
                 COALESCE(SUM(CAST(COALESCE(sum_quantity, 0)
                              AS DECIMAL(18,4))) OVER (
                     ORDER BY sum_quantity DESC NULLS LAST, mes
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING),
                   CAST(0 AS DECIMAL(18,4))) AS cumb
          FROM a)
        SELECT mes, sum_quantity
        FROM r WHERE cumb < 500000""")

    # DistinctCount measure (SSAS aggregator): distinct order
    # keys per region cell next to the raw row count — Spark plans the
    # exact distinct as a two-phase partial-distinct aggregate.
    add("cube_distinct_orders_by_region",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "SELECT { [Measures].[Total Registros], "
            "[Measures].[Distinct Orders] } ON COLUMNS, "
            "[Dim Customer].[Geografía].[Region].MEMBERS ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH {_OW}
        SELECT cust_region AS region,
               COUNT(*) AS total_registros,
               COUNT(DISTINCT l_orderkey) AS distinct_orders
        FROM {_FACT_OW}
        GROUP BY 1""")

    # Set operators on member-literal sets: EXCEPT prunes,
    # UNION(INTERSECT(...)) composes — resolved at parse time into one
    # member-constraint list (key-predicate pushdown like any member
    # filter; no extra plan nodes at all).
    add("cube_set_except_regions",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "SELECT { [Measures].[Sum Quantity] } ON COLUMNS, "
            "EXCEPT({ [Dim Customer].[Geografía].[Region].&[0], "
            "[Dim Customer].[Geografía].[Region].&[1], "
            "[Dim Customer].[Geografía].[Region].&[2], "
            "[Dim Customer].[Geografía].[Region].&[3] }, "
            "{ [Dim Customer].[Geografía].[Region].&[1], "
            "[Dim Customer].[Geografía].[Region].&[3] }) ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH {_OW}
        SELECT cust_region AS region,
               {SUM_D('l_quantity')} AS sum_quantity
        FROM {_FACT_OW}
        WHERE cust_region_key IN (0, 2)
        GROUP BY 1""")

    add("cube_set_union_intersect_regions",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "SELECT { [Measures].[Sum Quantity] } ON COLUMNS, "
            "UNION(INTERSECT("
            "{ [Dim Customer].[Geografía].[Region].&[0], "
            "[Dim Customer].[Geografía].[Region].&[1] }, "
            "{ [Dim Customer].[Geografía].[Region].&[1], "
            "[Dim Customer].[Geografía].[Region].&[2] }), "
            "{ [Dim Customer].[Geografía].[Region].&[4] }) ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH {_OW}
        SELECT cust_region AS region,
               {SUM_D('l_quantity')} AS sum_quantity
        FROM {_FACT_OW}
        WHERE cust_region_key IN (1, 4)
        GROUP BY 1""")

    # SET in the WHERE slicer: members of one hierarchy OR
    # inside the slicer tuple (the SSAS set-in-slicer contract) while
    # a second hierarchy's member ANDs across — one conjunctive
    # key-predicate per hierarchy, pushdown shape unchanged.
    add("cube_slicer_set",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "SELECT { [Measures].[Sum Quantity] } ON COLUMNS, "
            "[Dim Customer].[Geografía].[Region].MEMBERS ON ROWS "
            "FROM [sales] "
            "WHERE ({ [Dim Orders].[Prioridad].[Prioridad].&[1-URGENT],"
            " [Dim Orders].[Prioridad].[Prioridad].&[2-HIGH] }, "
            "[Dim Orders].[Estado].[Estado].&[F])", CATALOG)),
        f"""WITH {_OW}
        SELECT cust_region AS region,
               {SUM_D('l_quantity')} AS sum_quantity
        FROM {_FACT_OW}
        WHERE order_prioridad IN ('1-URGENT', '2-HIGH')
          AND order_estado = 'F'
        GROUP BY 1""")

    # calc-over-calc: a calculated measure referencing
    # another — materialized in DFS dependency order, so [Discounted
    # Avg] sees [Avg Price]'s column.  Both stay pure arithmetic over
    # DECIMAL-frozen bases, so every division is one double op each
    # engine reproduces bit-for-bit.
    add("cube_calc_over_calc",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "WITH MEMBER [Measures].[Avg Price] AS "
            "[Measures].[Sum Extendedprice] / [Measures].[Sum Quantity]"
            " MEMBER [Measures].[Discounted Avg] AS "
            "[Measures].[Avg Price] * (1 - [Measures].[Avg Discount]) "
            "SELECT { [Measures].[Avg Price], "
            "[Measures].[Discounted Avg] } ON COLUMNS, "
            "[Dim Customer].[Geografía].[Region].MEMBERS ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH {_OW},
        a AS (
          SELECT cust_region AS region,
                 {SUM_D('l_extendedprice')} AS se,
                 {SUM_D('l_quantity')} AS sq,
                 {AVG_D('l_discount')} AS ad
          FROM {_FACT_OW}
          GROUP BY 1)
        SELECT region, se / sq AS avg_price,
               (se / sq) * (1 - ad) AS discounted_avg
        FROM a""")

    # DRILLTHROUGH: the fact rows behind a cell — member
    # sets / filters / slicers become row predicates (same pushdown as
    # the aggregate path), no groupBy, natural fact columns returned.
    add("cube_drillthrough_region",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "DRILLTHROUGH SELECT { [Measures].[Sum Quantity] } "
            "ON COLUMNS, "
            "{ [Dim Customer].[Geografía].[Region].&[2] } ON ROWS "
            "FROM [sales] "
            "WHERE ([Dim Orders].[Estado].[Estado].&[F])", CATALOG)),
        f"""WITH {_OW}
        SELECT l.*
        FROM lineitem l JOIN orders_wide ON l.l_orderkey = o_orderkey
        WHERE cust_region_key = 2 AND order_estado = 'F'""")

    # DRILLTHROUGH RETURN + MAXROWS: projected drillthrough
    # with a deterministic bound — the engine orders by ALL output
    # columns before the limit (TakeOrderedAndProject), so the output
    # MULTISET is engine- and retry-independent even though ties at
    # the cut are interchangeable identical rows; the oracle applies
    # the same total order + LIMIT.  [Measures].[Sum Quantity]
    # resolves to its source column l_quantity (the SSAS RETURN
    # contract).
    add("cube_drillthrough_return",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "DRILLTHROUGH MAXROWS 100 SELECT "
            "{ [Measures].[Sum Quantity] } ON COLUMNS, "
            "{ [Dim Customer].[Geografía].[Region].&[2] } ON ROWS "
            "FROM [sales] "
            "WHERE ([Dim Orders].[Estado].[Estado].&[F]) "
            "RETURN [Measures].[Sum Quantity], [l_shipdate], "
            "[l_orderkey]", CATALOG)),
        f"""WITH {_OW}
        SELECT l_quantity, l_shipdate, l_orderkey
        FROM lineitem l JOIN orders_wide ON l.l_orderkey = o_orderkey
        WHERE cust_region_key = 2 AND order_estado = 'F'
        ORDER BY l_quantity, l_shipdate, l_orderkey LIMIT 100""")

    # Subselect space restriction: FROM (SELECT {members}
    # ON COLUMNS FROM [cube]) restricts its hierarchy on the rows axis
    # AND in the totals (VisualTotals semantics — unlike a Q10 filter
    # it is NOT dropped when its hierarchy is on rows), composing with
    # a WHERE slicer on another hierarchy.
    add("cube_subselect_regions",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "SELECT { [Measures].[Sum Quantity], "
            "[Measures].[Total Registros] } ON COLUMNS, "
            "[Dim Customer].[Geografía].[Region].MEMBERS ON ROWS "
            "FROM (SELECT { [Dim Customer].[Geografía].[Region].&[1], "
            "[Dim Customer].[Geografía].[Region].&[3], "
            "[Dim Customer].[Geografía].[Region].&[4] } ON COLUMNS "
            "FROM [sales]) "
            "WHERE ([Dim Orders].[Estado].[Estado].&[F])", CATALOG)),
        f"""WITH {_OW}
        SELECT cust_region AS region,
               {SUM_D('l_quantity')} AS sum_quantity,
               COUNT(*) AS total_registros
        FROM {_FACT_OW}
        WHERE cust_region_key IN (1, 3, 4) AND order_estado = 'F'
        GROUP BY 1""")

    # MDX set statistics (query.SetStatRef): MEDIAN/MIN over the
    # per-region values of a measure — per-member conditional
    # aggregates in the SAME fact scan, the statistic as a post-agg
    # array expression.  NOT expressible as one OR-predicate aggregate
    # (median of per-member sums != any aggregate of the union slice).
    add("cube_median_region_sales",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "WITH MEMBER [Measures].[Median Region Sales] AS "
            f"MEDIAN({_REGION_SET}, [Measures].[Sum Extendedprice]) "
            "MEMBER [Measures].[Min Region Sales] AS "
            f"MIN({_REGION_SET}, [Measures].[Sum Extendedprice]) "
            "SELECT { [Measures].[Sum Extendedprice], "
            "[Measures].[Median Region Sales], "
            "[Measures].[Min Region Sales] } ON COLUMNS, "
            "[D Tiempo].[Calendario].[Año].MEMBERS ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH {_OW},
        a AS (
          SELECT CAST(year(l_shipdate) AS INTEGER) AS anio,
                 cust_region_key AS rk,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                      AS DOUBLE) AS v
          FROM {_FACT_OW} GROUP BY 1, 2),
        tot AS (
          SELECT CAST(year(l_shipdate) AS INTEGER) AS anio,
                 {SUM_D('l_extendedprice')} AS sum_extendedprice
          FROM {_FACT_OW} GROUP BY 1),
        r AS (
          SELECT anio, v,
                 ROW_NUMBER() OVER (PARTITION BY anio ORDER BY v, rk)
                   AS rn,
                 COUNT(*) OVER (PARTITION BY anio) AS n
          FROM a),
        med AS (
          SELECT anio,
                 (MAX(CASE WHEN rn = (n + 1) // 2 THEN v END)
                  + MAX(CASE WHEN rn = (n + 2) // 2 THEN v END)) / 2.0
                   AS median_region_sales,
                 MIN(v) AS min_region_sales
          FROM r GROUP BY anio)
        SELECT tot.anio, sum_extendedprice, median_region_sales,
               min_region_sales
        FROM tot JOIN med USING (anio)""")

    # RANK over the axis set (query.RankRef): one rank() window over
    # the aggregated axis rows — axis-sized cost, ties share a rank.
    add("cube_rank_nations",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "WITH MEMBER [Measures].[Sales Rank] AS "
            "RANK([Dim Customer].[Geografía].CurrentMember, "
            "[Measures].[Sum Extendedprice]) "
            "SELECT { [Measures].[Sum Extendedprice], "
            "[Measures].[Sales Rank] } ON COLUMNS, "
            "[Dim Customer].[Geografía].[Nation].MEMBERS ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH {_OW},
        a AS (
          SELECT cust_nation AS nation,
                 {SUM_D('l_extendedprice')} AS sum_extendedprice
          FROM {_FACT_OW} GROUP BY 1)
        SELECT nation, sum_extendedprice,
               CAST(RANK() OVER (ORDER BY sum_extendedprice DESC
                                 NULLS LAST) AS INTEGER) AS sales_rank
        FROM a""")

    # NONEMPTY(set, measure) — the PowerBI/Excel function form (drops
    # axis rows where THAT measure is empty, post-aggregation, so a
    # calculated lag qualifies): the first month has no PrevMember ->
    # its row drops; every surviving row's prev is non-null.
    add("cube_nonempty_prev_months",
        lambda spark, sf: _eng(spark, sf).execute(parse_mdx(
            "WITH MEMBER [Measures].[Prev Qty] AS "
            "([Measures].[Sum Quantity], [D Tiempo].[Calendario]"
            ".PrevMember) "
            "SELECT { [Measures].[Sum Quantity], [Measures].[Prev Qty] } "
            "ON COLUMNS, NONEMPTY([D Tiempo].[Calendario].[Mes].MEMBERS"
            ", [Measures].[Prev Qty]) "
            "DIMENSION PROPERTIES MEMBER_CAPTION ON ROWS "
            "FROM [sales]", CATALOG)),
        f"""WITH m AS (
          SELECT CAST(year(l_shipdate) AS INTEGER) AS anio,
                 {MES_CASE} AS mes,
                 month(l_shipdate) AS mn, l_quantity
          FROM lineitem),
        a AS (
          SELECT anio, mes, mn, {SUM_D('l_quantity')} AS sum_quantity
          FROM m GROUP BY 1, 2, 3),
        l AS (
          SELECT anio, mes, sum_quantity,
                 LAG(sum_quantity) OVER (ORDER BY anio, mn) AS prev_qty
          FROM a)
        SELECT anio, mes, sum_quantity, prev_qty
        FROM l WHERE prev_qty IS NOT NULL""")

    # FILTER condition referencing a set STATISTIC (ADVICE r10 fix 1:
    # these refs are collected from req.having now, not only from
    # req.calculated): keep the years whose total exceeds 5x the
    # MEDIAN region slice — with 5 near-even regions the ratio
    # hovers around 5.0, so the screen discriminates (keeps some,
    # drops some) at every gate SF (measured: 3 of 7 years at
    # sf0.001, 4 of 7 at sf0.01).
    def filter_setstat(spark, sf):
        return _eng(spark, sf).execute(parse_mdx(
            "SELECT { [Measures].[Sum Extendedprice] } ON COLUMNS, "
            "FILTER([D Tiempo].[Calendario].[Año].MEMBERS, "
            "[Measures].[Sum Extendedprice] > "
            f"5 * MEDIAN({_REGION_SET}, [Measures].[Sum Extendedprice]"
            ")) ON ROWS FROM [sales]", CATALOG))

    # MEDIAN over the odd-sized (5-member) set is the middle per-
    # region value on both engines — no interpolation, so the 5x
    # comparison is the same IEEE multiply+compare bit-for-bit.
    add("cube_filter_setstat_years", filter_setstat,
        f"""WITH {_OW},
        a AS (
          SELECT CAST(year(l_shipdate) AS INTEGER) AS anio,
                 cust_region_key AS rk,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                      AS DOUBLE) AS v
          FROM {_FACT_OW} GROUP BY 1, 2),
        tot AS (
          SELECT CAST(year(l_shipdate) AS INTEGER) AS anio,
                 {SUM_D('l_extendedprice')} AS sum_extendedprice
          FROM {_FACT_OW} GROUP BY 1),
        md AS (SELECT anio, MEDIAN(v) AS m FROM a GROUP BY 1)
        SELECT t.anio, t.sum_extendedprice
        FROM tot t JOIN md USING (anio)
        WHERE t.sum_extendedprice > 5 * md.m""")

    # NON EMPTY over an ALL-CALCULATED query (ADVICE r10 fix 3: the
    # test now runs on the calc cells after materialization instead of
    # silently no-op'ing): months where nation 21 bought brand
    # Brand#12 at all — the sparse-slice month screen.
    def nonempty_all_calc(spark, sf):
        return _eng(spark, sf).execute(parse_mdx(
            "WITH MEMBER [Measures].[N21 Qty] AS "
            "AGGREGATE({ [Dim Customer].[Geografía].[Region].&[1]"
            ".&[21] }, [Measures].[Sum Quantity]) "
            "SELECT { [Measures].[N21 Qty] } ON COLUMNS, "
            "NON EMPTY [D Tiempo].[Calendario].[Mes].MEMBERS "
            "DIMENSION PROPERTIES MEMBER_CAPTION ON ROWS "
            "FROM [sales] "
            "WHERE ([Dim Producto].[Producto].[Brand].&[Brand#12])",
            CATALOG))

    add("cube_nonempty_all_calc_months", nonempty_all_calc,
        f"""WITH {_OW},
        pv AS (SELECT p_partkey, p_brand FROM part),
        f AS (
          SELECT CAST(year(l_shipdate) AS INTEGER) AS anio,
                 {MES_CASE} AS mes, month(l_shipdate) AS mn,
                 l_quantity, cust_region_key, cust_nation_key
          FROM {_FACT_OW} JOIN pv ON l_partkey = p_partkey
          WHERE p_brand = 'Brand#12'),
        a AS (
          SELECT anio, mes, mn,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
                      FILTER (WHERE cust_region_key = 1
                              AND cust_nation_key = 21)
                      AS DOUBLE) AS n21_qty
          FROM f GROUP BY 1, 2, 3)
        SELECT anio, mes, n21_qty
        FROM a WHERE n21_qty IS NOT NULL""")
