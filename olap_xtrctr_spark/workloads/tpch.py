"""TPC-H workload entries: the 22-query suite (Q1-Q22) as DataFrame
programs over the raw tables, each against the spec SQL in DuckDB, plus
the pre-join key profile over orders x customer.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..session import load_table
from ..workload_shared import AVG_D, SUM_D


def register(add) -> None:
    # ================= TPC-H-style headline queries =======================

    def tpch_q1(spark, sf):
        li = load_table(spark, sf, "lineitem")
        dec = lambda c: c.cast("decimal(18,4)")
        # Cross-engine exactness: double->decimal casts agree between Spark
        # and DuckDB for SINGLE column values, but NOT for a multi-factor
        # double product (its decimal expansion can land on a .00005
        # boundary where the engines' conversion rules part ways), and
        # decimal DOWNCASTS disagree on exact ties (Spark HALF_UP, DuckDB
        # half-toward-zero).  So: cast each factor to a decimal sized so
        # every product stays inside precision 38 WITHOUT any intermediate
        # rounding — the whole chain is exact decimal arithmetic, identical
        # on both engines.  (12,4)*(6,4) -> (19,8); *(6,4) -> (26,12).
        ext_d = F.col("l_extendedprice").cast("decimal(12,4)")
        disc_f = (F.lit(1.0) - F.col("l_discount")).cast("decimal(6,4)")
        tax_f = (F.lit(1.0) + F.col("l_tax")).cast("decimal(6,4)")
        disc_price = ext_d * disc_f
        charge = disc_price * tax_f
        return (li.filter(F.col("l_shipdate") <= "2000-09-02")
                .groupBy("l_returnflag", "l_linestatus")
                .agg(F.sum(dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
                     F.sum(dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
                     F.sum(disc_price).cast("double").alias("sum_disc_price"),
                     F.sum(charge).cast("double").alias("sum_charge"),
                     (F.sum(dec(F.col("l_quantity"))).cast("double")
                      / F.count("l_quantity")).alias("avg_qty"),
                     (F.sum(dec(F.col("l_discount"))).cast("double")
                      / F.count("l_discount")).alias("avg_disc"),
                     F.count(F.lit(1)).alias("count_order")))

    # DuckDB's decimal->double cast is not correctly rounded at high scale
    # (computed in float, can be 1 ulp off Spark's BigDecimal.doubleValue);
    # the VARCHAR bridge makes it exact-decimal -> correctly-rounded double.
    _DISC_PRICE_D = ("CAST(l_extendedprice AS DECIMAL(12,4))"
                     " * CAST(1.0 - l_discount AS DECIMAL(6,4))")
    _CHARGE_D = f"{_DISC_PRICE_D} * CAST(1.0 + l_tax AS DECIMAL(6,4))"

    add("tpch_q1_pricing_summary", tpch_q1,
        f"""SELECT l_returnflag, l_linestatus,
               {SUM_D('l_quantity')} AS sum_qty,
               {SUM_D('l_extendedprice')} AS sum_base_price,
               CAST(CAST(SUM({_DISC_PRICE_D}) AS VARCHAR) AS DOUBLE)
                   AS sum_disc_price,
               CAST(CAST(SUM({_CHARGE_D}) AS VARCHAR) AS DOUBLE)
                   AS sum_charge,
               {AVG_D('l_quantity')} AS avg_qty,
               {AVG_D('l_discount')} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        GROUP BY l_returnflag, l_linestatus""")

    def tpch_q5(spark, sf):
        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders")
        c = load_table(spark, sf, "customer")
        s = load_table(spark, sf, "supplier")
        n = load_table(spark, sf, "nation")
        r = load_table(spark, sf, "region")
        revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
            .cast("decimal(18,4)")
        return (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
                .join(c, F.col("o_custkey") == F.col("c_custkey"))
                .join(s, (F.col("l_suppkey") == F.col("s_suppkey"))
                      & (F.col("c_nationkey") == F.col("s_nationkey")))
                .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
                .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
                .filter((F.col("r_name") == "ASIA")
                        & (F.col("o_orderdate") >= "1996-01-01")
                        & (F.col("o_orderdate") < "1998-01-01"))
                .groupBy(F.col("n_name").alias("nation"))
                .agg(F.sum(revenue).cast("double").alias("revenue")))

    add("tpch_q5_local_supplier", tpch_q5,
        f"""SELECT n_name AS nation,
               {SUM_D('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n_name""")

    def tpch_q3ish(spark, sf):
        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders")
        c = load_table(spark, sf, "customer")
        revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
            .cast("decimal(18,4)")
        return (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
                .join(c, F.col("o_custkey") == F.col("c_custkey"))
                .filter((F.col("c_mktsegment") == "BUILDING")
                        & (F.col("o_orderdate") < "1998-03-15")
                        & (F.col("l_shipdate") > "1998-03-15"))
                .groupBy("o_orderpriority")
                .agg(F.sum(revenue).cast("double").alias("revenue"),
                     F.count(F.lit(1)).alias("n_lines")))

    add("tpch_q3_shipping_priority", tpch_q3ish,
        f"""SELECT o_orderpriority,
               {SUM_D('l_extendedprice * (1 - l_discount)')} AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate  > TIMESTAMP '1998-03-15'
        GROUP BY o_orderpriority""")

    def tpch_q6(spark, sf):
        li = load_table(spark, sf, "lineitem")
        return (li.filter((F.col("l_shipdate") >= "1996-01-01")
                          & (F.col("l_shipdate") < "1997-01-01")
                          & (F.col("l_discount") >= 0.02)
                          & (F.col("l_discount") <= 0.06)
                          & (F.col("l_quantity") < 24))
                .agg(F.sum((F.col("l_extendedprice") * F.col("l_discount"))
                           .cast("decimal(18,4)"))
                      .cast("double").alias("revenue")))

    add("tpch_q6_forecast_revenue", tpch_q6,
        f"""SELECT {SUM_D('l_extendedprice * l_discount')} AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount >= 0.02 AND l_discount <= 0.06
          AND l_quantity < 24""")

    def tpch_q12(spark, sf):
        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders")
        hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        return (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
                .filter((F.col("l_shipdate") >= "1997-01-01")
                        & (F.col("l_shipdate") < "1998-01-01"))
                .groupBy("l_returnflag")
                .agg(F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
                     F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count")))

    # BIGINT casts: DuckDB SUM(int) yields HUGEINT (-> float64 at the
    # arrow edge) while Spark SUM(int) is bigint; same values, different
    # schema — cast the oracle side down.
    add("tpch_q12_priority_shipping", tpch_q12,
        """SELECT l_returnflag,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                        THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_returnflag""")

    def tpch_q14(spark, sf):
        li = load_table(spark, sf, "lineitem")
        p = load_table(spark, sf, "part")
        rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
            .cast("decimal(18,4)")
        promo = F.when(F.col("p_type") == "PROMO", rev) \
            .otherwise(F.lit(0).cast("decimal(18,4)"))
        return (li.join(p, F.col("l_partkey") == F.col("p_partkey"))
                .filter((F.col("l_shipdate") >= "1997-06-01")
                        & (F.col("l_shipdate") < "1997-07-01"))
                .agg((F.lit(100.0) * F.sum(promo).cast("double")
                      / F.sum(rev).cast("double")).alias("promo_revenue_pct")))

    add("tpch_q14_promo_revenue", tpch_q14,
        f"""SELECT 100.0
               * {SUM_D("CASE WHEN p_type = 'PROMO' "
                        "THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
               / {SUM_D('l_extendedprice * (1 - l_discount)')}
               AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-06-01'
          AND l_shipdate <  TIMESTAMP '1997-07-01'""")

    def tpch_q4(spark, sf):
        # EXISTS → left_semi join: no row multiplication, the join only
        # probes — at scale this is the cheapest correlated-subquery shape
        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders")
        returned = li.filter(F.col("l_returnflag") == "R") \
                     .select("l_orderkey")
        return (o.filter((F.col("o_orderdate") >= "1996-07-01")
                         & (F.col("o_orderdate") < "1996-10-01"))
                 .join(returned, F.col("o_orderkey") == F.col("l_orderkey"),
                       "left_semi")
                 .groupBy("o_orderpriority")
                 .agg(F.count(F.lit(1)).alias("order_count")))

    add("tpch_q4_order_priority", tpch_q4,
        """SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate <  TIMESTAMP '1996-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_returnflag = 'R')
        GROUP BY o_orderpriority""")

    def tpch_q13(spark, sf):
        # left outer join + two-level aggregation (count distribution);
        # customers with zero orders must appear with c_count = 0
        o = load_table(spark, sf, "orders") \
            .filter(F.col("o_orderpriority") != "1-URGENT") \
            .select("o_orderkey", "o_custkey")
        c = load_table(spark, sf, "customer").select("c_custkey")
        per_cust = (c.join(o, F.col("c_custkey") == F.col("o_custkey"),
                           "left")
                    .groupBy("c_custkey")
                    .agg(F.count("o_orderkey").alias("c_count")))
        return (per_cust.groupBy("c_count")
                .agg(F.count(F.lit(1)).alias("custdist")))

    add("tpch_q13_customer_distribution", tpch_q13,
        """SELECT c_count, COUNT(*) AS custdist
        FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders
                ON c_custkey = o_custkey
               AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey)
        GROUP BY c_count""")

    def tpch_q16(spark, sf):
        # anti join (NOT IN supplier complaints) + distinct-count per group
        p = load_table(spark, sf, "part")
        ps = load_table(spark, sf, "supplier") \
            .filter(F.col("s_acctbal") < 0).select("s_suppkey")
        li = load_table(spark, sf, "lineitem") \
            .select("l_partkey", "l_suppkey").dropDuplicates()
        return (li.join(F.broadcast(ps),
                        F.col("l_suppkey") == F.col("s_suppkey"),
                        "left_anti")
                .join(p.filter(F.col("p_type") != "PROMO"),
                      F.col("l_partkey") == F.col("p_partkey"))
                .groupBy("p_brand", "p_type")
                .agg(F.count_distinct("l_suppkey").alias("supplier_cnt")))

    add("tpch_q16_parts_supplier", tpch_q16,
        """SELECT p_brand, p_type,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) li
        JOIN part ON l_partkey = p_partkey
        WHERE p_type <> 'PROMO'
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type""")

    def tpch_q19(spark, sf):
        # disjunction of conjunctive band predicates: Catalyst extracts
        # the common l_partkey equi-key and pushes the residual OR below
        # the join — the classic pushdown stress test
        li = load_table(spark, sf, "lineitem")
        p = load_table(spark, sf, "part")
        j = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        band = (
            ((F.col("p_brand") == "Brand#12") & (F.col("l_quantity") >= 1)
             & (F.col("l_quantity") <= 30) & (F.col("p_size") <= 10))
            | ((F.col("p_brand") == "Brand#23") & (F.col("l_quantity") >= 5)
               & (F.col("l_quantity") <= 35) & (F.col("p_size") <= 20))
            | ((F.col("p_brand") == "Brand#34") & (F.col("l_quantity") >= 10)
               & (F.col("l_quantity") <= 40) & (F.col("p_size") <= 30)))
        rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
            .cast("decimal(18,4)")
        return j.filter(band).agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"))

    add("tpch_q19_discounted_revenue", tpch_q19,
        f"""SELECT {SUM_D('l_extendedprice * (1 - l_discount)')} AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 30
               AND p_size <= 10)
           OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 5 AND 35
               AND p_size <= 20)
           OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 10 AND 40
               AND p_size <= 30)""")

    def tpch_q22(spark, sf):
        # global-aggregate broadcast + anti join: customers above the
        # average balance with no orders
        c = load_table(spark, sf, "customer")
        # anti-join against URGENT orders (this generator gives every
        # customer at least one order, so the plain form selects nothing)
        o = (load_table(spark, sf, "orders")
             .filter(F.col("o_orderpriority") == "1-URGENT")
             .select("o_custkey"))
        # avg comparison as an exact-decimal cross-multiply (bal * n >
        # total) — a float avg threshold could flip rows near the
        # boundary differently per engine
        dec_bal = F.col("c_acctbal").cast("decimal(18,4)")
        agg = (c.filter(F.col("c_acctbal") > 0)
               .agg(F.sum(dec_bal).alias("tot_bal"),
                    F.count(F.lit(1)).alias("n_pos")))
        return (c.crossJoin(F.broadcast(agg))
                 .filter(dec_bal * F.col("n_pos") > F.col("tot_bal"))
                 .join(o, F.col("c_custkey") == F.col("o_custkey"),
                       "left_anti")
                 .groupBy("c_mktsegment")
                 .agg(F.count(F.lit(1)).alias("numcust"),
                      F.sum(dec_bal).cast("double").alias("totacctbal")))

    add("tpch_q22_global_sales_opportunity", tpch_q22,
        f"""SELECT c_mktsegment, COUNT(*) AS numcust,
               {SUM_D('c_acctbal')} AS totacctbal
        FROM customer
        WHERE CAST(c_acctbal AS DECIMAL(18,4))
              * (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0)
              > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4)))
                 FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment""")

    def tpch_q18(spark, sf):
        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders")
        big = (li.groupBy("l_orderkey")
                 .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)"))
                       .cast("double").alias("total_qty"))
                 .filter(F.col("total_qty") > 120))
        return (big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
                .select(F.col("o_orderkey").alias("orderkey"),
                        F.col("o_orderpriority").alias("priority"),
                        "total_qty"))

    add("tpch_q18_large_orders", tpch_q18,
        f"""SELECT o_orderkey AS orderkey, o_orderpriority AS priority,
               total_qty
        FROM (SELECT l_orderkey, {SUM_D('l_quantity')} AS total_qty
              FROM lineitem GROUP BY l_orderkey) t
        JOIN orders ON l_orderkey = o_orderkey
        WHERE total_qty > 120""")

    # The remaining TPC-H shapes, adapted to this schema (no partsupp, no
    # commit/receipt dates — TESTDATA.md): each keeps the REFERENCE query's
    # distinguishing plan shape (min-per-group join-back, nation-pair
    # disjunction, market-share conditional agg, correlated-avg
    # cross-multiply, multi-[anti-]semi self-join) on the columns we have.
    # Exact-decimal sums bridge to double through VARCHAR on the DuckDB
    # side (decimal->double there is float-computed, can be 1 ulp off).
    def SUM_VB(expr: str) -> str:
        return f"CAST(CAST(SUM({expr}) AS VARCHAR) AS DOUBLE)"

    _DISC_D = ("CAST(l_extendedprice AS DECIMAL(12,4))"
               " * CAST(1.0 - l_discount AS DECIMAL(6,4))")

    def tpch_q2(spark, sf):
        # min-cost-supplier-within-region: the part-supplier price list is
        # derived from lineitem (min unit price per pair); min-per-group
        # via window AFTER the part filter prunes partitions pre-shuffle
        from pyspark.sql import Window
        li = load_table(spark, sf, "lineitem")
        s = load_table(spark, sf, "supplier")
        n = load_table(spark, sf, "nation")
        r = load_table(spark, sf, "region")
        p = load_table(spark, sf, "part")
        eur = (s.join(F.broadcast(n),
                      F.col("s_nationkey") == F.col("n_nationkey"))
               .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
                     F.col("n_regionkey") == F.col("r_regionkey"))
               .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
        tgt = p.filter((F.col("p_size") == 10)
                       & (F.col("p_type") == "SMALL")) \
               .select("p_partkey", "p_name")
        # r13 (guide §2.3 shuffle fewer bytes): the selective part
        # filter joins BELOW the price-list aggregate — it equi-joins
        # on l_partkey, a groupBy key, so filtering rows first and
        # aggregating after yields the identical group set and the
        # identical MIN per group (order-independent), while the
        # aggregate's exchange now carries only target-part rows
        # instead of the whole price list.  Oracle unchanged.
        cand = (li.join(F.broadcast(tgt),
                        F.col("l_partkey") == F.col("p_partkey"))
                .join(F.broadcast(eur),
                      F.col("l_suppkey") == F.col("s_suppkey"))
                .groupBy("l_partkey", "p_partkey", "p_name", "s_suppkey",
                         "s_name", "s_acctbal", "n_name")
                .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
                     .alias("unit_price")))
        w = Window.partitionBy("l_partkey")
        return (cand.withColumn("best", F.min("unit_price").over(w))
                .filter(F.col("unit_price") == F.col("best"))
                .select("p_partkey", "p_name", "s_name", "s_acctbal",
                        "n_name", "unit_price"))

    add("tpch_q2_min_cost_supplier", tpch_q2,
        """WITH offers AS (
          SELECT l_partkey, s_suppkey, s_name, s_acctbal, n_name,
                 MIN(l_extendedprice / l_quantity) AS unit_price
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE'
          GROUP BY 1, 2, 3, 4, 5)
        SELECT p_partkey, p_name, s_name, s_acctbal, n_name, unit_price
        FROM offers JOIN part ON l_partkey = p_partkey
        WHERE p_size = 10 AND p_type = 'SMALL'
        QUALIFY unit_price = MIN(unit_price) OVER (PARTITION BY l_partkey)""")

    def tpch_q7(spark, sf):
        # volume shipping between a nation pair, both directions: the
        # nation-pair disjunction sits above two independent dimension
        # joins (supplier side broadcastable, customer side left to AQE)
        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
        c = load_table(spark, sf, "customer").select("c_custkey",
                                                     "c_nationkey")
        s = load_table(spark, sf, "supplier").select("s_suppkey",
                                                     "s_nationkey")
        n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
        supp = s.join(F.broadcast(n),
                      F.col("s_nationkey") == F.col("n_nationkey")) \
                .select("s_suppkey", F.col("n_name").alias("supp_nation"))
        cust = c.join(F.broadcast(n),
                      F.col("c_nationkey") == F.col("n_nationkey")) \
                .select("c_custkey", F.col("n_name").alias("cust_nation"))
        rev = F.col("l_extendedprice").cast("decimal(12,4)") \
            * (F.lit(1.0) - F.col("l_discount")).cast("decimal(6,4)")
        pair = (((F.col("supp_nation") == "NATION_3")
                 & (F.col("cust_nation") == "NATION_7"))
                | ((F.col("supp_nation") == "NATION_7")
                   & (F.col("cust_nation") == "NATION_3")))
        return (li.filter((F.col("l_shipdate") >= "1996-01-01")
                          & (F.col("l_shipdate") < "1998-01-01"))
                .join(F.broadcast(supp),
                      F.col("l_suppkey") == F.col("s_suppkey"))
                .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
                .join(cust, F.col("o_custkey") == F.col("c_custkey"))
                .filter(pair)
                .groupBy("supp_nation", "cust_nation",
                         F.year("l_shipdate").alias("l_year"))
                .agg(F.sum(rev).cast("double").alias("revenue")))

    add("tpch_q7_volume_shipping", tpch_q7,
        f"""SELECT supp_nation, cust_nation, l_year,
               CAST(CAST(revenue AS VARCHAR) AS DOUBLE) AS revenue
        FROM (
          SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS INTEGER) AS l_year,
                 SUM({_DISC_D}) AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
          JOIN nation cn ON c_nationkey = cn.n_nationkey
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1998-01-01'
            AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7') OR
                 (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
          GROUP BY 1, 2, 3)""")

    def tpch_q8(spark, sf):
        # national market share: conditional share of an exact-decimal sum
        # inside one aggregate pass (no second scan for the denominator)
        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders")
        c = load_table(spark, sf, "customer")
        s = load_table(spark, sf, "supplier")
        n = load_table(spark, sf, "nation")
        r = load_table(spark, sf, "region")
        p = load_table(spark, sf, "part")
        cust_region = (c.join(F.broadcast(n), F.col("c_nationkey")
                              == F.col("n_nationkey"))
                       .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
                             F.col("n_regionkey") == F.col("r_regionkey"))
                       .select("c_custkey"))
        supp = s.join(F.broadcast(n.select("n_nationkey",
                                           F.col("n_name")
                                           .alias("supp_nation"))),
                      F.col("s_nationkey") == F.col("n_nationkey")) \
                .select("s_suppkey", "supp_nation")
        rev = F.col("l_extendedprice").cast("decimal(12,4)") \
            * (F.lit(1.0) - F.col("l_discount")).cast("decimal(6,4)")
        tgt = F.when(F.col("supp_nation") == "NATION_5", rev) \
            .otherwise(F.lit(0).cast("decimal(19,8)"))
        return (li.join(F.broadcast(p.filter(F.col("p_type") == "PROMO")
                                    .select("p_partkey")),
                        F.col("l_partkey") == F.col("p_partkey"))
                .join(o.select("o_orderkey", "o_custkey", "o_orderdate"),
                      F.col("l_orderkey") == F.col("o_orderkey"))
                .join(cust_region, F.col("o_custkey") == F.col("c_custkey"),
                      "left_semi")
                .join(F.broadcast(supp),
                      F.col("l_suppkey") == F.col("s_suppkey"))
                .groupBy(F.year("o_orderdate").alias("o_year"))
                .agg((F.sum(tgt).cast("double")
                      / F.sum(rev).cast("double")).alias("mkt_share"),
                     F.sum(rev).cast("double").alias("total_revenue")))

    add("tpch_q8_market_share", tpch_q8,
        f"""SELECT o_year,
               CAST(CAST(tgt AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(tot AS VARCHAR) AS DOUBLE) AS mkt_share,
               CAST(CAST(tot AS VARCHAR) AS DOUBLE) AS total_revenue
        FROM (
          SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                 SUM(CASE WHEN n_name = 'NATION_5' THEN {_DISC_D}
                          ELSE CAST(0 AS DECIMAL(19,8)) END) AS tgt,
                 SUM({_DISC_D}) AS tot
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE p_type = 'PROMO'
            AND o_custkey IN (
              SELECT c_custkey FROM customer
              JOIN nation cn ON c_nationkey = cn.n_nationkey
              JOIN region ON cn.n_regionkey = r_regionkey
              WHERE r_name = 'ASIA')
          GROUP BY 1)""")

    def tpch_q9(spark, sf):
        # product-type profit: revenue minus an adapted cost term
        # (p_retailprice * quantity stands in for ps_supplycost), whole
        # chain exact decimal so both engines agree bit-for-bit
        li = load_table(spark, sf, "lineitem")
        s = load_table(spark, sf, "supplier")
        n = load_table(spark, sf, "nation")
        o = load_table(spark, sf, "orders").select("o_orderkey",
                                                   "o_orderdate")
        p = load_table(spark, sf, "part")
        supp = s.join(F.broadcast(n), F.col("s_nationkey")
                      == F.col("n_nationkey")) \
                .select("s_suppkey", F.col("n_name").alias("nation"))
        amount = (F.col("l_extendedprice").cast("decimal(12,4)")
                  * (F.lit(1.0) - F.col("l_discount")).cast("decimal(6,4)")
                  ).cast("decimal(25,8)") \
            - (F.col("p_retailprice").cast("decimal(12,4)")
               * F.col("l_quantity").cast("decimal(12,4)")).cast("decimal(25,8)")
        return (li.join(F.broadcast(p.filter(F.col("p_name")
                                             .contains("widget"))
                                    .select("p_partkey", "p_retailprice")),
                        F.col("l_partkey") == F.col("p_partkey"))
                .join(F.broadcast(supp),
                      F.col("l_suppkey") == F.col("s_suppkey"))
                .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
                .groupBy("nation", F.year("o_orderdate").alias("o_year"))
                .agg(F.sum(amount).cast("double").alias("sum_profit")))

    add("tpch_q9_product_profit", tpch_q9,
        f"""SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(CAST(SUM(
                 CAST({_DISC_D} AS DECIMAL(25,8))
                 - CAST(CAST(p_retailprice AS DECIMAL(12,4))
                        * CAST(l_quantity AS DECIMAL(12,4))
                        AS DECIMAL(25,8))) AS VARCHAR) AS DOUBLE)
                   AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%widget%'
        GROUP BY 1, 2""")

    def tpch_q10(spark, sf):
        # returned-item revenue per customer, deterministic top 20: the
        # ORDER BY+LIMIT compiles to TakeOrderedAndProject (per-partition
        # top-20, k·P-row merge) so no task ever sorts the full
        # per-customer table; the rank window then sees only 20 rows
        from pyspark.sql import Window
        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders")
        c = load_table(spark, sf, "customer")
        n = load_table(spark, sf, "nation")
        rev = F.col("l_extendedprice").cast("decimal(12,4)") \
            * (F.lit(1.0) - F.col("l_discount")).cast("decimal(6,4)")
        per_cust = (li.filter(F.col("l_returnflag") == "R")
                    .join(o.filter((F.col("o_orderdate") >= "1997-10-01")
                                   & (F.col("o_orderdate") < "1998-01-01"))
                          .select("o_orderkey", "o_custkey"),
                          F.col("l_orderkey") == F.col("o_orderkey"))
                    .groupBy("o_custkey")
                    .agg(F.sum(rev).cast("double").alias("revenue")))
        w = Window.orderBy(F.desc("revenue"), F.asc("o_custkey"))
        top = (per_cust.orderBy(F.desc("revenue"), F.asc("o_custkey"))
               .limit(20)
               .withColumn("rank", F.row_number().over(w).cast("int")))
        return (top.join(c, F.col("o_custkey") == F.col("c_custkey"))
                .join(F.broadcast(n),
                      F.col("c_nationkey") == F.col("n_nationkey"))
                .select("rank", F.col("c_custkey").alias("custkey"),
                        "c_name", F.col("n_name").alias("nation"),
                        "revenue", "c_acctbal"))

    add("tpch_q10_returned_items", tpch_q10,
        f"""WITH per_cust AS (
          SELECT o_custkey, CAST(CAST(SUM({_DISC_D}) AS VARCHAR) AS DOUBLE)
                   AS revenue
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_returnflag = 'R'
            AND o_orderdate >= TIMESTAMP '1997-10-01'
            AND o_orderdate <  TIMESTAMP '1998-01-01'
          GROUP BY o_custkey),
        top AS (
          SELECT o_custkey, revenue,
                 CAST(ROW_NUMBER() OVER (ORDER BY revenue DESC, o_custkey)
                      AS INTEGER) AS rank
          FROM per_cust QUALIFY rank <= 20)
        SELECT rank, c_custkey AS custkey, c_name, n_name AS nation,
               revenue, c_acctbal
        FROM top JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey""")

    def tpch_q11(spark, sf):
        # important-stock: per-part value from one nation's suppliers,
        # kept when above a fixed fraction of the total — the global
        # threshold rides a broadcast of a 1-row aggregate, and the
        # fraction compare is an exact-decimal cross-multiply
        li = load_table(spark, sf, "lineitem")
        s = load_table(spark, sf, "supplier")
        n = load_table(spark, sf, "nation")
        nat_sup = (s.join(F.broadcast(n.filter(F.col("n_name")
                                               == "NATION_3")),
                          F.col("s_nationkey") == F.col("n_nationkey"))
                   .select("s_suppkey"))
        val = F.col("l_extendedprice").cast("decimal(12,4)") \
            * (F.lit(1.0) - F.col("l_discount")).cast("decimal(6,4)")
        per_part = (li.join(F.broadcast(nat_sup),
                            F.col("l_suppkey") == F.col("s_suppkey"),
                            "left_semi")
                    .groupBy("l_partkey")
                    .agg(F.sum(val).alias("value_d")))
        total = per_part.agg(F.sum("value_d").alias("total_d"))
        return (per_part.crossJoin(F.broadcast(total))
                .filter(F.col("value_d") * 300 > F.col("total_d"))
                .select(F.col("l_partkey").alias("partkey"),
                        F.col("value_d").cast("double").alias("value")))

    add("tpch_q11_important_stock", tpch_q11,
        f"""WITH per_part AS (
          SELECT l_partkey, SUM({_DISC_D}) AS value_d
          FROM lineitem
          WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                              JOIN nation ON s_nationkey = n_nationkey
                              WHERE n_name = 'NATION_3')
          GROUP BY l_partkey)
        SELECT l_partkey AS partkey,
               CAST(CAST(value_d AS VARCHAR) AS DOUBLE) AS value
        FROM per_part
        WHERE value_d * 300 > (SELECT SUM(value_d) FROM per_part)""")

    def tpch_q15(spark, sf):
        # top supplier: max over the aggregated revenue table via a
        # broadcast 1-row max join (no single-partition window)
        li = load_table(spark, sf, "lineitem")
        s = load_table(spark, sf, "supplier")
        rev = F.col("l_extendedprice").cast("decimal(12,4)") \
            * (F.lit(1.0) - F.col("l_discount")).cast("decimal(6,4)")
        per_supp = (li.filter((F.col("l_shipdate") >= "1997-01-01")
                              & (F.col("l_shipdate") < "1997-04-01"))
                    .groupBy("l_suppkey")
                    .agg(F.sum(rev).alias("total_d")))
        mx = per_supp.agg(F.max("total_d").alias("max_d"))
        return (per_supp.crossJoin(F.broadcast(mx))
                .filter(F.col("total_d") == F.col("max_d"))
                .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
                .select(F.col("s_suppkey").alias("suppkey"), "s_name",
                        F.col("total_d").cast("double")
                        .alias("total_revenue")))

    add("tpch_q15_top_supplier", tpch_q15,
        f"""WITH per_supp AS (
          SELECT l_suppkey, SUM({_DISC_D}) AS total_d
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate <  TIMESTAMP '1997-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey AS suppkey, s_name,
               CAST(CAST(total_d AS VARCHAR) AS DOUBLE) AS total_revenue
        FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_d = (SELECT MAX(total_d) FROM per_supp)""")

    def tpch_q17(spark, sf):
        # small-quantity-order revenue: the correlated per-part average
        # becomes a broadcast join against the per-part aggregate, and
        # `qty < 0.2 * avg` is cross-multiplied into exact integers
        # (5 * n * qty < sum_qty) so no engine disagrees at the boundary
        li = load_table(spark, sf, "lineitem")
        p = load_table(spark, sf, "part")
        tgt_parts = p.filter((F.col("p_brand") == "Brand#11")
                             & (F.col("p_type") == "SMALL")) \
                     .select("p_partkey")
        li_t = li.join(F.broadcast(tgt_parts),
                       F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        stats = (li_t.groupBy(F.col("l_partkey").alias("sp"))
                 .agg(F.sum(F.col("l_quantity").cast("decimal(12,4)"))
                      .alias("sum_qty"),
                      F.count(F.lit(1)).alias("n_li")))
        small = (li_t.join(F.broadcast(stats),
                           F.col("l_partkey") == F.col("sp"))
                 .filter(F.col("l_quantity").cast("decimal(12,4)")
                         * 5 * F.col("n_li") < F.col("sum_qty")))
        return small.agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
             .cast("double") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"))

    add("tpch_q17_small_quantity", tpch_q17,
        f"""WITH li_t AS (
          SELECT l_partkey, l_quantity, l_extendedprice
          FROM lineitem
          WHERE l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_brand = 'Brand#11'
                                AND p_type = 'SMALL')),
        stats AS (
          SELECT l_partkey AS sp,
                 SUM(CAST(l_quantity AS DECIMAL(12,4))) AS sum_qty,
                 COUNT(*) AS n_li
          FROM li_t GROUP BY 1)
        SELECT {SUM_D('l_extendedprice')} / 7.0 AS avg_yearly,
               COUNT(*) AS n_small
        FROM li_t JOIN stats ON l_partkey = sp
        WHERE CAST(l_quantity AS DECIMAL(12,4)) * 5 * n_li < sum_qty""")

    def tpch_q20(spark, sf):
        # excess-shipment suppliers: semi-join chain part->lineitem agg->
        # threshold->supplier, dimension sides broadcast
        li = load_table(spark, sf, "lineitem")
        s = load_table(spark, sf, "supplier")
        n = load_table(spark, sf, "nation")
        p = load_table(spark, sf, "part")
        bolt = p.filter(F.col("p_name").contains("bolt")) \
                .select("p_partkey")
        shipped = (li.filter((F.col("l_shipdate") >= "1997-01-01")
                             & (F.col("l_shipdate") < "1998-01-01"))
                   .join(F.broadcast(bolt),
                         F.col("l_partkey") == F.col("p_partkey"),
                         "left_semi")
                   .groupBy("l_suppkey")
                   .agg(F.sum(F.col("l_quantity").cast("decimal(12,4)"))
                        .alias("qty_d"))
                   .filter(F.col("qty_d") > 150))
        return (shipped.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
                .join(F.broadcast(n.filter(F.col("n_name") == "NATION_7")),
                      F.col("s_nationkey") == F.col("n_nationkey"),
                      "left_semi")
                .select("s_name", "s_acctbal",
                        F.col("qty_d").cast("double").alias("total_qty")))

    add("tpch_q20_excess_shippers", tpch_q20,
        """SELECT s_name, s_acctbal,
               CAST(CAST(qty_d AS VARCHAR) AS DOUBLE) AS total_qty
        FROM (
          SELECT l_suppkey, SUM(CAST(l_quantity AS DECIMAL(12,4))) AS qty_d
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate <  TIMESTAMP '1998-01-01'
            AND l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_name LIKE '%bolt%')
          GROUP BY l_suppkey)
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE qty_d > 150
          AND s_nationkey IN (SELECT n_nationkey FROM nation
                              WHERE n_name = 'NATION_7')""")

    def tpch_q21(spark, sf):
        # waiting-orders analogue without commit/receipt dates: on
        # finished multi-supplier orders, suppliers who were the ONLY one
        # with returned lines — the exists/not-exists pair collapses into
        # one per-order aggregate (distinct suppliers vs distinct
        # returned-suppliers) instead of two self-joins
        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders")
        s = load_table(spark, sf, "supplier")
        li_f = li.join(o.filter(F.col("o_orderstatus") == "F")
                       .select("o_orderkey"),
                       F.col("l_orderkey") == F.col("o_orderkey"),
                       "left_semi")
        # pre-aggregate to (order, supplier) grain FIRST: one map-side-
        # combinable groupBy replaces the double count_distinct (which
        # would Expand every line 2x before the shuffle), and a hot order
        # key partially combines on the scan side — measured ~20% faster
        # and the skew-safe shape at scale
        per_os = (li_f.groupBy("l_orderkey", "l_suppkey")
                  .agg(F.max(F.when(F.col("l_returnflag") == "R", 1)
                             .otherwise(0)).alias("has_ret")))
        # r13 (guide §2.4): derive the blamed supplier INSIDE the
        # per-order aggregate — when n_ret_supp == 1 the max over the
        # returned suppliers IS the unique blamed one, so the old
        # second pass over per_os and its left-semi join (which
        # duplicated the whole lineitem subtree in the plan: 2 scans,
        # 2 (order,supplier) aggregations, +1 join exchange) collapse
        # into this one aggregation.  Same rows: a qualifying order
        # contributes exactly one (order, blamed-supplier) pair either
        # way.
        per_order = (per_os.groupBy("l_orderkey")
                     .agg(F.count(F.lit(1)).alias("n_supp"),
                          F.sum("has_ret").alias("n_ret_supp"),
                          F.max(F.when(F.col("has_ret") == 1,
                                       F.col("l_suppkey")))
                          .alias("ret_supp")))
        blamed = (per_order.filter((F.col("n_supp") > 1)
                                   & (F.col("n_ret_supp") == 1))
                  .select(F.col("ret_supp").alias("l_suppkey")))
        return (blamed.join(F.broadcast(s),
                            F.col("l_suppkey") == F.col("s_suppkey"))
                .groupBy("s_name")
                .agg(F.count(F.lit(1)).alias("numwait")))

    add("tpch_q21_waiting_orders", tpch_q21,
        """WITH li_f AS (
          SELECT l_orderkey, l_suppkey, l_returnflag
          FROM lineitem
          WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                               WHERE o_orderstatus = 'F')),
        per_order AS (
          SELECT l_orderkey,
                 COUNT(DISTINCT l_suppkey) AS n_supp,
                 COUNT(DISTINCT CASE WHEN l_returnflag = 'R'
                       THEN l_suppkey END) AS n_ret_supp
          FROM li_f GROUP BY 1)
        SELECT s_name, COUNT(*) AS numwait
        FROM (SELECT DISTINCT l_orderkey, l_suppkey
              FROM li_f WHERE l_returnflag = 'R') b
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE l_orderkey IN (SELECT l_orderkey FROM per_order
                             WHERE n_supp > 1 AND n_ret_supp = 1)
        GROUP BY s_name""")

    # pre-join key profiling: exact inner-join cardinality + skew/null
    # diagnostics from per-key counts only (payloads never shuffle)
    def jprofile(spark, sf):
        from ..operators.joins import join_profile
        o = load_table(spark, sf, "orders").select(
            F.col("o_custkey").alias("custkey"))
        c = load_table(spark, sf, "customer").select(
            F.col("c_custkey").alias("custkey"))
        return join_profile(o, c, ["custkey"])

    add("tpch_join_profile_orders_customer", jprofile,
        """WITH pl AS (
          SELECT o_custkey AS k, COUNT(*) AS n FROM orders GROUP BY 1),
        pr AS (
          SELECT c_custkey AS k, COUNT(*) AS n FROM customer GROUP BY 1),
        l AS (SELECT CAST(SUM(n) AS BIGINT) AS n_left,
                     CAST(COUNT(*) AS BIGINT) AS distinct_left,
                     CAST(MAX(n) AS BIGINT) AS max_key_mult_left,
                     CAST(SUM(CASE WHEN k IS NULL THEN n ELSE 0 END)
                          AS BIGINT) AS null_key_rows_left
              FROM pl),
        r AS (SELECT CAST(SUM(n) AS BIGINT) AS n_right,
                     CAST(COUNT(*) AS BIGINT) AS distinct_right,
                     CAST(MAX(n) AS BIGINT) AS max_key_mult_right,
                     CAST(SUM(CASE WHEN k IS NULL THEN n ELSE 0 END)
                          AS BIGINT) AS null_key_rows_right
              FROM pr),
        j AS (SELECT CAST(coalesce(SUM(pl.n * pr.n), 0) AS BIGINT)
                       AS est_output_rows
              FROM pl JOIN pr USING (k) WHERE k IS NOT NULL)
        SELECT * FROM l, r, j""")
