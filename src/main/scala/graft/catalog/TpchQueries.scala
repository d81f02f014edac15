package graft
package catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import QuerySupport._

/** TPC-H queries 1-22 over the generated TPC-H tables (SURVEY.md §2B). */
private[graft] object TpchQueries extends QueryFamily {

  /** ANSI SQL entry point (the `spark.sql` surface next to the DataFrame
    * API every other query uses): the TPC-H Q3 shipping-priority shape —
    * 3-way join, selective date filters both sides, grouped revenue,
    * global top-10. Revenue is exact integer CENTS (`floor(price·(1−disc)
    * ·100)` — the identical IEEE sequence both engines run), so the
    * ranking is deterministic; ties break on the key. The plan is the
    * classic broadcast(customer-filter) + shuffled lineitem join +
    * TakeOrdered.
    */
  query("q_tpch_q3",
      """SELECT o_orderkey,
        |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |         AS BIGINT) AS revenue_c,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue_c DESC, o_orderkey
        |LIMIT 10""".stripMargin) { (spark, dir) =>
    t(spark, dir, "customer").createOrReplaceTempView("customer")
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    t(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT o_orderkey,
        |       sum(cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint))
        |         AS revenue_c,
        |       cast(cast(o_orderdate as date) as string) AS order_date
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < timestamp '1998-06-01 00:00:00'
        |  AND l_shipdate > timestamp '1998-06-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue_c DESC, o_orderkey
        |LIMIT 10""".stripMargin)
  }

  /** TPC-H Q5 shape (local-supplier revenue by nation): the 6-way
    * snowflake join — lineitem⋈orders⋈customer⋈supplier⋈nation⋈region
    * with the local-supplier condition `c_nationkey = s_nationkey` — in
    * exact integer cents. The dims broadcast, the two fact joins
    * shuffle once each; the classic plan AQE should pick unaided.
    */
  query("q_tpch_q5",
      """SELECT n_name,
        |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |         AS BIGINT) AS revenue_c
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue_c DESC, n_name""".stripMargin) { (spark, dir) =>
    Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
      .foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
    spark.sql(
      """SELECT n_name,
        |       sum(cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint))
        |         AS revenue_c
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= timestamp '1996-01-01 00:00:00'
        |  AND o_orderdate <  timestamp '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue_c DESC, n_name""".stripMargin)
  }

  /** TPC-H Q6 shape (forecast revenue change): the pure scan-filter-
    * aggregate — no join at all; the whole query is one codegen'd stage
    * whose filters push to the parquet scan. Integer-cents readout.
    */
  query("q_tpch_q6",
      """SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 100) AS BIGINT))
        |         AS BIGINT) AS revenue_c,
        |       count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin) { (spark, dir) =>
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum(floor(col("l_extendedprice") * col("l_discount") * 100).cast("long"))
        .as("revenue_c"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q10 shape (returned-item losses by customer): top 20
    * customers by revenue lost to returns — fact joins + one bounded
    * TakeOrdered, nation broadcast.
    */
  query("q_tpch_q10",
      """SELECT c_custkey, c_name, n_name,
        |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |         AS BIGINT) AS revenue_c
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue_c DESC, c_custkey
        |LIMIT 20""".stripMargin) { (spark, dir) =>
    Seq("customer", "orders", "lineitem", "nation")
      .foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
    spark.sql(
      """SELECT c_custkey, c_name, n_name,
        |       sum(cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint))
        |         AS revenue_c
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= timestamp '1996-01-01 00:00:00'
        |  AND o_orderdate <  timestamp '1996-07-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue_c DESC, c_custkey
        |LIMIT 20""".stripMargin)
  }

  /** TPC-H Q1 (pricing summary) in full: per (returnflag, linestatus)
    * sums/counts with the derived charge expression — every money column
    * an exact integer-cents sum, the averages integer divisions of those
    * sums (a float `avg()` would inherit partition summation order).
    */
  query("q_tpch_q1",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_base_c,
        |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |         AS BIGINT) AS sum_disc_c,
        |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)
        |           AS BIGINT)) AS BIGINT) AS sum_charge_c,
        |       count(*) AS n,
        |       CAST(CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |         // count(*) AS BIGINT) AS avg_price_c,
        |       CAST(CAST(sum(CAST(floor(l_discount * 10000) AS BIGINT)) AS BIGINT)
        |         // count(*) AS BIGINT) AS avg_disc_bp
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (spark, dir) =>
    t(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |       cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty,
        |       sum(cast(floor(l_extendedprice * 100) as bigint)) AS sum_base_c,
        |       sum(cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint))
        |         AS sum_disc_c,
        |       sum(cast(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)
        |           as bigint)) AS sum_charge_c,
        |       count(*) AS n,
        |       sum(cast(floor(l_extendedprice * 100) as bigint)) div count(*)
        |         AS avg_price_c,
        |       sum(cast(floor(l_discount * 10000) as bigint)) div count(*)
        |         AS avg_disc_bp
        |FROM lineitem
        |WHERE l_shipdate <= timestamp '2001-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** TPC-H Q18 shape (large-volume customers): `IN` over a HAVING-
    * filtered aggregate subquery — Catalyst plans the IN as a semi-join
    * against the aggregated subquery, never a per-row probe. Quantities
    * are integral doubles, so the sums are exact.
    */
  query("q_tpch_q18",
      """SELECT c_custkey, c_name, o_orderkey,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |GROUP BY c_custkey, c_name, o_orderkey
        |ORDER BY total_qty DESC, o_orderkey
        |LIMIT 20""".stripMargin) { (spark, dir) =>
    Seq("customer", "orders", "lineitem")
      .foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
    spark.sql(
      """SELECT c_custkey, c_name, o_orderkey,
        |       cast(sum(cast(l_quantity as bigint)) as bigint) AS total_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |GROUP BY c_custkey, c_name, o_orderkey
        |ORDER BY total_qty DESC, o_orderkey
        |LIMIT 20""".stripMargin)
  }

  /** TPC-H Q14 shape (promotion effect): lineitem⋈part with a
    * conditional revenue share — promo share in exact ppm (integer-cents
    * numerator and denominator, split-free integer division since the
    * numerator is bounded by the denominator × 1e6 ≪ 2^63 at any
    * realistic month's revenue... in cents × ppm terms the product stays
    * inside a long for monthly slices; the month filter is what bounds
    * it, exactly as in the official query).
    */
  query("q_tpch_q14",
      """SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
        |               THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |               ELSE 0 END) AS BIGINT) AS promo_c,
        |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |         AS BIGINT) AS total_c,
        |       CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
        |               THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |               ELSE 0 END) AS BIGINT) * 1000000
        |         // CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |              AS BIGINT) AS BIGINT) AS promo_ppm
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'""".stripMargin) { (spark, dir) =>
    Seq("lineitem", "part").foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
    spark.sql(
      """SELECT sum(case when p_type = 'PROMO'
        |               then cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)
        |               else 0L end) AS promo_c,
        |       sum(cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint))
        |         AS total_c,
        |       sum(case when p_type = 'PROMO'
        |               then cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)
        |               else 0L end) * 1000000
        |         div sum(cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint))
        |         AS promo_ppm
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= timestamp '1996-03-01 00:00:00'
        |  AND l_shipdate <  timestamp '1996-04-01 00:00:00'""".stripMargin)
  }

  /** Registers the full TPC-H star schema as temp views — shared by the
    * Q2/Q4/Q7..Q22 battery below. */
  private def tpchViews(spark: SparkSession, dir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach(n => t(spark, dir, n).createOrReplaceTempView(n))

  /** TPC-H Q2 shape (minimum-cost supplier): the correlated MIN subquery
    * over a region-restricted offer set, decorrelated by Catalyst into an
    * aggregate + join (never a per-part re-execution). The testdata has no
    * partsupp table, so the part↔supplier offer relation is derived from
    * lineitem (min sale cents per pair) — the correlated-aggregate shape,
    * which is what Q2 exercises, is unchanged.
    */
  query("q_tpch_q2",
      """WITH offer AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS offer_c
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT p_partkey, s_name, n_name,
        |       CAST(floor(s_acctbal * 100) AS BIGINT) AS s_acctbal_c, o.offer_c
        |FROM part, offer o, supplier, nation, region
        |WHERE p_partkey = o.l_partkey AND s_suppkey = o.l_suppkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE' AND p_size = 15
        |  AND o.offer_c = (
        |    SELECT min(o2.offer_c) FROM offer o2, supplier s2, nation n2, region r2
        |    WHERE o2.l_partkey = p_partkey AND s2.s_suppkey = o2.l_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
        |      AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal_c DESC, n_name, s_name, p_partkey
        |LIMIT 20""".stripMargin) { (spark, dir) =>
    tpchViews(spark, dir)
    spark.sql(
      """WITH offer AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(cast(floor(l_extendedprice * 100) as bigint)) AS offer_c
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT p_partkey, s_name, n_name,
        |       cast(floor(s_acctbal * 100) as bigint) AS s_acctbal_c, o.offer_c
        |FROM part, offer o, supplier, nation, region
        |WHERE p_partkey = o.l_partkey AND s_suppkey = o.l_suppkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE' AND p_size = 15
        |  AND o.offer_c = (
        |    SELECT min(o2.offer_c) FROM offer o2, supplier s2, nation n2, region r2
        |    WHERE o2.l_partkey = p_partkey AND s2.s_suppkey = o2.l_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
        |      AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal_c DESC, n_name, s_name, p_partkey
        |LIMIT 20""".stripMargin)
  }

  /** TPC-H Q4 shape (order-priority checking): EXISTS over lineitem with a
    * non-trivial correlated predicate — shipped >30 days after the order
    * date (the testdata has no commit/receipt dates; the late-ship test in
    * exact epoch-microsecond arithmetic keeps both engines cutting the
    * boundary identically). Catalyst plans the EXISTS as a left semi join.
    */
  query("q_tpch_q4",
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND epoch_us(l_shipdate) - epoch_us(o_orderdate)
        |                    > 2592000000000)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    tpchViews(spark, dir)
    spark.sql(
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= timestamp '1996-07-01 00:00:00'
        |  AND o_orderdate <  timestamp '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND unix_micros(cast(l_shipdate as timestamp))
        |                  - unix_micros(cast(o_orderdate as timestamp))
        |                    > 2592000000000)
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** TPC-H Q7 (volume shipping): the two-nation bidirectional trade flow —
    * nation joined twice under different roles (supplier side and customer
    * side), disjunctive pair predicate, revenue by year in exact cents.
    */
  query("q_tpch_q7",
      """SELECT supp_nation, cust_nation, yr,
        |       CAST(sum(vol_c) AS BIGINT) AS revenue_c
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |             CAST(year(l_shipdate) AS BIGINT) AS yr,
        |             CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |               AS vol_c
        |      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        |      JOIN orders ON o_orderkey = l_orderkey
        |      JOIN customer ON c_custkey = o_custkey
        |      JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |      JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        |          OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        |        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00') shipping
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (spark, dir) =>
    tpchViews(spark, dir)
    spark.sql(
      """SELECT supp_nation, cust_nation, yr,
        |       cast(sum(vol_c) as bigint) AS revenue_c
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |             cast(year(l_shipdate) as bigint) AS yr,
        |             cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)
        |               AS vol_c
        |      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        |      JOIN orders ON o_orderkey = l_orderkey
        |      JOIN customer ON c_custkey = o_custkey
        |      JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |      JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        |          OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        |        AND l_shipdate >= timestamp '1996-01-01 00:00:00'
        |        AND l_shipdate <  timestamp '1998-01-01 00:00:00') shipping
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)
  }

  /** TPC-H Q8 (national market share): one nation's share of a region's
    * import volume per year, in exact ppm — integer-cents numerator and
    * denominator with `div`, never a float ratio. Nation joins twice
    * (customer region membership vs supplier origin).
    */
  query("q_tpch_q8",
      """WITH all_nations AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |         CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |           AS vol_c,
        |         n2.n_name AS supp_nation
        |  FROM part JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
        |SELECT yr,
        |       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol_c ELSE 0 END)
        |         AS BIGINT) AS nation_c,
        |       CAST(sum(vol_c) AS BIGINT) AS total_c,
        |       CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol_c ELSE 0 END)
        |         AS BIGINT) * 1000000 // CAST(sum(vol_c) AS BIGINT) AS BIGINT)
        |         AS share_ppm
        |FROM all_nations GROUP BY yr ORDER BY yr""".stripMargin) { (spark, dir) =>
    tpchViews(spark, dir)
    spark.sql(
      """WITH all_nations AS (
        |  SELECT cast(year(o_orderdate) as bigint) AS yr,
        |         cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)
        |           AS vol_c,
        |         n2.n_name AS supp_nation
        |  FROM part JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |    AND o_orderdate >= timestamp '1996-01-01 00:00:00'
        |    AND o_orderdate <  timestamp '1998-01-01 00:00:00')
        |SELECT yr,
        |       cast(sum(case when supp_nation = 'NATION_3' then vol_c else 0 end)
        |         as bigint) AS nation_c,
        |       cast(sum(vol_c) as bigint) AS total_c,
        |       cast(sum(case when supp_nation = 'NATION_3' then vol_c else 0 end)
        |         as bigint) * 1000000 div cast(sum(vol_c) as bigint) AS share_ppm
        |FROM all_nations GROUP BY yr ORDER BY yr""".stripMargin)
  }

  /** TPC-H Q9 shape (product-type profit): name-pattern part filter through
    * the full fact join, profit by supplier nation and order year. The
    * testdata has no partsupp.ps_supplycost, so profit is the discounted
    * revenue term only — the join/group topology Q9 exercises is intact.
    */
  query("q_tpch_q9",
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
        |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |         AS BIGINT) AS profit_c
        |FROM part JOIN lineitem ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    tpchViews(spark, dir)
    spark.sql(
      """SELECT n_name, cast(year(o_orderdate) as bigint) AS yr,
        |       sum(cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint))
        |         AS profit_c
        |FROM part JOIN lineitem ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  /** TPC-H Q11 shape (important stock): per-part value within one region's
    * suppliers, kept when above a scalar-subquery threshold. The official
    * fixed fraction (0.0001/SF) is scale-dependent; this uses the
    * scale-free "above 1.5× the mean part value" — `value·n > 3·total div 2`
    * in exact integers, so the cut is identical in both engines at any SF.
    */
  query("q_tpch_q11",
      """WITH val AS (
        |  SELECT l_partkey AS partkey,
        |         sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS value_c
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'
        |  GROUP BY 1)
        |SELECT partkey, CAST(value_c AS BIGINT) AS value_c
        |FROM val
        |WHERE value_c * (SELECT count(*) FROM val)
        |      > 3 * (SELECT sum(value_c) FROM val) // 2
        |ORDER BY value_c DESC, partkey""".stripMargin) { (spark, dir) =>
    tpchViews(spark, dir)
    spark.sql(
      """WITH val AS (
        |  SELECT l_partkey AS partkey,
        |         sum(cast(floor(l_extendedprice * 100) as bigint)) AS value_c
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'
        |  GROUP BY 1)
        |SELECT partkey, cast(value_c as bigint) AS value_c
        |FROM val
        |WHERE value_c * (SELECT count(*) FROM val)
        |      > 3 * (SELECT sum(value_c) FROM val) div 2
        |ORDER BY value_c DESC, partkey""".stripMargin)
  }

  /** TPC-H Q12 shape (shipping-priority classes): the CASE-sum split of
    * late-shipped lines (>60 days after order, exact epoch-µs test — the
    * testdata has no ship mode or receipt date) into high/low order
    * priorities per line status.
    */
  query("q_tpch_q12",
      """SELECT l_linestatus AS ship_class,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE epoch_us(l_shipdate) - epoch_us(o_orderdate) > 5184000000000
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    tpchViews(spark, dir)
    spark.sql(
      """SELECT l_linestatus AS ship_class,
        |       cast(sum(case when o_orderpriority in ('1-URGENT', '2-HIGH')
        |                then 1 else 0 end) as bigint) AS high_line_count,
        |       cast(sum(case when o_orderpriority not in ('1-URGENT', '2-HIGH')
        |                then 1 else 0 end) as bigint) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE unix_micros(cast(l_shipdate as timestamp))
        |      - unix_micros(cast(o_orderdate as timestamp)) > 5184000000000
        |  AND l_shipdate >= timestamp '1996-01-01 00:00:00'
        |  AND l_shipdate <  timestamp '1997-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** TPC-H Q13 (customer distribution): the LEFT OUTER join with an
    * ON-clause filter (customers keep their zero), per-customer order
    * count, then the histogram of counts — two aggregations with the
    * outer-join null semantics Q13 exists to test.
    */
  query("q_tpch_q13",
      """WITH c_orders AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey)
        |SELECT CAST(c_count AS BIGINT) AS c_count, count(*) AS custdist
        |FROM c_orders GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin) { (spark, dir) =>
    tpchViews(spark, dir)
    spark.sql(
      """WITH c_orders AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey)
        |SELECT cast(c_count as bigint) AS c_count, count(*) AS custdist
        |FROM c_orders GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)
  }

  /** TPC-H Q15 (top supplier): the revenue view consumed twice — once as
    * the join input, once under a scalar MAX subquery — selecting the
    * quarter's best supplier(s) without any sort of the full view.
    */
  query("q_tpch_q15",
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |           AS total_rev_c
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(total_rev_c AS BIGINT) AS total_rev_c
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_rev_c = (SELECT max(total_rev_c) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin) { (spark, dir) =>
    tpchViews(spark, dir)
    spark.sql(
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         sum(cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint))
        |           AS total_rev_c
        |  FROM lineitem
        |  WHERE l_shipdate >= timestamp '1996-01-01 00:00:00'
        |    AND l_shipdate <  timestamp '1996-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, cast(total_rev_c as bigint) AS total_rev_c
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_rev_c = (SELECT max(total_rev_c) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin)
  }

  /** TPC-H Q16 shape (part-supplier relationship count): COUNT(DISTINCT)
    * per part attribute triple with a NOT IN exclusion subquery (negative-
    * balance suppliers standing in for the official complaint filter; the
    * part↔supplier relation comes from lineitem — no partsupp table).
    */
  query("q_tpch_q16",
      """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#5'
        |  AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        |LIMIT 30""".stripMargin) { (spark, dir) =>
    tpchViews(spark, dir)
    spark.sql(
      """SELECT p_brand, p_type, cast(p_size as bigint) AS p_size,
        |       cast(count(DISTINCT l_suppkey) as bigint) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#5'
        |  AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        |LIMIT 30""".stripMargin)
  }

  /** TPC-H Q17 (small-quantity-order revenue): the per-part average-
    * quantity threshold `qty < 0.2·avg(qty)` cross-multiplied into the
    * exact integer predicate `5·qty·cnt < sum_qty` (quantities are
    * integral) — no float average anywhere, so both engines cut the same
    * lines. The per-part aggregate joins back to the fact, the shape
    * Catalyst decorrelates the official correlated form into anyway.
    */
  query("q_tpch_q17",
      """WITH pq AS (
        |  SELECT l_partkey AS pk, sum(CAST(l_quantity AS BIGINT)) AS sum_qty,
        |         count(*) AS cnt
        |  FROM lineitem GROUP BY 1)
        |SELECT count(*) AS n_small,
        |       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |         AS revenue_c
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |JOIN pq ON pk = l_partkey
        |WHERE p_brand = 'Brand#3'
        |  AND CAST(l_quantity AS BIGINT) * 5 * cnt < sum_qty""".stripMargin) { (spark, dir) =>
    tpchViews(spark, dir)
    spark.sql(
      """WITH pq AS (
        |  SELECT l_partkey AS pk, sum(cast(l_quantity as bigint)) AS sum_qty,
        |         count(*) AS cnt
        |  FROM lineitem GROUP BY 1)
        |SELECT count(*) AS n_small,
        |       cast(sum(cast(floor(l_extendedprice * 100) as bigint)) as bigint)
        |         AS revenue_c
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |JOIN pq ON pk = l_partkey
        |WHERE p_brand = 'Brand#3'
        |  AND cast(l_quantity as bigint) * 5 * cnt < sum_qty""".stripMargin)
  }

  /** TPC-H Q19 (disjunctive discounted revenue): the three-way OR of
    * brand/size/quantity envelopes — the predicate-pushdown stress test;
    * the whole disjunction evaluates scan-side after the part broadcast.
    */
  query("q_tpch_q19",
      """SELECT count(*) AS n_lines,
        |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |         AS BIGINT) AS revenue_c
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin) { (spark, dir) =>
    tpchViews(spark, dir)
    spark.sql(
      """SELECT count(*) AS n_lines,
        |       cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint))
        |         as bigint) AS revenue_c
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)
  }

  /** TPC-H Q20 shape (excess-volume suppliers): the nested IN over a
    * HAVING-filtered (supplier, part) aggregate — planned as semi-join
    * chains, never row-at-a-time probes. Region filter instead of a single
    * nation (the smallest SF has no supplier in most single nations);
    * shipped-quantity threshold instead of the partsupp availability term.
    */
  query("q_tpch_q20",
      """SELECT s_suppkey, s_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'AFRICA'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
        |    WHERE p_name LIKE 'small%'
        |      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |    GROUP BY l_suppkey, l_partkey
        |    HAVING sum(CAST(l_quantity AS BIGINT)) > 40)
        |ORDER BY s_suppkey""".stripMargin) { (spark, dir) =>
    tpchViews(spark, dir)
    spark.sql(
      """SELECT s_suppkey, s_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'AFRICA'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
        |    WHERE p_name LIKE 'small%'
        |      AND l_shipdate >= timestamp '1996-01-01 00:00:00'
        |      AND l_shipdate <  timestamp '1997-01-01 00:00:00'
        |    GROUP BY l_suppkey, l_partkey
        |    HAVING sum(cast(l_quantity as bigint)) > 40)
        |ORDER BY s_suppkey""".stripMargin)
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting): the double
    * correlated quantifier — EXISTS a co-supplier on the order AND NOT
    * EXISTS a co-supplier who shipped later (latest-shipper semantics over
    * l_shipdate; the testdata has no commit/receipt dates). Catalyst plans
    * the pair as semi + anti joins with the non-equi residual on the hash
    * key, the only shape that survives a fact-sized outer.
    */
  query("q_tpch_q21",
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F' AND n_regionkey = (
        |        SELECT r_regionkey FROM region WHERE r_name = 'MIDDLE EAST')
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin) { (spark, dir) =>
    tpchViews(spark, dir)
    spark.sql(
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F' AND n_regionkey = (
        |        SELECT r_regionkey FROM region WHERE r_name = 'MIDDLE EAST')
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)
  }

  /** TPC-H Q22 shape (global sales opportunity): scalar-subquery average
    * threshold + anti-join, with the above-average test cross-multiplied
    * into exact integers (`bal_c·n_pos > sum_pos_c`) so no float average
    * crosses engines. Country code is `c_custkey % 10` (no phone column);
    * the anti-join excludes customers with urgent orders (every customer
    * has some order at every SF).
    */
  query("q_tpch_q22",
      """WITH pos AS (
        |  SELECT CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT CAST(c_custkey % 10 AS BIGINT) AS cntrycode, count(*) AS numcust,
        |       CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |         AS totacctbal_c
        |FROM customer
        |WHERE c_custkey % 10 IN (1, 3, 5, 7, 9)
        |  AND CAST(floor(c_acctbal * 100) AS BIGINT) * (SELECT count(*) FROM pos)
        |      > (SELECT sum(bal_c) FROM pos)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    tpchViews(spark, dir)
    spark.sql(
      """WITH pos AS (
        |  SELECT cast(floor(c_acctbal * 100) as bigint) AS bal_c
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT cast(c_custkey % 10 as bigint) AS cntrycode, count(*) AS numcust,
        |       cast(sum(cast(floor(c_acctbal * 100) as bigint)) as bigint)
        |         AS totacctbal_c
        |FROM customer
        |WHERE c_custkey % 10 IN (1, 3, 5, 7, 9)
        |  AND cast(floor(c_acctbal * 100) as bigint) * (SELECT count(*) FROM pos)
        |      > (SELECT sum(bal_c) FROM pos)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }
}
