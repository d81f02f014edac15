package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QuerySupport._

/** The relational SQL surface (SURVEY.md §2B): joins, aggregates,
  * grouping sets, windows, set operations and the scalar, array, map,
  * string, date and semi-structured function suites.
  */
private[graft] object RelationalQueries extends QueryFamily {

  query("q1_agg",
      """SELECT l_returnflag, l_linestatus, floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty,
        |       floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS sum_base,
        |       floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS sum_disc,
        |       floor(avg(l_quantity) * 10000 + 0.5) / 10000 AS avg_qty, count(*) AS n
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin) { (spark, dir) =>
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        r(sum("l_quantity"), 2).as("sum_qty"),
        r(sum("l_extendedprice"), 2).as("sum_base"),
        r(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
        r(avg("l_quantity"), 4).as("avg_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  query("q_filter_project",
      """SELECT l_orderkey, l_linenumber,
        |       l_extendedprice * (1 - l_discount) AS net
        |FROM lineitem WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber LIMIT 200""".stripMargin) { (spark, dir) =>
    t(spark, dir, "lineitem")
      .filter(col("l_quantity").between(10, 20) && col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"))
      .orderBy("l_orderkey", "l_linenumber")
      .limit(200)
  }

  query("q_join_broadcast",
      """SELECT p_brand, count(*) AS n, floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS sum_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (spark, dir) =>
    t(spark, dir, "lineitem")
      .join(broadcast(t(spark, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), r(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("p_brand")
  }

  query("q_join_5way",
      """SELECT r_name, n_name,
        |       floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue, count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) { (spark, dir) =>
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(r(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy("r_name", "n_name")
  }

  query("q_semi_join",
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 200000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
    val bigOrders = t(spark, dir, "orders").filter(col("o_totalprice") > 200000)
    t(spark, dir, "customer")
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  query("q_anti_join",
      """SELECT c_mktsegment, count(*) AS n, floor(sum(c_acctbal) * 100 + 0.5) / 100 AS sum_bal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (spark, dir) =>
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders").filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), r(sum("c_acctbal"), 2).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  query("q_window_topk",
      """SELECT o_custkey, rk, o_orderkey, price FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice AS price,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk").cast("long").as("rk"), col("o_orderkey"),
        col("o_totalprice").as("price"))
      .orderBy("o_custkey", "rk")
  }

  query("q_window_lag",
      """SELECT l_suppkey, count(gap_days) AS n_gaps,
        |       floor(avg(gap_days) * 10000 + 0.5) / 10000 AS avg_gap, max(gap_days) AS max_gap
        |FROM (
        |  SELECT l_suppkey,
        |         datediff('day',
        |           lag(l_shipdate) OVER (PARTITION BY l_suppkey
        |             ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC),
        |           l_shipdate) AS gap_days
        |  FROM lineitem)
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc, col("l_linenumber").asc)
    t(spark, dir, "lineitem")
      .withColumn("prev_ship", lag(col("l_shipdate"), 1).over(w))
      .withColumn("gap_days", datediff(col("l_shipdate"), col("prev_ship")))
      .groupBy("l_suppkey")
      .agg(count(col("gap_days")).as("n_gaps"),
        r(avg(col("gap_days")), 4).as("avg_gap"),
        max(col("gap_days")).cast("long").as("max_gap"))
      .orderBy("l_suppkey")
  }

  query("q_rollup",
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |       count(*) AS n, floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin) { (spark, dir) =>
    t(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), r(sum("l_quantity"), 2).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))
      .orderBy("rf", "ls")
  }

  query("q_cube",
      """SELECT coalesce(o_orderstatus, 'ALL') AS st, coalesce(o_orderpriority, 'ALL') AS pr,
        |       count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY st, pr""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("pr"),
        col("n"))
      .orderBy("st", "pr")
  }

  query("q_grouping_sets",
      """SELECT coalesce(o_orderstatus, 'ALL') AS st, coalesce(o_orderpriority, 'ALL') AS pr,
        |       count(*) AS n, floor(sum(o_totalprice) * 100 + 0.5) / 100 AS sum_price
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY st, pr""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), r(sum("o_totalprice"), 2).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("pr"),
        col("n"), col("sum_price"))
      .orderBy("st", "pr")
  }

  query("q_json_extract",
      """SELECT event_type,
        |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) AS n_k,
        |       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    events(spark, dir)
      .withColumn("k",
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").cast("long"))
      .groupBy("event_type")
      .agg(sum("k").as("sum_k"), countDistinct(col("k")).as("n_k"),
        max(get_json_object(col("props"), "$.k").cast("long")).as("max_k"))
      .orderBy("event_type")
  }

  query("q_supplier_topk",
      """SELECT s_name, n_name,
        |       floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY s_name, n_name ORDER BY revenue DESC, s_name LIMIT 10""".stripMargin) { (spark, dir) =>
    t(spark, dir, "lineitem")
      .join(broadcast(t(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy("s_name", "n_name")
      .agg(r(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("s_name"))
      .limit(10)
  }

  /** HLL sketch (approx_count_distinct) next to the exact count — the
    * scale path for distinct counting. Sketch families differ across
    * engines, so the oracle checks the INVARIANT: the sketch lands within
    * its 5% error envelope of the exact count (which the oracle reproduces
    * exactly); tighter rsd accuracy is spec-gated in ScalaTest.
    */
  query("q_hll",
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders, true AS within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("__approx"),
        countDistinct(col("l_orderkey")).as("exact_orders"))
      .select(col("l_returnflag"), col("exact_orders"),
        (abs(col("__approx") - col("exact_orders")).cast("double") /
          col("exact_orders").cast("double") <= 0.05).as("within_5pct"))
      .orderBy("l_returnflag")
  }

  /** Mergeable HLL sketches (DataSketches `hll_sketch_agg` /
    * `hll_union_agg`) — the way distinct counts actually run at 100 TB:
    * one sketch per shard/partition/snapshot, persisted as a binary
    * column, unioned later WITHOUT revisiting the data. Here: per-language
    * source sketches unioned into the corpus-wide distinct-source count.
    * Sketch bytes differ across engines, so the oracle checks the
    * invariants — per-language estimates and the post-union estimate match
    * the exact counts the oracle recomputes (HLL at lgK=12 is exact at
    * these cardinalities; large-corpus error bounds are spec-gated).
    */
  query("q_hll_sketch_union",
      """SELECT CAST(count(DISTINCT lang) AS BIGINT) AS n_shards,
        |       CAST(count(DISTINCT lang) AS BIGINT) AS n_shard_ok,
        |       CAST(count(DISTINCT source) AS BIGINT) AS union_distinct
        |FROM documents""".stripMargin) { (spark, dir) =>
    val perLang = t(spark, dir, "documents")
      .groupBy("lang")
      .agg(hll_sketch_agg(col("source"), lit(12)).as("__sk"),
        countDistinct(col("source")).as("n_exact"))
    perLang
      .agg(count(lit(1)).as("n_shards"),
        sum(when(hll_sketch_estimate(col("__sk")) === col("n_exact"), 1L)
          .otherwise(0L)).as("n_shard_ok"),
        hll_sketch_estimate(hll_union_agg(col("__sk"), lit(false)))
          .as("union_distinct"))
  }

  /** Session windows (30-minute gap) over the events stream-table; the
    * oracle reproduces sessionization with the lag/cumsum islands trick.
    */
  query("q_session_window",
      """WITH b AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |         ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b),
        |per AS (SELECT user_id, sid, count(*) AS n_events FROM sess GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |       CAST(sum(n_events) AS BIGINT) AS n_events,
        |       max(n_events) AS max_session_events
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin) { (spark, dir) =>
    events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"),
        max("n_events").as("max_session_events"))
      .orderBy("user_id")
  }

  /** Exact interpolated percentiles (Spark `percentile` == DuckDB
    * `quantile_cont`: lower + (upper-lower)*frac on the sorted values).
    */
  query("q_percentile",
      """SELECT l_returnflag,
        |       floor(quantile_cont(l_extendedprice, 0.5) * 10000 + 0.5) / 10000 AS p50,
        |       floor(quantile_cont(l_extendedprice, 0.95) * 10000 + 0.5) / 10000 AS p95,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(r(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        r(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** APPROXIMATE percentiles (Spark's approx_percentile sketch) graded
    * like q_hll: the oracle reproduces the EXACT per-group median and n;
    * the in-query invariant asserts the sketch lands within the rank-error
    * bound (accuracy 10000 → eps = 1/10000, checked against the exact
    * value-range envelope at p±2eps computed in-query). At 100 TB the
    * sketch is the only affordable option — mergeable partial state per
    * task vs a full sort per group for the exact form.
    */
  query("q_approx_percentile",
      """SELECT l_returnflag,
        |       floor(quantile_cont(l_extendedprice, 0.5) * 10000 + 0.5) / 10000 AS exact_p50,
        |       count(*) AS n, true AS within_rank_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      // ONE exact-percentile aggregate with an array of fractions — three
      // separate percentile() calls would each buffer every group value
      .agg(expr("percentile(l_extendedprice, array(0.4998, 0.5, 0.5002))").as("__p"),
        expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("__a"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        r(element_at(col("__p"), 2), 4).as("exact_p50"),
        col("n"),
        (col("__a") >= element_at(col("__p"), 1) &&
          col("__a") <= element_at(col("__p"), 3)).as("within_rank_bound"))
      .orderBy("l_returnflag")
  }

  /** Relational PIVOT: the hour-of-day x event-type count matrix with an
    * EXPLICIT pivot domain — at 100 TB the value list is configuration,
    * not a driver-side distinct-discovery pass (which `pivot(col)` without
    * values would run). Absent cells are true zeros.
    */
  query("q_pivot",
      """SELECT CAST(hour(ts) AS BIGINT) AS hod,
        |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    events(spark, dir)
      .withColumn("hod", hour(col("ts")).cast("long"))
      .groupBy("hod")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy("hod")
  }

  /** UNPIVOT (melt) — the inverse of `q_pivot`'s explicit-domain pivot:
    * the hour x type count matrix melted back to long form and
    * re-aggregated per type. Spark's `unpivot` plans as a single Expand
    * (no join, no shuffle beyond the final aggregate); ids/values/names
    * are explicit — nothing is inferred at plan time from data.
    */
  query("q_unpivot",
      """WITH wide AS (
        |  SELECT CAST(hour(ts) AS BIGINT) AS hod,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |  FROM events GROUP BY 1),
        |long AS (
        |  SELECT hod, event_type, n
        |  FROM wide UNPIVOT (n FOR event_type IN (click, error, purchase, signup, view)))
        |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_hours,
        |       max(n) AS max_hourly
        |FROM long GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val wide = events(spark, dir)
      .withColumn("hod", hour(col("ts")).cast("long"))
      .groupBy("hod")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
    wide.unpivot(Array(col("hod")),
        Array(col("click"), col("error"), col("purchase"), col("signup"), col("view")),
        "event_type", "n")
      .groupBy("event_type")
      .agg(sum("n").as("n_events"),
        sum(when(col("n") === 0, 1L).otherwise(0L)).as("n_empty_hours"),
        max("n").as("max_hourly"))
      .orderBy("event_type")
  }

  /** Typed JSON extraction via `from_json` with a DECLARED schema (the
    * plan-time-typed sibling of `q_json_extract`'s path extraction):
    * props parsed to a struct column once, fields projected as native
    * ints — codegen'd JacksonParser, no per-field re-parse.
    */
  query("q_json_struct",
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
        |       CAST(sum(CASE WHEN json_extract(props, '$.k') IS NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_null_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    events(spark, dir)
      .withColumn("j", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("j.k").cast("long")).as("sum_k"),
        max(col("j.k")).cast("long").as("max_k"),
        sum(when(col("j.k").isNull, 1L).otherwise(0L)).as("n_null_k"))
      .orderBy("event_type")
  }

  /** Zero-extra-pass pipeline telemetry (`Dataset.observe`): the pass
    * itself reports its audit metrics through a CollectMetrics node —
    * counts/sums accumulate per task and reach the driver with the job's
    * completion events, so a 100 TB write audits itself without a second
    * scan. The query executes ONE action over the filtered projection and
    * returns the observed metrics as the result; the oracle computes the
    * same aggregates directly.
    */
  query("q_observe",
      """SELECT count(*) AS n_rows, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |       floor(max(l_extendedprice) * 100 + 0.5) / 100 AS max_price
        |FROM lineitem WHERE l_quantity >= 25""".stripMargin) { (spark, dir) =>
    val obs = new org.apache.spark.sql.Observation()
    val df = t(spark, dir, "lineitem")
      .filter(col("l_quantity") >= 25)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum("l_quantity").cast("long").as("sum_qty"),
        r(max("l_extendedprice"), 2).as("max_price"))
    df.count() // the one action; metrics ride on it
    val row = obs.get
    import spark.implicits._
    Seq((row("n_rows").asInstanceOf[Long],
      row("sum_qty").asInstanceOf[Long],
      row("max_price").asInstanceOf[Double]))
      .toDF("n_rows", "sum_qty", "max_price")
  }

  /** MULTIPLE distinct aggregates in one GROUP BY — the Expand-based
    * rewrite (one row replicated per distinct column set, then two-phase
    * aggregation); distinct state is partitioned by (group, value), so
    * a hot group's distinct sets still spread across reducers.
    */
  query("q_multi_distinct",
      """SELECT o_orderpriority,
        |       count(DISTINCT o_custkey) AS n_cust,
        |       count(DISTINCT strftime(o_orderdate, '%Y-%m')) AS n_months,
        |       count(DISTINCT o_orderstatus) AS n_status,
        |       count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(date_format(col("o_orderdate"), "yyyy-MM").as("m")).as("n_months"),
        countDistinct(col("o_orderstatus")).as("n_status"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  /** The TYPED Dataset surface end-to-end ([[graft.ops.TypedAgg]]):
    * case-class rows (`as[Item]`), `groupByKey`, and a custom
    * `Aggregator[IN, BUF, OUT]` with map-side partials — the
    * quantity-weighted mean price per return flag in integer cents
    * (exact partial sums; ONE integer division per group, so the result
    * is partition-order independent and the oracle reproduces it with
    * the same arithmetic).
    */
  query("q_typed_agg",
      """SELECT l_returnflag,
        |       CAST(sum(CAST(l_quantity AS BIGINT) *
        |                 CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) //
        |            sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w_price_cents
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.ops.TypedAgg
    t(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("qty"),
        expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("priceCents"))
      .as[TypedAgg.Item]
      .groupByKey(_.flag)
      .agg(TypedAgg.WeightedPriceCents.toColumn.name("w_price_cents"))
      .toDF("l_returnflag", "w_price_cents")
      .orderBy("l_returnflag")
  }

  query("q_distinct_agg",
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n,
        |       floor(sum(o_totalprice) * 100 + 0.5) / 100 AS sum_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n"),
        r(sum("o_totalprice"), 2).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  query("q_setops",
      """SELECT
        |  (SELECT count(*) FROM (
        |     SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |     INTERSECT
        |     SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01')) AS n_both,
        |  (SELECT count(*) FROM (
        |     SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |     EXCEPT
        |     SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01')) AS n_only_early,
        |  (SELECT count(DISTINCT o_custkey) FROM orders) AS n_any""".stripMargin) { (spark, dir) =>
    val o = t(spark, dir, "orders")
    val h1 = o.filter(col("o_orderdate") < lit("1998-01-01")).select("o_custkey").distinct()
    val h2 = o.filter(col("o_orderdate") >= lit("1998-01-01")).select("o_custkey").distinct()
    h1.intersect(h2).agg(count(lit(1)).as("n_both"))
      .crossJoin(broadcast(h1.except(h2).agg(count(lit(1)).as("n_only_early"))))
      .crossJoin(broadcast(h1.union(h2).distinct().agg(count(lit(1)).as("n_any"))))
  }

  query("q_scalar_funcs",
      """SELECT o_orderkey, upper(o_orderpriority) AS pr, year(o_orderdate) AS y,
        |       month(o_orderdate) AS m, length(o_orderstatus) AS ls,
        |       floor(sqrt(o_totalprice) * 10000 + 0.5) / 10000 AS sq,
        |       concat(o_orderstatus, '-', o_orderpriority) AS cc
        |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .filter(col("o_orderkey") <= 500)
      .select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("pr"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        length(col("o_orderstatus")).cast("long").as("ls"),
        r(sqrt(col("o_totalprice")), 4).as("sq"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("cc"))
      .orderBy("o_orderkey")
  }

  /** Higher-order array functions (§2B scalar surface beyond strings/
    * dates): each user's history collected to an ORDERED array
    * (`sort_array` of (ts, event_id) structs — per-user state, the
    * sessionization boundedness contract), consecutive gaps via
    * `zip_with` over two `slice`s, folded with `aggregate` — the whole
    * chain is one codegen'd projection after one grouping, no second
    * shuffle, no UDF. Readout: users histogrammed by max-gap hours. The
    * oracle reproduces relationally (lag window), pinning the array
    * semantics against an independent formulation.
    */
  query("q_array_funcs",
      """WITH g AS (
        |  SELECT user_id,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS gap
        |  FROM events),
        |per AS (
        |  SELECT user_id, CAST(max(gap) AS BIGINT) AS maxg,
        |         CAST(sum(gap) AS BIGINT) AS sumg
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
        |SELECT maxg // 3600000000 AS gap_h, count(*) AS n_users,
        |       CAST(sum(sumg) AS BIGINT) AS sum_gap_us
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    events(spark, dir)
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id")))).as("evs"))
      .withColumn("n", size(col("evs")))
      .filter(col("n") >= 2)
      .withColumn("gaps", expr(
        "zip_with(slice(evs, 1, n - 1), slice(evs, 2, n - 1)," +
          " (a, b) -> unix_micros(b.ts) - unix_micros(a.ts))"))
      .withColumn("max_gap_us", expr("aggregate(gaps, -1L, (acc, g) -> greatest(acc, g))"))
      .withColumn("sum_gap_us", expr("aggregate(gaps, 0L, (acc, g) -> acc + g)"))
      .groupBy(expr("max_gap_us div 3600000000").as("gap_h"))
      .agg(count(lit(1)).as("n_users"), sum("sum_gap_us").as("sum_gap_us"))
      .orderBy("gap_h")
  }

  query("q_regex_extract",
      """SELECT CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 10 AS k_bucket,
        |       count(*) AS n, max(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin) { (spark, dir) =>
    events(spark, dir)
      .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), max(col("k")).as("max_k"))
      .orderBy("k_bucket")
  }

  /** Sliding windows (1 h window, 30 min slide) over events — each event
    * lands in exactly two windows; the oracle materializes both window
    * starts per event explicitly.
    */
  query("q_sliding_window",
      """SELECT strftime(ws, '%Y-%m-%d %H:%M') AS ws, event_type, count(*) AS n
        |FROM (
        |  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
        |                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS ws,
        |         event_type
        |  FROM events)
        |GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin) { (spark, dir) =>
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("ws"),
        col("event_type"), col("n"))
      .orderBy("ws", "event_type")
  }

  /** Heavy hitters ([[graft.ops.HeavyHitters]]): exact top-10 hottest users
    * by event count (oracle side, deterministic tiebreak) with each row's
    * Count–Min estimate graded against its guaranteed envelope
    * `exact <= est <= exact + eps*N` — the q_hll pattern applied to the
    * frequency sketch.
    */
  query("q_heavy_hitters",
      """SELECT user_id, count(*) AS n, true AS cms_ok
        |FROM events GROUP BY user_id
        |ORDER BY n DESC, user_id LIMIT 10""".stripMargin) { (spark, dir) =>
    graft.ops.HeavyHitters.topKWithCmsCheck(
      events(spark, dir).select(col("user_id")), "user_id", 10)
  }

  /** `q_heavy_hitters` over the documents table (`source` key) — the sketch
    * path exercised on BOTH fixture families, so the Count–Min surface is
    * never hostage to the events table's timestamp encoding.
    */
  query("q_heavy_hitters_docs",
      """SELECT source, count(*) AS n, true AS cms_ok
        |FROM documents GROUP BY source
        |ORDER BY n DESC, source LIMIT 10""".stripMargin) { (spark, dir) =>
    graft.ops.HeavyHitters.topKWithCmsCheck(
      t(spark, dir, "documents").select(col("source")), "source", 10)
  }

  /** URL parsing (`parse_url` — host/query components) over synthesized
    * per-doc URLs, grouped by host: the C4-style provenance-grouping shape
    * (dedup/rate decisions per registrable host). The oracle rebuilds the
    * same URLs with printf and parses with regexp_extract.
    */
  query("q_url_extract",
      """WITH u AS (
        |  SELECT printf('https://site-%d.example.org/%s/doc-%d?ref=%d',
        |                doc_id % 20, lang, doc_id, doc_id % 7) AS url
        |  FROM documents),
        |p AS (SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host,
        |             regexp_extract(url, '\?(.*)$', 1) AS query FROM u)
        |SELECT host, count(*) AS n, count(DISTINCT query) AS n_refs
        |FROM p GROUP BY host ORDER BY host""".stripMargin) { (spark, dir) =>
    t(spark, dir, "documents")
      .select(format_string("https://site-%d.example.org/%s/doc-%d?ref=%d",
        pmod(col("doc_id"), lit(20)), col("lang"), col("doc_id"),
        pmod(col("doc_id"), lit(7))).as("url"))
      .select(expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'QUERY')").as("query"))
      .groupBy("host")
      .agg(count(lit(1)).as("n"), countDistinct(col("query")).as("n_refs"))
      .orderBy("host")
  }

  /** Ranking-window suite (§2B window functions beyond topk/lag):
    * `ntile`, `percent_rank`, `cume_dist` over a UNIQUE total order
    * (price, key — ties would make ntile membership engine-dependent).
    * Readout keeps only order-independent per-bucket extremes (an AVG of
    * doubles would inherit partition summation order).
    */
  query("q_window_suite",
      """WITH w AS (
        |  SELECT o_orderpriority,
        |         CAST(ntile(4) OVER ord AS BIGINT) AS q4,
        |         percent_rank() OVER ord AS pr,
        |         cume_dist() OVER ord AS cd
        |  FROM orders
        |  WINDOW ord AS (PARTITION BY o_orderpriority
        |                 ORDER BY o_totalprice, o_orderkey))
        |SELECT o_orderpriority, q4, count(*) AS n,
        |       floor(min(pr) * 1000000 + 0.5) / 1000000 AS min_pr,
        |       floor(max(pr) * 1000000 + 0.5) / 1000000 AS max_pr,
        |       floor(max(cd) * 1000000 + 0.5) / 1000000 AS max_cd
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("q4", ntile(4).over(w).cast("long"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .groupBy("o_orderpriority", "q4")
      .agg(count(lit(1)).as("n"),
        r(min("pr"), 6).as("min_pr"), r(max("pr"), 6).as("max_pr"),
        r(max("cd"), 6).as("max_cd"))
      .orderBy("o_orderpriority", "q4")
  }

  /** String-function suite (§2B scalars beyond the basics): levenshtein
    * (identical DP algorithm in both engines — exact integers), translate,
    * lpad, initcap-style casing on the dialect-free customer names, one
    * scan, no shuffle beyond the final bounded aggregate.
    */
  query("q_string_suite",
      """WITH s AS (
        |  SELECT CAST(levenshtein(c_name, reverse(c_name)) AS BIGINT) AS lev,
        |         CAST(length(replace(c_name, '0', '')) AS BIGINT) AS len_no_zero,
        |         lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded
        |  FROM customer)
        |SELECT lev % 4 AS lev_bucket, count(*) AS n,
        |       CAST(sum(len_no_zero) AS BIGINT) AS sum_len,
        |       max(padded) AS max_padded
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    t(spark, dir, "customer")
      .select(col("c_custkey"),
        levenshtein(col("c_name"), reverse(col("c_name"))).cast("long").as("lev"),
        length(translate(col("c_name"), "0", "")).cast("long").as("len_no_zero"),
        lpad(col("c_custkey").cast("string"), 12, "0").as("padded"))
      .groupBy((col("lev") % 4).as("lev_bucket"))
      .agg(count(lit(1)).as("n"), sum("len_no_zero").as("sum_len"),
        max("padded").as("max_padded"))
      .orderBy("lev_bucket")
  }

  /** Conditional/boolean aggregate suite: `count_if`, `bool_and`,
    * `bool_or`, plus filtered aggregation — the audit-flag readouts every
    * constraint system compiles to, one pass, map-side combinable.
    */
  query("q_cond_agg",
      """SELECT o_orderpriority, count(*) AS n,
        |       CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
        |       bool_or(o_orderstatus = 'F') AS any_f,
        |       bool_and(o_totalprice > 0) AS all_positive,
        |       max(CASE WHEN o_orderstatus = 'O' THEN o_orderkey END) AS max_open_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        expr("count_if(o_totalprice > 150000)").as("n_big"),
        expr("bool_or(o_orderstatus = 'F')").as("any_f"),
        expr("bool_and(o_totalprice > 0)").as("all_positive"),
        max(when(col("o_orderstatus") === "O", col("o_orderkey"))).as("max_open_key"))
      .orderBy("o_orderpriority")
  }

  /** Incremental aggregate maintenance (the nightly-rollup pattern):
    * yesterday's per-type rollup is COMBINED with the delta batch's
    * rollup — `union → re-aggregate` over two already-tiny partial
    * frames, the base data is never rescanned. count/sum/min/max are the
    * mergeable-state aggregates (the same algebra the `q_hll_sketch_union`
    * / `q_value_histogram` sketches extend to distincts/quantiles); the
    * oracle computes the full-scan answer, certifying merge ≡ rescan.
    */
  query("q_incremental_agg",
      // full-scan answer: certifies the partial-aggregate MERGE ≡ rescan
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(floor("value" * 1000000) AS BIGINT)) AS BIGINT)
        |         AS sum_vu,
        |       min(CAST(floor("value" * 1000000) AS BIGINT)) AS min_vu,
        |       max(CAST(floor("value" * 1000000) AS BIGINT)) AS max_vu
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val ev = events(spark, dir)
      .withColumn("vu", floor(col("value") * 1000000).cast("long"))
    def rollup(df: DataFrame): DataFrame = df.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("vu").as("sum_vu"),
        min("vu").as("min_vu"), max("vu").as("max_vu"))
    val base = rollup(ev.filter(col("event_id") < 8000))   // "yesterday"
    val delta = rollup(ev.filter(col("event_id") >= 8000)) // tonight's batch
    base.union(delta)
      .groupBy("event_type")
      .agg(sum("n").as("n"), sum("sum_vu").as("sum_vu"),
        min("min_vu").as("min_vu"), max("max_vu").as("max_vu"))
      .orderBy("event_type")
  }

  /** Date/time function suite (§2A's DATE semantics widened):
    * add_months, last_day, quarter, dayofweek, date_trunc to quarter —
    * calendar arithmetic both engines must agree on exactly.
    */
  query("q_date_suite",
      // DuckDB dayofweek is 0=Sunday; Spark's is 1=Sunday — aligned with +1
      """WITH dd AS (SELECT CAST(o_orderdate AS DATE) AS d FROM orders)
        |SELECT CAST(quarter(d) AS BIGINT) AS q, count(*) AS n,
        |       CAST(CAST(max(d + INTERVAL 3 MONTH) AS DATE) AS VARCHAR) AS max_plus3m,
        |       CAST(max(last_day(d)) AS VARCHAR) AS max_month_end,
        |       CAST(sum(dayofweek(d) + 1) AS BIGINT) AS sum_dow,
        |       CAST(CAST(min(date_trunc('quarter', d)) AS DATE) AS VARCHAR)
        |         AS min_q_start
        |FROM dd GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .withColumn("d", col("o_orderdate").cast("date"))
      .groupBy(quarter(col("d")).cast("long").as("q"))
      .agg(count(lit(1)).as("n"),
        max(add_months(col("d"), 3)).cast("string").as("max_plus3m"),
        max(last_day(col("d"))).cast("string").as("max_month_end"),
        sum(dayofweek(col("d")).cast("long")).as("sum_dow"),
        min(date_trunc("quarter", col("d")).cast("date")).cast("string").as("min_q_start"))
      .orderBy("q")
  }

  /** Bag-semantics set operations (UNION/INTERSECT/EXCEPT **ALL** — the
    * multiplicity-preserving corner [[qSetops]]'s DISTINCT forms don't
    * touch): row multisets built from two order slices, counted after
    * each ALL operator.
    */
  query("q_setops_all",
      """WITH a AS (SELECT o_orderpriority AS p FROM orders WHERE o_orderkey % 3 = 0),
        |b AS (SELECT o_orderpriority AS p FROM orders WHERE o_orderkey % 2 = 0),
        |u AS (SELECT p, count(*) AS n_union_all FROM (
        |        SELECT p FROM a UNION ALL SELECT p FROM b) GROUP BY 1),
        |i AS (SELECT p, count(*) AS n_intersect_all FROM (
        |        SELECT p FROM a INTERSECT ALL SELECT p FROM b) GROUP BY 1),
        |e AS (SELECT p, count(*) AS n_except_all FROM (
        |        SELECT p FROM a EXCEPT ALL SELECT p FROM b) GROUP BY 1)
        |SELECT u.p, u.n_union_all,
        |       coalesce(i.n_intersect_all, 0) AS n_intersect_all,
        |       coalesce(e.n_except_all, 0) AS n_except_all
        |FROM u LEFT JOIN i ON u.p = i.p LEFT JOIN e ON u.p = e.p
        |ORDER BY 1""".stripMargin) { (spark, dir) =>
    val a = t(spark, dir, "orders").filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderpriority").as("p"))
    val b = t(spark, dir, "orders").filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderpriority").as("p"))
    val u = a.unionAll(b).groupBy("p").agg(count(lit(1)).as("n_union_all"))
    val i = a.intersectAll(b).groupBy("p").agg(count(lit(1)).as("n_intersect_all"))
    val e = a.exceptAll(b).groupBy("p").agg(count(lit(1)).as("n_except_all"))
    u.join(i, Seq("p"), "left").join(e, Seq("p"), "left")
      .na.fill(0L, Seq("n_intersect_all", "n_except_all"))
      .orderBy("p")
  }

  /** Null-semantics suite: null-safe equality (`<=>` / IS NOT DISTINCT
    * FROM), `nullif`, `nvl2`-style branching, and coalesce chains over a
    * column with SYNTHESIZED nulls — the exact corner where engines
    * diverge silently; every readout is an integer count.
    */
  query("q_null_suite",
      """WITH s AS (
        |  SELECT o_orderpriority,
        |         CASE WHEN o_orderkey % 7 <> 0 THEN o_orderstatus END AS st
        |  FROM orders)
        |SELECT o_orderpriority, count(*) AS n,
        |       count(st) AS n_status,
        |       CAST(sum(CASE WHEN st IS NOT DISTINCT FROM 'F' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_f_nullsafe,
        |       CAST(sum(CASE WHEN st IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_null_nullsafe,
        |       CAST(sum(CASE WHEN nullif(st, 'O') IS NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_nullif_o,
        |       CAST(sum(coalesce(CAST(length(st) AS BIGINT), -1)) AS BIGINT)
        |         AS sum_coalesced
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      // every 7th order loses its status (deterministic null planting)
      .withColumn("st", when(col("o_orderkey") % 7 =!= 0, col("o_orderstatus")))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        count(col("st")).as("n_status"),
        sum(when(col("st") <=> lit("F"), 1L).otherwise(0L)).as("n_f_nullsafe"),
        sum(when(col("st") <=> lit(null), 1L).otherwise(0L)).as("n_null_nullsafe"),
        sum(when(expr("nullif(st, 'O')").isNull, 1L).otherwise(0L)).as("n_nullif_o"),
        sum(coalesce(length(col("st")).cast("long"), lit(-1L))).as("sum_coalesced"))
      .orderBy("o_orderpriority")
  }

  /** Decimal (money) arithmetic: prices cast to DECIMAL(18,2) and summed
    * EXACTLY — the no-float-drift contract double summation can't give;
    * sums are emitted as canonical strings so the parity check is on the
    * exact decimal value, not a dtype representation.
    */
  query("q_decimal",
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
        |         AS VARCHAR) AS sum_price,
        |       CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS max_price,
        |       CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS min_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .withColumn("p", col("o_totalprice").cast("decimal(18,2)"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum("p").cast("decimal(28,2)").cast("string").as("sum_price"),
        max("p").cast("string").as("max_price"),
        min("p").cast("string").as("min_price"))
      .orderBy("o_orderstatus")
  }

  /** Correlated scalar subquery (Catalyst decorrelation): orders priced
    * at their customer's maximum, written AS the correlated form — the
    * optimizer rewrites it into an aggregate + join (no per-row
    * re-execution), which is the only shape that survives 100 TB. The
    * oracle runs the IDENTICAL correlated SQL text in DuckDB.
    */
  query("q_correlated_subq",
      """SELECT o.o_orderpriority AS pri, count(*) AS n_max_orders,
        |       CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_price_c
        |FROM orders o
        |WHERE o.o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
        |                        WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o.o_orderpriority AS pri, count(*) AS n_max_orders,
        |       cast(sum(cast(floor(o.o_totalprice * 100) as bigint)) as bigint)
        |         AS sum_price_c
        |FROM orders o
        |WHERE o.o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
        |                        WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Recursive CTE (Spark 4.x `WITH RECURSIVE`): SQL-level iteration —
    * ancestor depths over the implicit binary supplier hierarchy
    * (`parent = suppkey div 2`), a transitive closure neither joins nor
    * window functions can express in one statement. Spark executes the
    * recursion as iterated union-all steps (each step one distributed
    * join against the previous frontier — the same shape as
    * [[graft.ops.Bfs]]); depth is bounded by log2(|supplier|), so the
    * iteration count grows logarithmically with data size. DuckDB runs
    * the identical text with `//` for integer division.
    */
  query("q_recursive_cte",
      """WITH RECURSIVE anc AS (
        |  SELECT CAST(0 AS BIGINT) AS k, CAST(0 AS BIGINT) AS depth
        |  UNION ALL
        |  SELECT s_suppkey, depth + 1
        |  FROM supplier JOIN anc ON s_suppkey // 2 = anc.k
        |  WHERE s_suppkey > 0)
        |SELECT depth, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
        |FROM anc GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    t(spark, dir, "supplier").createOrReplaceTempView("supplier")
    spark.sql(
      """WITH RECURSIVE anc AS (
        |  SELECT cast(0 as bigint) AS k, cast(0 as bigint) AS depth
        |  UNION ALL
        |  SELECT s_suppkey, depth + 1
        |  FROM supplier JOIN anc ON s_suppkey div 2 = anc.k
        |  WHERE s_suppkey > 0)
        |SELECT depth, count(*) AS n, cast(sum(k) as bigint) AS sum_k
        |FROM anc GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** LATERAL VIEW posexplode (ordinality-preserving explode): the first
    * 10 tokens of each document with their positions — the generator runs
    * scan-side inside whole-stage codegen (a Generate node, no shuffle
    * before the aggregate), and the per-(lang, pos) readout is bounded.
    * The DuckDB oracle reproduces ordinality with zip-unnest of
    * `range(...)` against the sliced token array.
    */
  query("q_posexplode",
      """WITH toks AS (
        |  SELECT lang,
        |         unnest(range(0, least(10, len(string_split(text, ' '))))) AS pos,
        |         unnest(string_split(text, ' ')[:10]) AS tok
        |  FROM documents)
        |SELECT lang, CAST(pos AS BIGINT) AS pos, count(*) AS n,
        |       CAST(sum(length(tok)) AS BIGINT) AS sum_len
        |FROM toks GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    t(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(
      """SELECT lang, cast(pos as bigint) AS pos, count(*) AS n,
        |       cast(sum(length(tok)) as bigint) AS sum_len
        |FROM documents
        |LATERAL VIEW posexplode(slice(split(text, ' '), 1, 10)) AS pos, tok
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  /** VARIANT semi-structured round-trip (Spark 4.x `parse_json` →
    * `variant_get`): deterministic JSON synthesized from orders, parsed
    * ONCE into the binary VARIANT encoding, then typed extractions
    * aggregate exactly back to the source — certifying parse + path
    * extraction + cast against the relational oracle (which reads the
    * same source directly, the established round-trip trick). VARIANT
    * keeps extraction scan-side and codegen'd; no per-row re-parse per
    * path the way repeated `get_json_object` calls would.
    */
  query("q_variant",
      """SELECT o_orderpriority AS pri, count(*) AS n,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_c,
        |       CAST(max(o_orderkey) AS BIGINT) AS max_k
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """WITH j AS (
        |  SELECT parse_json(concat('{"k":', cast(o_orderkey as string),
        |           ',"p":"', o_orderpriority, '","t":',
        |           cast(cast(floor(o_totalprice * 100) as bigint) as string),
        |           '}')) AS v
        |  FROM orders)
        |SELECT cast(variant_get(v, '$.p') as string) AS pri, count(*) AS n,
        |       sum(cast(variant_get(v, '$.t') as bigint)) AS sum_c,
        |       max(cast(variant_get(v, '$.k') as bigint)) AS max_k
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** XML extraction (Spark 4.x built-in `from_xml` with a DECLARED
    * schema): deterministic XML synthesized from orders, parsed back to a
    * typed struct and aggregated to the source values — the same
    * round-trip certification as q_variant/the log source. Parse once to
    * a struct, project native fields; never per-field xpath calls.
    */
  query("q_xml_extract",
      """SELECT o_orderstatus AS status, count(*) AS n,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_c
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """WITH x AS (
        |  SELECT from_xml(concat('<o><k>', cast(o_orderkey as string),
        |           '</k><s>', o_orderstatus, '</s><c>',
        |           cast(cast(floor(o_totalprice * 100) as bigint) as string),
        |           '</c></o>'), 'k BIGINT, s STRING, c BIGINT') AS r
        |  FROM orders)
        |SELECT r.s AS status, count(*) AS n, cast(sum(r.c) as bigint) AS sum_c
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** LISTAGG ordered string aggregation (Spark 4.x `WITHIN GROUP`): the
    * first three orderkeys per priority concatenated in declared order —
    * deterministic because the WITHIN GROUP order is total and the input
    * is pre-limited per group by a rank filter (compiled to
    * WindowGroupLimit, so no group ever aggregates more than 3 strings).
    */
  query("q_listagg",
      """WITH top3 AS (
        |  SELECT o_orderpriority, o_orderkey,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_orderpriority AS pri,
        |       string_agg(CAST(o_orderkey AS VARCHAR), ','
        |                  ORDER BY o_orderkey) AS first_keys
        |FROM top3 WHERE rn <= 3 GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """WITH top3 AS (
        |  SELECT o_orderpriority, o_orderkey,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_orderpriority AS pri,
        |       listagg(cast(o_orderkey as string), ',')
        |         WITHIN GROUP (ORDER BY o_orderkey) AS first_keys
        |FROM top3 WHERE rn <= 3 GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Bitwise aggregates (bit_or / bit_and / bit_xor): exact integer bit
    * accumulation per group — the compact-bitmap building block (presence
    * masks, feature flags) that stays a one-pass map-side-combinable
    * hash aggregate at any scale.
    */
  query("q_bit_agg",
      """SELECT o_orderstatus AS status,
        |       CAST(bit_or(o_orderkey % 4096) AS BIGINT) AS b_or,
        |       CAST(bit_and(o_orderkey % 4096 + 4096) AS BIGINT) AS b_and,
        |       CAST(bit_xor(o_orderkey) AS BIGINT) AS b_xor
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderstatus AS status,
        |       cast(bit_or(o_orderkey % 4096) as bigint) AS b_or,
        |       cast(bit_and(o_orderkey % 4096 + 4096) as bigint) AS b_and,
        |       cast(bit_xor(o_orderkey) as bigint) AS b_xor
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Array set operations (array_union / array_intersect / array_except)
    * over per-group collected sets — readout is SIZES only, so the result
    * is element-order-insensitive and the DuckDB oracle can rebuild the
    * same sets with list functions. Per-group arrays are bounded (≤100
    * distinct residues), the collect is an ObjectHashAggregate.
    */
  query("q_array_setops",
      """WITH a AS (
        |  SELECT o_orderpriority AS pri,
        |         list_distinct(list(o_orderkey % 100)) AS sa
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
        |b AS (
        |  SELECT o_orderpriority AS pri,
        |         list_distinct(list(o_orderkey % 100)) AS sb
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1)
        |SELECT a.pri,
        |       CAST(len(list_distinct(list_concat(sa, sb))) AS BIGINT) AS n_union,
        |       CAST(len(list_filter(sa, x -> list_contains(sb, x))) AS BIGINT)
        |         AS n_intersect,
        |       CAST(len(list_filter(sa, x -> NOT list_contains(sb, x))) AS BIGINT)
        |         AS n_except
        |FROM a JOIN b ON a.pri = b.pri ORDER BY a.pri""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """WITH a AS (
        |  SELECT o_orderpriority AS pri,
        |         sort_array(collect_set(o_orderkey % 100)) AS sa
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
        |b AS (
        |  SELECT o_orderpriority AS pri,
        |         sort_array(collect_set(o_orderkey % 100)) AS sb
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1)
        |SELECT a.pri,
        |       cast(size(array_union(sa, sb)) as bigint) AS n_union,
        |       cast(size(array_intersect(sa, sb)) as bigint) AS n_intersect,
        |       cast(size(array_except(sa, sb)) as bigint) AS n_except
        |FROM a JOIN b ON a.pri = b.pri ORDER BY a.pri""".stripMargin)
  }

  /** Map construction round-trip (map_from_entries → size / element_at /
    * map_keys): per-priority status→count map built from a sorted entry
    * list (deterministic key order), read back and certified against the
    * relational source the same way q_variant/q_xml_extract round-trip.
    */
  query("q_map_funcs",
      """SELECT o_orderpriority AS pri,
        |       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_keys,
        |       CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
        |       min(o_orderstatus) AS first_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """WITH c AS (
        |  SELECT o_orderpriority AS pri, o_orderstatus AS st, count(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |m AS (
        |  SELECT pri,
        |         map_from_entries(sort_array(collect_list(struct(st, cnt)))) AS mp
        |  FROM c GROUP BY 1)
        |SELECT pri, cast(size(mp) as bigint) AS n_keys,
        |       cast(element_at(mp, 'F') as bigint) AS n_f,
        |       map_keys(mp)[0] AS first_key
        |FROM m ORDER BY pri""".stripMargin)
  }

  /** EXISTS / NOT EXISTS subqueries (the SQL spelling of semi/anti —
    * Catalyst plans them as LeftSemi/LeftAnti, the only scalable shape):
    * customers with an urgent order but no 1996 order, counted per
    * segment. Identical text runs in DuckDB.
    */
  query("q_exists_subq",
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |                    AND o2.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    t(spark, dir, "customer").createOrReplaceTempView("customer")
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderdate >= timestamp '1996-01-01 00:00:00'
        |                    AND o2.o_orderdate <  timestamp '1997-01-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** RANGE-frame windows (value-based frames, not row-counted ones): each
    * order's trailing-30-day spend per customer — frame bounds in exact
    * integer MICROSECONDS over the epoch so both engines cut the frame
    * identically. Readout keeps order-independent per-priority extremes.
    */
  query("q_window_range",
      """WITH b AS (
        |  SELECT o_orderpriority,
        |         sum(CAST(floor(o_totalprice * 100) AS BIGINT)) OVER (
        |           PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
        |           RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW)
        |           AS trail30
        |  FROM orders)
        |SELECT o_orderpriority, count(*) AS n,
        |       CAST(max(trail30) AS BIGINT) AS max_trail30_c,
        |       CAST(min(trail30) AS BIGINT) AS min_trail30_c
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("o_custkey").orderBy(col("us"))
      .rangeBetween(-2592000000000L, 0L) // 30 days of microseconds
    t(spark, dir, "orders")
      .withColumn("us", unix_micros(col("o_orderdate").cast("timestamp")))
      .withColumn("pc", floor(col("o_totalprice") * 100).cast("long"))
      .withColumn("trail30", sum("pc").over(w))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), max("trail30").as("max_trail30_c"),
        min("trail30").as("min_trail30_c"))
      .orderBy("o_orderpriority")
  }
}
