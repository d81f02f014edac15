package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{AsOfJoin, PartitionedSink}
import QuerySupport._

/** Physical-plan and table-layout queries (SURVEY.md §2B, §4): as-of,
  * range and skew joins, bucketing, runtime filters, partition pruning,
  * compaction, CDC, SCD2 and multi-format reads.
  */
private[graft] object PhysicalQueries extends QueryFamily {

  /** The oracle of both q_cdc_apply and q_streaming_cdc. */
  private[graft] val CdcSnapshotOracle =
      """WITH base AS (
        |  SELECT user_id, event_type, "value" FROM (
        |    SELECT user_id, event_type, "value",
        |           row_number() OVER (PARTITION BY user_id
        |             ORDER BY ts, event_id) AS rn
        |    FROM events WHERE event_type = 'signup') WHERE rn = 1),
        |lg AS (
        |  SELECT user_id, ts, event_id, event_type, "value",
        |         CASE WHEN event_type = 'error' THEN 'delete'
        |              ELSE 'upsert' END AS op
        |  FROM events WHERE event_type <> 'signup'),
        |last AS (
        |  SELECT user_id, op, event_type, "value" FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn FROM lg) WHERE rn = 1),
        |fin AS (
        |  SELECT coalesce(l.user_id, b.user_id) AS user_id,
        |         CASE WHEN l.user_id IS NULL THEN b.event_type
        |              ELSE l.event_type END AS event_type,
        |         CASE WHEN l.user_id IS NULL THEN b."value"
        |              ELSE l."value" END AS v
        |  FROM base b FULL JOIN last l ON b.user_id = l.user_id
        |  WHERE l.user_id IS NULL OR l.op <> 'delete')
        |SELECT event_type, count(*) AS n_users,
        |       CAST(sum(CAST(floor(v * 1000000) AS BIGINT)) AS BIGINT)
        |         AS sum_value_u
        |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin

  /** The oracle of both q_range_join and q_streaming_join. */
  private[graft] val RangeJoinOracle =
      """SELECT strftime(date_trunc('hour', c.ts), '%Y-%m-%d %H') AS hour,
        |       count(*) AS n_matches, count(DISTINCT c.user_id) AS n_users
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND epoch_us(p.ts) >= epoch_us(c.ts)
        | AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
        |GROUP BY 1 ORDER BY hour""".stripMargin

  /** The oracle of both q_overlap_join and q_overlap_autobucket. */
  private val OverlapJoinOracle =
      """SELECT strftime(date_trunc('hour', c.ts), '%Y-%m-%d %H') AS hour,
        |       count(*) AS n_overlaps, count(DISTINCT c.user_id) AS n_users
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND epoch_us(c.ts) <= epoch_us(p.ts) + 1800000000
        | AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000
        |GROUP BY 1 ORDER BY hour""".stripMargin

  /** The oracle of both q_skew_join and q_bucketed_join. */
  private val SkewJoinOracle =
      """SELECT o_orderpriority, count(*) AS n,
        |       floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Interval-union coverage per event type: each event opens a half-open
    * activity interval `[ts, ts + 1s + value/10 s)` and the readout is the
    * exact total duration covered by AT LEAST ONE interval — the
    * distributed sweep from [[graft.ops.IntervalCoverage]]. A naive sweep
    * is a per-type GLOBAL sort (one task per type at scale); the operator
    * clips intervals to p90-length-derived buckets so the window runs per
    * (type, bucket) and the per-group total is an exact sum of disjoint
    * per-bucket unions. All arithmetic is integer microseconds; the
    * duration mantissa is floor'd before widening so both engines build
    * identical interval ends.
    */
  query("q_interval_coverage",
      """WITH iv AS (
        |  SELECT event_type, s, e FROM (
        |    SELECT event_type, epoch_us(ts) AS s,
        |           epoch_us(ts) + 1000000
        |             + CAST(floor("value" * 100000) AS BIGINT) AS e
        |    FROM events)
        |  WHERE s < e),
        |sw AS (
        |  SELECT event_type, s, e,
        |         max(e) OVER (PARTITION BY event_type ORDER BY s, e
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM iv)
        |SELECT event_type,
        |       CAST(sum(greatest(0, e - greatest(s, coalesce(pm, s)))) AS BIGINT)
        |         AS covered_us
        |FROM sw GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val iv = events(spark, dir)
      .withColumn("end_ts", timestamp_micros(
        unix_micros(col("ts")) + lit(1000000L) +
          floor(col("value") * 100000).cast("long")))
    graft.ops.IntervalCoverage
      .coverageAutoBucket(iv, Seq("event_type"), "ts", "end_ts")
      .orderBy("event_type")
  }

  /** CDC log compaction ([[graft.ops.CdcApply]]): the events stream read
    * as a change log — each user's signup seeds the base snapshot, later
    * events upsert their (type, value) payload, `error` events are delete
    * tombstones — compacted to the final per-user state by one `max_by`
    * hash aggregate + one full-outer join (no window over the log).
    * (ts, event_id) is the total order, so out-of-order arrival is
    * irrelevant. Readout: per surviving last-event-type counts plus
    * floor-scaled integer value sums.
    */
  query("q_cdc_apply", CdcSnapshotOracle) { (spark, dir) =>
    val ev = events(spark, dir)
    val base = ev.filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min_by(struct(col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("__first"))
      .select(col("user_id"), col("__first.event_type").as("event_type"),
        col("__first.value").as("value"))
    val log = ev.filter(col("event_type") =!= "signup")
      .withColumn("op",
        when(col("event_type") === "error", "delete").otherwise("upsert"))
    val fin = graft.ops.CdcApply.compact(
      base, log, Seq("user_id"), Seq("ts", "event_id"),
      "op", "delete", Seq("event_type", "value"))
    fin.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        sum(floor(col("value") * 1000000).cast("long")).as("sum_value_u"))
      .orderBy("event_type")
  }

  /** Time-travel read over the CDC event log — the state-as-of-T
    * snapshot a versioned table format serves (Delta/Iceberg "AS OF"),
    * expressed as plain relational algebra: clamp the log at the cutoff,
    * then the ONE [[graft.ops.CdcApply.compact]] hash aggregate + full
    * outer join that `q_cdc_apply` certifies for the latest state. The
    * cutoff is data-derived (min ts + 20 days) so the query stays a pure
    * function of the table; the readout is the same per-type count +
    * floor-scaled value sums. Scale shape identical to q_cdc_apply —
    * time travel costs nothing extra beyond the timestamp filter (which
    * pushes into the scan).
    */
  query("q_time_travel",
      """WITH cut AS (SELECT min(ts) + INTERVAL 20 DAY AS cut FROM events),
        |ev AS (SELECT e.* FROM events e, cut WHERE e.ts <= cut.cut),
        |base AS (
        |  SELECT user_id, event_type, "value" FROM (
        |    SELECT user_id, event_type, "value",
        |           row_number() OVER (PARTITION BY user_id
        |             ORDER BY ts, event_id) AS rn
        |    FROM ev WHERE event_type = 'signup') WHERE rn = 1),
        |lg AS (
        |  SELECT user_id, ts, event_id, event_type, "value",
        |         CASE WHEN event_type = 'error' THEN 'delete'
        |              ELSE 'upsert' END AS op
        |  FROM ev WHERE event_type <> 'signup'),
        |last AS (
        |  SELECT user_id, op, event_type, "value" FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn FROM lg) WHERE rn = 1),
        |fin AS (
        |  SELECT coalesce(l.user_id, b.user_id) AS user_id,
        |         CASE WHEN l.user_id IS NULL THEN b.event_type
        |              ELSE l.event_type END AS event_type,
        |         CASE WHEN l.user_id IS NULL THEN b."value"
        |              ELSE l."value" END AS v
        |  FROM base b FULL JOIN last l ON b.user_id = l.user_id
        |  WHERE l.user_id IS NULL OR l.op <> 'delete')
        |SELECT event_type, count(*) AS n_users,
        |       CAST(sum(CAST(floor(v * 1000000) AS BIGINT)) AS BIGINT)
        |         AS sum_value_u
        |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val ev = events(spark, dir)
    val cutoff = ev.agg((min(col("ts")) + expr("INTERVAL 20 DAYS")).as("cut"))
    val asOf = ev.crossJoin(broadcast(cutoff)).filter(col("ts") <= col("cut"))
    val base = asOf.filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min_by(struct(col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("__first"))
      .select(col("user_id"), col("__first.event_type").as("event_type"),
        col("__first.value").as("value"))
    val log = asOf.filter(col("event_type") =!= "signup")
      .withColumn("op",
        when(col("event_type") === "error", "delete").otherwise("upsert"))
    graft.ops.CdcApply.compact(
      base, log, Seq("user_id"), Seq("ts", "event_id"),
      "op", "delete", Seq("event_type", "value"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        sum(floor(col("value") * 1000000).cast("long")).as("sum_value_u"))
      .orderBy("event_type")
  }

  /** FORWARD as-of join ([[AsOfJoin.forward]] — the backward twin's
    * reversed window): each click attaches the same user's next purchase
    * at-or-after it. Oracle: DuckDB ASOF with `<=`.
    */
  query("q_asof_forward",
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase')
        |SELECT count(*) AS n_clicks, count(pts) AS n_matched,
        |       floor(avg((epoch_us(pts) - epoch_us(ts)) / 1000000.0) * 100 + 0.5) / 100 AS avg_gap_s
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.pts""".stripMargin) { (spark, dir) =>
    val ev = events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click").select(col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    AsOfJoin.forward(clicks, purchases, "user_id", "pu", "ts", "pts", Seq("pts"))
      .agg(count(lit(1)).as("n_clicks"), count(col("pts")).as("n_matched"),
        r(avg((unix_micros(col("pts")) - unix_micros(col("ts"))) / lit(1e6)), 2)
          .as("avg_gap_s"))
  }

  /** Tolerance-bounded as-of join ([[AsOfJoin.backward]] with
    * `tolerance`, the pandas `merge_asof` contract): each click attaches
    * its user's most recent purchase only if it happened within the past
    * 6 hours — a too-old nearest match nulls, it is never skipped past.
    * The oracle reproduces this as DuckDB ASOF + a gap CASE over the
    * matched time.
    */
  query("q_asof_tolerance",
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id AS pu, ts AS pts, max(value) AS value
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |j AS (SELECT c.ts, p.pts, p.value
        |      FROM c ASOF LEFT JOIN p ON c.user_id = p.pu AND c.ts >= p.pts),
        |tl AS (SELECT ts,
        |         -- gap compared in MICROSECONDS: Spark sees these ns
        |         -- timestamps truncated to us, so an ns-precision interval
        |         -- compare could flip a within-1us-of-6h boundary match
        |         CASE WHEN epoch_us(ts) - epoch_us(pts) <= 21600000000
        |              THEN pts END AS pts,
        |         CASE WHEN epoch_us(ts) - epoch_us(pts) <= 21600000000
        |              THEN value END AS value
        |       FROM j)
        |SELECT count(*) AS n_clicks, count(pts) AS n_matched,
        |       floor(sum(value) * 100 + 0.5) / 100 AS sum_value,
        |       floor(avg((epoch_us(ts) - epoch_us(pts)) / 1000000.0) * 100 + 0.5)
        |         / 100 AS avg_gap_s
        |FROM tl""".stripMargin) { (spark, dir) =>
    val ev = events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click").select(col("user_id"), col("ts"))
    // one row per (user, ts): same tie hygiene as q_asof_join — carried
    // `value` must not depend on which tied row an engine happens to keep
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("pu"), col("ts").as("pts"))
      .agg(max("value").as("value"))
    AsOfJoin.backward(clicks, purchases, "user_id", "pu", "ts", "pts",
        Seq("pts", "value"), tolerance = Some(expr("INTERVAL 6 HOURS")))
      .agg(count(lit(1)).as("n_clicks"), count(col("pts")).as("n_matched"),
        r(sum(col("value")), 2).as("sum_value"),
        r(avg((unix_micros(col("ts")) - unix_micros(col("pts"))) / lit(1e6)), 2)
          .as("avg_gap_s"))
  }

  /** Batch range (interval) join through [[graft.ops.RangeJoin]]'s
    * bucketized equi-join — same semantics as the raw interval predicate
    * (which Spark would execute as a nested-loop join), same oracle as the
    * streaming variant; `PlanSpec` asserts the plan is a shuffled
    * equi-join, not a cartesian/BNLJ.
    */
  query("q_range_join", RangeJoinOracle) { (spark, dir) =>
    val ev = events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    graft.ops.RangeJoin.intervalJoin(clicks, purchases, "cu", "pu", "cts", "pts",
        0L, 3600000000L)
      .groupBy(date_format(col("cts"), "yyyy-MM-dd HH").as("hour"))
      .agg(count(lit(1)).as("n_matches"), countDistinct(col("cu")).as("n_users"))
      .orderBy("hour")
  }

  /** Interval-overlap join ([[graft.ops.RangeJoin.overlapJoin]], the
    * range x range companion of `q_range_join`'s point-in-range shape):
    * 30-minute click and purchase activity windows of the same user that
    * intersect, counted per click-hour. Canonical-bucket emission — each
    * overlapping pair meets exactly once, no dedup (RangeJoinSpec pins
    * equivalence with the naive theta join).
    */
  query("q_overlap_join", OverlapJoinOracle) { (spark, dir) =>
    val ev = events(spark, dir)
    def windowed(kind: String, key: String, s: String, e: String) =
      ev.filter(col("event_type") === kind)
        .select(col("user_id").as(key), col("ts").as(s),
          timestamp_micros(unix_micros(col("ts")) + 1800000000L).as(e))
    graft.ops.RangeJoin.overlapJoin(
        windowed("click", "cu", "cs", "ce"),
        windowed("purchase", "pu", "ps", "pe"),
        "cu", "pu", "cs", "ce", "ps", "pe", bucketUs = 1800000000L)
      .groupBy(date_format(col("cs"), "yyyy-MM-dd HH").as("hour"))
      .agg(count(lit(1)).as("n_overlaps"), countDistinct(col("cu")).as("n_users"))
      .orderBy("hour")
  }

  /** `q_overlap_join` through [[graft.ops.RangeJoin.overlapJoinAutoBucket]]:
    * `bucketUs` derived from the data (p90 interval length) instead of the
    * caller's guess. Join semantics are bucket-invariant, so the oracle is
    * the SAME theta-join aggregate — what this row certifies is that
    * auto-tuning changes only the plan's explode factor, never the result.
    */
  query("q_overlap_autobucket", OverlapJoinOracle) { (spark, dir) =>
    val ev = events(spark, dir)
    def windowed(kind: String, key: String, s: String, e: String) =
      ev.filter(col("event_type") === kind)
        .select(col("user_id").as(key), col("ts").as(s),
          timestamp_micros(unix_micros(col("ts")) + 1800000000L).as(e))
    graft.ops.RangeJoin.overlapJoinAutoBucket(
        windowed("click", "cu", "cs", "ce"),
        windowed("purchase", "pu", "ps", "pe"),
        "cu", "pu", "cs", "ce", "ps", "pe")
      .groupBy(date_format(col("cs"), "yyyy-MM-dd HH").as("hour"))
      .agg(count(lit(1)).as("n_overlaps"), countDistinct(col("cu")).as("n_users"))
      .orderBy("hour")
  }

  /** Co-located big-big join via BUCKETING — the pre-shuffle answer for
    * repeated joins at 100 TB: both sides bucketed (and sorted) on the
    * join key at write time, so every subsequent join of the pair runs
    * WITHOUT a shuffle on either side (`BucketingSpec` asserts zero
    * ShuffleExchange in this exact shape). The bucketed write is the
    * one-time cost; table names are content-keyed like every fixture so
    * regenerated testdata rebuilds them. The oracle is the plain join
    * aggregate — bucketing changes the physical layout, never the result.
    */
  query("q_bucketed_join", SkewJoinOracle) { (spark, dir) =>
    val key = tmpKey(dir)
    val (ot, lt) = (s"orders_bkt_$key", s"lineitem_bkt_$key")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def build(name: String, table: String, bucketCol: String): Unit =
      if (!spark.catalog.tableExists(name)) {
        // the in-memory catalog forgets tables across JVMs while the
        // warehouse dir persists — clear the orphan dir or CTAS refuses
        // the non-empty location
        deleteRec(new java.io.File(s"$wh/$name"))
        t(spark, dir, table).write.bucketBy(16, bucketCol).sortBy(bucketCol)
          .mode("overwrite").saveAsTable(name)
      }
    build(ot, "orders", "o_orderkey")
    build(lt, "lineitem", "l_orderkey")
    spark.table(lt).join(spark.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), r(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  /** RUNTIME bloom-filter join pruning — Catalyst's InjectRuntimeFilter:
    * a selective filter on the build side (urgent high-value orders) is
    * turned into a bloom filter that prunes the probe side's scan BEFORE
    * the join shuffle. At 100 TB this is the difference between shuffling
    * the whole fact table and shuffling the ~1% that can match; at a real
    * cluster's dim sizes the build side exceeds the broadcast threshold,
    * so the query pins that regime (no-broadcast + zero app-side scan
    * floor) to exercise the exact plan shape (`PlanSpec` asserts the
    * `bloom_filter_might_contain` probe-side filter). The rewrite is
    * semantics-neutral — the oracle is the plain join — and the tuning
    * confs are scoped: set, the join EXECUTED eagerly, restored in
    * `finally`, the bounded aggregate returned as a local relation.
    */
  query("q_runtime_bloom",
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |       count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val tuned = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "512MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = tuned.keys.map(k => k -> spark.conf.getOption(k)).toMap
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val urgent = t(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000)
        .select("o_orderkey")
      val agg = t(spark, dir, "lineitem")
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("l_quantity").cast("long").as("sum_qty"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy("l_returnflag")
      val rows = agg.collect() // bounded: one row per return flag
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Partitioned fact + filtered dim for `q_dpp`: the fact side is the
    * events table written hive-partitioned BY event_type (the layout a
    * 100 TB fact table actually has), the dim side a tiny parquet lookup.
    * Both parquet-backed so the optimizer sees prunable file scans.
    */
  private[graft] def dppInput(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val base = oncePerDir(s"/tmp/graft_dpp/${tmpKey(dir)}", "dim/_SUCCESS") {
      val b = s"/tmp/graft_dpp/${tmpKey(dir)}"
      events(spark, dir)
        .withColumn("value_u", floor(col("value") * 1000000).cast("long"))
        .select("event_id", "user_id", "value_u", "event_type")
        .write.mode("overwrite").partitionBy("event_type").parquet(s"$b/fact")
      Seq(("click", 1L), ("purchase", 2L), ("view", 3L), ("signup", 4L),
        ("error", 5L)).toDF("event_type", "wgt")
        .write.mode("overwrite").parquet(s"$b/dim") // dim last = sentinel
    }
    (spark.read.parquet(s"$base/fact"), spark.read.parquet(s"$base/dim"))
  }

  /** Dynamic partition pruning (SURVEY.md §4 optimizer surface): joining
    * a hive-partitioned fact table on its PARTITION column against a
    * selectively-filtered dim makes Catalyst inject a runtime
    * `dynamicpruning` subquery into the fact scan — only the partitions
    * whose keys survive the dim filter are ever listed or read, the
    * partition-level sibling of `q_runtime_bloom`'s row-level filter and
    * THE mechanism that turns a 100 TB fact scan into a 2-partition
    * read. On by default; `PlanSpec` asserts the pruning subquery is in
    * the scan. The oracle reproduces the surviving-partition aggregate.
    */
  query("q_dpp",
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(floor("value" * 1000000) AS BIGINT)) AS BIGINT)
        |         AS sum_value_u
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val (fact, dim) = dppInput(spark, dir)
    fact.join(dim.filter(col("wgt") <= 2), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value_u").as("sum_value_u"))
      .orderBy("event_type")
  }

  /** The scan for `q_meta_count` — caller must have routed parquet to
    * DSv2 and enabled `spark.sql.parquet.aggregatePushdown`. */
  private[graft] def metaCountFrame(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .agg(count(lit(1)).as("n_rows"),
        min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key"),
        min("l_partkey").as("min_part"), max("l_partkey").as("max_part"))

  /** Metadata-only aggregation (parquet aggregate pushdown): COUNT/MIN/
    * MAX with no filter are answered from parquet FOOTER statistics —
    * zero data pages decompressed, the ANALYZE-speed path for 100 TB
    * freshness checks. Needs the DSv2 parquet reader
    * (`useV1SourceList=""`) plus `parquet.aggregatePushdown`; both
    * scoped set→execute→restore (the `q_runtime_bloom` discipline).
    * `PlanSpec` asserts `PushedAggregation` lands in the scan.
    */
  query("q_meta_count",
      """SELECT count(*) AS n_rows,
        |       min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
        |       min(l_partkey) AS min_part, max(l_partkey) AS max_part
        |FROM lineitem""".stripMargin) { (spark, dir) =>
    val tuned = Map(
      "spark.sql.sources.useV1SourceList" -> "",
      "spark.sql.parquet.aggregatePushdown" -> "true")
    val prev = tuned.keys.map(k => k -> spark.conf.getOption(k)).toMap
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val agg = metaCountFrame(spark, dir)
      val rows = agg.collect() // exactly one row
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Small-file compaction ([[graft.ops.Compaction]]) end-to-end: the
    * documents table fragmented into 64 tiny files (the accreted-sink
    * state), compacted shuffle-free (`coalesce` over target-sized input
    * bins — `CompactionSpec` asserts the no-Exchange plan and the exact
    * output file count), then aggregated from the COMPACTED copy. The
    * oracle runs the same aggregate on the source table: compaction
    * changes the file layout, never a row. Both /tmp stages are
    * content-keyed and one-time per testdata generation.
    */
  query("q_compaction",
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val key = tmpKey(dir)
    val frag = s"/tmp/graft_compact/${key}_frag"
    oncePerDir(frag, "_SUCCESS") {
      t(spark, dir, "documents").repartition(64)
        .write.mode("overwrite").parquet(frag)
    }
    val out = s"/tmp/graft_compact/${key}_out"
    oncePerDir(out, "_SUCCESS") {
      graft.ops.Compaction.compact(spark, frag, out, targetBytes = 4L << 20)
    }
    spark.read.parquet(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("doc_id").as("sum_ids"),
        sum("n_chars").as("sum_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")
  }

  /** Z-order clustering ([[graft.ops.ZOrderLayout]]) end-to-end: events
    * re-laid-out on the Morton interleave of (user_id, hour), then scanned
    * with a user-range predicate — the two-dimensional data-skipping
    * layout (each file covers a compact (user, time) rectangle, so
    * parquet min/max stats prune on either column; `ZOrderSpec` pins the
    * per-file span bound). The oracle runs the same filter+aggregate on
    * the source table: clustering changes the file layout, never a row.
    */
  query("q_zorder_scan",
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
        |       floor(min(value) * 100 + 0.5) / 100 AS min_v,
        |       floor(max(value) * 100 + 0.5) / 100 AS max_v
        |FROM events WHERE user_id BETWEEN 10 AND 20
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val out = s"/tmp/graft_zorder/${tmpKey(dir)}"
    oncePerDir(out, "_SUCCESS") {
      val ev = events(spark, dir)
        .withColumn("hr", expr("unix_micros(ts) div 3600000000"))
      graft.ops.ZOrderLayout.write(ev, "user_id", "hr", nFiles = 16, out)
    }
    spark.read.parquet(out)
      .filter(col("user_id") >= 10 && col("user_id") <= 20)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        r(min("value"), 2).as("min_v"),
        r(max("value"), 2).as("max_v"))
      .orderBy("event_type")
  }

  /** Golden-record survivorship (MDM merge finish): the same entity
    * arrives from three sources of differing trust and completeness; the
    * merged record takes EACH FIELD from the highest-priority source
    * where it is non-null — `max_by(field, priority-when-non-null)`, one
    * hash aggregate per entity, no joins, no per-field passes. The
    * three source variants are synthesized deterministically from
    * `documents` (crawl: text but no lang; api: lang + chars but no
    * text; archive: complete but lowest priority), so the oracle
    * rebuilds them and applies DuckDB's `arg_max` identically.
    */
  query("q_golden_record",
      """WITH s AS (
        |  SELECT doc_id, 3 AS prio, text, CAST(NULL AS VARCHAR) AS lang,
        |         CAST(NULL AS BIGINT) AS n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id, 2, CAST(NULL AS VARCHAR), lang, n_chars + 1 FROM documents
        |  UNION ALL
        |  SELECT doc_id, 1, 'archived: ' || text, lang, n_chars FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         arg_max(text, CASE WHEN text IS NOT NULL THEN prio END) AS text,
        |         arg_max(lang, CASE WHEN lang IS NOT NULL THEN prio END) AS lang,
        |         arg_max(n_chars, CASE WHEN n_chars IS NOT NULL THEN prio END) AS n_chars
        |  FROM s GROUP BY 1)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(CASE WHEN text LIKE 'archived: %' THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_from_archive
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val d = t(spark, dir, "documents")
    val crawl = d.select(col("doc_id"), lit(3L).as("prio"),
      col("text"), lit(null).cast("string").as("lang"),
      lit(null).cast("long").as("n_chars"))
    val api = d.select(col("doc_id"), lit(2L).as("prio"),
      lit(null).cast("string").as("text"), col("lang"),
      (col("n_chars") + 1).as("n_chars")) // api over-counts by one
    val archive = d.select(col("doc_id"), lit(1L).as("prio"),
      concat(lit("archived: "), col("text")).as("text"), col("lang"),
      col("n_chars"))
    def survive(f: String) =
      expr(s"max_by($f, if(isnotnull($f), prio, null))").as(f)
    crawl.unionByName(api).unionByName(archive)
      .groupBy("doc_id")
      .agg(survive("text"), survive("lang"), survive("n_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        sum(when(col("text").startsWith("archived: "), 1L).otherwise(0L))
          .as("n_from_archive"))
      .orderBy("lang")
  }

  /** Declarative data-quality audit ([[graft.ops.Constraints]]) — the
    * publish gate: the orders table's contract (non-null key, price
    * range, unique order key, customer referential integrity, date
    * sanity) evaluated with all row-level checks folded into ONE
    * aggregate pass, uniqueness as one hash aggregate, and the reference
    * check as one anti-join. The oracle recomputes each violation count
    * directly.
    */
  query("q_constraints",
      """WITH v AS (
        |  SELECT 'in_range(o_totalprice,0.0,300000.0)' AS c,
        |         (SELECT count(*) FROM orders
        |          WHERE o_totalprice IS NOT NULL
        |            AND (o_totalprice < 0 OR o_totalprice > 300000)) AS n
        |  UNION ALL
        |  SELECT 'not_null(o_custkey)',
        |         (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
        |  UNION ALL
        |  SELECT 'ref_integrity(o_custkey)',
        |         (SELECT count(*) FROM orders o
        |          WHERE o.o_custkey IS NOT NULL
        |            AND NOT EXISTS (SELECT 1 FROM customer c
        |                            WHERE c.c_custkey = o.o_custkey))
        |  UNION ALL
        |  SELECT 'satisfies(order_date_sane)',
        |         (SELECT count(*) FROM orders
        |          WHERE NOT coalesce(o_orderdate < TIMESTAMP '2002-01-01', false))
        |  UNION ALL
        |  SELECT 'unique(o_orderkey)',
        |         (SELECT CAST(coalesce(sum(k - 1), 0) AS BIGINT) FROM (
        |            SELECT count(*) AS k FROM orders GROUP BY o_orderkey)
        |          WHERE k > 1))
        |SELECT c AS "constraint", CAST(n AS BIGINT) AS n_violations,
        |       n = 0 AS passed
        |FROM v ORDER BY c""".stripMargin) { (spark, dir) =>
    import graft.ops.Constraints._
    graft.ops.Constraints.audit(t(spark, dir, "orders"), Seq(
      NotNull("o_custkey"),
      InRange("o_totalprice", 0.0, 300000.0),
      Unique(Seq("o_orderkey")),
      RefIntegrity("o_custkey", t(spark, dir, "customer"), "c_custkey"),
      Satisfies(col("o_orderdate") < lit("2002-01-01"), "order_date_sane")))
  }

  /** SCD TYPE-2 dimension maintenance ([[graft.ops.Scd2]]): the customer
    * order-profile dimension (order count + spend class) loaded from the
    * pre-1998 snapshot, then merged with the full-range snapshot taken
    * "2001-09-01" — changed customers get their v1 row closed and a v2
    * opened, unchanged pass through, first-order-after-1998 customers
    * insert. Summarized per (valid_from, is_current) with key/attr
    * checksums; the oracle re-derives the full case analysis in SQL.
    * Spend class is an integer bucket (count-based), so attr comparison
    * is exact cross-engine.
    */
  query("q_scd2",
      """WITH v1 AS (
        |  SELECT o_custkey AS cust, count(*) AS n, CAST(count(*) >= 3 AS INT) AS h
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1),
        |v2 AS (
        |  SELECT o_custkey AS cust, count(*) AS n, CAST(count(*) >= 3 AS INT) AS h
        |  FROM orders GROUP BY 1),
        |m AS (
        |  SELECT v2.cust, v1.cust AS c1, v1.n AS n1, v1.h AS h1, v2.n AS n2, v2.h AS h2
        |  FROM v2 LEFT JOIN v1 ON v1.cust = v2.cust),
        |rows_out AS (
        |  SELECT '1998-01-01' AS valid_from, true AS is_current, cust, n1 AS n, h1 AS h
        |  FROM m WHERE c1 IS NOT NULL AND n1 = n2 AND h1 = h2
        |  UNION ALL
        |  SELECT '1998-01-01', false, cust, n1, h1
        |  FROM m WHERE c1 IS NOT NULL AND NOT (n1 = n2 AND h1 = h2)
        |  UNION ALL
        |  SELECT '2001-09-01', true, cust, n2, h2
        |  FROM m WHERE c1 IS NULL OR NOT (n1 = n2 AND h1 = h2))
        |SELECT valid_from, is_current, count(*) AS n_rows,
        |       CAST(sum(cust) AS BIGINT) AS sum_keys,
        |       CAST(sum(n) AS BIGINT) AS sum_orders,
        |       CAST(sum(h) AS BIGINT) AS n_heavy
        |FROM rows_out GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import graft.ops.Scd2
    def snap(cut: Option[String]) = {
      val o = t(spark, dir, "orders")
      cut.fold(o)(c => o.filter(col("o_orderdate") < lit(c)))
        .groupBy(col("o_custkey").as("cust"))
        .agg(count(lit(1)).as("n_orders"),
          (count(lit(1)) >= 3).cast("int").as("heavy"))
    }
    val h0 = Scd2.snapshotAsHistory(snap(Some("1998-01-01")),
      "cust", Seq("n_orders", "heavy"), to_date(lit("1998-01-01")))
    val h1 = Scd2.merge(h0, snap(None),
      "cust", Seq("n_orders", "heavy"), to_date(lit("2001-09-01")))
    h1.groupBy(col("valid_from").cast("string").as("valid_from"), col("is_current"))
      .agg(count(lit(1)).as("n_rows"),
        sum("cust").as("sum_keys"),
        sum("n_orders").as("sum_orders"),
        sum("heavy").cast("long").as("n_heavy"))
      .orderBy("valid_from", "is_current")
  }

  /** Salted skew join (explicit salting via [[graft.ops.SkewJoin]]) — the
    * salt changes the physical key distribution, never the result, which
    * is exactly what the oracle checks with a plain join.
    */
  query("q_skew_join", SkewJoinOracle) { (spark, dir) =>
    graft.ops.SkewJoin.saltedInner(
        t(spark, dir, "lineitem"), t(spark, dir, "orders").select("o_orderkey", "o_orderpriority"),
        "l_orderkey", "o_orderkey", saltFactor = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), r(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  query("q_asof_join",
      """SELECT event_type, count(o_totalprice) AS n_with_order,
        |       floor(avg(o_totalprice) * 100 + 0.5) / 100 AS avg_price
        |FROM events ASOF LEFT JOIN (
        |  SELECT o_custkey, o_orderdate, max(o_totalprice) AS o_totalprice
        |  FROM orders GROUP BY 1, 2) orders
        |  ON events.user_id = orders.o_custkey AND events.ts >= orders.o_orderdate
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val ev = events(spark, dir).select("event_id", "user_id", "ts", "event_type")
    // o_orderdate is day-granular: a customer can place several orders the
    // same day, making raw as-of tie-breaking nondeterministic in ANY
    // engine. Pre-aggregate to one row per (custkey, date) so both sides
    // (and the DuckDB ASOF oracle) resolve ties identically.
    val orders = t(spark, dir, "orders")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max("o_totalprice").as("o_totalprice"))
    AsOfJoin.backward(ev, orders, "user_id", "o_custkey", "ts", "o_orderdate",
        Seq("o_totalprice"))
      .groupBy("event_type")
      .agg(count(col("o_totalprice")).as("n_with_order"),
        r(avg(col("o_totalprice")), 2).as("avg_price"))
      .orderBy("event_type")
  }

  /** The pipeline WRITE path ([[graft.ops.PartitionedSink]]): documents →
    * lang-partitioned, doc_id-clustered parquet (salted shuffle bounds
    * files-per-partition and spreads the skewed-language case) → read back
    * and re-aggregate. The oracle aggregates the source directly, so any
    * row lost, duplicated, or mis-partitioned by the write shows up as a
    * checksum mismatch. Pruning/clustering of the layout is plan-asserted
    * in PartitionedSinkSpec.
    */
  query("q_partitioned_write",
      """SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |       CAST(sum(length(text)) AS BIGINT) AS text_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val key = tmpKey(dir)
    val out = s"/tmp/graft_psink_q/$key"
    PartitionedSink.writePartitioned(
      t(spark, dir, "documents"), out, Seq("lang"), Seq("doc_id"))
    spark.read.parquet(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
        sum(length(col("text"))).as("text_len"))
      .orderBy("lang")
  }

  /** Keyed partition upsert ([[PartitionedSink.upsertByKey]]) — the
    * patch-the-corpus maintenance op: base corpus written partitioned by
    * lang, then one batch REPLACES every doc_id % 4 == 0 row (n_chars +
    * 1000) and INSERTS re-keyed copies of the % 10 == 0 docs; only
    * touched partitions rewrite (dynamic overwrite). The read-back
    * aggregate must equal the merged expectation the oracle computes
    * from the documents table directly.
    */
  query("q_partition_upsert",
      """WITH merged AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN doc_id % 4 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000, lang, n_chars FROM documents WHERE doc_id % 10 = 0)
        |SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM merged GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents").select("doc_id", "lang", "n_chars", "source")
    val out = s"/tmp/graft_upsert_q/${tmpKey(dir)}"
    deleteRec(new java.io.File(out))
    PartitionedSink.writePartitioned(docs, out, Seq("lang"), Seq("doc_id"))
    val replace = docs.filter(col("doc_id") % 4 === 0)
      .withColumn("n_chars", col("n_chars") + 1000)
    val insert = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 3000000L)
    PartitionedSink.upsertByKey(replace.unionByName(insert), out, "lang", "doc_id",
      sortCols = Seq("doc_id"))
    spark.read.parquet(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
        sum("n_chars").cast("long").as("sum_chars"))
      .orderBy("lang")
  }

  /** Multi-format scan/sink round-trip (SURVEY.md §2B "scans: other
    * formats / sinks"): the same event subset written as CSV and JSON,
    * read back, joined, and aggregated — oracle reproduces from the
    * original table.
    */
  query("q_multi_format",
      """SELECT event_type, count(*) AS n,
        |       floor(sum(value + value + value) * 100 + 0.5) / 100 AS sum3
        |FROM events WHERE event_id < 1000
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val sub = events(spark, dir).filter(col("event_id") < 1000)
      .select("event_id", "event_type", "value")
    val base = oncePerDir(
        s"/tmp/graft_formats/${tmpKey(dir)}", "orc/_SUCCESS") {
      val b = s"/tmp/graft_formats/${tmpKey(dir)}"
      sub.write.mode("overwrite").option("header", "true").csv(s"$b/csv")
      sub.write.mode("overwrite").json(s"$b/json")
      sub.write.mode("overwrite").orc(s"$b/orc") // orc last = the sentinel
    }
    val fromCsv = spark.read.option("header", "true")
      .schema("event_id LONG, event_type STRING, value DOUBLE").csv(s"$base/csv")
    val fromJson = spark.read.schema("event_id LONG, event_type STRING, value DOUBLE")
      .json(s"$base/json")
    val fromOrc = spark.read.orc(s"$base/orc")
    fromCsv.alias("c")
      .join(fromJson.alias("j"), Seq("event_id"))
      .join(fromOrc.alias("o"), Seq("event_id"))
      .filter(col("c.event_type") === col("j.event_type") &&
        col("c.event_type") === col("o.event_type"))
      .groupBy(col("c.event_type").as("event_type"))
      .agg(count(lit(1)).as("n"),
        r(sum(col("c.value") + col("j.value") + col("o.value")), 2).as("sum3"))
      .orderBy("event_type")
  }

  /** Schema-evolution read (SURVEY.md §2B scans): two parquet generations
    * of the same table — an early one WITHOUT the `value` column and a
    * later one with it — read together under `mergeSchema`, the
    * append-only ingest reality at 100 TB (schemas drift; rewriting old
    * files is off the table). Old-generation rows surface the added
    * column as NULL; the readout pins exactly that (null counts + the
    * new-generation value sum). Schema union happens at PLAN time from
    * footers — no data pass.
    */
  query("q_schema_merge",
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CASE WHEN event_id < 500 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_pre_schema,
        |       CAST(sum(CASE WHEN event_id >= 500
        |                     THEN CAST(floor("value" * 1000000) AS BIGINT) END)
        |         AS BIGINT) AS sum_value_u
        |FROM events WHERE event_id < 1000
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val ev = events(spark, dir)
    val base = oncePerDir(
        s"/tmp/graft_schemamerge/${tmpKey(dir)}", "gen2/_SUCCESS") {
      val b = s"/tmp/graft_schemamerge/${tmpKey(dir)}"
      ev.filter(col("event_id") < 500)
        .select("event_id", "event_type")
        .write.mode("overwrite").parquet(s"$b/gen1")
      ev.filter(col("event_id") >= 500 && col("event_id") < 1000)
        .select("event_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$b/gen2") // gen2 last = sentinel
    }
    spark.read.option("mergeSchema", "true")
      .parquet(s"$base/gen1", s"$base/gen2")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_pre_schema"),
        sum(floor(col("value") * 1000000).cast("long")).as("sum_value_u"))
      .orderBy("event_type")
  }

  /** Join-size estimation WITHOUT running the join — the planning probe
    * next to `q_skew_report`: `|A ⋈ B| = Σ_k cntA(k)·cntB(k)` from the
    * two per-key count aggregates, whose join is keys-sized (≪ the
    * join's row output, and never materializes a single joined row).
    * Also reports both input sizes and the max single-key contribution —
    * the row that tells you whether ONE hot key dominates the output.
    */
  query("q_join_size_est",
      """WITH a AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS ca
        |           FROM lineitem GROUP BY 1),
        |b AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS cb
        |      FROM orders GROUP BY 1)
        |SELECT CAST(sum(ca * cb) AS BIGINT) AS est_rows,
        |       count(*) AS n_shared_keys,
        |       CAST(max(ca * cb) AS BIGINT) AS max_key_rows,
        |       CAST(sum(ca) AS BIGINT) AS a_rows_on_shared,
        |       CAST(sum(cb) AS BIGINT) AS b_rows_on_shared
        |FROM a JOIN b USING (k)""".stripMargin) { (spark, dir) =>
    val a = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("ca"))
    val b = t(spark, dir, "orders")
      .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("cb"))
    a.join(b, "k")
      .select((col("ca") * col("cb")).as("contrib"), col("ca"), col("cb"))
      .agg(sum("contrib").as("est_rows"),
        count(lit(1)).as("n_shared_keys"),
        max("contrib").as("max_key_rows"),
        sum("ca").as("a_rows_on_shared"), sum("cb").as("b_rows_on_shared"))
  }

  /** Join-key skew report — the profiling pass that decides whether a
    * join needs salting ([[graft.ops.SkewJoin]]): per-key frequencies of
    * the orders⋈customer key, the 5 heaviest keys (deterministic
    * tie-break on the key), and the skew factor
    * `max·n_keys·1e6 div total` (1e6 = perfectly uniform). The top-5 is
    * `orderBy.limit` — TakeOrdered's per-partition partial top-k, never
    * a global sort.
    */
  query("q_skew_report",
      """WITH c AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
        |           FROM orders GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |             CAST(sum(cnt) AS BIGINT) AS total,
        |             CAST(max(cnt) AS BIGINT) AS max_cnt FROM c),
        |top5 AS (SELECT o_custkey, cnt FROM c
        |         ORDER BY cnt DESC, o_custkey LIMIT 5)
        |SELECT t.o_custkey, t.cnt, s.n_keys,
        |       CAST(s.max_cnt * s.n_keys * 1000000 // s.total AS BIGINT)
        |         AS skew_ppm
        |FROM top5 t CROSS JOIN s ORDER BY t.cnt DESC, t.o_custkey""".stripMargin) { (spark, dir) =>
    val cnt = t(spark, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    val summary = cnt.agg(count(lit(1)).as("n_keys"), sum("cnt").as("total"),
      max("cnt").as("max_cnt"))
    cnt.orderBy(col("cnt").desc, col("o_custkey")).limit(5)
      .crossJoin(broadcast(summary))
      .select(col("o_custkey"), col("cnt"), col("n_keys"),
        expr("max_cnt * n_keys * 1000000 div total").as("skew_ppm"))
      .orderBy(col("cnt").desc, col("o_custkey"))
  }
}
