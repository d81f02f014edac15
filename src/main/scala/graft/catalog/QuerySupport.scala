package graft
package catalog

import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, Dataset, GraftSql, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.Scratch.deleteRec
import graft.ops.Dedup

/** Helpers shared by the query families: table loading, the cross-engine
  * rounding rule, /tmp fixture keys, log synthesis, streaming drains and
  * scoped-conf sessions, plus the DuckDB SQL fragments more than one
  * family's oracles use. This is the one catalog file that starts streams
  * or writes session conf: query bodies [[drain]] their streams and run
  * scoped-conf batch work in a [[sessionWith]] clone.
  */
private[graft] object QuerySupport {

  /** Engine-agnostic rounding: `floor(x*10^d + 0.5)/10^d` with identical
    * IEEE ops on both sides. Spark's round() (BigDecimal.valueOf shortest
    * repr, HALF_UP) and DuckDB's round() (binary multiply) disagree on
    * half-boundary doubles — this formula IS the cross-engine spec.
    */
  private[graft] def r(c: org.apache.spark.sql.Column, digits: Int) = {
    val p = math.pow(10, digits)
    floor(c * p + 0.5) / p
  }

  private[graft] def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Small single-file inputs arrive as one partition; CPU-heavy per-row
    * pipelines (tokenize, hash, decode) need them spread across cores —
    * delegates to the ONE shared heuristic ([[Dedup.spreadDf]]).
    */
  private[graft] def spread(df: DataFrame): DataFrame = Dedup.spreadDf(df)

  /** events.parquet's `ts` physical encoding has drifted across testdata
    * generations (int64 nanoseconds vs native timestamp[us]); branch on the
    * loaded schema so both load to TimestampType with identical UTC
    * wall-clock. DuckDB reads the same file natively, so the oracle agrees
    * on either encoding.
    */
  private[graft] def eventsRaw(spark: SparkSession, dir: String): DataFrame =
    try t(spark, dir, "events")
    catch {
      // nanosecond-encoded parquet timestamps are rejected unless read as
      // raw longs; only flip the session flag when actually needed
      case e: Exception if e.getMessage != null && e.getMessage.contains("NANOS") =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        t(spark, dir, "events")
    }

  /** The TimestampType-producing conversion for a raw `ts` column of the
    * given loaded type. */
  private[graft] def eventsTsCol(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    dt match {
      case LongType =>
        // integer `div`, not `/`: double division rounds at 2^53 and 2024
        // epoch-nanos are ~1.7e18 (ulp 256 ns) — a boundary event could land
        // in the wrong window vs DuckDB's native ns truncation
        timestamp_micros(expr("ts div 1000"))
      case TimestampNTZType | TimestampType =>
        // session TZ is pinned UTC, so NTZ wall-clock is preserved
        col("ts").cast(TimestampType)
      case other =>
        throw new IllegalStateException(s"unsupported events.ts encoding: $other")
    }
  }

  private[graft] def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = eventsRaw(spark, dir)
    raw.withColumn("ts", eventsTsCol(raw.schema("ts").dataType))
  }

  /** The one /tmp-path key scheme for per-dir sinks and caches. Folds a
    * cheap content fingerprint (per-file name+length+mtime) into the key so
    * regenerated source data can never be served from a stale fixture cache
    * or collide with a checkpoint built against the old data. Keys begin
    * with a letter: Spark's file listing hides names starting with `_` or
    * `.`, and warns "All paths were ignored" on reading such a root.
    */
  private[graft] def tmpKey(dir: String): String = {
    val path = dir.replaceAll("[^a-zA-Z0-9]", "_").dropWhile(_ == '_')
    val base = if (path.headOption.exists(_.isLetter)) path else "d" + path
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
    val fp = files.filter(_.isFile).sortBy(_.getName)
      .foldLeft(1125899906842597L) { (h, f) =>
        ((h * 1000003L + f.getName.hashCode) * 1000003L + f.length()) *
          1000003L + f.lastModified()
      }
    base + "_" + java.lang.Long.toHexString(fp)
  }

  /** One-time /tmp materialization: contents are deterministic per key, so
    * a complete previous write (sentinel present — written last) is reused
    * and repeated bench runs never pay the sink write again.
    */
  private[graft] def oncePerDir(out: String, sentinel: String)(write: => Unit): String = {
    if (!new java.io.File(s"$out/$sentinel").exists()) write
    out
  }

  /** Synthesized log lines from the events table (deterministic
    * `format_string`), written as text and read back through the `log`
    * source — SURVEY.md §5.4's round-trip trick that makes the custom
    * source oracle-checkable: DuckDB reproduces the aggregate from the
    * events table directly.
    */
  private[graft] def logDir(spark: SparkSession, dir: String, flavor: String): String = {
    val out = s"/tmp/graft_logs/${tmpKey(dir)}_$flavor"
    if (new java.io.File(s"$out/_SUCCESS").exists()) return out
    val ev = events(spark, dir)
    val lines = flavor match {
      case "plain" =>
        ev.select(format_string("%d %s user=%d %.2f",
          col("event_id"), col("event_type"), col("user_id"), col("value")).as("value"))
      case "mixed" => // error-type events become non-matching garbage lines
        ev.select(
          when(col("event_type") === "error",
            concat(lit("!!corrupt "), col("props")))
            .otherwise(format_string("%d %s user=%d %.2f",
              col("event_id"), col("event_type"), col("user_id"), col("value")))
            .as("value"))
      case "dated" =>
        ev.select(format_string("%s %s evt=%d",
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"), col("event_type"), col("event_id"))
          .as("value"))
      case "plain_gz" | "plain_bz2" | "plain_many" =>
        // same lines as "plain": compressed (codec paths) or spread over
        // 16 files (multi-batch streaming admission)
        ev.select(format_string("%d %s user=%d %.2f",
          col("event_id"), col("event_type"), col("user_id"), col("value")).as("value"))
      case "plainlog" =>
        // same lines as "plain" but *.log-suffixed files: the direct-SQL
        // path query (q_log_sqlpath) uses `FROM log.`dir`` which carries
        // no options, so the DEFAULT extension (log) must match
        ev.select(format_string("%d %s user=%d %.2f",
          col("event_id"), col("event_type"), col("user_id"), col("value")).as("value"))
      case "hive" =>
        // hive-partitioned tree (dt=YYYY-MM-DD/part-*.txt via partitionBy):
        // the partition-column + file-pruning fixture (q_log_partitioned)
        ev.select(date_format(col("ts"), "yyyy-MM-dd").as("dt"),
          format_string("%d %s user=%d %.2f",
            col("event_id"), col("event_type"), col("user_id"), col("value")).as("value"))
      case "dirs" =>
        // PLAIN date tree (yyyy/MM/dd/part-*.txt — no k=v naming), the
        // Drill-workspace layout dirColumns exists for (q_log_dircols):
        // written via partitionBy, then each `k=v` level renamed bare
        ev.select(date_format(col("ts"), "yyyy").as("y"),
          date_format(col("ts"), "MM").as("m"),
          date_format(col("ts"), "dd").as("d"),
          format_string("%d %s user=%d %.2f",
            col("event_id"), col("event_type"), col("user_id"), col("value")).as("value"))
      case "multiline" =>
        // one 3-line record per event (value only on the tail line, so
        // extracting it REQUIRES record assembly); continuation lines are
        // space-indented so they can never match recordStartPattern ^\d+
        ev.select(format_string("%d %s user=%d\n  seq=%d\n  tail value=%.2f",
          col("event_id"), col("event_type"), col("user_id"),
          col("event_id"), col("value")).as("value"))
      case "apache" =>
        // apache_combined lines; every 10th request has bytes "-" (the
        // dialect's "no body" marker — INT parse of it must null, not die)
        ev.select(format_string(
          "10.0.0.%d - - [%s +0000] \"GET /%s HTTP/1.1\" %d %s \"-\" \"graft-bench\"",
          pmod(col("user_id"), lit(200)),
          date_format(col("ts"), "dd/MMM/yyyy:HH:mm:ss"),
          col("event_type"),
          when(col("event_type") === "error", 500).otherwise(200),
          when(col("event_id") % 10 === 0, lit("-"))
            .otherwise(floor(col("value") * 100).cast("long").cast("string")))
          .as("value"))
    }
    if (flavor.endsWith("_gz"))
      lines.write.mode("overwrite").option("compression", "gzip").text(out)
    else if (flavor.endsWith("_bz2"))
      lines.write.mode("overwrite").option("compression", "bzip2").text(out)
    else if (flavor.endsWith("_many"))
      lines.repartition(16).write.mode("overwrite").text(out)
    else if (flavor == "plainlog") {
      lines.write.mode("overwrite").text(out)
      // .txt -> .log (the text writer's extension is fixed); _SUCCESS
      // recreated LAST so a crash mid-rename can't leave a complete-
      // looking fixture
      val rootF = new java.io.File(out)
      new java.io.File(rootF, "_SUCCESS").delete()
      rootF.listFiles().filter(_.getName.endsWith(".txt")).foreach { f =>
        f.renameTo(new java.io.File(rootF, f.getName.stripSuffix(".txt") + ".log"))
      }
      new java.io.File(rootF, "_SUCCESS").createNewFile()
    } else if (flavor == "hive")
      lines.write.mode("overwrite").partitionBy("dt").text(out)
    else if (flavor == "dirs") {
      lines.write.mode("overwrite").partitionBy("y", "m", "d").text(out)
      // strip the k=v naming to bare segment names; _SUCCESS is recreated
      // LAST so a crash mid-rename can't leave a complete-looking fixture
      val rootF = new java.io.File(out)
      new java.io.File(rootF, "_SUCCESS").delete()
      def bare(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).filter(_.isDirectory).foreach { c =>
          bare(c)
          val eq = c.getName.indexOf('=')
          if (eq > 0) c.renameTo(new java.io.File(c.getParent, c.getName.substring(eq + 1)))
        }
      }
      bare(rootF)
      new java.io.File(rootF, "_SUCCESS").createNewFile()
    } else lines.write.mode("overwrite").text(out)
    out
  }

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** `cap` as a shuffle-width setting for `spark`: `min(session, cap)`,
    * or nothing when the session value is already at or under it. A
    * non-integer session value (e.g. `auto` under some resource managers)
    * is left alone.
    *
    * A micro-batch's frames are trigger-sized, not box-sized: running
    * their shuffles (and the state stores keyed off the shuffle width) at
    * the session's cluster-sized width spends more on task launch and
    * state-store open/commit than on data (measured 6.86 → 5.86 s on the
    * near-dedup drain at 32 → 8, dev/DRAIN_PROFILE.md r13). Deployments
    * with bigger triggers size the cap to their own batch volume.
    */
  private def capConf(spark: SparkSession, cap: Int): Option[(String, String)] =
    spark.conf.get(ShufflePartitions).toIntOption
      .filter(_ > cap).map(_ => ShufflePartitions -> cap.toString)

  /** A clone of `spark` (its conf, temp views and functions) with `confs`
    * set. Batch work that needs a scoped conf runs there, so no query body
    * writes the caller's session conf and concurrent queries never see
    * each other's overrides. Frames cross between the two sessions with
    * [[GraftSql.ofRows]].
    */
  private[graft] def sessionWith(spark: SparkSession, confs: (String, String)*): SparkSession = {
    val s = GraftSql.cloneSession(spark)
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** [[sessionWith]] the shuffle width capped at `cap` ([[capConf]]). */
  private[graft] def capped(spark: SparkSession, cap: Int): SparkSession =
    sessionWith(spark, capConf(spark, cap).toSeq: _*)

  /** The state store every RocksDB drain runs on: the provider plus
    * changelog checkpointing. Changelog checkpointing is the production
    * RocksDB configuration — each batch commits an incremental changelog
    * instead of uploading a full snapshot — and the faster one here too
    * (interleaved A/B: q_list_state median 6.9 → 5.4 s, transform/map
    * state −10%, none worse). `Bench.measureFloor` measures the stateful
    * floor on the same pair.
    */
  private val RocksDbStateStoreConfs = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** The state-store conf [[start]] pins on this thread's streams. */
  private val stateStoreConfs = new DynamicVariable[Seq[(String, String)]](Nil)

  /** Runs `body` so that every stream it [[start]]s (or [[drain]]s) runs
    * on the RocksDB state store. The session conf is not changed.
    */
  private[graft] def onRocksDbStateStore[A](body: => A): A =
    stateStoreConfs.withValue(RocksDbStateStoreConfs)(body)

  /** Serializes the set → start → restore window of [[start]]. */
  private val startLock = new Object

  /** Starts `sink(stream.writeStream)` with its state conf pinned: the
    * shuffle width capped at `stateCap` ([[capConf]]) and the state store
    * bound by [[onRocksDbStateStore]]. The conf is set on the session only
    * around `start()`, under one lock, and restored straight after: Spark's
    * `StreamExecution` clones the session when `start()` constructs it and
    * runs every batch on that clone (the values are also recorded in the
    * offset log), so the stream keeps the pinned conf while the caller's
    * session — and any other drain on it — never runs under it.
    */
  private[graft] def start[T](stream: Dataset[T], stateCap: Option[Int] = None)(
      sink: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery = {
    val spark = stream.sparkSession
    val writer = sink(stream.writeStream)
    startLock.synchronized {
      val pins = stateStoreConfs.value ++ stateCap.flatMap(capConf(spark, _))
      val prev = pins.map { case (k, _) => k -> spark.conf.getOption(k) }
      pins.foreach { case (k, v) => spark.conf.set(k, v) }
      try writer.start()
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }

  /** The one way a catalog query drains a stream: [[start]]s
    * `sink(stream.writeStream)` with `Trigger.AvailableNow` on a fresh
    * ephemeral checkpoint, waits for it to finish, and deletes the
    * checkpoint. A drain still running after 300 s is stopped and fails
    * the query, so a half-written sink is never read.
    */
  private[graft] def drain[T](stream: Dataset[T], name: String, stateCap: Option[Int] = None)(
      sink: DataStreamWriter[T] => DataStreamWriter[T]): Unit = {
    val ckpt = graft.Scratch.ephemeralCkptDir(s"graft_${name}_ckpt").toFile
    try {
      val q = start(stream, stateCap) { w =>
        sink(w).option("checkpointLocation", ckpt.toString).trigger(Trigger.AvailableNow())
      }
      if (!q.awaitTermination(300000)) {
        q.stop()
        throw new IllegalStateException(s"[graft] $name drain timed out after 300 s")
      }
    } finally deleteRec(ckpt) // one-shot: the next drain takes a fresh one
  }

  /** Append-mode [[drain]] to a parquet sink, used by every
    * production-shape streaming query. `statePartitionCap` bounds the
    * stateful operator's shuffle partitions (state stores per partition are
    * the cost; at real scale this is sized to executor count).
    *
    * `exactlyOnce = true` routes each batch through
    * [[graft.streaming.IdempotentParquetSink]] (overwrite-by-batch-id), so
    * a drain killed after a sink write but before the checkpoint commit
    * replaces — not duplicates — that batch's output on restart. Plain
    * append stays the default where a query's sink is rebuilt fresh per
    * run and restart replay is out of scope.
    */
  private[graft] def drainAppendToParquet(
      stream: DataFrame,
      sinkDir: String,
      qname: String,
      statePartitionCap: Option[Int] = None,
      exactlyOnce: Boolean = false): Unit =
    drain(stream, qname, statePartitionCap) {
      _.outputMode("append").foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (exactlyOnce) graft.streaming.IdempotentParquetSink.writeBatch(batch, batchId, sinkDir)
        else batch.write.mode("append").parquet(sinkDir)
      }
    }

  /** A drain that emitted zero rows never creates the sink directory —
    * that is the correct EMPTY result (e.g. every window withheld by the
    * watermark), not an error; `ddl` supplies the schema for that case.
    */
  private[graft] def readSinkOrEmpty(spark: SparkSession, sinkDir: String, ddl: String): DataFrame =
    if (!new java.io.File(sinkDir).exists())
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(ddl))
    else graft.streaming.IdempotentParquetSink.read(spark, sinkDir)

  /** The one per-(session, dir) memoization scheme behind [[truthCache]]
    * and [[bm25TfCache]]. Weak keying alone cannot reclaim entries (the
    * cached DataFrames strongly reference their session through
    * QueryExecution — the self-reference the WeakHashMap javadoc warns
    * about), so stopped sessions are purged explicitly on every access.
    */
  private[graft] def cachedPerDir(
      cache: java.util.Map[SparkSession, scala.collection.mutable.Map[String, DataFrame]],
      spark: SparkSession, dir: String)(build: => DataFrame): DataFrame = {
    val perSession = cache.synchronized {
      val it = cache.keySet().iterator()
      while (it.hasNext) {
        val s = it.next()
        if (s != null && s.sparkContext.isStopped) it.remove()
      }
      var m = cache.get(spark)
      if (m == null) {
        m = scala.collection.mutable.Map.empty[String, DataFrame]
        cache.put(spark, m)
      }
      m
    }
    perSession.synchronized { perSession.getOrElseUpdate(dir, build) }
  }

  // DuckDB SQL fragments the oracles of several families share.
  private val NormSql = "trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'))"

  private[graft] val FpSql = s"substr(md5($NormSql), 1, 16)"

  private[graft] val ToksSql =
    s"list_filter(string_split_regex($NormSql, '\\s+'), x -> x <> '')"

  /** Shared quality-score CTEs (`qf` features, `qs(doc_id…, q)`): DuckDB
    * reproduction of [[graft.functions.TextFunctions.qualityScoreRaw]]'s
    * exact 0.5-step composite — used wherever an oracle orders or
    * tie-breaks on quality (q_dedup_keep_best, q_semantic_keepbest).
    * `carrySelect`/`carryNames` thread extra columns (e.g. lang, fp)
    * through both CTEs.
    */
  private[graft] def qualityCtesSql(carrySelect: String = "", carryNames: String = ""): String =
    s"""qf AS (
       |  SELECT doc_id$carrySelect,
       |    len($ToksSql) AS n_tok,
       |    (length(text) - length(regexp_replace(text, '[^[:alnum:][:space:]]', '', 'g'))) * 1.0
       |      / greatest(length(text), 1) AS punct_ratio,
       |    list_sum(list_transform($ToksSql, t -> length(t))) * 1.0
       |      / greatest(len($ToksSql), 1) AS mean_wl,
       |    len(list_filter($ToksSql, t -> list_contains(
       |      ['the','a','an','and','or','of','to','in','is','it'], t))) * 1.0
       |      / greatest(len($ToksSql), 1) AS stop_ratio
       |  FROM documents),
       |qs AS (
       |  SELECT doc_id$carryNames,
       |    (CASE WHEN n_tok BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.0 END) +
       |    (CASE WHEN punct_ratio < 0.2 THEN 1.0 ELSE 0.0 END) +
       |    (CASE WHEN mean_wl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) +
       |    (CASE WHEN stop_ratio > 0.0 THEN 1.0 ELSE 0.5 END) AS q
       |  FROM qf)""".stripMargin
}
