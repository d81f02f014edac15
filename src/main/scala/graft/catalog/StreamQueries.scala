package graft
package catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Scratch.deleteRec
import graft.ops.Chunking
import QuerySupport._

/** Structured Streaming queries (SURVEY.md §2B): each drains a file
  * stream to a sink inside the query and reads the sink back, so the
  * oracle checks the batch-equivalent result.
  */
private[graft] object StreamQueries extends QueryFamily {

  /** The oracle of both q_sessionize_custom and q_timed_sessions. */
  private val SessionsOracle =
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 1000 AS ms FROM events),
        |marked AS (
        |  SELECT user_id, ms,
        |         CASE WHEN lag(ms) OVER w IS NULL
        |                OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |sess AS (
        |  SELECT user_id, ms,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ms
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked),
        |agg AS (
        |  SELECT user_id, sid, max(ms) AS s_end, count(*) AS n_ev
        |  FROM sess GROUP BY user_id, sid),
        |emitted AS (
        |  SELECT a.user_id, a.n_ev FROM agg a
        |  WHERE a.sid < (SELECT max(b.sid) FROM agg b WHERE b.user_id = a.user_id)
        |     OR a.s_end + 1800000 <
        |        (SELECT max(ms) FROM ev) - 3600000)
        |SELECT user_id, count(*) AS n_sessions, CAST(sum(n_ev) AS BIGINT) AS n_events,
        |       CAST(max(n_ev) AS BIGINT) AS max_session_events
        |FROM emitted GROUP BY user_id ORDER BY user_id""".stripMargin

  /** STREAMING CDC materialization ([[graft.ops.CdcApply]] inside
    * `foreachBatch`): the time-chunked event stream applied batch-by-batch
    * onto a keyed parquet snapshot — upserts replace, `error` tombstones
    * delete, each micro-batch runs one compact + a temp-write-and-swap of
    * the snapshot (the BandPostings save-back pattern; at real scale the
    * swap narrows to touched partitions via [[PartitionedSink]]).
    * Because batches arrive in time order and [[CdcApply.compact]] is
    * last-writer-wins by (ts, event_id) WITHIN a batch, the sequential
    * fold equals the one-shot batch compaction — so the oracle is
    * q_cdc_apply's, reproduced on the same readout.
    */
  query("q_streaming_cdc",
      // identical content to q_cdc_apply's oracle BY DESIGN: the sequential
      // per-batch fold must land on the same final snapshot as the one-shot
      // batch compaction
      PhysicalQueries.CdcSnapshotOracle, Drain.Stateless) { (spark, dir) =>
    val srcDir = streamChunksDir(spark, dir)
    val snapBase = s"/tmp/graft_streamcdc/${tmpKey(dir)}"
    deleteRec(new java.io.File(snapBase)) // rebuild per run: the drain IS the query
    val snapDir = s"$snapBase/snap"
    // batch-sized width ([[capped]]) for the seed write and each batch's
    // compact: the compact's aggregate + full-outer join and the snapshot
    // rewrite ran at the session's 32-wide default per micro-batch —
    // 32-way shuffles over trigger-sized frames AND a 32-file snapshot
    // that the NEXT batch pays to list and read; 8 tracks the batch volume
    val narrow = capped(spark, 8)
    events(narrow, dir).filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min_by(struct(col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("__first"))
      .select(col("user_id"), col("__first.event_type").as("event_type"),
        col("__first.value").as("value"))
      .write.mode("overwrite").parquet(snapDir)
    val stream = spark.readStream
      .schema("event_id LONG, event_type STRING, user_id LONG, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .filter(col("event_type") =!= "signup")
      .withColumn("op",
        when(col("event_type") === "error", "delete").otherwise("upsert"))
    drain(stream, "q_streaming_cdc") {
      _.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val cur = narrow.read.parquet(snapDir)
          val next = graft.ops.CdcApply.compact(
            cur, batch.toDF(), Seq("user_id"), Seq("ts", "event_id"),
            "op", "delete", Seq("event_type", "value"))
          val tmp = s"$snapBase/snap_next"
          next.write.mode("overwrite").parquet(tmp)
          deleteRec(new java.io.File(snapDir))
          if (!new java.io.File(tmp).renameTo(new java.io.File(snapDir)))
            throw new IllegalStateException("snapshot swap failed")
        }
    }
    spark.read.parquet(snapDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        sum(floor(col("value") * 1000000).cast("long")).as("sum_value_u"))
      .orderBy("event_type")
  }

  /** Spark 4.x `transformWithState` arbitrary stateful streaming
    * ([[graft.streaming.RunningTotals]] — the StatefulProcessor
    * successor to the legacy `flatMapGroupsWithState` that
    * `q_sessionize_custom` covers): per-user running (count, Σvalue_u)
    * emitting one cumulative row per key per touched micro-batch, state
    * in the REQUIRED RocksDB store (pinned when the drain starts).
    * Emissions carry cumulative totals, so the per-key MAX over all
    * emissions equals the batch aggregate no matter how the stream was
    * chunked — the identity the oracle pins.
    */
  query("q_transform_state",
      """WITH per AS (
        |  SELECT user_id, count(*) AS n_events,
        |         CAST(sum(CAST(floor("value" * 1000000) AS BIGINT)) AS BIGINT)
        |           AS total_u
        |  FROM events GROUP BY 1)
        |SELECT n_events, count(*) AS n_users,
        |       CAST(sum(total_u) AS BIGINT) AS sum_total_u
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin, Drain.RocksDb) { (spark, dir) =>
    import spark.implicits._
    val srcDir = streamChunksDir(spark, dir)
    val base = s"/tmp/graft_tws/${tmpKey(dir)}"
    deleteRec(new java.io.File(base)) // the drain is the query
    val sink = s"$base/sink"
    // 4 files/trigger -> 2 data batches: cross-batch state accumulation
    // is still exercised (the point of the query) without paying the
    // RocksDB store open/changelog-commit cycle 6 more times — the
    // q_streaming_join batch-count rationale. The declared result is
    // batching-INVARIANT by construction: emissions are cumulative and
    // the readout takes the per-key MAX, the identity the oracle pins
    // (r17 per-job profile: 8 batches ran 0.21-0.75 s each, ~85% store
    // open/commit + planning on 2-partition state).
    val stream = spark.readStream
      .schema("event_id LONG, event_type STRING, user_id LONG, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", 4)
      .parquet(srcDir)
      .select(col("user_id").as("k"),
        floor(col("value") * 1000000).cast("long").as("inc"))
      .as[graft.streaming.RunningTotals.In]
    drainAppendToParquet(graft.streaming.RunningTotals(stream).toDF(),
      sink, "q_transform_state", statePartitionCap = Some(2))
    spark.read.parquet(sink)
      .groupBy("k")
      .agg(max("n").as("n_events"), max("total").as("total_u"))
      .groupBy("n_events")
      .agg(count(lit(1)).as("n_users"), sum("total_u").as("sum_total_u"))
      .orderBy("n_events")
  }

  /** MapState running counts ([[graft.streaming.TypeCounts]]): per-user
    * event-type map maintained sub-key-at-a-time on the transformWithState
    * MapState primitive — cumulative emissions, so MAX per (user, type)
    * over all emissions equals the batch aggregate regardless of
    * chunking (the q_transform_state identity, now for keyed maps).
    */
  query("q_map_state",
      """WITH c AS (SELECT user_id, event_type, count(*) AS n
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, count(*) AS n_pairs, CAST(sum(n) AS BIGINT) AS n_events
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin, Drain.RocksDb) { (spark, dir) =>
    import spark.implicits._
    val srcDir = streamChunksDir(spark, dir)
    val base = s"/tmp/graft_mapstate/${tmpKey(dir)}"
    deleteRec(new java.io.File(base))
    val sink = s"$base/sink"
    // 2 data batches, not 8 — the q_transform_state batch-count
    // rationale; per-(user,type) counts are order-free, so the max-over-
    // emissions identity is batching-invariant
    val stream = spark.readStream
      .schema("event_id LONG, event_type STRING, user_id LONG, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", 4)
      .parquet(srcDir)
      .select(col("user_id").as("userId"), col("event_type").as("eventType"))
      .as[graft.streaming.TypeCounts.In]
    drainAppendToParquet(graft.streaming.TypeCounts(stream).toDF(),
      sink, "q_map_state", statePartitionCap = Some(2))
    spark.read.parquet(sink)
      .groupBy("userId", "eventType")
      .agg(max("n").as("n"))
      .groupBy(col("eventType").as("event_type"))
      .agg(count(lit(1)).as("n_pairs"), sum("n").as("n_events"))
      .orderBy("event_type")
  }

  /** Structured Streaming over the events data (file stream → tumbling
    * 1-hour windows → memory sink, AvailableNow so the batch drains
    * synchronously). Oracle: plain date_trunc aggregation.
    */
  query("q_streaming_window",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
        |       count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin, Drain.Stateless) { (spark, dir) =>
    val raw = eventsRaw(spark, dir) // resolves the ts physical encoding
    val stream = spark.readStream.schema(raw.schema)
      .option("pathGlobFilter", "events.parquet") // file source needs a directory
      .parquet(dir)
      // same encoding-branched conversion as the batch path (events())
      .withColumn("ts", eventsTsCol(raw.schema("ts").dataType))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("n"))
    // complete mode: a single AvailableNow batch emits every window (append
    // mode would withhold all of them — the watermark only advances after
    // the final batch, with no later batch left to flush). Sink name
    // derived from the dir like q_log_stream's: concurrent drains must not
    // collide on a duplicate active query name.
    val sinkName = "graft_stream_out_" + tmpKey(dir)
    // batch-sized state width (the q_log_stream rationale): one state
    // store per shuffle partition for a few-hundred-window aggregate;
    // scan-side parallelism unaffected
    drain(stream, "q_streaming_window", stateCap = Some(8)) {
      _.outputMode("complete").format("memory").queryName(sinkName)
    }
    spark.table(sinkName).orderBy("hour", "event_type")
  }

  private def streamChunksDir(spark: SparkSession, dir: String): String = {
    // _v2: chunk order pinned OUTSIDE spark (sequenced names + strictly
    // increasing forced mtimes, the nearDupStreamSrcDir discipline).
    // Back-to-back writes can produce ms-tied part-file mtimes whose
    // UUID-name tie-break would let FileStreamSource swap two chunks —
    // harmless to order-insensitive aggregations, fatal to watermark
    // late-drops and to the order-sensitive q_streaming_cdc fold.
    val key = tmpKey(dir) + "_v2"
    oncePerDir(s"/tmp/graft_stream_src/$key", "_OK") {
      val out = s"/tmp/graft_stream_src/$key"
      deleteRec(new java.io.File(out))
      val ev = events(spark, dir).select("event_id", "event_type", "user_id", "ts", "value")
        .withColumn("__us", expr("unix_micros(ts)"))
      val r0 = ev.agg(min("__us"), max("__us")).head()
      val (lo, hi) = (r0.getLong(0), r0.getLong(1))
      val step = math.max(1L, (hi - lo) / 8 + 1)
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val t0 = System.currentTimeMillis()
      for (i <- 0 until 8) {
        val stage = s"$out/.stage"
        ev.filter(col("__us") >= lo + i * step && col("__us") < lo + (i + 1) * step)
          .drop("__us").coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new org.apache.hadoop.fs.Path(f"$out/chunk-$i%02d.parquet")
        fs.rename(new org.apache.hadoop.fs.Path(part.getPath), dst)
        fs.setTimes(dst, t0 + i * 60000L, -1)
      }
      deleteRec(new java.io.File(s"$out/.stage"))
      new java.io.File(s"$out/_OK").createNewFile()
    }
  }

  /** The PRODUCTION streaming shape (complete+memory above is the oracle
    * harness): append mode + foreachBatch parquet sink. Events arrive as
    * several time-chunked files (micro-batches), the watermark advances
    * between batches, and each window row is emitted exactly once when the
    * watermark passes its end — no driver-side state, no ever-growing
    * complete-mode store. The trailing windows the watermark never passes
    * (the final hour) are correctly withheld; the oracle reproduces that
    * cutoff. The sink is exactly-once ACROSS RESTARTS via
    * [[graft.streaming.IdempotentParquetSink]] (overwrite-by-batch-id;
    * kill/replay spec in StreamingSessionSpec) — the round-3/4 plain-append
    * duplicate-on-restart gap is closed.
    */
  query("q_streaming_sink",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
        |       count(*) AS n
        |FROM events
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
        |        <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
        |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin, Drain.Stateless) { (spark, dir) =>
    val srcDir = streamChunksDir(spark, dir)
    val key = tmpKey(dir)
    val sinkDir = s"/tmp/graft_stream_sink/$key"
    deleteRec(new java.io.File(sinkDir)) // fresh sink per run (deterministic re-runs)
    val schema = spark.read.parquet(srcDir).schema
    // 2 data batches (was 4): several micro-batches are still exercised —
    // the watermark advances between batches and windows span them — and
    // the emitted set is watermark-final-determined, so the declared
    // result is batching-invariant (the q_streaming_hll argument)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "4")
      .parquet(srcDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("n"))
    // windowed aggregation is stateful: same state-partition cap as the
    // other stateful drains (one state store per partition)
    drainAppendToParquet(stream, sinkDir, "q_streaming_sink",
      statePartitionCap = Some(2), exactlyOnce = true)
    readSinkOrEmpty(spark, sinkDir, "hour STRING, event_type STRING, n LONG")
      .orderBy("hour", "event_type")
  }

  /** Streaming chunking: [[graft.ops.Chunking.chunkTokens]] is stateless
    * (pure per-row codegen explode), so it runs under `readStream`
    * UNCHANGED — the RAG-prep-at-ingest shape: the native log stream
    * (multi-file admission, 2 micro-batches) parses each line, rebuilds a
    * document text from the typed fields (integers + words only — a
    * float field would re-open the Java-vs-C `%.2f` rounding divergence
    * in chunk CONTENT), explodes it into overlapping token windows with
    * no state and no watermark, and lands in the exactly-once sink. The
    * oracle rebuilds every chunk from the events table with the same
    * covering rule as q_chunk_split.
    */
  query("q_streaming_chunk",
      s"""WITH lines AS (
         |  SELECT printf('evt %d type %s by user %d', event_id, event_type, user_id) AS text
         |  FROM events),
         |tok AS (SELECT $ToksSql AS toks FROM lines),
         |nn AS (SELECT toks, len(toks) AS n FROM tok WHERE len(toks) > 0),
         |ch AS (
         |  SELECT gs.i AS chunk_idx, toks[(gs.i*3+1):least(gs.i*3+4, n)] AS ctoks
         |  FROM nn, LATERAL (SELECT unnest(generate_series(0,
         |       CASE WHEN n <= 4 THEN 0 ELSE (n - 4 + 3 - 1)//3 END)) AS i) gs)
         |SELECT CAST(chunk_idx AS BIGINT) AS chunk_idx, count(*) AS n_chunks,
         |       count(DISTINCT array_to_string(ctoks, ' ')) AS n_distinct
         |FROM ch GROUP BY chunk_idx ORDER BY chunk_idx""".stripMargin, Drain.Stateless) { (spark, dir) =>
    val path = logDir(spark, dir, "plain_many")
    val key = tmpKey(dir)
    val sinkDir = s"/tmp/graft_stream_chunk_sink/$key"
    deleteRec(new java.io.File(sinkDir))
    val stream = spark.readStream.format("log")
      .option("pattern", "(\\d+) (\\w+) user=(\\d+) ([0-9.]+)")
      .option("fieldNames", "event_id, event_type, user_id, value")
      .option("dataTypes", "INT, VARCHAR, INT, DOUBLE")
      .option("extensions", "txt")
      .option("maxFilesPerTrigger", "8")
      .load(path)
      .select(format_string("evt %d type %s by user %d",
        col("event_id"), col("event_type"), col("user_id")).as("doc"))
    val chunks = Chunking.chunkTokens(stream, "doc", 4, 3)
      .select(col("chunk_idx"), col("chunk_text"))
    drainAppendToParquet(chunks, sinkDir, "q_streaming_chunk", exactlyOnce = true)
    readSinkOrEmpty(spark, sinkDir, "chunk_idx INT, chunk_text STRING")
      .groupBy(col("chunk_idx").cast("long").as("chunk_idx"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("chunk_text")).as("n_distinct"))
      .orderBy("chunk_idx")
  }

  /** Stream-stream INTERVAL join (the remaining big streaming shape):
    * clicks joined to same-user purchases within the following hour, both
    * sides watermarked, state bounded by the join's time range. Inner-join
    * matches emit as soon as both rows have arrived (no watermark
    * withholding), so with event-time-ordered ingestion the result equals
    * the batch interval join — which is exactly what the oracle runs.
    */
  query("q_streaming_join", PhysicalQueries.RangeJoinOracle, Drain.Stateless) { (spark, dir) =>
    val srcDir = streamChunksDir(spark, dir)
    val key = tmpKey(dir)
    val sinkDir = s"/tmp/graft_stream_join_sink/$key"
    deleteRec(new java.io.File(sinkDir))
    val schema = spark.read.parquet(srcDir).schema
    // 4 files/trigger -> 2 data batches: cross-batch matching is exercised
    // (click in batch 1, purchase in batch 2) without paying per-batch
    // state-store commit overhead 4 more times. ONE source, two filtered
    // branches (a stream-stream SELF-join): both sides share a single
    // admission stream, so the directory is listed and the offset log
    // written once per trigger instead of twice — at real scale, half the
    // driver-side listing of a two-source plan for identical rows.
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "4").parquet(srcDir)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
      .withWatermark("cts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
      .withWatermark("pts", "1 hour")
    val matches = clicks.join(purchases,
      col("cu") === col("pu") &&
        col("pts") >= col("cts") && col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"))
    drainAppendToParquet(matches, sinkDir, "q_streaming_join", statePartitionCap = Some(2))
    readSinkOrEmpty(spark, sinkDir,
      "cu BIGINT, cts TIMESTAMP, pu BIGINT, pts TIMESTAMP")
      .groupBy(date_format(col("cts"), "yyyy-MM-dd HH").as("hour"))
      .agg(count(lit(1)).as("n_matches"), countDistinct(col("cu")).as("n_users"))
      .orderBy("hour")
  }

  /** Streaming per-window approximate distinct count — the sketch+stream
    * composition a live dashboard runs at 100 TB/day: HLL state per
    * watermarked hourly window (mergeable partial aggregates, no exact
    * distinct's Expand blowup in the state store), emitted once when the
    * watermark passes the window. Graded the q_hll way: the emitted
    * estimate joins the batch-exact distinct per window and the query
    * outputs exact + an envelope flag — within 25% OR +/-2 absolute (HLL
    * is deterministic on fixed input, so the flag is stable; the +/-2
    * floor covers the small windows where the small-range estimator is
    * off by 1-2 and any relative bound would demand exactness). The
    * envelope is sized 5 SIGMA for the sketch's rsd (0.05, Spark's
    * default): the sf0.1 sweep's 3600 windows put ~31 buckets outside
    * the original 5% (=1 sigma) envelope — a statistically guaranteed
    * failure at scale (round-14 catch; max rel error measured 16.7%).
    * Tightening rsd instead of widening the envelope is the WRONG fix
    * here: rsd=0.01 means a 25x larger sketch per window in the state
    * store and benched this query 2.6 s -> 9.5 s. The withheld-trailing-
    * window rule is q_streaming_sink's. */
  query("q_streaming_hll",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
        |       count(DISTINCT user_id) AS n_users, true AS within_envelope
        |FROM events
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
        |        <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
        |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin, Drain.Stateless) { (spark, dir) =>
    val srcDir = streamChunksDir(spark, dir)
    val sinkDir = s"/tmp/graft_stream_hll_sink/${tmpKey(dir)}"
    deleteRec(new java.io.File(sinkDir))
    val schema = spark.read.parquet(srcDir).schema
    // 2 data batches, not 4 (the q_streaming_join posture): the append-mode
    // emission set is {windows whose end the FINAL watermark passes} — a
    // pure function of the data, not of the batching — while cross-batch
    // watermark advancement and state carry-over stay exercised; each
    // dropped batch was a full state-store open/commit cycle
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "4")
      .parquet(srcDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd = 0.05).as("est"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("est"))
    drainAppendToParquet(stream, sinkDir, "q_streaming_hll", statePartitionCap = Some(2))
    val est = readSinkOrEmpty(spark, sinkDir, "hour STRING, event_type STRING, est LONG")
    val exact = events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    est.join(exact, Seq("hour", "event_type"))
      .select(col("hour"), col("event_type"), col("n_users"),
        (abs(col("est") - col("n_users")) * 4 <= col("n_users") ||
          abs(col("est") - col("n_users")) <= 2).as("within_envelope"))
      .orderBy("hour", "event_type")
  }

  /** Streaming heavy hitters: per-micro-batch Count–Min sketches folded
    * into one running sketch (same width/depth/seed). CMS merge is
    * counter ADDITION, so the fold over ANY batch partitioning equals the
    * one-shot batch sketch counter-for-counter — the readout asserts that
    * equality exactly per top-k key (`fold_exact`), alongside the
    * deterministic one-sided `cms_ok` from [[graft.ops.HeavyHitters]].
    * Driver state is two small sketch arrays; per-key state never exists
    * anywhere — the streaming shape that survives an unbounded key space.
    */
  query("q_streaming_heavy_hitters",
      """SELECT user_id, count(*) AS n,
        |       true AS fold_exact, true AS cms_ok
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, user_id LIMIT 10""".stripMargin, Drain.Stateless) { (spark, dir) =>
    val srcDir = streamChunksDir(spark, dir)
    val (eps, conf, seed) = (0.0001, 0.999, 42)
    var folded: org.apache.spark.util.sketch.CountMinSketch = null
    val stream = spark.readStream
      .schema("event_id LONG, event_type STRING, user_id LONG, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", 4)
      .parquet(srcDir)
    drain(stream, "q_streaming_heavy_hitters") {
      _.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          // distributed per-batch sketch; sequential foreachBatch -> the
          // driver-side fold needs no synchronization
          val s = batch.filter(col("user_id").isNotNull)
            .stat.countMinSketch("user_id", eps, conf, seed)
          if (folded == null) folded = s else folded.mergeInPlace(s)
          ()
        }
    }
    val ev = events(spark, dir).filter(col("user_id").isNotNull)
    val batchSketch = ev.stat.countMinSketch("user_id", eps, conf, seed)
    val exact = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("user_id")).limit(10)
    import spark.implicits._
    exact.collect().toSeq.map { r =>
      val k = r.getLong(0)
      val n = r.getLong(1)
      val fe = if (folded == null) -1L else folded.estimateCount(k)
      (k, n, fe == batchSketch.estimateCount(k), fe >= n)
    }.toDF("user_id", "n", "fold_exact", "cms_ok")
      .orderBy(desc("n"), col("user_id"))
  }

  /** Stream-stream LEFT OUTER join — inner matching plus the
    * state-EVICTION semantics outer joins add: an unmatched click emits
    * its null-extended row only when the watermark proves no purchase can
    * ever arrive for its one-hour window (wm > cts + 1h), and clicks
    * whose window the final watermark never passes are withheld forever.
    * The oracle reproduces exactly that rule in MILLISECONDS (watermark
    * arithmetic is ms-precision): matched pairs all emit; null rows only
    * where `cts_ms + 1h < wm_final`, with the final GLOBAL watermark the
    * MIN across the two watermarked inputs (multipleWatermarkPolicy=min):
    * `wm_final = min(max_click_ms, max_purchase_ms) - 1h` — verified
    * empirically: using the all-events max over-emits null rows.
    */
  query("q_streaming_left_join",
      """WITH c AS (SELECT user_id AS cu, ts AS cts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id AS pu, ts AS pts FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.cu, c.cts, p.pts
        |      FROM c LEFT JOIN p ON c.cu = p.pu
        |        AND epoch_us(p.pts) >= epoch_us(c.cts)
        |        AND epoch_us(p.pts) <= epoch_us(c.cts) + 3600000000),
        |wm AS (
        |  SELECT least((SELECT max(epoch_us(ts)) // 1000 FROM events WHERE event_type = 'click'),
        |               (SELECT max(epoch_us(ts)) // 1000 FROM events WHERE event_type = 'purchase'))
        |         - 3600000 AS w),
        |e AS (SELECT cu, cts, pts FROM j WHERE pts IS NOT NULL
        |      UNION ALL
        |      SELECT cu, cts, pts FROM j
        |      WHERE pts IS NULL
        |        AND epoch_us(cts) // 1000 + 3600000 < (SELECT w FROM wm))
        |SELECT strftime(date_trunc('hour', cts), '%Y-%m-%d %H') AS hour,
        |       CAST(sum(CASE WHEN pts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |       CAST(sum(CASE WHEN pts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |       count(DISTINCT cu) AS n_users
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin, Drain.Stateless) { (spark, dir) =>
    val srcDir = streamChunksDir(spark, dir)
    val key = tmpKey(dir)
    val sinkDir = s"/tmp/graft_stream_ljoin_sink/$key"
    deleteRec(new java.io.File(sinkDir))
    val schema = spark.read.parquet(srcDir).schema
    // same 2-batch admission + single-source self-join + state-partition
    // cap rationale as q_streaming_join
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "4").parquet(srcDir)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
      .withWatermark("cts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
      .withWatermark("pts", "1 hour")
    val joined = clicks.join(purchases,
      col("cu") === col("pu") &&
        col("pts") >= col("cts") && col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
    drainAppendToParquet(joined, sinkDir, "q_streaming_left_join",
      statePartitionCap = Some(2))
    readSinkOrEmpty(spark, sinkDir, "cu BIGINT, cts TIMESTAMP, pu BIGINT, pts TIMESTAMP")
      .groupBy(date_format(col("cts"), "yyyy-MM-dd HH").as("hour"))
      .agg(sum(when(col("pts").isNotNull, 1L).otherwise(0L)).as("n_matched"),
        sum(when(col("pts").isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col("cu")).as("n_users"))
      .orderBy("hour")
  }

  /** Stream-stream FULL OUTER interval join — both unmatched sides
    * surface: clicks with no purchase in their forward hour emit
    * null-extended when the left state expires (`cts + window <
    * watermark`, the q_streaming_left_join rule), purchases with no
    * click in their trailing hour when the right state expires
    * (`pts < watermark` — the condition's click range is
    * [pts-1h, pts], all below the watermark exactly when pts is).
    * State on both sides is watermark-bounded; the readout buckets by
    * the hour of whichever side exists.
    */
  query("q_streaming_full_join",
      """WITH c AS (SELECT user_id AS cu, ts AS cts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id AS pu, ts AS pts FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT c.cu, c.cts, p.pu, p.pts
        |      FROM c JOIN p ON c.cu = p.pu
        |        AND epoch_us(p.pts) >= epoch_us(c.cts)
        |        AND epoch_us(p.pts) <= epoch_us(c.cts) + 3600000000),
        |wm AS (
        |  SELECT least((SELECT max(epoch_us(ts)) // 1000 FROM events WHERE event_type = 'click'),
        |               (SELECT max(epoch_us(ts)) // 1000 FROM events WHERE event_type = 'purchase'))
        |         - 3600000 AS w),
        |co AS (SELECT cu, cts, CAST(NULL AS BIGINT) AS pu, CAST(NULL AS TIMESTAMP) AS pts
        |       FROM c WHERE NOT EXISTS (
        |           SELECT 1 FROM p WHERE p.pu = c.cu
        |             AND epoch_us(p.pts) >= epoch_us(c.cts)
        |             AND epoch_us(p.pts) <= epoch_us(c.cts) + 3600000000)
        |         AND epoch_us(cts) // 1000 + 3600000 < (SELECT w FROM wm)),
        |po AS (SELECT CAST(NULL AS BIGINT) AS cu, CAST(NULL AS TIMESTAMP) AS cts, pu, pts
        |       FROM p WHERE NOT EXISTS (
        |           SELECT 1 FROM c WHERE c.cu = p.pu
        |             AND epoch_us(p.pts) >= epoch_us(c.cts)
        |             AND epoch_us(p.pts) <= epoch_us(c.cts) + 3600000000)
        |         AND epoch_us(pts) // 1000 < (SELECT w FROM wm)),
        |e AS (SELECT * FROM m UNION ALL SELECT * FROM co UNION ALL SELECT * FROM po)
        |SELECT strftime(date_trunc('hour', coalesce(cts, pts)), '%Y-%m-%d %H') AS hour,
        |       CAST(sum(CASE WHEN cts IS NOT NULL AND pts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_matched,
        |       CAST(sum(CASE WHEN pts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click_only,
        |       CAST(sum(CASE WHEN cts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_only,
        |       count(DISTINCT coalesce(cu, pu)) AS n_users
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin, Drain.Stateless) { (spark, dir) =>
    val srcDir = streamChunksDir(spark, dir)
    val sinkDir = s"/tmp/graft_stream_fjoin_sink/${tmpKey(dir)}"
    deleteRec(new java.io.File(sinkDir))
    val schema = spark.read.parquet(srcDir).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "4").parquet(srcDir)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
      .withWatermark("cts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
      .withWatermark("pts", "1 hour")
    val joined = clicks.join(purchases,
      col("cu") === col("pu") &&
        col("pts") >= col("cts") && col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"),
      "full_outer")
    drainAppendToParquet(joined, sinkDir, "q_streaming_full_join",
      statePartitionCap = Some(2))
    readSinkOrEmpty(spark, sinkDir, "cu BIGINT, cts TIMESTAMP, pu BIGINT, pts TIMESTAMP")
      .groupBy(date_format(coalesce(col("cts"), col("pts")), "yyyy-MM-dd HH").as("hour"))
      .agg(
        sum(when(col("cts").isNotNull && col("pts").isNotNull, 1L).otherwise(0L))
          .as("n_matched"),
        sum(when(col("pts").isNull, 1L).otherwise(0L)).as("n_click_only"),
        sum(when(col("cts").isNull, 1L).otherwise(0L)).as("n_purchase_only"),
        countDistinct(coalesce(col("cu"), col("pu"))).as("n_users"))
      .orderBy("hour")
  }

  /** The CUSTOM stateful operator ([[graft.streaming.Sessionize]],
    * `flatMapGroupsWithState`) end-to-end: event-time sessions with a
    * 30-minute gap over the chunked event stream, emitted on close (by a
    * later event, or by event-time timeout when the watermark passes
    * end+gap). The oracle rebuilds sessions with the lag/cumsum islands
    * trick in MILLISECONDS (the operator works on `Timestamp.getTime`, and
    * Spark watermarks are ms-precision) and reproduces the emission rule: a
    * user's non-last sessions always close; the last closes only if
    * `end + gap < final_watermark` (strict — the exec's timeout check).
    */
  query("q_sessionize_custom", SessionsOracle, Drain.Stateless) { (spark, dir) =>
    val srcDir = streamChunksDir(spark, dir)
    val key = tmpKey(dir)
    val sinkDir = s"/tmp/graft_sessionize_sink/$key"
    deleteRec(new java.io.File(sinkDir))
    val schema = spark.read.parquet(srcDir).schema
    import spark.implicits._
    val ev = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "4") // 2 data batches: sessions span batches
      .parquet(srcDir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("userId"), col("ts"), col("event_type").as("eventType"))
      .as[graft.streaming.Sessionize.Event]
    val sessions = graft.streaming.Sessionize.sessionize(spark, ev, gapMillis = 30 * 60 * 1000L)
    // same state-partition cap rationale as q_streaming_join
    drainAppendToParquet(sessions.toDF(), sinkDir, "q_sessionize_custom",
      statePartitionCap = Some(2))
    readSinkOrEmpty(spark, sinkDir,
      "userId BIGINT, start TIMESTAMP, end TIMESTAMP, nEvents INT, closed BOOLEAN")
      .groupBy(col("userId").as("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("nEvents").cast("long")).as("n_events"),
        max(col("nEvents").cast("long")).as("max_session_events"))
      .orderBy("user_id")
  }

  /** STREAM-STATIC join — the remaining everyday streaming shape: the
    * event stream enriched against a static dimension (the per-user order
    * aggregate). The static side plans as a plain batch relation inside
    * every micro-batch — Catalyst broadcasts it like any dimension join; no
    * state store is involved (nothing to watermark on the static side).
    * Inner join + stateless aggregate-after-sink keeps emission
    * deterministic; the oracle is the identical batch join.
    */
  query("q_stream_static_join",
      """WITH dim AS (
        |  SELECT o_custkey AS user_id, count(*) AS n_orders FROM orders GROUP BY 1)
        |SELECT e.event_type, count(*) AS n_enriched,
        |       CAST(sum(d.n_orders) AS BIGINT) AS sum_orders
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin, Drain.Stateless) { (spark, dir) =>
    val srcDir = streamChunksDir(spark, dir)
    val key = tmpKey(dir)
    val sinkDir = s"/tmp/graft_stream_static_sink/$key"
    deleteRec(new java.io.File(sinkDir))
    val schema = spark.read.parquet(srcDir).schema
    val dim = t(spark, dir, "orders")
      .groupBy(col("o_custkey").as("user_id"))
      .agg(count(lit(1)).as("n_orders"))
    val enriched = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "4")
      .parquet(srcDir)
      .join(broadcast(dim), Seq("user_id")) // static side: batch relation, broadcast
      .select(col("event_type"), col("n_orders"))
    drainAppendToParquet(enriched, sinkDir, "q_stream_static_join")
    readSinkOrEmpty(spark, sinkDir, "event_type STRING, n_orders BIGINT")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_enriched"), sum("n_orders").as("sum_orders"))
      .orderBy("event_type")
  }

  /** One-time: the event chunks with INJECTED duplicates — every third
    * event repeated inside its own chunk (same-batch dup) and every fifth
    * event from the trailing hour of a chunk repeated in the NEXT chunk
    * (cross-batch dup, still inside the 3-hour dedup SLA so the watermark
    * can never late-drop it before the dedup state sees it).
    */
  private def dupStreamChunksDir(spark: SparkSession, dir: String): String = {
    val key = tmpKey(dir)
    oncePerDir(s"/tmp/graft_stream_dup_src/$key", "_OK") {
      val out = s"/tmp/graft_stream_dup_src/$key"
      deleteRec(new java.io.File(out))
      val ev = events(spark, dir).select("event_id", "event_type", "user_id", "ts", "value")
        .withColumn("__us", expr("unix_micros(ts)"))
      val r0 = ev.agg(min("__us"), max("__us")).head()
      val (lo, hi) = (r0.getLong(0), r0.getLong(1))
      val step = math.max(1L, (hi - lo) / 8 + 1)
      val hourUs = 3600L * 1000000L
      for (i <- 0 until 8) {
        val curLo = lo + i * step
        val cur = ev.filter(col("__us") >= curLo && col("__us") < curLo + step)
        val sameBatchDups = cur.filter(col("event_id") % 3 === 0)
        val crossBatchDups = ev.filter(
          col("__us") >= curLo - hourUs && col("__us") < curLo &&
            col("event_id") % 5 === 0)
        cur.unionByName(sameBatchDups).unionByName(crossBatchDups)
          .drop("__us").coalesce(1).write.mode("append").parquet(out)
      }
      new java.io.File(s"$out/_OK").createNewFile()
    }
  }

  /** Streaming DEDUPLICATION (`dropDuplicatesWithinWatermark`) — the
    * streaming face of the exact-dedup operator: duplicate events arriving
    * within the 3-hour watermark SLA (same batch or a later one) are
    * suppressed by keyed state that the watermark then expires — state is
    * bounded by the SLA, not the stream. Deduped rows append to a parquet
    * sink; the oracle is plain batch DISTINCT on event_id, and `n = n_ids`
    * in the output is the proof the stream-side dedup removed every
    * injected duplicate.
    */
  query("q_streaming_dedup",
      // the stream injects duplicates; a correct streaming dedup emits
      // exactly the distinct event set, so both columns are the distinct count
      """SELECT event_type, count(DISTINCT event_id) AS n,
        |       count(DISTINCT event_id) AS n_ids
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin, Drain.Stateless) { (spark, dir) =>
    val srcDir = dupStreamChunksDir(spark, dir)
    val key = tmpKey(dir)
    val sinkDir = s"/tmp/graft_stream_dedup_sink/$key"
    deleteRec(new java.io.File(sinkDir))
    val schema = spark.read.parquet(srcDir).schema
    val deduped = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "4") // 2 data batches: dups cross batches
      .parquet(srcDir)
      .withWatermark("ts", "3 hours")
      .dropDuplicatesWithinWatermark("event_id")
    drainAppendToParquet(deduped, sinkDir, "q_streaming_dedup", statePartitionCap = Some(2))
    readSinkOrEmpty(spark, sinkDir,
      "event_id LONG, event_type STRING, user_id LONG, ts TIMESTAMP, value DOUBLE")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct("event_id").as("n_ids"))
      .orderBy("event_type")
  }

  /** ListState sliding window ([[graft.streaming.RecentValues]]): each
    * user's last-3 event values by (ts, event_id) maintained in LIST
    * state; the final window per user is selected by max cumulative
    * count (`max_by` — monotonic per touched batch), which the oracle
    * reproduces as a plain rank-3 window over the batch table.
    */
  query("q_list_state",
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |         CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY us DESC, event_id DESC) AS rn
        |  FROM e)
        |SELECT user_id, CAST(sum(cents) AS BIGINT) AS sum3_cents,
        |       count(*) AS n3
        |FROM r WHERE rn <= 3 GROUP BY 1 ORDER BY 1""".stripMargin, Drain.RocksDb) { (spark, dir) =>
    import spark.implicits._
    val srcDir = streamChunksDir(spark, dir)
    val base = s"/tmp/graft_liststate/${tmpKey(dir)}"
    deleteRec(new java.io.File(base))
    val sink = s"$base/sink"
    // 2 data batches, not 8 — the q_transform_state batch-count
    // rationale; RecentValues sorts each batch to the (ts, event_id)
    // total order and the readout arg-maxes on the monotonic nSeen, so
    // the final window is batching-invariant (time-ordered chunks)
    val stream = spark.readStream
      .schema("event_id LONG, event_type STRING, user_id LONG, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", 4)
      .parquet(srcDir)
      .select(col("user_id").as("userId"), col("event_id").as("eventId"),
        unix_micros(col("ts")).as("tsUs"),
        floor(col("value") * 100).cast("long").as("cents"))
      .as[graft.streaming.RecentValues.In]
    drainAppendToParquet(graft.streaming.RecentValues(stream).toDF(),
      sink, "q_list_state", statePartitionCap = Some(2))
    spark.read.parquet(sink)
      .groupBy(col("userId").as("user_id"))
      .agg(max_by(col("sum3"), col("nSeen")).as("sum3_cents"),
        max_by(col("n3"), col("nSeen")).cast("long").as("n3"))
      .orderBy("user_id")
  }

  /** Gap sessionization on the `transformWithState` TIMER surface
    * ([[graft.streaming.TimedSessions]]): same 30-minute-gap semantics as
    * q_sessionize_custom's legacy-API implementation, so the two share
    * one oracle — the strongest statement that the timer rewrite changed
    * the API, not the sessions. Requires the RocksDB state store
    * (transformWithState contract), swapped in scoped like
    * q_transform_state.
    */
  query("q_timed_sessions", SessionsOracle, Drain.RocksDb) { (spark, dir) =>
    val srcDir = streamChunksDir(spark, dir)
    val sinkDir = s"/tmp/graft_timed_sessions_sink/${tmpKey(dir)}"
    deleteRec(new java.io.File(sinkDir))
    val schema = spark.read.parquet(srcDir).schema
    import spark.implicits._
    val ev = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "4") // sessions span batches
      .parquet(srcDir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("userId"), col("ts"))
      .as[graft.streaming.TimedSessions.Event]
    val sessions =
      graft.streaming.TimedSessions(ev, gapMillis = 30 * 60 * 1000L)
    drainAppendToParquet(sessions.toDF(), sinkDir, "q_timed_sessions",
      statePartitionCap = Some(2))
    readSinkOrEmpty(spark, sinkDir,
      "userId BIGINT, start TIMESTAMP, end TIMESTAMP, nEvents INT")
      .groupBy(col("userId").as("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("nEvents").cast("long")).as("n_events"),
        max(col("nEvents").cast("long")).as("max_session_events"))
      .orderBy("user_id")
  }
}
