package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.{Dataset, Row, SparkSession}

import graft.streaming.IdempotentParquetSink

/** `log_stream`: open loop. One generator thread drops app-dialect log
  * files into a directory on a seeded Poisson schedule, at a rate a quarter
  * of the sweep's knee (README.md); a
  * `readStream.format("log")` query tails it, runs a stateful aggregate per
  * (file's component, level) and writes every micro-batch through
  * `IdempotentParquetSink`. Same parser as `log_scan`, used as many small
  * scans that each pay a fixed per-batch cost, with offset/commit logs,
  * state commits and sink output written beside the reads.
  *
  * A file's latency runs from its due time (not from when the generator
  * got to it, so a stall is charged to every file behind it) to the end of
  * the sink write of the micro-batch that emitted its rows. Each file's rows
  * must appear in the sink exactly once, in one batch, with the counts the
  * generator wrote. After the open loop, a drain phase measures the bulk
  * CPU cost per file on a backlog ([[drain]]).
  */
final class LogStreamWorkload(cacheDir: File, seed: Long, filesPerSecond: Double) extends Workload {
  import LogStreamWorkload._

  private val base = new File(cacheDir, "stream")
  private var warmups = 0
  // per traced window: data-batch progress, backlog and generator lateness
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val extra = mutable.Map.empty[String, Double]

  def prepare(): Unit = Corpus.deleteRec(base)

  private def start(spark: SparkSession, in: File, dir: File, trigger: Trigger,
      onBatch: Long => Unit, extraOptions: Map[String, String] = Map.empty): StreamingQuery =
    spark.readStream.format("log").options(Dialects.App.options ++ extraOptions).load(in.getPath)
      .filter(col("component").isNotNull)
      .groupBy(col("component"), col("level"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("msg"))).cast("long").as("msg_chars"),
        max(unix_seconds(col("ts"))).as("max_ts"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", new File(dir, "ckpt").getPath)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        IdempotentParquetSink.writeBatch(batch, id, new File(dir, "sink").getPath)
        onBatch(id)
      }
      .trigger(trigger)
      .start()

  /** The seeded arrival schedule and file contents of `n` files due over
    * `seconds`; `index` keeps every window's files distinct. */
  private def plan(n: Int, seconds: Double, index: Int): Seq[Planned] = {
    val rng = new SplittableRandom(seed * 7919L + index)
    // a Poisson process conditioned on n arrivals in [0, seconds]: sorted
    // uniform times, so every run offers the same load over the same span
    val due = Array.fill(n)(rng.nextDouble() * seconds).sorted
    (0 until n).map { i =>
      val t = due(i)
      val comp = s"node-$index-$i"
      val gen = new LineGen(seed, 1000 + index * 100000 + i)
      val agg = new Expected
      val text = (0 until 40 + rng.nextInt(80)).map(_ => gen.app(agg, comp)).mkString("", "\n", "\n")
      val expect = agg.groups.collect { case ((_, level: String), c) =>
        level -> Expected.canon(Seq(c(0), c(3), c(2)))
      }.toMap
      Planned(i, comp, (t * 1e9).toLong, text, expect)
    }
  }

  private def put(f: Planned, dir: File): Unit =
    Files.write(new File(dir, s"f${f.i}.log").toPath, f.text.getBytes(StandardCharsets.UTF_8))

  /** Set-up op: drain two files through the full pipeline once. */
  def warmup(spark: SparkSession): Unit = {
    warmups += 1
    val dir = new File(base, s"warm$warmups")
    val in = new File(dir, "in")
    in.mkdirs()
    plan(2, 0.1, -warmups).foreach(put(_, in))
    val q = start(spark, in, dir, Trigger.AvailableNow(), _ => ())
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  /** An untimed drain of four batches, so the JIT has compiled the scan,
    * aggregate and sink paths before the open loop starts. */
  def prime(spark: SparkSession): Unit = {
    val (_, checked, _) = drain(spark, -1, 4 * DrainBatch)
    val bad = checked.filterNot(_.ok)
    require(bad.isEmpty, s"log_stream drain failed while priming: ${bad.head.error}")
  }

  /** Compare the sink of `dir` with the planned files: each file's rows
    * appear exactly once, in one batch, with the counts the generator
    * wrote. Returns, per file, its batch or why it failed, and one failed
    * op per stray component. */
  private def verify(spark: SparkSession, dir: File, files: Seq[Planned],
      err: Option[Throwable]): (Map[Int, Either[String, Long]], Seq[OpResult]) = {
    // sink rows: component, level, n, msg_chars, max_ts, batch_id
    val sink = if (err.isEmpty) spark.read.parquet(new File(dir, "sink").getPath).collect().toSeq else Nil
    val byComp = sink.groupBy(_.getAs[String]("component"))
    val outcome = files.map { f =>
      val rows = byComp.getOrElse(f.comp, Nil)
      val batches = rows.map(r => r.getAs[Number]("batch_id").longValue()).distinct
      val got = rows.map(r => r.getAs[String]("level") ->
        Expected.canon(Seq(r.getAs[Any]("n"), r.getAs[Any]("msg_chars"), r.getAs[Any]("max_ts"))))
      val once = got.map(_._1).distinct.size == got.size
      f.i -> (if (err.isEmpty && batches.size == 1 && once && got.toMap == f.expect) Right(batches.head)
      else Left(err.map(_.getMessage).getOrElse(s"sink rows for ${f.comp} do not match")))
    }
    val known = files.map(_.comp).toSet
    val stray = byComp.keys.filterNot(known).toSeq.map(c => OpResult("stray_rows", "file", 0.0, ok = false,
      error = s"sink holds rows for unknown component $c"))
    (outcome.toMap, stray)
  }

  /** Data batches (those that read input) among a query's recent progress. */
  private def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)

  private def triggerMs(p: StreamingQueryProgress): Double =
    p.durationMs.getOrDefault("triggerExecution", 0L).doubleValue()

  /** Bulk cost: a backlog of [[DrainFiles]] files dropped at once and
    * drained with `Trigger.AvailableNow` in batches of [[DrainBatch]] files.
    * Returns the Java threads' CPU seconds per file ([[Stats.threadCpu]])
    * over every batch after the first, which also starts the query: a cost
    * the program sets, where the open loop's batch size follows its batch
    * speed. Every drained file is checked like an open-loop one. */
  private def drain(spark: SparkSession, index: Int,
      n: Int = DrainFiles): (Double, Seq[OpResult], Map[String, Double]) = {
    val dir = new File(base, s"d$index")
    val in = new File(dir, "in")
    in.mkdirs()
    val files = plan(n, 0.0, 500 + index)
    files.foreach(put(_, in))
    val cpuAt = new ConcurrentHashMap[Long, Map[Long, Long]]()
    val cpu0 = Stats.threadCpu()
    val q = start(spark, in, dir, Trigger.AvailableNow(), id => cpuAt.put(id, Stats.threadCpu()),
      Map("maxFilesPerTrigger" -> DrainBatch.toString))
    val err = try { q.awaitTermination(); q.exception } catch { case e: Exception => Some(e) }
    val (outcome, stray) = verify(spark, dir, files, err)
    val checked = files.map(f => OpResult("drain_file", "file", 0.0, outcome(f.i).isRight,
      error = outcome(f.i).left.getOrElse("")))
    val batches = dataBatches(q)
    val filesIn = outcome.values.flatMap(_.toOption).groupBy(identity).map { case (b, fs) => b -> fs.size }
    // CPU from the end of the first batch (which also starts the query) to
    // the end of the last, over the files of the batches in between
    val cpuEnds = cpuAt.asScala.toSeq.map { case (b, c) => (b.longValue(), c) }.sortBy(_._1)
    val cpuPerFile = if (cpuEnds.size < 2) Double.NaN else
      Stats.cpuBetween(cpuEnds.head._2, cpuEnds.last._2) / cpuEnds.tail.map(e => filesIn.getOrElse(e._1, 0)).sum
    val rates = batches.map(p => filesIn.getOrElse(p.batchId, 0) * 1000.0 / triggerMs(p))
    (cpuPerFile, checked ++ stray, Map(
      "drain_files_per_s" -> Stats.median(rates),
      "drain_busy_s" -> batches.map(triggerMs).sum / 1000.0,
      "drain_first_ms" -> batches.headOption.map(triggerMs).getOrElse(0.0),
      "drain_batches" -> batches.size.toDouble))
  }

  def window(spark: SparkSession, seconds: Double, tracer: Option[Tracer], index: Int): Window = {
    val dir = new File(base, s"w$index")
    val (in, stage) = (new File(dir, "in"), new File(dir, "stage"))
    in.mkdirs(); stage.mkdirs()
    val files = plan(math.ceil(seconds * filesPerSecond).toInt, seconds, index)
    val ends = new ConcurrentHashMap[Long, java.lang.Long]()
    // traced: each batch's sink write is a query of its own; its tracker
    // phases and executed plan (with the log scan's metrics) come back here
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = writes.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // before start: the stream runs its batches in a clone of this session,
    // which copies the listeners registered at start time
    if (tracer.isDefined) spark.listenerManager.register(qeListener)
    // traced: the log scan's custom metrics live in the batch's own
    // IncrementalExecution, read while the batch is still the last one
    val scans = new ConcurrentHashMap[Long, Map[String, Long]]()
    val self = new java.util.concurrent.atomic.AtomicReference[StreamingQuery]()
    val q = start(spark, in, dir, Trigger.ProcessingTime(0L), { id =>
      ends.put(id, System.nanoTime())
      if (tracer.isDefined) Option(self.get()).foreach { sq =>
        val exec = sq.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
        if (exec != null) scans.put(id, ScanMetrics.of(exec.executedPlan))
      }
    })
    self.set(q)
    // let the first (empty) trigger pass before the schedule starts
    val ready = System.nanoTime() + 10000000000L
    while (q.lastProgress == null && q.isActive && System.nanoTime() < ready) Thread.sleep(10)

    val t0 = System.nanoTime() + 100000000L
    val written = new Array[Long](files.size)
    val gen = new Thread(() => files.foreach { f =>
      val due = t0 + f.dueNs
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      put(f, stage)
      Files.move(new File(stage, s"f${f.i}.log").toPath, new File(in, s"f${f.i}.log").toPath,
        StandardCopyOption.ATOMIC_MOVE)
      written(f.i) = System.nanoTime()
    }, "perfbench-log-generator")
    gen.start()
    gen.join()
    val err = try { q.processAllAvailable(); None } catch { case e: Exception => Some(e) }
    q.stop()
    if (tracer.isDefined) spark.listenerManager.unregister(qeListener)
    val wall = (System.nanoTime() - t0) / 1e9
    val batches = dataBatches(q)

    val (outcome, stray) = verify(spark, dir, files, err)
    val batchOf = outcome.collect { case (i, Right(b)) => i -> b }
    val ops = files.map { f =>
      val latency = batchOf.get(f.i).filter(ends.containsKey)
        .map(b => (ends.get(b) - (t0 + f.dueNs)) / 1e9).getOrElse(wall)
      OpResult("file", "file", latency, batchOf.contains(f.i), error = outcome(f.i).left.getOrElse(""))
    }
    val (drainCpu, drained, drainNamed) = drain(spark, index)

    val late = files.map(f => (written(f.i) - (t0 + f.dueNs)) / 1e6)
    val batchEnds = ends.asScala.toSeq.map { case (b, t) => (b.longValue(), t.longValue()) }
    val backlog = batchEnds.map { case (b, tEnd) =>
      files.count(f => written(f.i) <= tEnd && batchOf.get(f.i).exists(_ > b))
    }
    val nData = batchOf.values.toSet.size
    tracer.foreach { t =>
      extra ++= Map(
        "logstream.backlog_files_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
        "stream.gen_late_ms_max" -> late.max,
        "logstream.files_per_batch" -> files.size.toDouble / math.max(1, nData))
      progress ++= batches
      files.foreach { f =>
        batchOf.get(f.i).foreach { b =>
          t.record(0, "file", s"file ${f.i}", t.msOf(t0 + f.dueNs), t.msOf(ends.get(b)), Map("batch" -> b))
        }
      }
      batches.foreach { p =>
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val dur = triggerMs(p)
        val id = t.record(0, "batch", s"batch ${p.batchId}", startMs, startMs + dur)
        t.batchSpans(p.batchId.toString) = id
        // the sink write that ran inside this batch's interval
        writes.asScala.find { qe =>
          qe.tracker.phases.get("analysis").exists(ph => ph.startTimeMs >= startMs && ph.startTimeMs <= startMs + dur)
        }.foreach(qe => t.recordQuery(id, qe))
        Option(scans.get(p.batchId)).foreach(m => t.scans(id) = m)
      }
    }
    Window(ops, wall, Map(
      "files" -> files.size.toDouble,
      "files_per_second" -> filesPerSecond,
      "stream_latency_p50_s" -> Stats.median(ops.map(_.seconds)),
      "stream_latency_p95_s" -> Stats.percentile(ops.map(_.seconds), 0.95),
      "stream.gen_late_ms_max" -> late.max,
      "batches" -> nData.toDouble,
      "files_per_batch" -> files.size.toDouble / math.max(1, nData),
      "trigger_ms_p50" -> Stats.median(batches.map(triggerMs)),
      "busy_frac" -> batches.map(triggerMs).sum / 1000.0 / wall,
      "backlog_files_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble)) ++ drainNamed,
      checks = stray ++ drained, cpuPerOp = Some(drainCpu))
  }

  override def layers(t: Tracer, spans: Seq[Span], w: Window): Map[String, Double] = {
    val ps = progress.toList
    def dur(k: String) = Stats.median(ps.map(_.durationMs.getOrDefault(k, 0L).doubleValue()))
    val stateCommit = Stats.median(ps.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble))
    t.scanMetrics(spans, Set("batch")) ++ extra ++ Map(
      "logstream.latest_offset_ms" -> dur("latestOffset"),
      "logstream.batches" -> ps.size.toDouble,
      "stream.trigger_ms_p50" -> dur("triggerExecution"),
      "stream.add_batch_ms_p50" -> dur("addBatch"),
      "stream.commit_ms_p50" -> dur("commitOffsets"),
      "streaming.state_commit_ms" -> stateCommit)
  }
}

object LogStreamWorkload {
  /** Drain phase: backlog size and files per micro-batch. A fixed batch of
    * 30 files, about twice the open loop's, so the fixed per-batch cost
    * weighs as it does there, without the open loop's feedback from batch
    * speed to batch size. */
  val DrainFiles = 240
  val DrainBatch = 30

  final case class Planned(i: Int, comp: String, dueNs: Long, text: String, expect: Map[String, String])
}
