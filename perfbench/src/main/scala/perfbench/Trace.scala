package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One recorded interval. Times are epoch milliseconds (fractional), the
  * clock Spark's listener and tracker events use; `parent` is 0 for roots. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def durMs: Double = endMs - startMs
}

/** Task metrics folded per stage. */
final class StageAgg(val stageId: Int, val parents: Seq[Int]) {
  var submitMs = 0.0
  var endMs = 0.0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val taskMs = mutable.ArrayBuffer.empty[Double]
}

final class JobAgg(val jobId: Int, val group: String, val batch: String, val startMs: Double,
    val stageIds: Seq[Int]) {
  var endMs = -1.0
}

/** Scan counters the `log` source reports as DSV2 custom metrics. */
object ScanMetrics {
  val Names = Seq("matchedLines", "unmatchedLines", "droppedLines", "bytesRead",
    "filesRead", "filesPruned")
  private object Helper extends AdaptiveSparkPlanHelper

  /** Sum of the `log` scan metrics over every scan node of an executed plan
    * (AQE stages and subqueries included), plus the scan's partition count. */
  def of(plan: SparkPlan): Map[String, Long] = {
    val nodes = Helper.collectWithSubqueries(plan) {
      case p if p.metrics.contains("matchedLines") => p
    }
    val sums = Names.map(n => n -> nodes.map(_.metrics.get(n).map(_.value).getOrElse(0L)).sum).toMap
    val parts = nodes.map {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.inputPartitions.size.toLong
      case m: org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec => m.inputPartitions.size.toLong
      case _ => 0L
    }.sum
    sums + ("partitions" -> parts)
  }

  /** The read schemas of every `log` scan in a plan (for the timing-rule
    * self-tests: the timed aggregate must read every declared field). */
  def readSchemas(plan: SparkPlan): Seq[org.apache.spark.sql.types.StructType] =
    Helper.collectWithSubqueries(plan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[graft.log.LogScan] => b.scan.readSchema()
    }
}

/** Spans plus Spark's job/stage/task events for one traced window.
  *
  * Spans are recorded only around the benchmark's own calls into the
  * library: run → op (query / file / batch) → planning phases (from the
  * QueryExecution tracker) → jobs → stages. Jobs are tied to their op by a
  * job group named after the op; streaming jobs by their batch id. All of it
  * stays in memory until [[write]].
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobAgg]
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  /** op span id → scan metrics of its executed plan */
  val scans = mutable.HashMap.empty[Long, Map[String, Long]]
  /** stream batch id → its span, filled by the streaming workload */
  val batchSpans = mutable.HashMap.empty[String, Long]
  private var runSpan: Span = _

  // epoch-ms clock with sub-millisecond resolution: anchor nanoTime once
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
  def msOf(nanos: Long): Double = anchorMs + (nanos - anchorNs) / 1e6

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs(e.jobId) = new JobAgg(e.jobId, prop("spark.jobGroup.id"), prop("streaming.sql.batchId"),
        e.time.toDouble, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageOf(e.stageInfo)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val s = stageOf(e.stageInfo)
      s.submitMs = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(s.submitMs)
      s.endMs = e.stageInfo.completionTime.map(_.toDouble).getOrElse(nowMs())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = stages.getOrElse(e.stageId, null)
      val m = e.taskMetrics
      if (s != null && m != null) {
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.taskMs += e.taskInfo.duration.toDouble
      }
    }
  }

  private def stageOf(info: StageInfo): StageAgg =
    stages.getOrElseUpdate(info.stageId, new StageAgg(info.stageId, info.parentIds))

  def start(workload: String): Unit = {
    sc.addSparkListener(listener)
    val t = nowMs()
    runSpan = Span(nextId.getAndIncrement(), 0, "run", workload, t, t)
  }

  /** Wait (bounded) for the asynchronous listener bus to deliver the end of
    * every job seen, then detach. */
  def stop(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (synchronized(jobs.values.exists(_.endMs < 0)) && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(100) // trailing task/stage events of the last job
    sc.removeSparkListener(listener)
    runSpan = runSpan.copy(endMs = nowMs())
    spans.prepend(runSpan)
  }

  /** Time one op under its own job group and record its span and, when it
    * ran a query, its planning phases and scan metrics. */
  def op[T](layer: String, name: String)(body: => (T, Option[QueryExecution])): T = {
    val id = nextId.getAndIncrement()
    sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    val t0 = nowMs()
    val (out, qe) = try body finally sc.clearJobGroup()
    val t1 = nowMs()
    synchronized { spans += Span(id, runSpan.id, layer, name, t0, t1, Map("group" -> s"op-$id")) }
    qe.foreach(recordQuery(id, _))
    out
  }

  /** Attach a query's planning phases (and its scan metrics) to a span. */
  def recordQuery(parent: Long, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val m = ScanMetrics.of(qe.executedPlan)
    synchronized {
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach { s =>
          spans += Span(nextId.getAndIncrement(), parent, "phase", p,
            s.startTimeMs.toDouble, s.endTimeMs.toDouble)
        }
      }
      if (m("matchedLines") + m("unmatchedLines") + m("filesRead") > 0) scans(parent) = m
    }
  }

  /** A span the caller timed itself (stream batches and files). */
  def record(parent: Long, layer: String, name: String, startMs: Double, endMs: Double,
      attrs: Map[String, Any] = Map.empty): Long = synchronized {
    val id = nextId.getAndIncrement()
    spans += Span(id, if (parent == 0) runSpan.id else parent, layer, name, startMs, endMs, attrs)
    id
  }

  /** Job and stage spans, each under the op (job group) or stream batch
    * (batch id, via `batchSpans`) that caused it; the run span otherwise. */
  def schedulerSpans(): Seq[Span] = synchronized {
    val byGroup = spans.flatMap(s => s.attrs.get("group").map(g => g.toString -> s.id)).toMap
    jobs.values.toSeq.flatMap { j =>
      val parent = byGroup.get(j.group).orElse(batchSpans.get(j.batch)).getOrElse(runSpan.id)
      val jid = nextId.getAndIncrement()
      val end = if (j.endMs < 0) j.startMs else j.endMs
      Span(jid, parent, "job", s"job ${j.jobId}", j.startMs, end, Map("job" -> j.jobId)) +:
        j.stageIds.flatMap(stages.get).filter(_.endMs > 0).map { s =>
          Span(nextId.getAndIncrement(), jid, "stage", s"stage ${s.stageId}", s.submitMs, s.endMs,
            Map("tasks" -> s.tasks))
        }
    }
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover, summed by layer (seconds). */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Stats.unionLength(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
        math.max(0.0, s.durMs - covered)
      }.sum / 1000.0
    }
  }

  def write(file: File, all: Seq[Span]): Unit = {
    val lines = all.map { s =>
      Json.write(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs))
    }
    Files.write(file.toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Layer metrics shared by every workload: query layer (planning phases,
    * jobs, driver gaps) and execution (task time, shuffle, GC). */
  def commonMetrics(all: Seq[Span], slots: Int): Map[String, Double] = synchronized {
    val ops = all.filter(s => Tracer.OpLayers(s.layer))
    val kids = all.groupBy(_.parent)
    def phase(p: String) = Stats.median(ops.flatMap(o => kids.getOrElse(o.id, Nil))
      .filter(c => c.layer == "phase" && c.name == p).map(_.durMs))
    val jobSpans = all.filter(_.layer == "job")
    val perOpJobs = ops.map(o => kids.getOrElse(o.id, Nil).filter(_.layer == "job"))
    val inJob = ops.zip(perOpJobs).map { case (o, js) =>
      Stats.unionLength(js.map(j => (math.max(j.startMs, o.startMs), math.min(j.endMs, o.endMs)))) / 1000.0
    }
    val gap = ops.zip(inJob).map { case (o, in) => o.durMs / 1000.0 - in }
    val st = stages.values.toSeq
    val wallS = (runSpan.endMs - runSpan.startMs) / 1000.0
    val n = math.max(1, ops.size).toDouble
    val stageIdsOfOps = perOpJobs.flatten.flatMap(j => jobs.get(j.attrs("job").asInstanceOf[Int]))
      .flatMap(_.stageIds).distinct
    val cpuS = st.map(_.cpuNs).sum / 1e9
    Map(
      "query.analysis_ms" -> phase("analysis"),
      "query.optimization_ms" -> phase("optimization"),
      "query.planning_ms" -> phase("planning"),
      "query.jobs" -> perOpJobs.map(_.size).sum / n,
      "query.stages" -> stageIdsOfOps.size / n,
      "query.tasks" -> stageIdsOfOps.flatMap(stages.get).map(_.tasks).sum / n,
      "query.in_job_s" -> inJob.sum / n,
      "query.driver_gap_s" -> gap.sum / n,
      "exec.jobs_total" -> jobSpans.size.toDouble,
      "exec.task_cpu_s" -> cpuS,
      "exec.task_run_s" -> st.map(_.runMs).sum / 1000.0,
      "exec.gc_s" -> st.map(_.gcMs).sum / 1000.0,
      "exec.shuffle_write_mb" -> st.map(_.shuffleWrite).sum / 1048576.0,
      "exec.shuffle_read_mb" -> st.map(_.shuffleRead).sum / 1048576.0,
      "exec.spill_mb" -> st.map(_.spill).sum / 1048576.0,
      "exec.cpu_util" -> (if (wallS > 0) cpuS / (wallS * slots) else 0.0))
  }

  /** `log` scan layer metrics over the ops of the given layers: task time
    * of their scan (leaf) stages, skew, plan time and exact scan counters. */
  def scanMetrics(all: Seq[Span], opLayers: Set[String]): Map[String, Double] = synchronized {
    val ops = all.filter(s => opLayers(s.layer))
    val kids = all.groupBy(_.parent)
    val leafStages = ops.flatMap(o => kids.getOrElse(o.id, Nil)).filter(_.layer == "job")
      .flatMap(j => jobs.get(j.attrs("job").asInstanceOf[Int])).flatMap(_.stageIds)
      .distinct.flatMap(stages.get).filter(s => s.parents.isEmpty && s.tasks > 0)
    val skew = leafStages.filter(_.taskMs.size > 1).map { s =>
      val med = Stats.median(s.taskMs.toSeq)
      if (med > 0) s.taskMs.max / med else 1.0
    }
    val plan = ops.map { o =>
      kids.getOrElse(o.id, Nil).filter(_.layer == "phase").map(_.durMs).sum
    }
    val counters = ScanMetrics.Names.map(n => n -> ops.flatMap(o => scans.get(o.id)).map(_(n)).sum).toMap
    val parts = ops.flatMap(o => scans.get(o.id)).map(_("partitions"))
    val matched = counters("matchedLines").toDouble
    val unmatched = counters("unmatchedLines").toDouble
    Map(
      "log.scan_task_cpu_s" -> leafStages.map(_.cpuNs).sum / 1e9,
      "log.scan_task_run_s" -> leafStages.map(_.runMs).sum / 1000.0,
      "log.scan_task_skew" -> (if (skew.isEmpty) 1.0 else Stats.median(skew)),
      "log.partitions" -> (if (parts.isEmpty) 0.0 else Stats.median(parts.map(_.toDouble))),
      "log.plan_ms" -> (if (plan.isEmpty) 0.0 else Stats.median(plan)),
      "log.lines_matched" -> matched,
      "log.lines_unmatched" -> unmatched,
      "log.lines_dropped" -> counters("droppedLines").toDouble,
      "log.bytes_read" -> counters("bytesRead").toDouble,
      "log.files_read" -> counters("filesRead").toDouble,
      "log.files_pruned" -> counters("filesPruned").toDouble,
      "log.match_ratio" -> (if (matched + unmatched > 0) matched / (matched + unmatched) else 0.0))
  }
}

object Tracer {
  /** Span layers that stand for one benchmark op (a query or a batch). */
  val OpLayers: Set[String] = Set("scan", "sql", "query", "batch")
}
