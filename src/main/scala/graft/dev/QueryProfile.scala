package graft.dev

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftSql, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Where a declared query's seconds go, per Spark job and, for a drain,
  * per micro-batch. For each query, sorted by name: build the DataFrame,
  * write its `explain("formatted")` text (`--plans`), then one warm run
  * and `rounds` profiled runs, each rebuilding the query and running
  * [[graft.Bench.action]], the action the bench times. The listener bus is
  * drained exactly after each round ([[GraftSql.waitForListeners]]), then
  * the round prints one line per job (duration, completed stages and
  * tasks, description), the sum of job durations against the total (the
  * gap is driver and planning time), and one `PROGRESS <json>` line per
  * micro-batch. A query whose time moved while its profile did not is
  * re-run before it is called a regression.
  *
  * Usage: runMain graft.dev.QueryProfile <sfDir> <q1,q2,...|all> [rounds=2]
  *   [--plans <outDir> [suffix]]
  * `--plans` writes `<outDir>/<query><suffix>.txt`, the plan of the
  * returned DataFrame (building it may run side work, such as a drain);
  * `rounds=0` writes plans only.
  */
object QueryProfile {

  /** One Spark job of a round; `endMs` is -1 for a job that never ended. */
  final case class Job(id: Int, desc: String, startMs: Long, endMs: Long, stages: Int, tasks: Int)

  /** One profiled run: its jobs in start order, the stages and tasks that
    * completed in it (whichever job owns them) and its batches' progress. */
  final case class Round(seconds: Double, rows: Long, jobs: Seq[Job], stages: Int, tasks: Int,
      progress: Seq[StreamingQueryProgress])

  /** Records the jobs of `spark`'s context and the progress of the streams
    * started on `spark`, one [[round]] at a time. */
  private final class Recorder(spark: SparkSession) extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    // stageId -> jobId from the job-start event: overlapping jobs (AQE
    // broadcast-exchange jobs run beside the main job) keep their stages
    private val stageToJob = mutable.HashMap.empty[Int, Int]
    private var stages, tasks = 0
    private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      jobs(e.jobId) = Job(e.jobId, desc.getOrElse(""), e.time, -1L, 0, 0)
      e.stageIds.foreach(stageToJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(j.id) = j.copy(endMs = e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val n = e.stageInfo.numTasks
      stages += 1
      tasks += n
      stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get)
        .foreach(j => jobs(j.id) = j.copy(stages = j.stages + 1, tasks = j.tasks + n))
    }
    private val streams = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Recorder.this.synchronized(progress += e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streams)

    /** Runs `run` (returning its row count) as one round: events of earlier
      * work are drained and dropped first, the round's own drained after. */
    def round(run: => Long): Round = {
      GraftSql.waitForListeners(spark)
      synchronized { jobs.clear(); stageToJob.clear(); progress.clear(); stages = 0; tasks = 0 }
      val t0 = System.nanoTime()
      val rows = run
      val seconds = (System.nanoTime() - t0) / 1e9
      GraftSql.waitForListeners(spark)
      synchronized(Round(seconds, rows, jobs.values.toList, stages, tasks, progress.toList))
    }

    def close(): Unit = {
      spark.sparkContext.removeSparkListener(this)
      spark.streams.removeListener(streams)
    }
  }

  /** The printed profile of round `r` of query `name`. */
  def report(name: String, r: Int, round: Round): String = {
    val header = f"== $name round $r: total ${round.seconds}%.3f s, rows=${round.rows}, " +
      s"jobs=${round.jobs.size}, stages=${round.stages}, tasks=${round.tasks}"
    val jobLines = round.jobs.map { j =>
      val dur = if (j.endMs >= 0) f"${(j.endMs - j.startMs) / 1e3}%7.3f s" else "  no end  "
      val oneLine = j.desc.replace('\n', ' ') // streaming jobs carry "id = ...\nrunId = ..."
      val desc = if (oneLine.length > 90) oneLine.take(90) + "..." else oneLine
      f"  job ${j.id}%4d  $dur  stages=${j.stages}%2d tasks=${j.tasks}%4d  $desc"
    }
    val covered = round.jobs.filter(_.endMs >= 0).map(j => j.endMs - j.startMs).sum / 1e3
    val sum = f"  sum(job durations) $covered%.3f s (gap to total = driver/planning time)"
    (header +: jobLines :+ sum :++ round.progress.map("PROGRESS " + _.json)).map(_ + "\n").mkString
  }

  /** Profiles `queries` (name, builder) as described above, printing each
    * round's [[report]]; returns the rounds of every query that did not
    * fail. `plans` is `(outDir, suffix)`. */
  def profile(spark: SparkSession, queries: Seq[(String, () => DataFrame)], rounds: Int,
      plans: Option[(String, String)]): Seq[(String, Seq[Round])] = {
    plans.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    val recorder = new Recorder(spark)
    try queries.sortBy(_._1).flatMap { case (name, build) =>
      try {
        val df = build()
        plans.foreach { case (dir, suffix) =>
          Files.writeString(Paths.get(dir, s"$name$suffix.txt"),
            df.queryExecution.explainString(FormattedMode))
        }
        if (rounds > 0) graft.Bench.action(df)
        Some(name -> (1 to rounds).map { r =>
          val round = recorder.round(graft.Bench.action(build()))
          print(report(name, r, round))
          round
        })
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[queryprofile] $name failed: ${e.getMessage}")
          None
      }
    } finally recorder.close()
  }

  def main(args: Array[String]): Unit = {
    val (positional, planArgs) = args.span(_ != "--plans")
    require(positional.length >= 2 && planArgs.length != 1,
      "usage: QueryProfile <sfDir> <q1,q2,...|all> [rounds=2] [--plans <outDir> [suffix]]")
    val queries = graft.SparkEntry.queries
    val names = if (positional(1) == "all") queries.keys.toSeq else positional(1).split(",").toSeq
    names.filterNot(queries.contains).foreach(n => sys.error(s"unknown query: $n"))
    val spark = graft.HarnessSession()
    profile(spark, names.map(n => n -> (() => queries(n)(spark, positional(0)))),
      positional.lift(2).fold(2)(_.toInt), planArgs.lift(1).map(_ -> planArgs.lift(2).getOrElse("")))
    spark.stop()
  }
}
