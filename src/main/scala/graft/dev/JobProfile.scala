package graft.dev

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-JOB time attribution for one declared query — the "where do the
  * seconds go" probe the optimization round needs before touching an
  * operator (guide §1: measure first). Runs the query `n` times
  * (min-of-n per job position, mirroring the bench's min), printing every
  * Spark job the query submits with its wall duration, task count, and
  * description, so a 3-second query that is 12 ×0.25 s scheduling-bound
  * jobs is distinguishable from one 3-second shuffle.
  *
  * Usage: runMain graft.dev.JobProfile <sfDir> <queryName> [n]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val (sfDir, qname) = (args(0), args(1))
    val n = if (args.length > 2) args(2).toInt else 2
    val spark = graft.HarnessSession()

    final case class Job(id: Int, desc: String, start: Long,
        var end: Long = -1L, var tasks: Int = 0, var stages: Int = 0)
    val jobs = new scala.collection.mutable.ArrayBuffer[Job]
    // stageId -> jobId from the job-start event's stage list: overlapping
    // jobs (AQE broadcast-exchange jobs run concurrently with the main
    // job) would otherwise have their stages attributed to whichever job
    // started LAST (ADVICE r16)
    val stageToJob = new scala.collection.mutable.HashMap[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs += Job(e.jobId, d, System.nanoTime())
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.find(_.id == e.jobId).foreach(_.end = System.nanoTime())
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val owner = stageToJob.get(e.stageInfo.stageId)
            .flatMap(id => jobs.find(_.id == id))
            .orElse(jobs.lastOption) // unmapped (resubmitted) stage: old behavior
          owner.foreach { j =>
            j.tasks += e.stageInfo.numTasks
            j.stages += 1
          }
        }
    }

    val fn = graft.SparkEntry.queries.getOrElse(qname,
      sys.error(s"unknown query: $qname"))
    // warmup run exactly like the bench's min-of-n: first run pays fixture
    // synthesis + JIT; the profiled runs measure the query
    fn(spark, sfDir).count()

    for (round <- 1 to n) {
      jobs.synchronized(jobs.clear())
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val rows = fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      // the listener bus is asynchronous: trailing onJobEnd/onStageCompleted
      // events may still be in flight when count() returns — poll until
      // every recorded job has an end time (short timeout) before
      // snapshotting, or jobs print without a duration (ADVICE r16)
      val deadline = System.nanoTime() + 2000000000L
      while (jobs.synchronized(jobs.exists(_.end < 0)) &&
          System.nanoTime() < deadline) Thread.sleep(20)
      spark.sparkContext.removeSparkListener(listener)
      val snap = jobs.synchronized(jobs.toList)
      println(f"== $qname round $round: total $dt%.3f s, rows=$rows, jobs=${snap.size}")
      var covered = 0.0
      snap.foreach { j =>
        // a job still unended after the drain poll has no duration to print
        val dur =
          if (j.end > 0) {
            val d = (j.end - j.start) / 1e9
            covered += d
            f"$d%7.3f s"
          } else "n/a (listener drain timeout)"
        val desc = if (j.desc.length > 90) j.desc.take(90) + "…" else j.desc
        println(f"  job ${j.id}%4d  $dur  stages=${j.stages}%2d tasks=${j.tasks}%4d  $desc")
      }
      println(f"  sum(job durations) $covered%.3f s (gap to total = driver/planning time)")
    }
    spark.stop()
  }
}
