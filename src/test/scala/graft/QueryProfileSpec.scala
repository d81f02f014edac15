package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.catalog.QuerySupport
import graft.dev.QueryProfile

/** `graft.dev.QueryProfile` on synthetic frames: each round's profile is
  * complete when it prints (every job ended, every stage owned by a job,
  * every drained batch's progress present exactly once), and `--plans`
  * writes the formatted plan. */
class QueryProfileSpec extends SparkSpec {

  /** Profiles one query on a slow listener bus: other listeners hold
    * every job-end event for 100 ms and the progress of a drain's last
    * batch (batch 1) for 1 s, so a round read before the bus drains
    * misses them. */
  private def profile(name: String, rounds: Int, plans: Option[(String, String)] = None)(
      build: => DataFrame): Seq[QueryProfile.Round] = {
    val slowJobs = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Thread.sleep(100)
    }
    val slowStreams = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.batchId == 1) Thread.sleep(1000)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.sparkContext.addSparkListener(slowJobs)
    spark.streams.addListener(slowStreams)
    val out =
      try QueryProfile.profile(spark, Seq(name -> (() => build)), rounds, plans)
      finally {
        spark.sparkContext.removeSparkListener(slowJobs)
        spark.streams.removeListener(slowStreams)
      }
    assert(out.map(_._1) == Seq(name), s"$name failed to profile")
    out.head._2
  }

  test("a multi-job round: every job has an end, and its stages and tasks sum to the round's") {
    val rounds = profile("qp_jobs", rounds = 2) {
      spark.range(0, 2000, 1, 4).groupBy((col("id") % 7).as("k")).agg(sum("id"))
    }
    assert(rounds.size == 2)
    rounds.foreach { r =>
      assert(r.rows == 7)
      assert(r.jobs.size >= 2, s"expected a multi-job plan, got ${r.jobs}")
      assert(r.jobs.forall(_.endMs >= 0), s"a job without its end: ${r.jobs}")
      assert(r.stages > 0 && r.jobs.map(_.stages).sum == r.stages,
        s"stages by job ${r.jobs.map(_.stages)} vs ${r.stages} completed")
      assert(r.jobs.map(_.tasks).sum == r.tasks,
        s"tasks by job ${r.jobs.map(_.tasks)} vs ${r.tasks} completed")
    }
  }

  test("a 2-batch drain: exactly one progress record per batch in each round") {
    val src = Files.createTempDirectory("qp_drain_src")
    Files.writeString(src.resolve("a.txt"), "alpha\nbeta\n")
    Files.writeString(src.resolve("b.txt"), "gamma\n")
    val rounds = profile("qp_drain", rounds = 2) {
      val in = spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1").load(src.toString)
      QuerySupport.drain(in, "qp_drain")(_.format("noop").queryName("qp_drain"))
      spark.range(1).toDF()
    }
    assert(rounds.size == 2)
    rounds.foreach { r =>
      assert(r.progress.map(_.batchId) == Seq(0L, 1L),
        s"progress batches ${r.progress.map(_.batchId)}")
      assert(r.progress.forall(_.name == "qp_drain"))
      assert(r.progress.map(_.numInputRows).sum == 3)
    }
  }

  test("--plans writes the formatted plan; zero rounds run nothing") {
    val dir = Files.createTempDirectory("qp_plans")
    val rounds = profile("qp_plan", rounds = 0, plans = Some((dir.toString, "_after"))) {
      spark.range(10).toDF().filter(col("id") > 3)
    }
    assert(rounds.isEmpty)
    val txt = Files.readString(dir.resolve("qp_plan_after.txt"))
    assert(txt.contains("== Physical Plan =="), txt)
  }

  test("src/main: only HarnessSession, FaultDrive and DirLockDrive build a SparkSession") {
    val allowed = Set("HarnessSession.scala", "FaultDrive.scala", "DirLockDrive.scala")
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.getFileName.toString == "HarnessSession.scala"), "main sources not found")
    def isComment(line: String) = {
      val t = line.trim
      t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
    }
    val offenders = sources.filterNot(p => allowed(p.getFileName.toString)).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("SparkSession.builder()") && !isComment(line) =>
          s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty,
      "run harness mains on graft.HarnessSession():\n" + offenders.mkString("\n"))
  }
}
