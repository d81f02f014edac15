package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The two rules that make `log_scan` time what users get. Run with
  * `cd perfbench && sbt test`. */
class TimingRulesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val cache = Files.createTempDirectory("perfbench-spec").toFile
  private lazy val spark = Main.session(2, cache)
  private lazy val workload = {
    val w = new LogScanWorkload(cache, seed = 3, linesPerDialect = 1600)
    w.prepare()
    w
  }

  override def afterAll(): Unit = {
    spark.stop()
    Corpus.deleteRec(cache)
  }

  test("the timed typed aggregates read every declared field (no pruned scan)") {
    Dialects.All.foreach { d =>
      val df = workload.typedAggregate(spark, d)
      df.collect()
      val schemas = ScanMetrics.readSchemas(df.queryExecution.executedPlan)
      assert(schemas.nonEmpty, s"${d.name}: no log scan in the executed plan")
      schemas.foreach(s => assert(d.fields.forall(s.fieldNames.contains),
        s"${d.name}: scan reads ${s.fieldNames.mkString(",")}"))
    }
    // the check can see a pruned scan: a count by key reads one column
    val pruned = spark.read.format("log").options(Dialects.Apache.options)
      .load(workload.corpus.dir(Dialects.Apache)).groupBy("status").count()
    pruned.collect()
    val read = ScanMetrics.readSchemas(pruned.queryExecution.executedPlan).flatMap(_.fieldNames)
    assert(read.nonEmpty && !Dialects.Apache.fields.forall(read.contains))
  }

  test("every repeat runs a new QueryExecution, and every op checks out") {
    val w = workload.window(spark, seconds = 0.01, tracer = None, index = 0)
    val again = workload.window(spark, seconds = 0.01, tracer = None, index = 1)
    val ops = w.ops ++ again.ops
    assert(ops.size == 12)
    assert(ops.forall(_.ok), ops.filterNot(_.ok).map(o => s"${o.name}: ${o.error}"))
    assert(ops.map(_.qe).distinct.size == ops.size)
    // every op is charged the CPU it cost, so op_cpu_s cannot read 0
    assert(ops.forall(_.cpuS > 0) && w.opCpuS > 0)
  }

  test("a wrong expectation is reported as a failed op") {
    val r = Workload.query(None, "scan", "typed_app")(workload.typedAggregate(spark, Dialects.App))(_ => false)
    assert(!r.ok)
  }
}
