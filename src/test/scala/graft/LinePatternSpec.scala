package graft.log

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** [[LinePattern]] as the one matcher of the package: a `recordStartPattern`
  * in the kernel's subset frames the same records as on `java.util.regex`,
  * and no other main source builds a matcher of its own. */
class LinePatternSpec extends graft.SparkSpec {

  test("recordStartPattern on the kernel: same records and counters as on java.util.regex") {
    val start = "^\\d+ START"
    assert(LineKernel.compile(start).isDefined)
    assert(LinePattern.effectiveBudget(start, LogOptions.DefaultRegexMaxSteps, explicit = false) == 0L)
    val dir = Files.createTempDirectory("linepattern").toFile
    Files.writeString(new java.io.File(dir, "a.log").toPath, Seq(
      "\uFEFF# preamble: service log v2", // BOM, then a preamble record
      "",
      "1 START alpha",
      "  at frame one",
      "",
      "2 START béta ünïcode", // non-ASCII start line
      "  caused by: ñ", // non-ASCII continuation
      "   ",
      "3 START gamma",
      "x START not a start", // continuation
      "4 STARTED delta", // a start line the field pattern does not match
      "",
      "5 START epsilon",
      "  tail").mkString("\n"))
    def scan(budget: Option[String], maxPartitionBytes: String) = {
      val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
      val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
      try {
        spark.conf.set("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        val r = spark.read.format("log")
          .option("pattern", "^(\\d+) START (\\S+)")
          .option("schema", "id INT, name VARCHAR")
          .option("recordStartPattern", start)
        val df = budget.fold(r)(r.option("regexMaxSteps", _)).load(dir.getAbsolutePath)
        val rows = df.collect().map(row => (row.get(0), row.get(1), row.get(2))).toSeq
          .sortBy(_.toString)
        val scanNode = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
          .getOrElse(fail("no BatchScanExec in plan"))
        (rows, scanNode.metrics("matchedLines").value, scanNode.metrics("unmatchedLines").value)
      } finally {
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
        spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
      }
    }
    val (rows, matched, unmatched) = scan(None, "134217728")
    assert(rows.size == 6 && matched == 4 && unmatched == 2, rows)
    assert(rows.contains((2, "béta", null)), rows)
    // an explicit budget keeps the start pattern (and the field pattern) on
    // java.util.regex; a 64-byte split exercises the record-ownership protocol
    for (budget <- Seq(None, Some(LogOptions.DefaultRegexMaxSteps.toString)); split <- Seq("134217728", "64"))
      assert(scan(budget, split) == ((rows, matched, unmatched)), s"$budget $split")
  }

  test("src/main: only LinePattern builds the kernel, the literal reject or the step budget") {
    val tokens = Seq("LineKernel.compile", "findBudgeted", "literalPrefix", "new BudgetedChars")
    val allowed = Set("LinePattern.scala", "LineKernel.scala")
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.getFileName.toString == "LinePattern.scala"), "main sources not found")
    def isComment(line: String) = {
      val t = line.trim
      t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
    }
    val offenders = sources.filterNot(p => allowed(p.getFileName.toString)).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if tokens.exists(line.contains) && !isComment(line) => s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty, "match lines through a LinePattern matcher:\n" + offenders.mkString("\n"))
  }
}
