package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.log.ParseLogLine

/** [[graft.log.AbsorbParseLogLine]]: where it fires, the executed plan
  * matches each line once, in the reader; where it must not, the plan keeps
  * `parse_log_line`; and every result is the one the plan without the rule
  * (Spark's `spark.sql.optimizer.excludedRules`) returns.
  */
class AbsorbParseLogLineSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Rule = "graft.log.AbsorbParseLogLine"
  private val AppPattern = "^(\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}) (\\w+) (\\S+) (.*)"
  private def sqlLit(p: String) = p.replace("\\", "\\\\")

  private def logDir(lines: Seq[String], bom: Boolean = false): String = {
    val dir = Files.createTempDirectory("absorb").toFile
    val body = lines.mkString("", "\n", "\n").getBytes(UTF_8)
    val bytes = if (bom) Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ body else body
    Files.write(new java.io.File(dir, "a.log").toPath, bytes)
    dir.getAbsolutePath
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def withoutRule[T](body: => T): T =
    withConf("spark.sql.optimizer.excludedRules" -> Rule)(body)

  private def plan(df: DataFrame): SparkPlan = {
    df.collect() // the final adaptive plan
    df.queryExecution.executedPlan
  }

  private def callsLeft(p: SparkPlan): Int =
    collectWithSubqueries(p) { case n => n.expressions.count(_.exists(_.isInstanceOf[ParseLogLine])) }.sum

  private def scans(p: SparkPlan): Seq[BatchScanExec] = collect(p) { case b: BatchScanExec => b }

  private def absorbed(df: DataFrame): Boolean = {
    val p = plan(df)
    callsLeft(p) == 0 && scans(p).forall(!_.scan.description().startsWith("LogScan(pattern=(.*)"))
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("q_log_sqlpath and a sqlpath_app-shaped query run no parse_log_line: the scan matches") {
    val sqlpath = SparkEntry.queries("q_log_sqlpath")(spark, sf)
    val p1 = plan(sqlpath)
    assert(callsLeft(p1) == 0, p1)
    val d1 = scans(p1).map(_.scan.description())
    assert(d1 == Seq("LogScan(pattern=(\\d+) (\\w+) user=(\\d+) ([0-9.]+), required=__g1,__g2,__g3, " +
      "pushed=[IsNull(unmatched_lines)], partitionFilters=[])"), d1)
    val plain = withoutRule(sorted(SparkEntry.queries("q_log_sqlpath")(spark, sf)))
    assert(sorted(sqlpath) == plain)

    val dir = logDir(Seq(
      "2024-01-01 00:00:00 INFO c1 hel\u2028lo", // (.*) stops at U+2028: msg 'hel'
      "2024-01-01 00:00:01 WARN c2 bye now",
      "garbage",
      "2024-01-01 00:00:02 INFO c3 again"))
    def app = spark.sql(
      s"""SELECT g[1] AS level, count(*) AS n, cast(sum(length(g[3])) AS BIGINT) AS msg_chars
         |FROM (SELECT parse_log_line(line, '${sqlLit(AppPattern)}') AS g FROM log.`$dir`)
         |WHERE g IS NOT NULL GROUP BY 1""".stripMargin)
    val p2 = plan(app)
    assert(callsLeft(p2) == 0, p2)
    val scan = scans(p2).head
    assert(scan.scan.description() == s"LogScan(pattern=$AppPattern, required=__g2,__g4, " +
      "pushed=[IsNull(unmatched_lines)], partitionFilters=[])")
    // the scan's metrics count the SQL pattern's lines
    assert(scan.metrics("matchedLines").value == 3 && scan.metrics("unmatchedLines").value == 1)
    assert(sorted(app) == Seq("[INFO,2,8]", "[WARN,1,7]"))
    assert(withoutRule(sorted(app)) == sorted(app))
  }

  test("does not fire when line is read raw, by two patterns, or beside unmatched_lines") {
    val dir = logDir(Seq("7 INFO boot", "8 WARN disk"))
    val p = sqlLit("(\\d+) (\\w+)")
    assert(absorbed(spark.sql(s"SELECT parse_log_line(line, '$p')[1] FROM log.`$dir`")))
    assert(!absorbed(spark.sql(s"SELECT line, parse_log_line(line, '$p')[1] FROM log.`$dir`")))
    assert(!absorbed(spark.sql(
      s"SELECT parse_log_line(line, '$p')[1] FROM log.`$dir` WHERE length(line) > 3")))
    assert(!absorbed(spark.sql(
      s"SELECT parse_log_line(line, '$p')[1], parse_log_line(line, '(\\\\d+)')[0] FROM log.`$dir`")))
    assert(!absorbed(spark.sql(
      s"SELECT parse_log_line(line, '$p')[1], unmatched_lines FROM log.`$dir`")))
    assert(!absorbed(spark.sql(
      s"SELECT parse_log_line(upper(line), '$p')[1] FROM log.`$dir`")))
    // the Column API over a raw-line frame keeps its column
    val df = spark.read.format("log").load(dir)
    assert(!absorbed(df.select(df("line"), graft.log.LogFrame.parseLogLine(df("line"), "(\\d+) (\\w+)"))))
  }

  test("does not fire on a non-default pattern, under a lineSep, or on readStream") {
    val dir = logDir(Seq("7 INFO boot", "8 WARN disk"))
    val p = sqlLit("(\\d+) (\\w+)")
    def q = spark.sql(s"SELECT parse_log_line(line, '$p')[1] AS l FROM log.`$dir`")
    withConf("spark.graft.log.pattern" -> "(.+)", "spark.graft.log.fieldNames" -> "line") {
      assert(!absorbed(q))
      assert(withoutRule(sorted(q)) == sorted(q))
    }
    withConf("spark.graft.log.lineSep" -> "\n") {
      assert(!absorbed(q))
      assert(sorted(q) == Seq("[INFO]", "[WARN]"))
    }
    withConf("spark.graft.log.recordStartPattern" -> "^\\d") { assert(!absorbed(q)) }
    withConf("spark.graft.log.encoding" -> "ISO-8859-1") { assert(!absorbed(q)) }
    withConf("spark.graft.log.mode" -> "FAILFAST") { assert(!absorbed(q)) }

    val lines = spark.readStream.format("log").load(dir)
    val s = lines.select(graft.log.LogFrame.parseLogLine(lines("line"), "(\\d+) (\\w+)").as("g"))
      .filter("g IS NOT NULL").selectExpr("g[1] AS l")
      .writeStream.format("memory").queryName("absorb_stream").start()
    try {
      s.processAllAvailable()
      assert(spark.table("absorb_stream").collect().map(_.getString(0)).sorted.toSeq == Seq("INFO", "WARN"))
      val exec = s.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution
      assert(callsLeft(exec.executedPlan) > 0, exec.executedPlan)
    } finally s.stop()
  }

  test("same rows with and without the rule: separators, BOM, blanks, optional groups, splits") {
    val lines = Seq(
      "2024-01-01 00:00:00 INFO c1 hel\u2028lo", // (.*) stops at U+2028: msg 'hel'
      "2024-01-01 00:00:01 WARN c2 by\u0085e", // ... and at U+0085
      "2024-01-01 00:00:02 INFO c3 naïve café", // non-ASCII, no separator
      "\u20282024-01-01 00:00:03 INFO c4 after", // empty span: unmatched
      "2024-01-01 00:00:04 INFO c5\u2029 rest", // the span ends before the msg
      "",
      "   ",
      "garbage",
      "2024-01-01 00:00:05 DEBUG c6 ",
      "2024-01-01 00:00:06 ERROR c7 été   x")
    val opt = sqlLit("^(\\S+) (\\S+) (\\w+)(?: (x\\d))?(?: (\\S+))?")
    for (bom <- Seq(false, true); split <- Seq("134217728", "64")) {
      val dir = logDir(lines, bom)
      val queries = Seq(
        s"SELECT parse_log_line(line, '${sqlLit(AppPattern)}') AS g FROM log.`$dir`",
        s"""SELECT g[1], g[3], isnull(g) FROM (SELECT parse_log_line(line, '${sqlLit(AppPattern)}') AS g
           |FROM log.`$dir`)""".stripMargin,
        s"""SELECT g[1] AS level, count(*) AS n, sum(length(g[3])) AS chars
           |FROM (SELECT parse_log_line(line, '${sqlLit(AppPattern)}') AS g FROM log.`$dir`)
           |WHERE g IS NOT NULL GROUP BY 1""".stripMargin,
        s"SELECT count(*) FROM log.`$dir` WHERE parse_log_line(line, '${sqlLit(AppPattern)}') IS NULL",
        s"SELECT parse_log_line(line, '$opt') AS g, parse_log_line(line, '$opt')[3] AS c FROM log.`$dir`")
      withConf("spark.sql.files.maxPartitionBytes" -> split, "spark.sql.files.openCostInBytes" -> "0") {
        queries.foreach { q =>
          val df = spark.sql(q)
          assert(absorbed(df), q)
          assert(sorted(df) == withoutRule(sorted(spark.sql(q))), s"bom=$bom split=$split: $q")
        }
      }
    }
    // spot values: the span, and a null element for a group that did not take part
    val dir = logDir(lines)
    val g = spark.sql(s"SELECT parse_log_line(line, '${sqlLit(AppPattern)}') AS g FROM log.`$dir`")
      .collect().map(r => Option(r.getSeq[String](0)).map(_.toSeq)).toSeq
    assert(g.contains(Some(Seq("2024-01-01 00:00:00", "INFO", "c1", "hel"))), g)
    assert(g.count(_.isEmpty) == 3, g) // the empty span, the cut one, garbage
    val o = spark.sql(s"SELECT parse_log_line(line, '$opt') AS g FROM log.`$dir`")
      .collect().flatMap(r => Option(r.getSeq[String](0)))
    assert(o.exists(a => a(3) == null && a(4) != null), o.map(_.mkString("|")).mkString("; "))
  }

  test("a risky pattern trips the same step budget, with the same error text") {
    val dir = logDir(Seq("a" * 45 + "!"))
    def q = spark.sql(s"SELECT parse_log_line(line, '((.*a){12}x)')[0] FROM log.`$dir`")
    def budgetError(run: => Any): String = {
      val e = intercept[Exception](run)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        .find(m => m != null && m.startsWith("[log] regex step budget exhausted"))
        .getOrElse(fail(s"no budget error in $e"))
    }
    assert(absorbed(spark.sql(s"SELECT parse_log_line(line, '((.*a){12}x)')[0] FROM log.`${logDir(Seq("ax"))}`")))
    val plain = withoutRule(budgetError(q.collect()))
    val viaScan = budgetError(q.collect())
    assert(plain.contains("'((.*a){12}x)' (parse_log_line; override via SET spark.graft.log.regexMaxSteps)"), plain)
    // the reader names the file after the text, as for every scan error
    assert(viaScan.startsWith(plain + " (file="), s"$viaScan\n$plain")
  }
}
