package graft

import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Golden tests for the DSV2 `log` source over FIXTURES.md #1-#6. */
class LogSourceSpec extends SparkSpec {

  private val mysqlOpts = Map(
    "pattern" -> "(\\d{6})\\s(\\d{2}:\\d{2}:\\d{2})\\s+(\\d+)\\s(\\w+)\\s+(.+)",
    "fieldNames" -> "date, time, pid, action, query",
    "dataTypes" -> "DATE, TIME, INT, VARCHAR, VARCHAR",
    "dateFormat" -> "yyMMdd",
    "timeFormat" -> "HH:mm:ss")

  private def readMysql(path: String): DataFrame =
    spark.read.format("log").options(mysqlOpts).load(path)

  test("fixture 1: README mysql.log golden rows") {
    val df = readMysql(fixture("mysql.log"))
    assert(df.schema == StructType(Seq(
      StructField("date", DateType), StructField("time", IntegerType),
      StructField("pid", IntegerType), StructField("action", StringType),
      StructField("query", StringType), StructField("unmatched_lines", StringType))))
    val rows = df.orderBy("time").collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[String]("unmatched_lines") == null))
    val r0 = rows.find(_.getAs[Int]("time") == 21 * 3600000 + 32000).get
    assert(r0.getAs[Date]("date").toString == "2007-08-23")
    assert(r0.getAs[Int]("pid") == 1)
    assert(r0.getAs[String]("action") == "Connect")
    assert(r0.getAs[String]("query") == "root@localhost on test1")
  }

  test("fixture 1: aggregation over the source (P1 flagship shape)") {
    import org.apache.spark.sql.functions._
    val agg = readMysql(fixture("mysql.log"))
      .groupBy("action").agg(count("*").as("n"), min("time").as("min_t"))
      .orderBy("action").collect()
    assert(agg.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("Connect", 1L), ("Query", 4L)))
  }

  test("fixture 2: default config — pattern (.*), all-VARCHAR, blank lines skipped") {
    val df = spark.read.format("log").load(fixture("default.log"))
    assert(df.schema.fieldNames.toSeq == Seq("line", "unmatched_lines"))
    assert(df.schema.fields.forall(_.dataType == StringType))
    val lines = df.collect().map(_.getString(0)).sorted.toSeq
    assert(lines == Seq("alpha line", "beta line", "gamma line"))
  }

  test("fixture 3: unmatched routing + empty optional group -> NULL") {
    val df = spark.read.format("log")
      .option("pattern", "(\\d+)\\s+(INFO|WARN|ERROR)\\s*(\\w+)?(?:\\s+(.*))?")
      .option("fieldNames", "ts_ms, level, component, msg")
      .option("dataTypes", "INT, VARCHAR, VARCHAR, VARCHAR")
      .load(fixture("mixed.log"))
    val rows = df.collect()
    assert(rows.length == 3)
    val matched = rows.filter(_.getAs[String]("unmatched_lines") == null)
    assert(matched.length == 2)
    val r1 = matched.find(_.getAs[Int]("ts_ms") == 1000).get
    assert(r1.getAs[String]("level") == "INFO" && r1.getAs[String]("component") == "startup")
    val r3 = matched.find(_.getAs[Int]("ts_ms") == 2000).get
    assert(r3.getAs[String]("level") == "WARN")
    assert(r3.getAs[String]("component") == null) // divergence: NULL not ""
    val un = rows.filter(_.getAs[String]("unmatched_lines") != null)
    assert(un.head.getAs[String]("unmatched_lines") == "garbage line that matches nothing")
    assert(un.head.getAs[String]("level") == null)
  }

  test("fixture 3: FAILFAST mode throws on unmatched line") {
    val df = spark.read.format("log")
      .option("pattern", "(\\d+)\\s+(INFO|WARN|ERROR)\\s*(\\w+)?(?:\\s+(.*))?")
      .option("fieldNames", "ts_ms, level, component, msg")
      .option("mode", "FAILFAST")
      .load(fixture("mixed.log"))
    val e = intercept[Exception](df.collect())
    assert(e.getMessage.contains("FAILFAST") ||
      Option(e.getCause).exists(_.getMessage.contains("FAILFAST")))
  }

  test("fixture 4: gzip transparently decompressed, same rows") {
    val plain = readMysql(fixture("mysql.log")).orderBy("time").collect().toSeq
    val gz = readMysql(fixture("mysql.log.gz")).orderBy("time").collect().toSeq
    assert(gz == plain)
  }

  test("bzip2: splittable codec — forced multi-split read matches unsplit rows") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_bz2").toString
    val lines = (1 to 2000).map(i => f"$i%d INFO msg-$i%d payload-${"x" * 40}")
    spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING)
      .coalesce(1).write.mode("overwrite").option("compression", "bzip2").text(dir)
    def readIt() = spark.read.format("log")
      .option("pattern", "(\\d+) (\\w+) (\\S+) (\\S+)")
      .option("fieldNames", "id, level, msg, payload")
      .option("dataTypes", "INT, VARCHAR, VARCHAR, VARCHAR")
      .option("extensions", "txt") // writer emits part-*.txt.bz2
      .load(dir)
    val whole = readIt().agg(count(lit(1)), sum("id")).head()
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    val (split, parts) =
      try {
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        val df = readIt()
        (df.agg(count(lit(1)), sum("id")).head(), df.rdd.getNumPartitions)
      } finally {
        spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
        spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
      }
    assert(parts > 1, s"bz2 file should split into multiple chunks, got $parts")
    assert(split.getLong(0) == 2000L && split.getLong(0) == whole.getLong(0))
    assert(split.getLong(1) == whole.getLong(1))
  }

  test("multiline: recordStartPattern assembles blocks; preamble routed unmatched") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ml").toString
    val content =
      """# header line one
        |# header two
        |101 ERROR boom-first
        |  at frame0.method(File.java:0)
        |
        |  at frame1.method(File.java:1)
        |102 WARN plain single-line record
        |103 ERROR boom-last
        |  at frame0.method(File.java:9)
        |""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/app.log"), content)
    val df = spark.read.format("log")
      .option("pattern", "(?s)(\\d+) (\\w+) (.+)")
      .option("recordStartPattern", "^\\d+ ")
      .option("fieldNames", "id, level, body")
      .option("dataTypes", "INT, VARCHAR, VARCHAR")
      .load(s"$dir/app.log")
    val rows = df.collect()
    assert(rows.length == 4) // 3 records + 1 preamble (unmatched)
    val byId = rows.filter(!_.isNullAt(0)).map(r => r.getInt(0) -> r.getString(2)).toMap
    // continuation lines (including the BLANK one inside record 101) kept
    assert(byId(101) ==
      "boom-first\n  at frame0.method(File.java:0)\n\n  at frame1.method(File.java:1)")
    assert(byId(102) == "plain single-line record")
    assert(byId(103) == "boom-last\n  at frame0.method(File.java:9)")
    val pre = rows.find(_.isNullAt(0)).get
    assert(pre.getAs[String]("unmatched_lines") == "# header line one\n# header two")
  }

  test("multiline: record straddling a forced split boundary is read exactly once") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_ml_split").toString
    // 500 records x 2-5 lines, ~90 bytes/line -> many 2 KB splits land
    // mid-record; ownership protocol must yield identical results
    val rnd = new scala.util.Random(11)
    val sb = new StringBuilder
    (1 to 500).foreach { i =>
      sb.append(s"$i INFO head-$i\n")
      (0 until 1 + rnd.nextInt(4)).foreach { j =>
        sb.append(s"  continuation line $j of record $i with some padding text\n")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/big.log"), sb.toString)
    def readIt() = spark.read.format("log")
      .option("pattern", "(?s)(\\d+) (\\w+) (.+)")
      .option("recordStartPattern", "^\\d+ ")
      .option("fieldNames", "id, level, body")
      .option("dataTypes", "INT, VARCHAR, VARCHAR")
      .load(s"$dir/big.log")
    def fingerprint(df: DataFrame) =
      df.agg(count(lit(1)), sum("id"), sum(length(col("body"))),
        expr("bit_xor(xxhash64(id, body))")).head()
    val whole = fingerprint(readIt())
    assert(whole.getLong(0) == 500L && whole.getLong(1) == 500L * 501 / 2)
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    val (split, parts) =
      try {
        spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        val df = readIt()
        (fingerprint(df), df.rdd.getNumPartitions)
      } finally {
        spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
        spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
      }
    assert(parts > 10, s"expected many splits, got $parts")
    assert(split == whole)
  }

  test("multiline: a record exceeding recordMaxBytes fails with an actionable error") {
    // the OOM guard: a start pattern that matches (almost) nothing must
    // fail loudly, not buffer the file into one giant record
    val dir = java.nio.file.Files.createTempDirectory("graft_ml_cap").toString
    val content = ("1 START once\n" + ("continuation padding line\n" * 50))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/cap.log"), content)
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("log")
        .option("pattern", "(?s)(\\d+) (\\w+) (.+)")
        .option("recordStartPattern", "^\\d+ START")
        .option("recordMaxBytes", "100")
        .option("fieldNames", "id, level, body")
        .option("dataTypes", "INT, VARCHAR, VARCHAR")
        .load(s"$dir/cap.log")
        .collect()
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg.contains("recordMaxBytes"), msg)
  }

  test("multiline: invalid recordStartPattern fails at plan time") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("log")
        .option("recordStartPattern", "([unclosed")
        .load(fixture("mysql.log"))
    }
    assert(e.getMessage.contains("recordStartPattern"))
  }

  test("fixture 5: >4KB field survives intact (no 4096-byte truncation)") {
    val df = spark.read.format("log")
      .option("pattern", "(\\d+)\\s+(\\w+)\\s+(.+)")
      .option("fieldNames", "id, level, payload")
      .option("dataTypes", "INT, VARCHAR, VARCHAR")
      .load(fixture("longline.log"))
    val r = df.collect().head
    assert(r.getAs[String]("payload").length == 5000)
  }

  test("fixture 6: per-type tolerant failures -> NULL in PERMISSIVE") {
    val df = spark.read.format("log")
      .option("pattern", "(\\S+)\\s(\\S+)\\s+(\\S+)\\s(\\w+)\\s+(.+)")
      .option("fieldNames", "date, time, pid, action, query")
      .option("dataTypes", "DATE, TIME, INT, VARCHAR, VARCHAR")
      .option("dateFormat", "yyMMdd")
      .load(fixture("badtypes.log"))
    val rows = df.orderBy("action").collect()
    assert(rows.length == 2)
    val bad = rows.find(_.getAs[String]("action") == "Connect").get
    assert(bad.getAs[Date]("date") == null)   // 991301: month 13 -> null
    assert(bad.isNullAt(bad.fieldIndex("time"))) // 25:99:99 -> null (not fatal; divergence from LRR:269)
    assert(bad.isNullAt(bad.fieldIndex("pid")))  // notanint -> null
    val ok = rows.find(_.getAs[String]("action") == "Query").get
    assert(ok.getAs[Int]("pid") == 7 && ok.getAs[Date]("date").toString == "2007-08-23")
  }

  test("fixture 6: FAILFAST makes bad typed value fatal") {
    val df = spark.read.format("log")
      .option("pattern", "(\\S+)\\s(\\S+)\\s+(\\S+)\\s(\\w+)\\s+(.+)")
      .option("fieldNames", "date, time, pid, action, query")
      .option("dataTypes", "DATE, TIME, INT, VARCHAR, VARCHAR")
      .option("dateFormat", "yyMMdd")
      .option("errorOnMismatch", "true")
      .load(fixture("badtypes.log"))
    intercept[Exception](df.collect())
  }

  test("FAILFAST names the value, type and line; the cause is the parser's own error") {
    val dir = java.nio.file.Files.createTempDirectory("failfast").toFile
    java.nio.file.Files.write(new java.io.File(dir, "a.log").toPath,
      java.util.Arrays.asList("7 2024-01-01", "- 2024-01-02", "8 2024-13-01"))
    def failure(schema: String, pattern: String): Throwable = {
      val df = spark.read.format("log").option("pattern", pattern).option("schema", schema)
        .option("dateFormat", "yyyy-MM-dd").option("mode", "FAILFAST").load(dir.getAbsolutePath)
      val e = intercept[Exception](df.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .find(t => Option(t.getMessage).exists(_.startsWith("[log] FAILFAST")))
        .getOrElse(fail(s"no FAILFAST error in $e"))
    }
    val int = failure("n INT, d VARCHAR", "^(\\S+) (\\S+)$")
    assert(int.getMessage.startsWith("[log] FAILFAST: cannot convert '-' to INT in line: - 2024-01-02 (file="),
      int.getMessage)
    assert(int.getCause.isInstanceOf[NumberFormatException] &&
      int.getCause.getMessage == "For input string: \"-\"", int.getCause)
    // a DATE on the fast path reports FastDateTime's error
    val date = failure("n VARCHAR, d DATE", "^(\\S+) (\\S+)$")
    assert(date.getMessage.startsWith(
      "[log] FAILFAST: cannot convert '2024-13-01' to DATE in line: 8 2024-13-01 (file="), date.getMessage)
    assert(date.getCause.isInstanceOf[IllegalArgumentException] &&
      date.getCause.getMessage == "cannot parse '2024-13-01'", date.getCause)
  }

  test("DROPMALFORMED: unmatched and unconvertible lines are dropped, not routed") {
    // mixed.log: 2 matching lines + 1 garbage line
    val dropped = spark.read.format("log")
      .option("pattern", "(\\d+)\\s+(INFO|WARN|ERROR)\\s*(\\w+)?(?:\\s+(.*))?")
      .option("fieldNames", "ts_ms, level, component, msg")
      .option("dataTypes", "INT, VARCHAR, VARCHAR, VARCHAR")
      .option("mode", "DROPMALFORMED")
      .load(fixture("mixed.log"))
    val rows = dropped.collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[String]("unmatched_lines") == null))
    // badtypes.log: 1 line with unconvertible DATE/TIME/INT values + 1 clean
    val typed = spark.read.format("log").options(mysqlOpts)
      .option("mode", "DROPMALFORMED")
      .load(fixture("badtypes.log"))
    assert(typed.collect().map(_.getAs[String]("action")).toSeq == Seq("Query"))
  }

  test("DROPMALFORMED row count is projection-independent (count(*) validates all fields)") {
    // the bad-typed line must be dropped even when NO column is projected:
    // all declared fields are validated regardless of pruning
    val typed = spark.read.format("log").options(mysqlOpts)
      .option("mode", "DROPMALFORMED")
      .load(fixture("badtypes.log"))
    assert(typed.count() == 1)
    assert(typed.select("action").count() == 1)
  }

  test("pushdown: claimed predicates filter in the reader, same rows as Catalyst") {
    import org.apache.spark.sql.functions._
    val df = readMysql(fixture("mysql.log"))
    assert(df.filter(col("action") === "Query").count() == 4)
    assert(df.filter(col("pid") === 21).count() == 2)
    // filter column pruned from the projection: reader still evaluates it
    assert(df.filter(col("pid") > 5).select("action").collect().map(_.getString(0)).sorted.toSeq
      == Seq("Query", "Query"))
    assert(df.filter(col("query").contains("location")).count() == 2)
    assert(df.filter(col("action").isin("Connect", "Quit")).count() == 1)
  }

  test("pushdown: filters apply to unmatched rows exactly like Catalyst") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("log")
      .option("pattern", "(\\d+)\\s+(INFO|WARN|ERROR)\\s*(\\w+)?(?:\\s+(.*))?")
      .option("fieldNames", "ts_ms, level, component, msg")
      .option("dataTypes", "INT, VARCHAR, VARCHAR, VARCHAR")
      .load(fixture("mixed.log"))
    // unmatched row has NULL level: comparison drops it, IsNull keeps it
    assert(df.filter(col("level") === "INFO").count() == 1)
    assert(df.filter(col("level").isNull).count() == 1)
    assert(df.filter(col("unmatched_lines").isNotNull).count() == 1)
    assert(df.filter(col("unmatched_lines").startsWith("garbage")).count() == 1)
  }

  test("config validation: group/fieldNames mismatch fails at load, both directions") {
    val base = spark.read.format("log").option("pattern", "(\\d+) (\\w+)")
    intercept[IllegalArgumentException](
      base.option("fieldNames", "a").load(fixture("default.log")))
    intercept[IllegalArgumentException](
      base.option("fieldNames", "a,b,c").load(fixture("default.log")))
  }

  test("config validation: invalid regex, zero groups, missing dateFormat") {
    intercept[IllegalArgumentException](
      spark.read.format("log").option("pattern", "(unclosed").load(fixture("default.log")))
    intercept[IllegalArgumentException](
      spark.read.format("log").option("pattern", "no groups").load(fixture("default.log")))
    intercept[IllegalArgumentException](
      spark.read.format("log").option("pattern", "(\\d+)")
        .option("fieldNames", "d").option("dataTypes", "DATE")
        .load(fixture("default.log")))
  }

  test("dataTypes wrong count falls back to all-VARCHAR (LRR:185-191)") {
    val df = spark.read.format("log")
      .option("pattern", "(\\d+)\\s+(\\w+)\\s+(.+)")
      .option("fieldNames", "id, level, msg")
      .option("dataTypes", "INT, VARCHAR") // wrong count
      .load(fixture("longline.log"))
    assert(df.schema.fields.forall(_.dataType == StringType))
  }

  test("projection pruning reaches the scan (ReadSchema only has required cols)") {
    val df = readMysql(fixture("mysql.log")).select("action")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("action") && !scan.contains("query"))
    assert(df.distinct().count() == 2)
  }

  test("unanchored find(): pattern matching mid-line still extracts (LRR:225)") {
    val df = spark.read.format("log")
      .option("pattern", "pid=(\\d+)")
      .option("fieldNames", "pid")
      .option("dataTypes", "INT")
      .load(fixture("midline.log"))
    val rows = df.orderBy("pid").collect()
    assert(rows.map(_.getAs[Integer]("pid")).toSeq == Seq(7, 42))
  }

  test("SQL DDL: CREATE TABLE ... USING log, then plain SQL over it") {
    spark.sql("DROP TABLE IF EXISTS mysql_logs_spec")
    // raw interpolator: s""" processes \\ escapes and would halve the
    // backslashes before the SQL parser unescapes them again
    spark.sql(raw"""CREATE TABLE mysql_logs_spec USING log OPTIONS (
      path '${fixture("mysql.log")}',
      pattern '(\\d{6})\\s(\\d{2}:\\d{2}:\\d{2})\\s+(\\d+)\\s(\\w+)\\s+(.+)',
      fieldNames 'date, time, pid, action, query',
      dataTypes 'DATE, TIME, INT, VARCHAR, VARCHAR',
      dateFormat 'yyMMdd')""")
    val rows = spark.sql(
      "SELECT action, count(*) n FROM mysql_logs_spec GROUP BY action ORDER BY action")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("Connect", 1L), ("Query", 4L)))
    spark.sql("DROP TABLE mysql_logs_spec")
  }

  test("direct SQL over a path: SELECT ... FROM log.`/path` (Drill's usage mode)") {
    val path = new java.net.URI(fixture("mysql.log")).getPath
    // default pattern (.*) -> one `line` column; composes with
    // parse_log_line for a zero-DataFrame-code ad-hoc pipeline
    val n = spark.sql(s"SELECT count(*) AS n FROM log.`$path`")
      .collect().head.getLong(0)
    val expected = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
      .toArray.map(_.toString).count(_.trim.nonEmpty)
    assert(n == expected.toLong, s"n=$n expected=$expected")
    val actions = spark.sql(
      raw"""SELECT parse_log_line(line,
           |  '(\\d{6})\\s(\\d{2}:\\d{2}:\\d{2})\\s+(\\d+)\\s(\\w+)\\s+(.+)')[3] AS action
           |FROM log.`$path`""".stripMargin)
      .collect().map(_.getString(0)).filter(_ != null).sorted.toSeq
    assert(actions == Seq("Connect", "Query", "Query", "Query", "Query"))
  }

  test("direct SQL honors spark.graft.log.* session-conf option defaults") {
    val path = new java.net.URI(fixture("mysql.log")).getPath
    spark.conf.set("spark.graft.log.pattern",
      "(\\d{6})\\s(\\d{2}:\\d{2}:\\d{2})\\s+(\\d+)\\s(\\w+)\\s+(.+)")
    spark.conf.set("spark.graft.log.schema",
      "date VARCHAR, time VARCHAR, pid INT, action VARCHAR, query VARCHAR")
    try {
      // a TYPED ad-hoc query with zero DataFrame code and no CREATE TABLE
      val rows = spark.sql(
        s"SELECT action, count(*) AS n FROM log.`$path` GROUP BY action ORDER BY action")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows == Seq(("Connect", 1L), ("Query", 4L)))
    } finally {
      spark.conf.unset("spark.graft.log.pattern")
      spark.conf.unset("spark.graft.log.schema")
    }
    // unset again: back to the default single-line schema
    val cols = spark.sql(s"SELECT * FROM log.`$path`").schema.fieldNames.toSeq
    assert(cols == Seq("line", "unmatched_lines"), cols)
  }

  test("session-conf mapping is whitelisted; conf regexMaxSteps is non-engaging") {
    val path = new java.net.URI(fixture("mysql.log")).getPath
    // a typo'd spark.graft.log.* conf fails LOUDLY, naming the bad key,
    // instead of becoming a silently ignored option
    spark.conf.set("spark.graft.log.patern", "(\\d+)")
    try {
      val e = intercept[Exception] { spark.sql(s"SELECT * FROM log.`$path`").collect() }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).flatMap(t => Option(t.getMessage))
        .exists(m => m.contains("patern") && m.contains("known options")), e.getMessage)
    } finally spark.conf.unset("spark.graft.log.patern")
    // conf-sourced regexMaxSteps adjusts the BUDGET but does not flip
    // regexBudgetExplicit: benign ad-hoc patterns keep the plain path
    spark.conf.set("spark.graft.log.regexMaxSteps", "5555")
    try {
      val u = org.apache.spark.sql.catalyst.analysis.UnresolvedRelation(Seq("log", path))
      val rewritten = graft.log.LogPathRelation.rewrite(u)
      val rel = rewritten.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => r
      }.get
      val lo = graft.log.LogOptions.fromMap(rel.options)
      assert(lo.regexMaxSteps == 5555L, lo.regexMaxSteps)
      assert(!lo.regexBudgetExplicit, "conf-sourced budget must not engage the wrapper")
      // per-relation option still engages explicitly
      val lo2 = graft.log.LogOptions.fromMap(Map(
        "pattern" -> "(\\d+)", "schema" -> "id INT", "regexmaxsteps" -> "7"))
      assert(lo2.regexBudgetExplicit && lo2.regexMaxSteps == 7L)
    } finally spark.conf.unset("spark.graft.log.regexMaxSteps")
  }

  test("direct SQL guard: identifiers without '/' are never hijacked") {
    // a real table in a database named `log` must resolve normally
    spark.sql("CREATE DATABASE IF NOT EXISTS log")
    spark.sql("DROP TABLE IF EXISTS log.not_a_path")
    spark.sql("CREATE TABLE log.not_a_path USING parquet AS SELECT 42 AS x")
    try {
      val x = spark.sql("SELECT x FROM log.not_a_path").collect().head.getInt(0)
      assert(x == 42)
    } finally {
      spark.sql("DROP TABLE log.not_a_path")
      spark.sql("DROP DATABASE log")
    }
  }

  test("schema option sugar: single DDL-ish string instead of parallel lists") {
    val df = spark.read.format("log")
      .option("pattern", mysqlOpts("pattern"))
      .option("schema", "date DATE, time TIME, pid INT, action VARCHAR, query VARCHAR")
      .option("dateFormat", "yyMMdd")
      .load(fixture("mysql.log"))
    assert(df.schema.fieldNames.toSeq ==
      Seq("date", "time", "pid", "action", "query", "unmatched_lines"))
    assert(df.schema("pid").dataType == IntegerType)
    assert(df.count() == 5)
    intercept[IllegalArgumentException](
      spark.read.format("log").option("pattern", "(\\d+)")
        .option("schema", "too many words here").load(fixture("default.log")))
  }

  test("many small files pack into few partitions (no task-per-file explosion)") {
    val dir = java.nio.file.Files.createTempDirectory("packing").toFile
    for (i <- 0 until 200)
      java.nio.file.Files.writeString(new java.io.File(dir, s"f$i.log").toPath, s"$i INFO x\n")
    val df = spark.read.format("log")
      .option("pattern", "(\\d+) (\\w+) (.+)")
      .option("schema", "id INT, level VARCHAR, msg VARCHAR")
      .load(dir.getAbsolutePath)
    assert(df.count() == 200)
    assert(df.rdd.getNumPartitions <= 8,
      s"200 tiny files should bin-pack, got ${df.rdd.getNumPartitions} partitions")
    assert(df.agg(org.apache.spark.sql.functions.sum("id")).collect().head.getLong(0) == 19900L)
  }

  test("format presets: apache_combined parses real lines, '-' bytes nulls, overrides win") {
    val dir = java.nio.file.Files.createTempDirectory("apache").toFile
    java.nio.file.Files.writeString(new java.io.File(dir, "access.log").toPath,
      """10.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /apache_pb.gif HTTP/1.0" 200 2326 "http://ref/" "Mozilla"
        |10.0.0.2 - - [10/Oct/2000:13:55:37 -0700] "HEAD / HTTP/1.0" 304 - "-" "curl"
        |""".stripMargin)
    val df = spark.read.format("log")
      .option("format", "apache_combined")
      .load(dir.getAbsolutePath)
    val rows = df.orderBy("host").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("host") == "10.0.0.1")
    assert(rows(0).getAs[Int]("status") == 200 && rows(0).getAs[Int]("bytes") == 2326)
    assert(rows(1).getAs[Int]("status") == 304 && rows(1).isNullAt(rows(1).fieldIndex("bytes")))
    assert(rows(0).getAs[String]("user_agent") == "Mozilla")
    // explicit option overrides the preset's field
    val over = spark.read.format("log")
      .option("format", "apache_combined")
      .option("dataTypes",
        "VARCHAR, VARCHAR, VARCHAR, VARCHAR, VARCHAR, VARCHAR, VARCHAR, VARCHAR, VARCHAR")
      .load(dir.getAbsolutePath)
    assert(over.schema("status").dataType == org.apache.spark.sql.types.StringType)
    // unknown preset is a config error naming the known ones
    val e = intercept[IllegalArgumentException] {
      spark.read.format("log").option("format", "nginx").load(dir.getAbsolutePath)
    }
    assert(e.getMessage.contains("apache_combined"))
  }

  test("format presets: mysql_general equals the hand-written README config") {
    val byHand = spark.read.format("log")
      .option("pattern", "(\\d{6})\\s(\\d{2}:\\d{2}:\\d{2})\\s+(\\d+)\\s(\\w+)\\s+(.+)")
      .option("fieldNames", "date, time, pid, action, query")
      .option("dataTypes", "DATE, TIME, INT, VARCHAR, VARCHAR")
      .option("dateFormat", "yyMMdd")
      .load(fixture("mysql.log"))
    val preset = spark.read.format("log")
      .option("format", "mysql_general")
      .load(fixture("mysql.log"))
    assert(preset.schema == byHand.schema)
    assert(preset.collect().toSeq == byHand.collect().toSeq)
  }

  test("directory load filters by extensions option") {
    val dir = new java.io.File(getClass.getResource("/fixtures").toURI).getAbsolutePath
    val df = spark.read.format("log")
      .option("pattern", "(\\d{6})\\s(\\d{2}:\\d{2}:\\d{2})\\s+(\\d+)\\s(\\w+)\\s+(.+)")
      .option("fieldNames", "date, time, pid, action, query")
      .load(dir)
    // mysql.log + mysql.log.gz both match ".log"; others match too (all *.log)
    assert(df.count() > 0)
  }
}
