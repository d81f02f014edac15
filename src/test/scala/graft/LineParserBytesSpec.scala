package graft.log

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.io.Text
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The byte path (LineKernel over a line's UTF-8 bytes, fields sliced out
  * of them) against the `java.util.regex` fallback on the same options:
  * every line of a mixed corpus gives the same row, the same error and
  * the same matched/unmatched/dropped counters, in every error mode, with
  * and without pushed filters. And `parse_log_line` gives the same array
  * from its interpreted and its generated code. No SparkSession. */
class LineParserBytesSpec extends AnyFunSuite {

  private val corpus: Seq[String] = Seq(
    // apache_combined, good and bad
    "10.0.0.1 - - [10/Oct/2000:13:55:36 -0700] \"GET /a.gif HTTP/1.0\" 200 2326 \"-\" \"curl/8\"",
    "10.0.0.2 - bob [31/Apr/2024:24:00:00 +0000] \"POST /x HTTP/1.1\" 500 - \"https://e.com/\" \"Moz\"",
    "10.0.0.3 - - [01/mar/2024:00:00:00 +0000] \"GET / HTTP/1.1\" 404 12 \"-\" \"-\"",
    "10.0.0.4 - - [01/Mar/2024:00:00:00 +1900] \"GET / HTTP/1.1\" 200 99999999999 \"-\" \"-\"",
    "10.0.0.5 - - [01/Mar/2024:00:00:00 +0000] \"GET /café HTTP/1.1\" 200 5 \"-\" \"-\"",
    // mysql_general (the final `.+` gives back), app log, typed custom
    "070823 21:00:32       1 Connect     root@localhost on test1",
    "070823 21:00:32\t1 Query\t \t",
    "070823 21:00:32 1 Query  select 'ü'",
    "070899 25:00:32 99999999999 Quit x",
    "2024-03-01 00:00:01 INFO svc-1 request 17 done",
    "2024-03-01 00:00:01 INFO svc-1 ",
    "2024-13-01 00:00:01 WARN svc-2 bad month",
    "n=42 x=1.5 f=2.5e3 t=12:30:00 d=2024-02-30",
    "n=x x=NaN f=-0.0 t=25:00:00 d=2024-02-29",
    // no dialect: blank, BOM-only, control characters, garbage
    "", "   ", "\t", "\uFEFF", "\u0001\u0002", "line\rwith\u000Bcontrols", "!! garbage ~~",
    "éè", "2024-03-01 00:00:01 INFO  trailing  ")

  private case class Dialect(options: Map[String, String], filters: Seq[Seq[Filter]])
  private val dialects = Seq(
    Dialect(Map("format" -> "apache_combined"),
      Seq(Nil, Seq(EqualTo("status", 500)), Seq(IsNotNull("bytes"), StringStartsWith("host", "10.0")),
        Seq(IsNull("unmatched_lines")), Seq(StringContains("unmatched_lines", "!")))),
    Dialect(Map("format" -> "mysql_general"),
      Seq(Nil, Seq(GreaterThan("pid", 0)), Seq(StringEndsWith("query", "test1")))),
    Dialect(Map(
      "pattern" -> "^(\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}) (\\w+) (\\S+) (.*)",
      "fieldNames" -> "ts, level, component, msg",
      "dataTypes" -> "TIMESTAMP, VARCHAR, VARCHAR, VARCHAR",
      "dateFormat" -> "yyyy-MM-dd HH:mm:ss"),
      Seq(Nil, Seq(In("level", Array("INFO", "WARN"))))),
    Dialect(Map(
      "pattern" -> "n=(\\S+) x=(\\S+) f=(\\S+) t=(\\S+) d=(\\S+)",
      "fieldNames" -> "n, x, f, t, d",
      "dataTypes" -> "INT, DOUBLE, FLOAT, TIME, DATE",
      "dateFormat" -> "yyyy-MM-dd"),
      Seq(Nil, Seq(LessThan("x", 2.0)), Seq(IsNotNull("n")))))

  /** Every outcome of one parser over the corpus: rows (or error
    * messages), then the three counters. */
  private def outcomes(p: LineParser, schema: StructType, bytePath: Boolean): Seq[Any] = {
    val rows = corpus.map { line =>
      val b = line.getBytes(UTF_8)
      try {
        val row =
          if (bytePath) {
            // framed like the reader's Text: the line inside a larger buffer
            val buf = Array[Byte](1, 2) ++ b ++ Array[Byte](3)
            p.parseUtf8(buf, 2, b.length)
          } else p.parse(Text.decode(b))
        // as strings: a boxed NaN is not == itself
        if (row == null) "not emitted" else row.toSeq(schema).map(String.valueOf)
      } catch { case e: Exception => "error: " + e.getMessage }
    }
    rows ++ Seq(p.matchedCount, p.unmatchedCount, p.droppedCount)
  }

  test("byte path == regex fallback: rows, errors and counters, every mode and filter set") {
    var checked = 0
    for (d <- dialects; mode <- Seq("PERMISSIVE", "DROPMALFORMED", "FAILFAST"); fs <- d.filters) {
      val opts = LogOptions.fromMap(d.options + ("mode" -> mode))
      assert(LineKernel.compile(opts.pattern).isDefined, opts.pattern)
      // an explicitly set step budget keeps every line on java.util.regex
      val regexOpts = opts.copy(regexMaxSteps = Long.MaxValue, regexBudgetExplicit = true)
      val full = opts.schema
      val schemas = Seq(full, StructType(full.fields.take(2)),
        StructType(full.fields.filter(_.name == LogOptions.UnmatchedCol)))
      for (schema <- schemas) {
        val supported = fs.filter(LineParser.supportedFilter(_, opts))
        val expect = outcomes(new LineParser(regexOpts, schema, supported), schema, bytePath = false)
        val viaBytes = outcomes(new LineParser(opts, schema, supported), schema, bytePath = true)
        val viaString = outcomes(new LineParser(opts, schema, supported), schema, bytePath = false)
        for ((got, path) <- Seq(viaBytes -> "bytes", viaString -> "string")) {
          val i = got.indices.find(i => got(i) != expect(i))
          assert(i.isEmpty, s"$path: ${d.options} $mode $fs ${schema.fieldNames.mkString(",")} at " +
            s"${i.map(j => (corpus.lift(j), got(j), expect(j)))}")
        }
        checked += 1
      }
    }
    assert(checked == 13 * 3 * 3)
  }

  test("parse_log_line: interpreted and generated code agree on ASCII and non-ASCII lines") {
    val patterns = Seq(
      LogOptions.Presets("mysql_general")("pattern"),
      "^(\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}) (\\w+) (\\S+) (.*)",
      "(\\w+)=(\\d+)?", // outside the kernel's subset (optional group)
      "x(a+)+y") // risky: budgeted regex
    for (pattern <- patterns) {
      val expr = ParseLogLine(BoundReference(0, StringType, nullable = true), pattern)
      val generated = GenerateMutableProjection.generate(Seq(expr))
      val regexOnly = java.util.regex.Pattern.compile(pattern)
      for (line <- corpus :+ null) {
        val in = InternalRow(if (line == null) null else UTF8String.fromString(line))
        val interpreted = groups(expr.eval(in))
        val row = generated(in)
        val codegen = if (row.isNullAt(0)) None else groups(row.getArray(0))
        assert(interpreted == codegen, s"'$pattern' on '$line'")
        // and both are java.util.regex's find()
        val want = Option(line).map(regexOnly.matcher(_)).filter(_.find())
          .map(m => (1 to m.groupCount()).map(m.group))
        assert(interpreted == want, s"'$pattern' on '$line'")
      }
      // malformed UTF-8 decodes as Hadoop's Text and java.lang.String both
      // decode it, so find() runs on that String
      for (bad <- malformed) {
        val bytes = "070823 21:00:32 1 Query ".getBytes(UTF_8) ++ bad ++ " x".getBytes(UTF_8)
        val text = new String(bytes, UTF_8)
        assert(Text.decode(bytes) == text, bad.mkString(" "))
        val in = InternalRow(UTF8String.fromBytes(bytes))
        val interpreted = groups(expr.eval(in))
        val row = generated(in)
        assert(interpreted == (if (row.isNullAt(0)) None else groups(row.getArray(0))), s"'$pattern' on $text")
        val m = regexOnly.matcher(text)
        assert(interpreted == Some(m).filter(_.find()).map(m => (1 to m.groupCount()).map(m.group)),
          s"'$pattern' on $text")
      }
      // a literal line folds to the same value
      assert(groups(ParseLogLine(Literal("070823 21:00:32 1 Quit x"), pattern).eval(null)).isDefined ==
        regexOnly.matcher("070823 21:00:32 1 Quit x").find())
    }
  }

  // a lone continuation byte, truncated 2/3/4-byte sequences, overlong
  // forms, a surrogate, above U+10FFFF, a 5-byte form and FF FE
  private val malformed: Seq[Array[Byte]] = Seq(
    Array(0x80), Array(0xC3), Array(0xE2, 0x82), Array(0xF0, 0x9F, 0x98), Array(0xC0, 0xAF),
    Array(0xE0, 0x80, 0xAF), Array(0xED, 0xA0, 0x80), Array(0xF4, 0x90, 0x80, 0x80),
    Array(0xF8, 0x88, 0x80, 0x80, 0x80), Array(0xFF, 0xFE)).map(_.map(_.toByte))

  private def groups(a: Any): Option[Seq[String]] = Option(a.asInstanceOf[ArrayData])
    .map(_.toObjectArray(StringType).toSeq.map(v => if (v == null) null else v.toString))
}
