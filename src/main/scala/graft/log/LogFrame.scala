package graft.log

import org.apache.spark.sql.{Column, DataFrame, GraftSql}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One-pass regex extraction: match the pattern ONCE per line and return all
  * capture groups as an array (`null` array when the line doesn't match;
  * `null` element for an unparticipating optional group).
  *
  * This is the codegen'd answer to SURVEY.md §4.3: the naive
  * `regexp_extract(value, pat, i)` for i=1..N re-evaluates the regex N times
  * per line, while the reference matches once (`LogRecordReader.java:224`)
  * and reads N groups. Semantics preserved: unanchored `find()`
  * (`LogRecordReader.java:225`), matched as the scan matches
  * ([[LinePattern]]).
  */
case class ParseLogLine(child: Expression, pattern: String) extends UnaryExpression {
  // the SQL surface faces the same catastrophic-backtracking hazard as
  // the scan: a structurally risky pattern (LinePattern.riskyPattern)
  // runs under the budget of the session conf
  // `spark.graft.log.regexMaxSteps`, captured at analysis time (0
  // disables) — the expression has no per-call options surface. Built
  // with the expression, so a bad pattern or budget fails at analysis.
  // AbsorbParseLogLine hands the budget and the error text to the scan.
  private[log] val maxSteps: Long = ParseLogLine.sessionMaxSteps
  private[log] val desc: String =
    s"'$pattern' (parse_log_line; override via SET spark.graft.log.regexMaxSteps)"
  private val linePattern = new LinePattern(pattern, maxSteps, explicit = false, desc)
  private[log] def groupCount: Int = linePattern.groupCount
  // each task deserializes its own copy of the expression, so the
  // matching state is per task (as Spark's RegExpExtract keeps its own)
  @transient private lazy val matcher = linePattern.matcher()

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "parse_log_line"

  override def nullSafeEval(input: Any): Any = extract(input.asInstanceOf[UTF8String])

  /** The groups of `line`'s match, null when it does not match (a null
    * element: an unparticipating optional group). */
  def extract(line: UTF8String): ArrayData = {
    val onHeap = line.getBaseObject.isInstanceOf[Array[Byte]]
    val b = if (onHeap) line.getBaseObject.asInstanceOf[Array[Byte]] else line.getBytes
    val off = if (onHeap) (line.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt else 0
    if (!matcher.find(b, off, line.numBytes)) return null
    val arr = new Array[Any](linePattern.groupCount)
    var i = 0
    while (i < arr.length) { arr(i) = matcher.groupUtf8(i + 1); i += 1 }
    new GenericArrayData(arr)
  }

  // the generated code calls the same method as eval
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("parseLogLine", this, classOf[ParseLogLine].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("groups")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r = $ref.extract($c);
         |if ($r != null) ${ev.value} = $r; else ${ev.isNull} = true;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ParseLogLine =
    copy(child = newChild)
}

object ParseLogLine {
  /** The expression's step budget: session conf
    * `spark.graft.log.regexMaxSteps` (0 disables), defaulting to the
    * scan's default and validated as the option is. Read at expression
    * construction — analysis time, driver side — so
    * `SET spark.graft.log.regexMaxSteps = 0` is the documented escape
    * hatch for a legitimately-slow pattern.
    */
  def sessionMaxSteps: Long = LogOptions.parseMaxSteps(
    org.apache.spark.sql.internal.SQLConf.get.getConfString(
      "spark.graft.log.regexMaxSteps", LogOptions.DefaultRegexMaxSteps.toString))
}

/** Expression-only alternative to the DSV2 source (SURVEY.md §3.3): parse a
  * DataFrame/stream of raw lines (column `value`, as produced by
  * `spark.read.text` / `spark.readStream.text`) into the same typed schema
  * the `log` source yields. PERMISSIVE semantics only — the whole point of
  * this path is staying inside whole-stage codegen.
  *
  * TIME/TIMESTAMP parity with the DSV2 source requires
  * `spark.sql.session.timeZone=UTC` (the engine-wide default here):
  * `try_to_timestamp` parses in the session zone while `LineParser` pins
  * UTC, so a non-UTC session shifts these two paths apart.
  */
object LogFrame {

  def parseLogLine(line: Column, pattern: String): Column =
    GraftSql.column(ParseLogLine(GraftSql.expression(line), pattern))

  /** `lines` must have a StringType column `value`; returns the typed log
    * schema (declared fields + `unmatched_lines`), blank lines dropped.
    */
  def parse(lines: DataFrame, opts: LogOptions): DataFrame = {
    // reject what this path cannot honor instead of silently diverging
    // from format("log"): record framing needs the reader (lines here are
    // pre-split), and error modes other than PERMISSIVE are its contract
    require(opts.recordStartPattern.isEmpty,
      "[log] recordStartPattern requires record framing in the reader — " +
        "use spark.read/readStream.format(\"log\") for multi-line records")
    require(!opts.failFast && !opts.dropMalformed,
      "[log] the expression path is PERMISSIVE by contract (unmatched " +
        "lines route to unmatched_lines) — use format(\"log\") for " +
        "FAILFAST/DROPMALFORMED")
    val nonBlank = lines.filter(length(trim(col("value"))) > 0) // LRR:216-219
    val parsed = nonBlank.withColumn("__groups", parseLogLine(col("value"), opts.pattern))
    val fields = opts.fieldNames.zipWithIndex.map { case (name, i) =>
      typed(element_at(col("__groups"), i + 1), opts.dataTypes(i), opts).as(name)
    }
    val unmatched = when(col("__groups").isNull, col("value"))
      .otherwise(lit(null).cast(StringType)).as(LogOptions.UnmatchedCol)
    parsed.select(fields :+ unmatched: _*)
  }

  /** String group → typed column, tolerant (NULL on parse failure) —
    * same mapping as LineParser.convert (SURVEY.md §1.3) but in pure
    * Catalyst expressions.
    */
  private def typed(c: Column, dt: String, opts: LogOptions): Column = dt match {
    // try_* variants throughout: ANSI mode (Spark 4 default) makes plain
    // cast/to_date on malformed input a task failure, but this path is
    // PERMISSIVE by contract (NULL on conversion failure).
    case "INT" | "INTEGER"   => c.try_cast(IntegerType)
    case "DOUBLE" | "FLOAT8" => c.try_cast(DoubleType)
    case "FLOAT" | "FLOAT4"  => c.try_cast(FloatType)
    case "DATE"              => call_function("try_to_date", c, lit(opts.dateFormat))
    case "TIMESTAMP"         => try_to_timestamp(c, lit(opts.dateFormat))
    case "TIME" => // millis-of-day via a 1970-01-01-anchored timestamp parse
      (unix_micros(try_to_timestamp(concat(lit("1970-01-01 "), c),
        lit("yyyy-MM-dd " + opts.timeFormat))) / 1000L).cast(IntegerType)
    case _ => c
  }

  /** Structured-Streaming log tail: `readStream` over a directory of log
    * files with the same parse semantics (SURVEY.md §2B streaming row).
    */
  def stream(spark: org.apache.spark.sql.SparkSession, path: String, options: Map[String, String]): DataFrame = {
    val opts = LogOptions.fromMap(options)
    // reject what this path cannot honor (same contract as parse()): the
    // text source here reads UTF-8 with default framing — non-default
    // encoding/lineSep need the DSV2 reader, which owns the byte level
    require(java.nio.charset.Charset.forName(opts.encoding) ==
      java.nio.charset.StandardCharsets.UTF_8 && opts.lineSep.isEmpty,
      "[log] the expression path reads lines via spark.readStream.text " +
        "(UTF-8, default framing) — use format(\"log\") for encoding/lineSep")
    parse(spark.readStream.text(path), opts)
  }
}
