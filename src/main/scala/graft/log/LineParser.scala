package graft.log

import java.time.{LocalDate, LocalDateTime, LocalTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.time.temporal.TemporalQueries
import java.util.Locale

import scala.annotation.switch

import org.apache.spark.SparkException
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pure `(line: String) => InternalRow` implementing the reference scan's
  * per-row pipeline (SURVEY.md §2A #3-#13): regex match (one `find()` per
  * line, unanchored — `LogRecordReader.java:224-225`), per-group typed
  * coercion, matched/unmatched routing into `unmatched_lines`
  * (`LogRecordReader.java:283-292`), and in-reader evaluation of pushed
  * predicates. Returns `null` for a line the scan must not emit
  * (DROPMALFORMED drop, or a pushed filter rejecting the row).
  *
  * Only the columns in `required` are extracted and converted — real
  * projection pruning, unlike the reference which converts every group and
  * lets the host trim downstream (`LogFormatPlugin.java:76-79`,
  * SURVEY.md §2A #16). Two things widen that set deliberately:
  * filter-referenced columns (a pushed predicate may reference a column the
  * query never projects) and, in DROPMALFORMED mode, EVERY declared field —
  * a line dropped under `select(*)` must also be dropped under `count(*)`,
  * so malformedness cannot depend on projection.
  *
  * How a line is matched is [[LinePattern]]'s: [[parseUtf8]] hands it the
  * framed bytes undecoded, and VARCHAR fields come out as its UTF-8 groups.
  *
  * `filters` must each pass [[LineParser.supportedFilter]] — the ScanBuilder
  * only claims those, and claiming means Catalyst removes its own copy, so
  * evaluation here must match Catalyst semantics exactly (null compare =
  * unknown = drop; double/float total order with NaN greatest; -0.0 == 0.0).
  */
final class LineParser(
    opts: LogOptions,
    required: StructType,
    filters: Seq[Filter] = Nil) extends Serializable {
  import LineParser._

  // every filter-referenced column gets a slot in the `fvals` buffer,
  // filled during conversion (cheaper than re-reading the InternalRow)
  private val filterSlotOf: Map[String, Int] =
    filters.flatMap(_.references).distinct.zipWithIndex.toMap

  // the fields a matched line converts: the required ones (in row order),
  // then declared fields NOT in `required` that must still be converted
  // (ordinal -1) — pushed filters may reference them; DROPMALFORMED
  // validates all of them
  private val slots: Array[Slot] = {
    val inRequired = required.fieldNames.toSet
    val req = required.fields.iterator.zipWithIndex.collect {
      case (f, ord) if f.name != LogOptions.UnmatchedCol =>
        val gi = opts.fieldNames.indexOf(f.name)
        require(gi >= 0, s"[log] required column '${f.name}' not in fieldNames")
        new Slot(ord, gi + 1, opts.dataTypes(gi), filterSlotOf.getOrElse(f.name, -1))
    }.toArray
    val extra = opts.fieldNames.zipWithIndex.collect {
      case (n, gi) if !inRequired(n) && (opts.dropMalformed || filterSlotOf.contains(n)) =>
        new Slot(-1, gi + 1, opts.dataTypes(gi), filterSlotOf.getOrElse(n, -1))
    }
    req ++ extra
  }

  private val unmatchedOrdinal: Int =
    required.fields.indexWhere(_.name == LogOptions.UnmatchedCol)
  private val unmatchedFilterSlot: Int =
    filterSlotOf.getOrElse(LogOptions.UnmatchedCol, -1)

  private val numFields = required.length

  // A count(*)-style scan in plain PERMISSIVE mode needs no regex work at
  // all: every non-blank line is exactly one row regardless of match. Any
  // strict mode or pushed filter disables the shortcut.
  private val needsMatch = slots.nonEmpty || unmatchedOrdinal >= 0 ||
    opts.failFast || opts.dropMalformed || filters.nonEmpty

  private val linePattern = new LinePattern(opts.pattern, opts.regexMaxSteps,
    opts.regexBudgetExplicit, opts.absorbedDesc.getOrElse(s"'${opts.pattern}'"),
    dotSpan = opts.absorbedDesc.isDefined)
  // single-threaded, like every scratch buffer of the parser
  @transient private lazy val matcher = linePattern.matcher()
  @transient private lazy val dateFmt: DateTimeFormatter =
    DateTimeFormatter.ofPattern(opts.dateFormat, Locale.US)
  @transient private lazy val timeFmt: DateTimeFormatter =
    DateTimeFormatter.ofPattern(opts.timeFormat, Locale.US)
  // compiled fast path for the formats FastDateTime covers (~10x cheaper
  // than the formatter — dev/SCAN_PROFILE.md); null = format outside the
  // subset, keep the formatter. One instance per parser: parse scratch is
  // single-threaded like `matcher`. FastDateTimeSpec pins differential
  // equivalence against the formatter path.
  @transient private lazy val fastDate: FastDateTime =
    FastDateTime.compile(opts.dateFormat).orNull
  @transient private lazy val fastTime: FastDateTime =
    FastDateTime.compile(opts.timeFormat).orNull
  @transient private lazy val preds: Array[Array[Any] => Boolean] =
    filters.map(LineParser.compile(_, filterSlotOf)).toArray
  // one parser per partition reader (single-threaded): reuse the buffer
  @transient private lazy val fvals = new Array[Any](filterSlotOf.size)

  // per-task observability counters (single-threaded like `matcher`),
  // surfaced as DSV2 custom metrics in the Spark UI / metrics API: the
  // "is my pattern actually matching" question answered without a
  // second count(unmatched_lines) pass over 100 TB
  private var nMatched = 0L
  private var nUnmatched = 0L
  private var nDropped = 0L
  def matchedCount: Long = nMatched
  def unmatchedCount: Long = nUnmatched
  def droppedCount: Long = nDropped

  /** Parse one non-blank line into the required row; `null` means the line
    * is not emitted (DROPMALFORMED or a pushed filter). Throws in FAILFAST
    * mode on unmatched lines or unconvertible values.
    */
  def parse(line: String): InternalRow =
    // count(*) shortcut never evaluates the regex — matched/unmatched are
    // honestly unmeasured (zero) on a fully-pruned scan; no column is
    // required then, so every line shares the one empty row
    if (!needsMatch) InternalRow.empty else route(matcher.find(line))

  /** [[parse]] for a UTF-8 line framed in `b[off, off + len)`, decoded
    * only if it is not ASCII. `b` may be reused by the caller once this
    * returns. */
  def parseUtf8(b: Array[Byte], off: Int, len: Int): InternalRow =
    if (!needsMatch) InternalRow.empty else route(matcher.find(b, off, len))

  /** The current line's row, given whether the pattern matched it. */
  private def route(matched: Boolean): InternalRow = {
    val row = new GenericInternalRow(numFields)
    var s = 0
    while (s < fvals.length) { fvals(s) = null; s += 1 }
    if (matched) {
      nMatched += 1
      var i = 0
      while (i < slots.length) {
        val sl = slots(i)
        // Divergence (SURVEY.md §7.4): unparticipating optional group →
        // NULL, not "" (reference: LRR:234-236 coerces to "" which crashes
        // numeric parsing fatally even in tolerant mode). NULL is not
        // malformed.
        val v =
          try value(sl)
          catch { case e: Exception => if (opts.failFast) throw fatal(sl, e) else Malformed }
        if (v.asInstanceOf[AnyRef] eq Malformed) {
          if (opts.failFast) throw fatal(sl, jdkError(matcher.groupText(sl.group), sl.kind))
          if (opts.dropMalformed) { nDropped += 1; return null }
          // tolerant: NULL, LRR:249-255 semantics
        } else if (v != null) {
          if (sl.ord >= 0) row.update(sl.ord, v)
          if (sl.fslot >= 0) fvals(sl.fslot) = v
        }
        i += 1
      }
    } else if (opts.failFast) {
      throw new SparkException(s"[log] FAILFAST: line does not match pattern '${opts.pattern}': ${matcher.lineText()}") // LRR:284-285
    } else if (opts.dropMalformed) {
      nUnmatched += 1; nDropped += 1
      return null
    } else {
      nUnmatched += 1
      if (unmatchedOrdinal >= 0 || unmatchedFilterSlot >= 0) {
        val u = matcher.lineUtf8() // LRR:287-290
        if (unmatchedOrdinal >= 0) row.update(unmatchedOrdinal, u)
        if (unmatchedFilterSlot >= 0) fvals(unmatchedFilterSlot) = u
      }
    }
    // matched and unmatched rows alike run the pushed predicates — exactly
    // the rows Catalyst's own Filter above the scan would have seen
    var k = 0
    while (k < preds.length) {
      if (!preds(k)(fvals)) { nDropped += 1; return null }
      k += 1
    }
    row
  }

  /** FAILFAST's error for slot `sl`, caused by `cause`. */
  private def fatal(sl: Slot, cause: Exception): SparkException =
    new SparkException(
      s"[log] FAILFAST: cannot convert '${matcher.groupText(sl.group)}' to ${sl.dt} " +
        s"in line: ${matcher.lineText()}", cause)

  /** The exception the JDK conversion (or [[FastDateTime]]'s error) raises
    * for a value [[convert]] found malformed: FAILFAST's cause, made once,
    * on the fatal path only. */
  private def jdkError(raw: String, kind: Int): Exception =
    try {
      (kind: @switch) match {
        case KInt => java.lang.Integer.valueOf(raw)
        case KDouble => java.lang.Double.valueOf(raw)
        case KFloat => java.lang.Float.valueOf(raw)
        case _ => throw FastDateTime.error(raw)
      }
      new IllegalStateException(s"'$raw' was rejected but converts") // unreachable
    } catch { case e: Exception => e }

  /** The slot's converted value; null for an unparticipating group,
    * [[LineParser.Malformed]] for a value that does not convert.
    * VARCHAR keeps the group's UTF-8 (LRR:276-281, no 4 KB limit). */
  private def value(sl: Slot): Any =
    if (sl.kind == KVarchar) matcher.groupUtf8(sl.group)
    else {
      val r = matcher.groupText(sl.group)
      if (r == null) null else convert(r, sl.kind)
    }

  /** String → Spark internal value for one typed capture group (SURVEY.md
    * §1.3), or [[LineParser.Malformed]]. The common malformed values (an
    * Apache `-` size) are rejected without an exception; only the
    * `DateTimeFormatter` fallback and the rare malformed value the JDK
    * parsers must see still throw. */
  private def convert(raw: String, kind: Int): Any = (kind: @switch) match {
    case KInt => parseInt(raw) // LRR:238-239
    case KDouble => // LRR:240-241
      if (noNumber(raw)) Malformed else java.lang.Double.valueOf(raw)
    case KFloat => // LRR:242-243
      if (noNumber(raw)) Malformed else java.lang.Float.valueOf(raw)
    case KDate => // LRR:244-255; UTC pinned (reference: JVM-default tz)
      if (fastDate != null) {
        val d = fastDate.parseEpochDay(raw)
        if (d == FastDateTime.Invalid) Malformed else java.lang.Integer.valueOf(d)
      } else java.lang.Integer.valueOf(LocalDate.from(dateFmt.parse(raw)).toEpochDay.toInt)
    case KTimestamp => // LRR:256-267 — same formatter as DATE (no separate timestamp format)
      if (fastDate != null) {
        val us = fastDate.parseMicros(raw)
        if (us == FastDateTime.InvalidMicros) Malformed else java.lang.Long.valueOf(us)
      } else {
        val ta = dateFmt.parse(raw)
        val d = ta.query(TemporalQueries.localDate)
        if (d == null) throw new IllegalArgumentException(s"no date fields in '$raw'")
        val t = Option(ta.query(TemporalQueries.localTime)).getOrElse(LocalTime.MIDNIGHT)
        val inst = LocalDateTime.of(d, t).toInstant(ZoneOffset.UTC)
        java.lang.Long.valueOf(inst.getEpochSecond * 1000000L + inst.getNano / 1000)
      }
    case KTime => // LRR:268-275: millis-of-day; honors timeFormat (reference bug LRR:324 not replicated)
      if (fastTime != null) {
        val ms = fastTime.parseMillisOfDay(raw)
        if (ms == FastDateTime.Invalid) Malformed else java.lang.Integer.valueOf(ms)
      } else {
        val t = LocalTime.from(timeFmt.parse(raw))
        java.lang.Integer.valueOf(t.toSecondOfDay * 1000 + t.getNano / 1000000)
      }
  }
}

object LineParser {

  /** A typed value that does not convert (never a row value). */
  private[log] object Malformed

  /** `Integer.valueOf(s)`, or [[Malformed]] where it would throw. ASCII
    * input is parsed here by `Integer.parseInt`'s rules (an optional sign,
    * then at least one digit, no whitespace, overflow rejected); other
    * input keeps `Integer.valueOf`, which also reads non-ASCII digits. */
  private[log] def parseInt(s: String): Any = {
    val len = s.length
    if (len == 0) return Malformed
    val first = s.charAt(0)
    val negative = first == '-'
    var i = if (negative || first == '+') 1 else 0
    if (i == len) return Malformed
    // accumulate negatively, as parseInt does: MIN_VALUE has no positive twin
    val limit = if (negative) Int.MinValue else -Int.MaxValue
    val multmin = limit / 10
    var acc = 0
    while (i < len) {
      val c = s.charAt(i)
      if (c >= 0x80) {
        return try java.lang.Integer.valueOf(s)
          catch { case _: NumberFormatException => Malformed }
      }
      if (c < '0' || c > '9') return Malformed
      val d = c - '0'
      if (acc < multmin) return Malformed
      acc *= 10
      if (acc < limit + d) return Malformed
      acc -= d
      i += 1
    }
    java.lang.Integer.valueOf(if (negative) acc else -acc)
  }

  /** True for an ASCII string that `Double.valueOf` / `Float.valueOf`
    * reject for certain: one without a digit `0`-`9` that is not, after
    * Java's trim, an optionally signed `NaN` or `Infinity`. False sends
    * the string to the JDK parser. */
  private[log] def noNumber(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= 0x80 || (c >= '0' && c <= '9')) return false
      i += 1
    }
    val t = s.trim
    val u = if (t.startsWith("+") || t.startsWith("-")) t.substring(1) else t
    u != "NaN" && u != "Infinity"
  }

  // conversion kinds, fixed once per slot from the declared type name
  private final val KVarchar = 0
  private final val KInt = 1
  private final val KDouble = 2
  private final val KFloat = 3
  private final val KDate = 4
  private final val KTimestamp = 5
  private final val KTime = 6

  /** One field a matched line converts: row ordinal (-1 = converted for a
    * filter or DROPMALFORMED only), 1-based capture group, declared type,
    * and `fvals` slot (-1 = no filter reads it). */
  private final class Slot(val ord: Int, val group: Int, val dt: String, val fslot: Int)
      extends Serializable {
    val kind: Int = dt match {
      case "INT" | "INTEGER"   => KInt
      case "DOUBLE" | "FLOAT8" => KDouble
      case "FLOAT" | "FLOAT4"  => KFloat
      case "DATE"              => KDate
      case "TIMESTAMP"         => KTimestamp
      case "TIME"              => KTime
      case _                   => KVarchar
    }
  }

  /** Whether a Catalyst source filter can be fully evaluated in the reader.
    * Conservative by design: comparison/IN only on INT/DOUBLE/FLOAT/string
    * columns (DATE/TIMESTAMP literals arrive as external objects whose
    * conversion rules are not worth replicating — they stay residual),
    * null-tests on any column, string prefix/suffix/contains on strings.
    * TIME columns surface as IntegerType (millis-of-day), so integer
    * comparisons on them are already exact.
    */
  def supportedFilter(f: Filter, opts: LogOptions): Boolean = {
    def typeOf(name: String): Option[DataType] =
      if (name == LogOptions.UnmatchedCol) Some(StringType)
      else {
        val gi = opts.fieldNames.indexOf(name)
        if (gi < 0) None else Some(opts.sparkType(opts.dataTypes(gi)))
      }
    def cmpOk(name: String, v: Any): Boolean = typeOf(name).exists {
      case IntegerType => v.isInstanceOf[java.lang.Integer]
      case DoubleType  => v.isInstanceOf[java.lang.Double]
      case FloatType   => v.isInstanceOf[java.lang.Float]
      case StringType  => v.isInstanceOf[String]
      case _           => false
    }
    def strOk(name: String, v: String): Boolean =
      v != null && typeOf(name).contains(StringType)
    f match {
      case EqualTo(a, v)            => cmpOk(a, v)
      case GreaterThan(a, v)        => cmpOk(a, v)
      case GreaterThanOrEqual(a, v) => cmpOk(a, v)
      case LessThan(a, v)           => cmpOk(a, v)
      case LessThanOrEqual(a, v)    => cmpOk(a, v)
      case In(a, vs)                => vs.nonEmpty && vs.forall(cmpOk(a, _))
      case IsNull(a)                => typeOf(a).isDefined
      case IsNotNull(a)             => typeOf(a).isDefined
      case StringStartsWith(a, p)   => strOk(a, p)
      case StringEndsWith(a, p)     => strOk(a, p)
      case StringContains(a, p)     => strOk(a, p)
      case _                        => false // Or/Not/EqualNullSafe/...: residual
    }
  }

  /** Spark SQL equality/order semantics for the pushable types: -0.0 == 0.0
    * and NaN greatest & equal to itself — java.lang compareTo gives the NaN
    * half, zero-normalization the other.
    */
  private def norm(v: Any): Any = v match {
    case d: java.lang.Double if d.doubleValue() == 0.0 => java.lang.Double.valueOf(0.0)
    case f: java.lang.Float if f.floatValue() == 0.0f  => java.lang.Float.valueOf(0.0f)
    case other                                         => other
  }

  private def cmp(x: Any, l: Any): Int =
    norm(x).asInstanceOf[Comparable[Any]].compareTo(norm(l))

  private def toInternal(v: Any): Any = v match {
    case s: String => UTF8String.fromString(s)
    case other     => other
  }

  /** Compile one supported filter to a predicate over the fvals buffer.
    * SQL three-valued logic: any comparison against NULL is unknown → row
    * not emitted (same as Catalyst's Filter). `private[graft]`: the
    * differential fuzz (LineFilterFuzzSpec) drives it against Spark's own
    * evaluation of the same predicate.
    */
  private[graft] def compile(f: Filter, slotOf: Map[String, Int]): Array[Any] => Boolean = {
    def slot(name: String) = slotOf(name)
    f match {
      case EqualTo(a, v) =>
        val s = slot(a); val l = toInternal(v)
        vals => vals(s) != null && cmp(vals(s), l) == 0
      case GreaterThan(a, v) =>
        val s = slot(a); val l = toInternal(v)
        vals => vals(s) != null && cmp(vals(s), l) > 0
      case GreaterThanOrEqual(a, v) =>
        val s = slot(a); val l = toInternal(v)
        vals => vals(s) != null && cmp(vals(s), l) >= 0
      case LessThan(a, v) =>
        val s = slot(a); val l = toInternal(v)
        vals => vals(s) != null && cmp(vals(s), l) < 0
      case LessThanOrEqual(a, v) =>
        val s = slot(a); val l = toInternal(v)
        vals => vals(s) != null && cmp(vals(s), l) <= 0
      case In(a, vs) =>
        val s = slot(a); val ls = vs.map(toInternal)
        vals => vals(s) != null && ls.exists(l => cmp(vals(s), l) == 0)
      case IsNull(a) =>
        val s = slot(a); vals => vals(s) == null
      case IsNotNull(a) =>
        val s = slot(a); vals => vals(s) != null
      case StringStartsWith(a, p) =>
        val s = slot(a); val u = UTF8String.fromString(p)
        vals => vals(s) != null && vals(s).asInstanceOf[UTF8String].startsWith(u)
      case StringEndsWith(a, p) =>
        val s = slot(a); val u = UTF8String.fromString(p)
        vals => vals(s) != null && vals(s).asInstanceOf[UTF8String].endsWith(u)
      case StringContains(a, p) =>
        val s = slot(a); val u = UTF8String.fromString(p)
        vals => vals(s) != null && vals(s).asInstanceOf[UTF8String].contains(u)
      case other =>
        throw new IllegalStateException(s"[log] filter $other was pushed but is not supported")
    }
  }
}
