package graft.log

import java.util.regex.{Pattern, PatternSyntaxException}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Parsed + validated configuration of the `log` data source.
  *
  * Mirrors the reference plugin's config surface
  * (`LogFormatPlugin.java:86-94` — pattern/fieldNames/dataTypes/dateFormat/
  * timeFormat/extensions/errorOnMismatch) with validation performed eagerly
  * at planning time (the reference validates lazily in the scan operator,
  * `LogRecordReader.java:155-199`; failing on `load()` instead is a
  * documented improvement — see SURVEY.md §3.1).
  *
  * Documented divergences from the reference (SURVEY.md §7.4):
  *   - `unmatched_lines` column is always present (static schema) instead of
  *     materializing only when a line fails the regex.
  *   - Absent optional capture groups become NULL, not `""` (the reference's
  *     `""` makes numeric casts fatal even in tolerant mode,
  *     `LogRecordReader.java:234-239` + `301-303`).
  *   - `timeFormat` is honored (the reference compiles `dateFormat` instead —
  *     bug at `LogRecordReader.java:324`; we implement the README-documented
  *     behavior).
  *   - TIME parse failures follow `errorOnMismatch` like DATE (reference:
  *     always fatal, `LogRecordReader.java:269`).
  *   - No 4096-byte VARCHAR truncation hazard (`LogRecordReader.java:93`).
  */
final case class LogOptions(
    pattern: String,
    fieldNames: Seq[String],
    dataTypes: Seq[String], // normalized UPPERCASE, same length as fieldNames
    dateFormat: String,
    timeFormat: String,
    extensions: Seq[String],
    failFast: Boolean,
    dropMalformed: Boolean = false,
    // streaming admission control (same option semantics as Spark's file
    // stream source): cap on files / bytes admitted per micro-batch
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    // streaming retention (Spark file-source option semantics): files older
    // than the newest seen file's mod-time minus this age are ignored AND
    // expired from the driver's seen-files tracking, so a months-long tail
    // of a rotating directory keeps bounded driver state
    maxFileAgeMs: Option[Long] = None,
    // process newest files first when draining a backlog (Spark file-source
    // option; with a per-trigger cap this also disables maxFileAge, or the
    // not-yet-admitted older backlog would expire mid-drain and be lost)
    latestFirst: Boolean = false,
    // post-commit handling of processed source files: OFF (default),
    // DELETE, or ARCHIVE into `sourceArchiveDir` (best-effort, after the
    // batch's offset is committed — Spark's cleanSource contract)
    cleanSource: String = "OFF",
    sourceArchiveDir: Option[String] = None,
    // multi-line records (beyond-reference; the reference is strictly
    // line-framed, LogRecordReader.java:212): a record BEGINS at any line
    // matching this regex (unanchored find(), like `pattern`); following
    // non-matching lines are appended with '\n' until the next start line.
    // The MySQL logs the reference README targets need this for slow-query
    // blocks and stack traces.
    recordStartPattern: Option[String] = None,
    // guard for multi-line assembly: a record buffering more than this
    // fails the task with an actionable message instead of OOMing the
    // executor (the symptom of a recordStartPattern that never matches).
    // Measured in UTF-16 CHARS of the assembled record (== bytes for ASCII
    // logs; up to 2x the heap in bytes) — the guard is an order-of-
    // magnitude backstop, not an exact byte budget. 64M default — far
    // beyond any plausible log record.
    recordMaxBytes: Long = 64L << 20,
    // hive-style partition columns carried in `name=value` path segments,
    // declared explicitly as "name TYPE, name TYPE" (never inferred — see
    // [[PartitionValues]] for the scale rationale). Appended to the table
    // schema after `unmatched_lines`; claimed filters on them prune whole
    // files at plan time.
    partitionSchema: Seq[(String, String)] = Nil,
    // POSITIONAL directory columns (Drill's `dir0`/`dirN`, the layout a
    // migrating reference user actually has: `/logs/2024/03/01/*.log`,
    // no `k=v` naming): each name maps to the Nth path segment below the
    // loaded root, STRING, null when the file sits shallower (Drill's
    // dirN semantics). Prunable exactly like partitionSchema columns.
    dirColumns: Seq[String] = Nil,
    // Drill's implicit file columns (every Drill format plugin exposes
    // them; DSV2 sources get no `input_file_name()`): any subset of
    // fqn / filepath / filename / suffix, opt-in by name. Per-chunk
    // constants like the other path fields — and filters on them prune
    // whole files the same way.
    implicitColumns: Seq[String] = Nil,
    // byte→text decoding charset (Spark text/CSV `encoding` option; the
    // reference hardcodes UTF-8 at LogRecordReader.java:127). A Latin-1
    // syslog read as UTF-8 silently mangles every multi-byte character —
    // at 100 TB nobody re-reads to check. Non-ASCII-compatible charsets
    // (UTF-16/32) additionally require an explicit lineSep: Hadoop's line
    // framing splits on single 0x0A bytes.
    encoding: String = "UTF-8",
    // custom line separator (Spark text/CSV `lineSep`): framing bytes are
    // `lineSep.getBytes(encoding)`. None = Hadoop default (\n, \r\n, \r).
    lineSep: Option[String] = None,
    // per-line regex step budget — the kill switch for catastrophic
    // backtracking ((.*a){12}x-class patterns), which otherwise stalls a
    // scan task for hours with no diagnostic (the reference shares the
    // hazard, LogRecordReader.java:224). Counted in regex-engine character
    // reads; the effective per-line budget is regexMaxSteps +
    // 100×lineLength, so legitimately long lines get proportional headroom
    // while exponential blowup (which dwarfs any linear term) still trips
    // in milliseconds. 0 disables. The counting wrapper costs ~10% of the
    // regex-bound parse path (dev/SCAN_PROFILE.md), so by default it
    // engages ONLY for patterns structurally capable of catastrophic
    // backtracking (LinePattern.riskyPattern: nested quantification or
    // alternation under a quantifier) — benign patterns, including every
    // preset, keep the plain zero-overhead path. Setting the option
    // explicitly engages it for any pattern.
    regexMaxSteps: Long = LogOptions.DefaultRegexMaxSteps,
    // true when regexMaxSteps was given explicitly (engage unconditionally)
    regexBudgetExplicit: Boolean = false,
    // not an option: set only by AbsorbParseLogLine, when this read stands
    // for `parse_log_line(line, pattern)` over a default `(.*)` read. The
    // pattern then matches only inside the span `(.*)` would have captured
    // (LinePattern's dotSpan), and a budget error names it by this text,
    // as parse_log_line's own error does
    absorbedDesc: Option[String] = None) {

  /** Spark type per declared field (SURVEY.md §1.3 mapping; TIME is
    * represented as IntegerType millis-of-day — FINAL, SURVEY §7.4#1:
    * exactly Drill's wire semantics (`LogRecordReader.java:271-273`),
    * losslessly round-tripped by parquet/DuckDB/pushed int filters,
    * where Spark 4.1's new `TimeType` still has partial ecosystem
    * support (no TIME literal in DSV2 `sources.Filter`, TIME_MICROS
    * interop). A `TimeType` view is one expression away for users who
    * want it; a future native type would be an additive alias, not a
    * change to `TIME`.)
    */
  def sparkType(dt: String): DataType = dt match {
    case "INT" | "INTEGER"  => IntegerType
    case "DOUBLE" | "FLOAT8" => DoubleType
    case "FLOAT" | "FLOAT4"  => FloatType
    case "DATE"              => DateType
    case "TIMESTAMP"         => TimestampType
    case "TIME"              => IntegerType
    case _                   => StringType // reference's final `else`: any unknown type is VARCHAR
  }

  /** Full table schema: declared fields in order, plus the always-present
    * `unmatched_lines` fallback column (SURVEY.md §1.2), plus any declared
    * partition columns (path-derived constants, [[PartitionValues]]).
    */
  lazy val schema: StructType = StructType(
    fieldNames.zip(dataTypes).map { case (n, t) =>
      StructField(n, sparkType(t), nullable = true)
    } ++ (StructField(LogOptions.UnmatchedCol, StringType, nullable = true) +:
      pathFields.map { case (n, t) =>
        StructField(n, PartitionValues.partType(t), nullable = true)
      }))

  /** ALL path-derived fields in schema order — hive partition columns
    * (typed), then positional dir columns (STRING), then implicit file
    * columns (STRING) — the one declaration order [[PartitionValues]],
    * `LogChunk.partValues` and the reader's constant-stamping share. */
  lazy val pathFields: Seq[(String, String)] =
    partitionSchema ++ (dirColumns ++ implicitColumns).map(n => (n, "VARCHAR"))

  /** Lowercased path-derived column name set (resolution is
    * case-insensitive, matching Spark's default). */
  lazy val partitionNames: Set[String] =
    pathFields.map(_._1.toLowerCase(java.util.Locale.ROOT)).toSet

  lazy val compiledPattern: Pattern = Pattern.compile(pattern)

  /** Is byte-offset splitting safe under this charset? Only when every
    * byte in the ASCII range is ALWAYS a standalone ASCII char in the
    * stream — then a delimiter byte sequence can never be produced by the
    * trail/lead bytes of other characters (or by shift state), and the
    * byte-aligned delimiter scan finds exactly the real line breaks from
    * any split offset. That property needs more than an ASCII round-trip
    * probe: Shift_JIS/GBK/Big5 round-trip ASCII yet their double-byte
    * TRAIL bytes cover 0x40-0x7E (an ASCII lineSep can false-match
    * mid-character), and ISO-2022-* round-trips ASCII while a mid-file
    * split lands inside a shift state a fresh decoder can't know. So:
    * UTF-8 (multi-byte sequences use only bytes >= 0x80 by construction),
    * or a strictly SINGLE-BYTE stateless charset (ISO-8859-*,
    * windows-125x, US-ASCII: maxBytesPerChar == maxCharsPerByte == 1)
    * whose ASCII range round-trips. Everything else — UTF-16/32, EBCDIC,
    * CJK multi-byte, ISO-2022 — scans as ONE chunk per file and frames in
    * character space (LogPartitionReader.CharFrames). */
  lazy val splitSafeEncoding: Boolean = {
    val cs = java.nio.charset.Charset.forName(encoding)
    if (cs == java.nio.charset.StandardCharsets.UTF_8) true
    else {
      val singleByte =
        try cs.newEncoder().maxBytesPerChar() == 1.0f &&
          cs.newDecoder().maxCharsPerByte() == 1.0f
        catch { case _: UnsupportedOperationException => false } // decode/encode-only
      val probe = "\r\n aA0~"
      singleByte && java.util.Arrays.equals(probe.getBytes(cs),
        probe.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    }
  }
}

object LogOptions {
  val UnmatchedCol = "unmatched_lines"
  val DefaultPattern = "(.*)" // LogFormatPlugin.java:93
  val DefaultTimeFormat = "HH:mm:ss" // LogFormatPlugin.java:92
  // ~5-20 ms of regex work per line: far beyond any legitimate match
  // (SCAN_PROFILE: a full typed apache-combined parse is ~1 µs/line), far
  // below a backtracking stall (hours)
  val DefaultRegexMaxSteps = 10000000L
  val KnownTypes: Set[String] =
    Set("INT", "INTEGER", "DOUBLE", "FLOAT8", "FLOAT", "FLOAT4", "DATE", "TIMESTAMP", "TIME", "VARCHAR")

  /** Named format presets (`format` option): the configs a user of the
    * reference plugin writes by hand for the common log dialects, shipped
    * as one-liners. A preset supplies DEFAULTS — any explicitly-passed
    * option overrides the preset's value, so `format=apache_combined`
    * plus a custom `dataTypes` works. Beyond-reference convenience; the
    * parse pipeline is unchanged (same pattern/fieldNames/dataTypes
    * machinery, LogFormatPlugin.java:86-94).
    *
    * Timestamp semantics: the bracketed Apache timestamp parses with its
    * numeric offset, but TIMESTAMP conversion keeps the WALL-CLOCK under
    * pinned UTC (the source's documented TIMESTAMP divergence) — exact
    * round-trip for +0000 logs, which is what synthetic fixtures and the
    * overwhelming majority of server configs emit.
    */
  val Presets: Map[String, Map[String, String]] = Map(
    "apache_common" -> Map(
      "pattern" -> "^(\\S+) (\\S+) (\\S+) \\[([^\\]]+)\\] \"([^\"]*)\" (\\d{3}) (\\S+)",
      "fieldnames" -> "host, ident, authuser, ts, request, status, bytes",
      "datatypes" -> "VARCHAR, VARCHAR, VARCHAR, TIMESTAMP, VARCHAR, INT, INT",
      "dateformat" -> "dd/MMM/yyyy:HH:mm:ss Z"),
    "apache_combined" -> Map(
      "pattern" -> ("^(\\S+) (\\S+) (\\S+) \\[([^\\]]+)\\] \"([^\"]*)\" (\\d{3}) (\\S+)" +
        " \"([^\"]*)\" \"([^\"]*)\""),
      "fieldnames" -> "host, ident, authuser, ts, request, status, bytes, referer, user_agent",
      "datatypes" -> "VARCHAR, VARCHAR, VARCHAR, TIMESTAMP, VARCHAR, INT, INT, VARCHAR, VARCHAR",
      "dateformat" -> "dd/MMM/yyyy:HH:mm:ss Z"),
    // the reference README's own MySQL general-log example (README.md of
    // cgivre/drill-logfile-plugin), as a named preset
    "mysql_general" -> Map(
      "pattern" -> "(\\d{6})\\s(\\d{2}:\\d{2}:\\d{2})\\s+(\\d+)\\s(\\w+)\\s+(.+)",
      "fieldnames" -> "date, time, pid, action, query",
      "datatypes" -> "DATE, TIME, INT, VARCHAR, VARCHAR",
      "dateformat" -> "yyMMdd"))

  def fromMap(options: CaseInsensitiveStringMap): LogOptions =
    fromMap(options.asCaseSensitiveMap().asScala.toMap)

  /** Validation order mirrors `LogRecordReader.java:155-199`. */
  def fromMap(options: Map[String, String]): LogOptions = {
    val explicit = options.map { case (k, v) => k.toLowerCase -> v }
    // `format` preset resolution FIRST: the preset supplies defaults,
    // explicit options win key-by-key
    val opts = explicit.get("format").map(_.trim.toLowerCase).filter(_.nonEmpty) match {
      case Some(name) =>
        val preset = Presets.getOrElse(name, throw new IllegalArgumentException(
          s"[log] unknown format preset '$name'; known presets: " +
            Presets.keys.toSeq.sorted.mkString(", ")))
        preset ++ explicit
      case None => explicit
    }
    def get(k: String): Option[String] = opts.get(k.toLowerCase).map(_.trim).filter(_.nonEmpty)

    val pattern = get("pattern").getOrElse(DefaultPattern)
    val compiled =
      try Pattern.compile(pattern)
      catch {
        case e: PatternSyntaxException =>
          throw new IllegalArgumentException(
            s"[log] invalid regex pattern '$pattern': ${e.getMessage}") // LRR:162-167
      }
    val groupCount = compiled.matcher("").groupCount()
    if (groupCount == 0) {
      throw new IllegalArgumentException(
        s"[log] pattern '$pattern' has no capture groups; each column is one capture group") // LRR:158-161
    }

    // `schema` option sugar (SURVEY.md §1.4): "name TYPE, name TYPE" in one
    // string, instead of parallel fieldNames/dataTypes lists. Explicit
    // fieldNames/dataTypes win if both are given.
    val schemaPairs: Option[Seq[(String, String)]] = get("schema").map {
      _.split(",").map(_.trim).toSeq.map { entry =>
        entry.split("\\s+") match {
          case Array(n, t) => (n, t)
          case _ => throw new IllegalArgumentException(
            s"[log] schema option entry '$entry' must be 'name TYPE'")
        }
      }
    }

    val fieldNames = get("fieldnames") match {
      case Some(s) => s.split(",").map(_.trim).toSeq
      case None => schemaPairs.map(_.map(_._1)) getOrElse {
        // Reference has no default names (config error). We default to
        // "line" for the single-group default pattern and field_i otherwise —
        // documented convenience divergence (FIXTURES.md #2).
        if (groupCount == 1) Seq("line") else (1 to groupCount).map(i => s"field_$i")
      }
    }
    if (fieldNames.size != groupCount) {
      throw new IllegalArgumentException(
        s"[log] pattern has $groupCount capture groups but fieldNames has ${fieldNames.size} entries " +
          s"(${fieldNames.mkString(",")}); they must match") // LRR:169-184, error both directions
    }

    // dataTypes: null or wrong count → all-VARCHAR fallback (LRR:185-191).
    val dataTypes = get("datatypes").map(_.split(",").map(_.trim.toUpperCase).toSeq)
      .orElse(schemaPairs.map(_.map(_._2.toUpperCase))) match {
      case Some(ts) if ts.size == fieldNames.size => ts
      case _ => Seq.fill(fieldNames.size)("VARCHAR")
    }

    val dateFormat = get("dateformat").getOrElse("")
    val timeFormat = get("timeformat").getOrElse(DefaultTimeFormat)
    val needsDate = dataTypes.exists(t => t == "DATE" || t == "TIMESTAMP")
    if (needsDate && dateFormat.isEmpty) {
      throw new IllegalArgumentException(
        "[log] dateFormat is required when any field has type DATE or TIMESTAMP") // LRR:193-195, 310-318
    }

    val extensions = get("extensions").map(_.split(",").map(_.trim).toSeq).getOrElse(Seq("log"))

    // `errorOnMismatch` (reference name, LogFormatPlugin.java:94) with
    // CSV-style `mode` PERMISSIVE/DROPMALFORMED/FAILFAST as an idiomatic
    // alias. DROPMALFORMED (beyond-reference, the CSV/JSON third mode) drops
    // unmatched or unconvertible lines instead of routing/nulling them.
    val (failFast, dropMalformed) = get("mode").map(_.toUpperCase) match {
      case Some("FAILFAST")      => (true, false)
      case Some("PERMISSIVE")    => (false, false)
      case Some("DROPMALFORMED") => (false, true)
      case Some(other) =>
        throw new IllegalArgumentException(
          s"[log] unsupported mode '$other' (PERMISSIVE, DROPMALFORMED or FAILFAST)")
      case None => (get("erroronmismatch").exists(_.toBoolean), false)
    }

    // Unknown type names silently become VARCHAR in the reference (final
    // `else`, LogRecordReader.java:274-276) — keep that in tolerant mode but
    // surface it: warn in PERMISSIVE, fail in FAILFAST (a typo'd 'INTGER'
    // should not silently widen a column; documented divergence).
    val unknown = dataTypes.filterNot(KnownTypes.contains)
    if (unknown.nonEmpty) {
      val msg = s"[log] unknown dataTypes ${unknown.mkString(",")} fall back to VARCHAR " +
        s"(known: ${KnownTypes.toSeq.sorted.mkString(",")})"
      if (failFast) throw new IllegalArgumentException(msg)
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }

    // Streaming admission control (batch reads ignore these, like the CSV
    // source ignores maxFilesPerTrigger): a backlog burst — the normal state
    // when a tail job restarts after downtime — must split into bounded
    // micro-batches, not one unbounded one.
    def positiveLong(key: String): Option[Long] = get(key).map { s =>
      val v = try s.toLong catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"[log] $key must be a positive integer, got '$s'")
      }
      if (v <= 0) throw new IllegalArgumentException(s"[log] $key must be positive, got $v")
      v
    }
    val maxFilesPerTrigger = positiveLong("maxfilespertrigger").map { v =>
      if (v > Int.MaxValue) throw new IllegalArgumentException(
        s"[log] maxFilesPerTrigger too large: $v")
      v.toInt
    }
    val maxBytesPerTrigger = positiveLong("maxbytespertrigger")

    // multi-line framing: validate the record-start regex at plan time,
    // same contract as `pattern`
    val recordStartPattern = get("recordstartpattern")
    recordStartPattern.foreach { p =>
      try Pattern.compile(p)
      catch {
        case e: PatternSyntaxException =>
          throw new IllegalArgumentException(
            s"[log] invalid recordStartPattern '$p': ${e.getMessage}")
      }
    }

    val recordMaxBytes = positiveLong("recordmaxbytes").getOrElse(64L << 20)

    // streaming retention: duration strings parse like Spark's own
    // ("7d", "12h", "30m", bare number = seconds)
    val maxFileAgeMs = get("maxfileage").map { s =>
      val ms =
        try org.apache.spark.network.util.JavaUtils.timeStringAsMs(s)
        catch {
          case e: NumberFormatException =>
            throw new IllegalArgumentException(
              s"[log] maxFileAge must be a duration like '7d' or '1h', got '$s': ${e.getMessage}")
        }
      if (ms <= 0) throw new IllegalArgumentException(
        s"[log] maxFileAge must be positive, got '$s'")
      ms
    }
    val latestFirst = get("latestfirst").exists { s =>
      if (!Set("true", "false").contains(s.toLowerCase)) {
        throw new IllegalArgumentException(
          s"[log] latestFirst must be true or false, got '$s'")
      }
      s.toBoolean
    }
    val cleanSource = get("cleansource").map(_.toUpperCase).getOrElse("OFF")
    if (!Set("OFF", "DELETE", "ARCHIVE").contains(cleanSource)) {
      throw new IllegalArgumentException(
        s"[log] cleanSource must be OFF, DELETE or ARCHIVE, got '$cleanSource'")
    }
    val sourceArchiveDir = get("sourcearchivedir")
    if (cleanSource == "ARCHIVE" && sourceArchiveDir.isEmpty) {
      throw new IllegalArgumentException(
        "[log] cleanSource=archive requires sourceArchiveDir")
    }

    // partitionSchema: "name TYPE, name TYPE" (same entry grammar as the
    // `schema` option). Validated strictly at plan time: this is new
    // surface with no reference legacy to stay tolerant for.
    val partitionSchema: Seq[(String, String)] = get("partitionschema").map {
      _.split(",").map(_.trim).toSeq.map { entry =>
        entry.split("\\s+") match {
          case Array(n, t) => (n, t.toUpperCase)
          case _ => throw new IllegalArgumentException(
            s"[log] partitionSchema entry '$entry' must be 'name TYPE'")
        }
      }
    }.getOrElse(Nil)
    partitionSchema.foreach { case (n, t) =>
      if (!PartitionValues.KnownTypes.contains(t)) {
        throw new IllegalArgumentException(
          s"[log] partitionSchema column '$n' has unsupported type '$t' " +
            s"(supported: ${PartitionValues.KnownTypes.toSeq.sorted.mkString(", ")})")
      }
    }
    // dirColumns: positional (Drill dirN-style) directory column names
    val dirColumns: Seq[String] = get("dircolumns")
      .map(_.split(",").map(_.trim).toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    // implicitColumns: Drill's per-file implicit column set, opt-in
    val implicitColumns: Seq[String] = get("implicitcolumns")
      .map(_.split(",").map(_.trim.toLowerCase).toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val unknownImplicit = implicitColumns.filterNot(PartitionValues.ImplicitColumns.contains)
    if (unknownImplicit.nonEmpty) {
      throw new IllegalArgumentException(
        s"[log] unknown implicitColumns ${unknownImplicit.mkString(", ")} " +
          s"(supported: ${PartitionValues.ImplicitColumns.mkString(", ")})")
    }
    val pathNames = partitionSchema.map(_._1) ++ dirColumns ++ implicitColumns
    val lowerParts = pathNames.map(_.toLowerCase)
    if (lowerParts.distinct.size != lowerParts.size) {
      throw new IllegalArgumentException(
        s"[log] duplicate partitionSchema/dirColumns/implicitColumns column names: " +
          s"${pathNames.mkString(", ")}")
    }
    val fieldCollisions = pathNames
      .filter(n => fieldNames.exists(_.equalsIgnoreCase(n)) || n.equalsIgnoreCase(UnmatchedCol))
    if (fieldCollisions.nonEmpty) {
      throw new IllegalArgumentException(
        s"[log] path-derived column(s) ${fieldCollisions.mkString(", ")} " +
          "collide with declared fieldNames or the unmatched_lines column")
    }

    // encoding / lineSep (Spark text/CSV surface). lineSep is read RAW —
    // get() trims, and "\r\n" is all whitespace.
    val encoding = get("encoding").orElse(get("charset")).getOrElse("UTF-8")
    val charset =
      try java.nio.charset.Charset.forName(encoding)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"[log] unsupported encoding '$encoding': ${e.getMessage}")
      }
    if (charset.name == "UTF-16" || charset.name == "UTF-32") {
      throw new IllegalArgumentException(
        s"[log] encoding '${charset.name}' is byte-order ambiguous (its encoder also " +
          s"prepends a BOM to every encoded delimiter); use ${charset.name}LE or " +
          s"${charset.name}BE")
    }
    val lineSep = opts.get("linesep").map { s =>
      if (s.isEmpty) throw new IllegalArgumentException("[log] lineSep must be non-empty")
      s
    }
    // Hadoop's default line framing splits on single 0x0A bytes: a charset
    // whose '\n' is anything else (UTF-16/32 families) would be split
    // mid-character unless the user supplies explicit delimiter bytes
    val nl = "\n".getBytes(charset)
    if (!(nl.length == 1 && nl(0) == 0x0A.toByte) && lineSep.isEmpty) {
      throw new IllegalArgumentException(
        s"[log] encoding '$encoding' requires an explicit lineSep: its newline is " +
          "not a single 0x0A byte, so default line framing would split mid-character")
    }

    // regexMaxSteps set explicitly engages the counting wrapper for ANY
    // pattern; regexMaxStepsDefault (how session-conf defaults arrive —
    // LogPathRelation) only adjusts the budget, leaving engagement to the
    // riskyPattern auto-detector so benign ad-hoc queries keep the plain
    // zero-overhead path
    val regexMaxStepsOpt = get("regexmaxsteps").map(parseMaxSteps)
    val regexMaxStepsDefault = get("regexmaxstepsdefault").map(parseMaxSteps)

    LogOptions(pattern, fieldNames, dataTypes, dateFormat, timeFormat, extensions,
      failFast, dropMalformed, maxFilesPerTrigger, maxBytesPerTrigger,
      maxFileAgeMs, latestFirst, cleanSource, sourceArchiveDir, recordStartPattern,
      recordMaxBytes, partitionSchema, dirColumns, implicitColumns,
      encoding, lineSep,
      regexMaxStepsOpt.orElse(regexMaxStepsDefault).getOrElse(DefaultRegexMaxSteps),
      regexBudgetExplicit = regexMaxStepsOpt.isDefined)
  }

  /** A `regexMaxSteps` value (0 disables): the one validation of the
    * budget, whether it arrives as the option, as its session-conf default
    * on a ``log.`path` `` relation, or as `parse_log_line`'s session conf. */
  private[log] def parseMaxSteps(s: String): Long = {
    val v = try s.trim.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"[log] regexMaxSteps must be a non-negative integer (0 disables), got '$s'")
    }
    if (v < 0) throw new IllegalArgumentException(
      s"[log] regexMaxSteps must be non-negative (0 disables), got $v")
    v
  }

  /** Every option key [[fromMap]] reads (lowercase) — the whitelist for
    * mapping `spark.graft.log.*` session confs to relation options, so a
    * typo'd conf key fails loudly instead of being silently ignored. */
  val KnownOptionKeys: Set[String] = Set(
    "format", "pattern", "schema", "fieldnames", "datatypes", "dateformat",
    "timeformat", "extensions", "mode", "erroronmismatch",
    "recordstartpattern", "recordmaxbytes", "maxfileage", "latestfirst",
    "cleansource", "sourcearchivedir", "maxfilespertrigger",
    "maxbytespertrigger", "partitionschema", "dircolumns", "implicitcolumns",
    "encoding", "charset", "linesep", "regexmaxsteps", "regexmaxstepsdefault")
}
