package graft.log

import java.time.LocalDate

/** Compiled fast path for the fixed-width subset of date/time patterns —
  * the formats log files actually use (`yyyy-MM-dd HH:mm:ss`, `yyMMdd`,
  * `HH:mm:ss`, …). The scan profile (dev/SCAN_PROFILE.md) showed type
  * coercion at ~50% of per-line parse cost, nearly all of it
  * `DateTimeFormatter.parse`'s generic machinery (CharSequence walk,
  * `Parsed` object, temporal queries); this class precompiles the
  * pattern into a fixed-width digit program and parses by position —
  * no allocation, ~10x cheaper per value.
  *
  * Supported tokens: `yyyy`, `yy` (reduced, 2000-2099 — matches
  * `DateTimeFormatter`'s default base), `MM`, `MMM` (the `Locale.US`
  * short month names, case-sensitive, as the formatter parses them),
  * `dd`, `HH`, `mm`, `ss`, `Z` (a sign and four digits, the Apache
  * `+0000`), plus non-letter literal separators. Anything else
  * (variable-width fields, fractions, other zone letters, quoted text) →
  * [[FastDateTime.compile]] returns None and the caller keeps the
  * formatter path. Semantics replicate the formatter under its default
  * SMART resolver, pinned by a differential property spec:
  *   - whole input must be consumed; exact field widths
  *   - month/hour/minute/second validated to their ranges
  *   - day-of-month 1..31 then CLAMPED to the month's last day (SMART:
  *     April 31 → April 30, Feb 30 → Feb 28/29)
  *   - missing time fields resolve to 0 (SMART infers zeroes);
  *     time-of-day requires at least the hour field
  *   - hour 24 with zero minutes/seconds is next-day midnight (the
  *     carry lands in the date; a bare time drops it), else invalid
  *   - `Z`'s offset is validated (hours <= 23, minutes <= 59, and — only
  *     when the pattern has both date and time, where the formatter
  *     resolves an instant — magnitude <= 18:00) and then ignored: every
  *     conversion keeps the wall clock, as the formatter path does
  *     (TIMESTAMP is the wall clock under pinned UTC)
  * Invalid input returns [[FastDateTime.Invalid]] (or
  * [[FastDateTime.InvalidMicros]]) where the formatter throws, so a
  * malformed value costs no exception; [[FastDateTime.error]] is the
  * exception FAILFAST reports for it.
  *
  * DOCUMENTED DEVIATION (pinned in FastDateTimeSpec): the formatter's
  * `yyyy` is `appendValue(YEAR_OF_ERA, 4, 19, SignStyle.EXCEEDS_PAD)`,
  * which also accepts explicitly-signed wide years (`+12345-01-01`).
  * The fast path is fixed-width: such inputs are invalid and the line
  * error-routes. Log timestamps with five-digit signed years do not
  * occur in practice; a user who needs them configures a pattern
  * outside the compiled subset (e.g. with a zone or text token), which
  * keeps the formatter path.
  */
private[log] final class FastDateTime private (
    ops: Array[Int], // packed (kind << 16 | arg): LIT arg=char, field arg unused
    val hasDate: Boolean,
    val hasTime: Boolean) {
  import FastDateTime._

  // parse scratch (one instance per partition reader, single-threaded —
  // the LineParser matcher-reuse discipline)
  private var y = 0
  private var mo = 1
  private var d = 1
  private var h = 0
  private var mi = 0
  private var sec = 0
  private var carry = 0 // 1 when hour 24 rolled into the next day

  /** The `len` digits at `at` as a number; -1 when they are not all
    * there or not all `0`-`9`. */
  private def digits(s: String, at: Int, len: Int): Int = {
    if (at + len > s.length) return -1
    var v = 0
    var i = at
    val end = at + len
    while (i < end) {
      val c = s.charAt(i)
      if (c < '0' || c > '9') return -1
      v = v * 10 + (c - '0')
      i += 1
    }
    v
  }

  /** Run the program over the whole string (must consume it exactly);
    * false where the formatter would throw. */
  private def run(s: String): Boolean = {
    y = 0; mo = 1; d = 1; h = 0; mi = 0; sec = 0
    var pos = 0
    var i = 0
    while (i < ops.length) {
      val op = ops(i)
      val kind = op >>> 16
      kind match {
        case Lit =>
          if (pos >= s.length || s.charAt(pos) != (op & 0xffff).toChar) return false
          pos += 1
        case Year4 =>
          y = digits(s, pos, 4); pos += 4
          if (y <= 0) return false // 'y' is year-of-era: 0000 is out of range
        case Year2 =>
          val yy = digits(s, pos, 2); pos += 2
          if (yy < 0) return false
          y = 2000 + yy
        case Month =>
          mo = digits(s, pos, 2); pos += 2
          if (mo < 1 || mo > 12) return false
        case Day =>
          d = digits(s, pos, 2); pos += 2
          if (d < 1 || d > 31) return false
        case Hour =>
          h = digits(s, pos, 2); pos += 2
          if (h < 0 || h > 24) return false // 24 allowed iff :00:00 — checked post-run
        case Minute =>
          mi = digits(s, pos, 2); pos += 2
          if (mi < 0 || mi > 59) return false
        case Second =>
          sec = digits(s, pos, 2); pos += 2
          if (sec < 0 || sec > 59) return false
        case MonthName =>
          mo = 1
          while (mo <= 12 && !s.startsWith(MonthNames(mo - 1), pos)) mo += 1
          if (mo > 12) return false
          pos += 3
        case Offset =>
          if (pos >= s.length || (s.charAt(pos) != '+' && s.charAt(pos) != '-')) return false
          val oh = digits(s, pos + 1, 2)
          val om = digits(s, pos + 3, 2)
          if (oh < 0 || om < 0 || om > 59 || oh > 23 ||
              (hasDate && hasTime && oh * 60 + om > 18 * 60)) return false
          pos += 5
      }
      i += 1
    }
    if (pos != s.length) return false // formatter rejects unparsed trailing text
    // SMART end-of-day: hour 24 with zero minutes/seconds resolves to
    // midnight of the NEXT day (carried into the date); any other 24:xx
    // is invalid
    if (h == 24) {
      if (mi != 0 || sec != 0) return false
      h = 0
      carry = 1
    } else carry = 0
    true
  }

  /** SMART day-of-month resolution: clamp to the month's last valid day. */
  private def epochDay: Long = {
    val last = lastDayOfMonth(y, mo)
    LocalDate.of(y, mo, if (d > last) last else d).toEpochDay + carry
  }

  /** DATE → days since epoch (requires date fields in the pattern), or
    * [[FastDateTime.Invalid]]. */
  def parseEpochDay(s: String): Int =
    if (hasDate && run(s)) epochDay.toInt else Invalid

  /** TIMESTAMP → epoch micros, UTC; absent time fields are midnight. Or
    * [[FastDateTime.InvalidMicros]]. */
  def parseMicros(s: String): Long =
    if (hasDate && run(s)) (epochDay * 86400L + h * 3600L + mi * 60L + sec) * 1000000L
    else InvalidMicros

  /** TIME → millis of day (requires at least the hour field), or
    * [[FastDateTime.Invalid]]. */
  def parseMillisOfDay(s: String): Int =
    if (hasTime && run(s)) (h * 3600 + mi * 60 + sec) * 1000 else Invalid
}

private[log] object FastDateTime {
  /** A DATE or TIME that does not parse: no epoch day of a four-digit
    * year, nor any millisecond of a day, is `Int.MinValue`. */
  final val Invalid = Int.MinValue
  /** A TIMESTAMP that does not parse (years 1-9999 stay far from it). */
  final val InvalidMicros = Long.MinValue

  /** The exception a value that does not parse reports under FAILFAST. */
  def error(s: String): IllegalArgumentException =
    new IllegalArgumentException(s"cannot parse '$s'")

  private final val Lit = 0
  private final val Year4 = 1
  private final val Year2 = 2
  private final val Month = 3
  private final val Day = 4
  private final val Hour = 5
  private final val Minute = 6
  private final val Second = 7
  private final val MonthName = 8
  private final val Offset = 9

  /** The formatter's `MMM` texts (`Locale.US`, parsed case-sensitively);
    * null when any is not three characters, so `MMM` keeps the formatter. */
  private val MonthNames: Array[String] = {
    val names = java.time.Month.values.map(
      _.getDisplayName(java.time.format.TextStyle.SHORT, java.util.Locale.US))
    if (names.forall(_.length == 3)) names else null
  }

  private def lastDayOfMonth(y: Int, mo: Int): Int = mo match {
    case 2 => if (java.time.Year.isLeap(y.toLong)) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** Compile `pattern`, or None when any construct falls outside the
    * fixed-width subset (caller keeps the formatter). */
  def compile(pattern: String): Option[FastDateTime] = {
    val ops = scala.collection.mutable.ArrayBuffer.empty[Int]
    var hasDate = false
    var hasTime = false
    var hasHour = false
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (c.isLetter) {
        var j = i
        while (j < pattern.length && pattern.charAt(j) == c) j += 1
        val len = j - i
        val op = (c, len) match {
          case ('y', 4) => hasDate = true; Year4 << 16
          case ('y', 2) => hasDate = true; Year2 << 16
          case ('M', 2) => Month << 16
          case ('M', 3) if MonthNames != null => MonthName << 16
          case ('d', 2) => Day << 16
          case ('H', 2) => hasHour = true; hasTime = true; Hour << 16
          case ('m', 2) => hasTime = true; Minute << 16
          case ('s', 2) => hasTime = true; Second << 16
          case ('Z', 1) => Offset << 16
          case _ => return None // variable width / unsupported letter
        }
        ops += op
        i = j
      } else if (c == '\'') {
        return None // quoted literals: keep the formatter
      } else {
        ops += (Lit << 16) | c.toInt
        i += 1
      }
    }
    // a date needs all of y/M/d; time fields without an hour can't
    // resolve a LocalTime — both fall back rather than guess
    val months = ops.count(o => (o >>> 16) == Month || (o >>> 16) == MonthName)
    val days = ops.count(o => (o >>> 16) == Day)
    val years = ops.count(o => (o >>> 16) == Year4 || (o >>> 16) == Year2)
    val dateComplete = years == 1 && months == 1 && days == 1
    val dateAbsent = years == 0 && months == 0 && days == 0
    if (!dateComplete && !dateAbsent) return None
    if (hasTime && !hasHour) return None
    // duplicate time fields (e.g. "HHHH" split) can't happen per-run above;
    // but reject duplicated fields across the pattern for safety
    val dups = Seq(Hour, Minute, Second, Offset).exists(k => ops.count(o => (o >>> 16) == k) > 1)
    if (dups) return None
    Some(new FastDateTime(ops.toArray, dateComplete, hasTime))
  }
}
