package graft.log

import java.time.{LocalDate, LocalDateTime, LocalTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.time.temporal.TemporalQueries
import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

/** Differential equivalence of the compiled numeric date/time fast path
  * against the DateTimeFormatter reference semantics it replaces
  * (LineParser's DATE/TIMESTAMP/TIME conversions): for every (pattern,
  * input) pair, either both succeed with the same value or both reject
  * (the formatter throws, the fast path returns its failure value) —
  * including the formatter's SMART quirks (day-of-month clamping,
  * Apr 31 → Apr 30; reduced `yy` base 2000; inferred-zero time fields;
  * rejected year-of-era 0000).
  */
class FastDateTimeSpec extends AnyFunSuite {

  // the formatter paths exactly as LineParser's fallback branch runs them
  private def refEpochDay(fmt: DateTimeFormatter, s: String): Int =
    LocalDate.from(fmt.parse(s)).toEpochDay.toInt
  private def refMicros(fmt: DateTimeFormatter, s: String): Long = {
    val ta = fmt.parse(s)
    val d = ta.query(TemporalQueries.localDate)
    if (d == null) throw new IllegalArgumentException(s"no date fields in '$s'")
    val t = Option(ta.query(TemporalQueries.localTime)).getOrElse(LocalTime.MIDNIGHT)
    val inst = LocalDateTime.of(d, t).toInstant(ZoneOffset.UTC)
    inst.getEpochSecond * 1000000L + inst.getNano / 1000
  }
  private def refMillisOfDay(fmt: DateTimeFormatter, s: String): Int = {
    val t = LocalTime.from(fmt.parse(s))
    t.toSecondOfDay * 1000 + t.getNano / 1000000
  }

  // the fast path's failure value as an exception, so that both sides
  // reject alike below
  private def valid(v: Int): Int =
    if (v == FastDateTime.Invalid) throw new IllegalArgumentException("invalid") else v
  private def valid(v: Long): Long =
    if (v == FastDateTime.InvalidMicros) throw new IllegalArgumentException("invalid") else v

  private def agree[A](fast: => A, ref: => A, ctx: String): Unit = {
    val f = try Right(fast) catch { case e: Exception => Left(e.getClass.getSimpleName) }
    val r = try Right(ref) catch { case e: Exception => Left(e.getClass.getSimpleName) }
    (f, r) match {
      case (Right(a), Right(b)) => assert(a == b, s"$ctx: fast=$a ref=$b")
      case (Left(_), Left(_)) => () // both reject — exception type may differ
      case other => fail(s"$ctx: fast/ref disagree on validity: $other")
    }
  }

  private def check(pattern: String, inputs: Seq[String]): Unit = {
    val fastOpt = FastDateTime.compile(pattern)
    assert(fastOpt.isDefined, s"pattern '$pattern' should compile")
    val fast = fastOpt.get
    val fmt = DateTimeFormatter.ofPattern(pattern, Locale.US)
    inputs.foreach { s =>
      agree(valid(fast.parseEpochDay(s)), refEpochDay(fmt, s), s"DATE '$pattern' <- '$s'")
      agree(valid(fast.parseMicros(s)), refMicros(fmt, s), s"TIMESTAMP '$pattern' <- '$s'")
      agree(valid(fast.parseMillisOfDay(s)), refMillisOfDay(fmt, s), s"TIME '$pattern' <- '$s'")
    }
  }

  test("canonical timestamp pattern, valid + adversarial inputs") {
    check("yyyy-MM-dd HH:mm:ss", Seq(
      "2024-02-29 23:59:59", "2023-02-28 00:00:00", "1970-01-01 00:00:00",
      "2007-08-23 21:00:32", "2099-12-31 12:34:56",
      // SMART clamping: day past the month's end
      "2024-04-31 10:00:00", "2024-02-30 10:00:00", "2023-02-29 10:00:00",
      // invalid fields
      "2024-13-01 10:00:00", "2024-00-10 10:00:00", "2024-01-00 10:00:00",
      "2024-01-32 10:00:00", "2024-01-01 24:00:00", "2024-01-01 10:60:00",
      "2024-01-01 10:00:60", "0000-01-01 10:00:00",
      // structural
      "2024-01-01T10:00:00", "2024-01-01 10:00", "2024-01-01 10:00:00x",
      "2024-1-01 10:00:00", "24-01-01 10:00:00", "", "garbage"))
  }

  test("date-only patterns") {
    check("yyyy-MM-dd", Seq(
      "2024-06-15", "2024-02-29", "2023-02-29", "2024-04-31",
      "2024-06-15 ", "2024/06/15", "9999-12-31", "0001-01-01", "0000-12-31"))
    check("yyMMdd", Seq( // reference README's MySQL format
      "070823", "000101", "991231", "070230", "071301", "0708", "07082a"))
    check("dd/MM/yyyy", Seq("23/08/2007", "31/04/2024", "29/02/2024", "30/02/2001"))
  }

  test("time-only patterns") {
    check("HH:mm:ss", Seq(
      "00:00:00", "23:59:59", "21:00:32", "24:00:00", "24:30:00",
      "24:00:01", "25:00:00", "10:60:00",
      "10:00:60", "1:00:00", "10:00", "10:00:00.5"))
    check("HH:mm", Seq("23:59", "00:00", "24:00", "09:60", "0900"))
  }

  test("partial-time timestamp pattern: missing fields resolve to zero") {
    check("yyyy-MM-dd HH:mm", Seq(
      "2024-06-15 10:30", "2024-06-15 00:00", "2024-06-15 24:00",
      "2024-12-31 24:00", "2024-06-15 24:01"))
    check("yyyyMMddHHmmss", Seq("20240615103045", "20240229235959", "20241301000000"))
  }

  test("Apache timestamps: MMM month names and the Z offset, the formatter's way") {
    check("dd/MMM/yyyy:HH:mm:ss Z", Seq(
      "10/Oct/2000:13:55:36 -0700", "01/Mar/2024:00:00:00 +0000", "29/Feb/2024:23:59:59 -0000",
      "15/Sep/2024:10:00:00 +1800", "15/May/2024:10:00:00 -1800", "15/Dec/2024:10:00:00 +0545",
      // Locale.US short names, case-sensitive
      "01/mar/2024:00:00:00 +0000", "01/MAR/2024:00:00:00 +0000", "01/Sept/2024:00:00:00 +0000",
      "01/Foo/2024:00:00:00 +0000", "01/Ma/2024:00:00:00 +0000",
      // the offset: a sign and four digits, minutes <= 59, magnitude <= 18:00
      "01/Mar/2024:00:00:00 +00", "01/Mar/2024:00:00:00 +00:00", "01/Mar/2024:00:00:00 Z",
      "01/Mar/2024:00:00:00 +0060", "01/Mar/2024:00:00:00 +1900", "01/Mar/2024:00:00:00 +1801",
      "01/Mar/2024:00:00:00 -1801", "01/Mar/2024:00:00:00 0000", "01/Mar/2024:00:00:00 +0000 x",
      "01/Mar/2024:00:00:00 +000a", "01/Mar/2024:00:00:00 ",
      // SMART clamping and the hour-24 roll
      "31/Apr/2024:10:00:00 +0000", "30/Feb/2023:10:00:00 +0000", "31/Dec/2024:24:00:00 +0000",
      "01/Jan/2024:24:00:01 +0000"))
    check("MMM dd yyyy", Seq("Jan 01 2024", "Jun 31 2024", "jun 01 2024", "June 01 2024"))
    check("dd MMM yy HH:mm Z", Seq("01 Nov 24 10:30 +0100", "01 Nov 24 10:30 +01"))
  }

  test("round-trip sweep: every day of a leap year and every second shape") {
    val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss", Locale.US)
    val fast = FastDateTime.compile("yyyy-MM-dd HH:mm:ss").get
    var d = LocalDate.of(2024, 1, 1)
    var i = 0
    while (d.getYear == 2024) {
      val t = LocalTime.of(i % 24, (i * 7) % 60, (i * 13) % 60)
      val s = LocalDateTime.of(d, t).format(fmt)
      assert(valid(fast.parseMicros(s)) == refMicros(fmt, s), s)
      d = d.plusDays(1)
      i += 1
    }
  }

  test("unsupported patterns fall back (compile returns None)") {
    for (p <- Seq("yyyy-MM-dd'T'HH:mm:ss", "yyyy-M-d", "MMMM dd yyyy",
        "yyyy-MM-dd HH:mm:ss.SSS", "HH:mm:ss z", "yyyy-MM", "mm:ss",
        "dd/MMM/yyyy:HH:mm:ss X", "dd/MMM/yyyy:HH:mm:ss XX", "dd/MMM/yyyy:HH:mm:ss ZZZZ",
        "HH:mm:ss O", "dd/MMM/yyyy:HH:mm:ss VV", "yyyy-MM-dd Z Z")) {
      assert(FastDateTime.compile(p).isEmpty, p)
    }
  }

  test("documented divergence: signed wide years under yyyy error-route on the fast path") {
    val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd", Locale.US)
    val fast = FastDateTime.compile("yyyy-MM-dd").get
    // formatter: yyyy is appendValue(YEAR_OF_ERA, 4, 19, EXCEEDS_PAD) —
    // an explicitly-signed wide year parses
    assert(refEpochDay(fmt, "+12345-01-01") ==
      LocalDate.of(12345, 1, 1).toEpochDay.toInt)
    // fast path: fixed width — throws, so the line error-routes (the
    // deviation FastDateTime's scaladoc documents)
    assert(fast.parseEpochDay("+12345-01-01") == FastDateTime.Invalid)
    assert(fast.parseMicros("+12345-01-01") == FastDateTime.InvalidMicros)
  }

  // ---------------------------------------------------------------- fuzz
  // ScalaCheck differential property: for random supported patterns ×
  // random inputs (valid shapes, boundary fields like hour 24 / year
  // 0000, width±1 mutations, sign injections, garbage), the fast path and
  // the formatter agree on value-or-reject. The one allowed asymmetry is
  // the documented signed/wide-year deviation above: formatter succeeds,
  // fast rejects, and the input provably carries a sign or an over-wide
  // digit run under a `yyyy` pattern.

  private val datePats = Seq("yyyy-MM-dd", "yyyy/MM/dd", "yyyyMMdd",
    "dd.MM.yyyy", "yyMMdd", "MM-dd-yyyy")
  private val timePats = Seq("HH:mm:ss", "HH:mm", "HHmmss")
  private val allPats: Seq[String] = datePats ++ timePats ++
    (for (d <- datePats; t <- timePats) yield s"$d $t")

  import org.scalacheck.{Gen, Prop}

  /** Digits for one pattern token, biased toward the boundaries the SMART
    * resolver treats specially. */
  private def tokenGen(c: Char, width: Int): Gen[String] = {
    val uniform = Gen.listOfN(width, Gen.numChar).map(_.mkString)
    c match {
      case 'H' => Gen.frequency(
        6 -> uniform, 2 -> Gen.const("24"),
        2 -> Gen.choose(0, 23).map(v => f"$v%02d"))
      case 'y' if width == 4 => Gen.frequency(
        6 -> uniform, 1 -> Gen.const("0000"),
        3 -> Gen.choose(1, 9999).map(v => f"$v%04d"))
      case 'd' => Gen.frequency(
        5 -> uniform, 2 -> Gen.oneOf("29", "30", "31"),
        3 -> Gen.choose(1, 28).map(v => f"$v%02d"))
      case 'M' if width == 3 => Gen.frequency(
        8 -> Gen.oneOf(MonthNames), 2 -> Gen.oneOf("mar", "MAR", "Sept", "Foo", "Ma"))
      case 'Z' => Gen.frequency(
        5 -> (for (sg <- Gen.oneOf("+", "-"); h <- Gen.choose(0, 19); m <- Gen.choose(0, 61))
          yield f"$sg$h%02d$m%02d"),
        2 -> Gen.oneOf("+0000", "-0000", "+1800", "-1800", "+1801", "+0060", "+1900"),
        1 -> Gen.oneOf("Z", "+00", "+00:00", "0000"))
      case _ => uniform
    }
  }

  /** An input shaped like `pattern` (per-token digits, literal separators
    * copied), optionally mutated (insert/delete/replace — including '+'
    * injection, the width±1 and sign classes). */
  private def inputGen(pattern: String): Gen[String] = {
    val tokens = scala.collection.mutable.ArrayBuffer.empty[Gen[String]]
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (c.isLetter) {
        var j = i
        while (j < pattern.length && pattern.charAt(j) == c) j += 1
        tokens += tokenGen(c, j - i)
        i = j
      } else { tokens += Gen.const(c.toString); i += 1 }
    }
    val shaped = Gen.sequence[List[String], String](tokens.toList).map(_.mkString)
    val mutated = for {
      base <- shaped
      pos <- Gen.choose(0, math.max(0, base.length - 1))
      ch <- Gen.oneOf("0123456789+- :/.x".toSeq)
      kind <- Gen.choose(0, 2)
    } yield kind match {
      case 0 => base.patch(pos, ch.toString, 0) // insert (width+1 / sign)
      case 1 if base.nonEmpty => base.patch(pos, "", 1) // delete (width-1)
      case _ => base.updated(pos, ch) // substitute
    }
    Gen.frequency(5 -> shaped, 4 -> mutated,
      1 -> Gen.listOfN(12, Gen.asciiPrintableChar).map(_.mkString))
  }

  private def maxRun(s: String, p: Char => Boolean): Int = {
    var best = 0; var run = 0
    s.foreach { c =>
      if (p(c)) { run += 1; best = math.max(best, run) } else run = 0
    }
    best
  }

  private val MonthNames = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

  test("forAll differential fuzz over MMM / Z patterns: agree on value-or-reject") {
    val pats = Seq("dd/MMM/yyyy:HH:mm:ss Z", "MMM dd yyyy HH:mm:ss", "dd-MMM-yy Z", "HH:mm:ss Z")
    val fasts = pats.map(p => p -> FastDateTime.compile(p).get).toMap
    val fmts = pats.map(p => p -> DateTimeFormatter.ofPattern(p, Locale.US)).toMap
    val genCase = for { p <- Gen.oneOf(pats); s <- inputGen(p) } yield (p, s)
    val prop = Prop.forAllNoShrink(genCase) { case (p, s) =>
      val fast = fasts(p)
      val fmt = fmts(p)
      def agreeOn[A](fa: => A, ra: => A): Boolean = {
        val f = try Some(fa) catch { case _: Exception => None }
        val r = try Some(ra) catch { case _: Exception => None }
        // the documented signed/wide-year deviation, in the text before
        // the trailing offset
        val head = if (p.endsWith("Z")) s.dropRight(5) else s
        f == r || (f.isEmpty && p.contains("yyyy") &&
          (head.contains('+') || maxRun(head, _.isDigit) > 4))
      }
      agreeOn(valid(fast.parseEpochDay(s)), refEpochDay(fmt, s)) &&
        agreeOn(valid(fast.parseMicros(s)), refMicros(fmt, s)) &&
        agreeOn(valid(fast.parseMillisOfDay(s)), refMillisOfDay(fmt, s))
    }
    val params = org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(4000)
      .withInitialSeed(org.scalacheck.rng.Seed(20261019L))
    val res = org.scalacheck.Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  test("forAll differential fuzz: fast and formatter agree on value-or-reject") {
    val fasts = allPats.map(p => p -> FastDateTime.compile(p).get).toMap
    val fmts = allPats.map(p => p -> DateTimeFormatter.ofPattern(p, Locale.US)).toMap
    val genCase = for {
      p <- Gen.oneOf(allPats)
      s <- inputGen(p)
    } yield (p, s)
    val prop = Prop.forAllNoShrink(genCase) { case (p, s) =>
      val fast = fasts(p)
      val fmt = fmts(p)
      def sides[A](fa: => A, ra: => A): Either[Unit, (Option[A], Option[A])] = {
        val f = try Some(fa) catch { case _: Exception => None }
        val r = try Some(ra) catch { case _: Exception => None }
        // allowed asymmetry: the documented signed/wide-year deviation —
        // a '+' sign, or a digit run longer than the pattern's widest
        // adjacent token run (i.e. an over-wide year; adjacent patterns
        // like yyyyMMdd legitimately have 8-digit runs)
        val allowedDivergence = f.isEmpty && r.isDefined && p.contains("yyyy") &&
          (s.contains('+') || maxRun(s, _.isDigit) > maxRun(p, _.isLetter))
        if (allowedDivergence) Left(()) else Right((f, r))
      }
      Seq(
        sides(valid(fast.parseEpochDay(s)), refEpochDay(fmt, s)),
        sides(valid(fast.parseMicros(s)), refMicros(fmt, s)),
        sides(valid(fast.parseMillisOfDay(s)), refMillisOfDay(fmt, s))
      ).forall {
        case Left(())      => true
        case Right((f, r)) => f == r // same value, or both rejected (None)
      }
    }
    val params = org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(4000)
      .withInitialSeed(org.scalacheck.rng.Seed(20260814L))
    val res = org.scalacheck.Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }
}
