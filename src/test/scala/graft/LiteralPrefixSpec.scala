package graft

import java.util.regex.Pattern

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.log.{LinePattern, LogFrame, LogOptions}

/** Fast-reject literal prefix (round-11 scan optimization): the extracted
  * literal must be a NECESSARY condition for `Matcher.find` — soundness is
  * "reject implies no match", never the other way around. An unsound
  * literal would silently route matching lines to `unmatched_lines`.
  */
class LiteralPrefixSpec extends AnyFunSuite {

  test("extraction: anchored, unanchored, escapes, quantifier backoff") {
    assert(LinePattern.literalPrefix("^ERROR (\\d+)") == Some(("ERROR ", true)))
    assert(LinePattern.literalPrefix("ERROR (\\d+)") == Some(("ERROR ", false)))
    // escaped metacharacter is part of the literal
    assert(LinePattern.literalPrefix("^\\[GC (\\d+)") == Some(("[GC ", true)))
    // the char before a quantifier is NOT required (abc* needs only "ab")
    assert(LinePattern.literalPrefix("abc* (\\d+)") == Some(("ab", false)))
    assert(LinePattern.literalPrefix("abc+d") == Some(("ab", false)))
    assert(LinePattern.literalPrefix("abc?d") == Some(("ab", false)))
    assert(LinePattern.literalPrefix("abc{2}d") == Some(("ab", false)))
    // escaped-meta char before a quantifier backs off too
    assert(LinePattern.literalPrefix("a\\.?b") == Some(("a", false)))
  }

  test("extraction bails where a literal is not provably required") {
    assert(LinePattern.literalPrefix("(\\d{6})\\s(\\w+)").isEmpty) // starts with group
    assert(LinePattern.literalPrefix("^(\\S+) (\\S+)").isEmpty)
    assert(LinePattern.literalPrefix("\\d+ INFO").isEmpty) // escape class first
    assert(LinePattern.literalPrefix("abc|def").isEmpty) // alternation voids "required"
    assert(LinePattern.literalPrefix("ERROR|WARN (\\d+)").isEmpty)
    assert(LinePattern.literalPrefix("(?i)error (\\d+)").isEmpty) // flags
    assert(LinePattern.literalPrefix("^").isEmpty)
    assert(LinePattern.literalPrefix(".*").isEmpty)
    assert(LinePattern.literalPrefix("\\Qa+b\\E rest").isEmpty) // \Q quoting unsupported
  }

  test("soundness: literal absent (or not at start when anchored) => find() cannot match") {
    val pats = Seq("^ERROR (\\d+)", "ERROR (\\d+)", "^\\[GC (\\d+)", "abc* (\\d+)",
      "a\\.?b(\\w+)", "WARN: (.+)", "^sshd\\[(\\d+)\\]")
    val word = Gen.nonEmptyListOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.oneOf(' ', '[', ']', ':', '.', 'E', 'R', 'O')))
      .map(_.take(40).mkString)
    def sample(seed: Long): String = word.apply(Gen.Parameters.default, Seed(seed)).get
    for (p <- pats) {
      val (lit, anchored) = LinePattern.literalPrefix(p).get
      val re = Pattern.compile(p)
      val lines = (1L to 500L).map(s => sample(s * 7 + p.hashCode)) ++
        // adversarial: the literal embedded mid-line, prefixes of it, case twists
        Seq(s"x$lit 123", lit.drop(1) + " 123", lit.toLowerCase + " 123",
          s"$lit 123", s"  $lit 123")
      for (line <- lines) {
        val pass = if (anchored) line.startsWith(lit) else line.contains(lit)
        if (!pass) assert(!re.matcher(line).find(),
          s"UNSOUND: pattern '$p' lit '$lit' rejected matching line '$line'")
      }
    }
  }

  test("multi-line framing with a literal-start recordStartPattern") {
    val spark = SparkTestBase.spark
    val dir = java.nio.file.Files.createTempDirectory("graft_litprefix_ml")
    java.nio.file.Files.writeString(dir.resolve("a.log"),
      "ERROR 1 boom\n  at F.m(F.java:1)\nERROR 2 again\n")
    val out = spark.read.format("log")
      .option("pattern", "(?s)ERROR (\\d+) (.+)")
      .option("recordStartPattern", "^ERROR ")
      .option("fieldNames", "code, body").option("dataTypes", "INT, VARCHAR")
      .load(dir.toString)
      .orderBy("code").collect()
    assert(out.length == 2)
    assert(out(0).getAs[String]("body") == "boom\n  at F.m(F.java:1)")
    assert(out(1).getAs[String]("body") == "again")
  }

  test("end-to-end: fast-reject routes unmatched lines identically (both parse paths)") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val opts = LogOptions.fromMap(Map(
      "pattern" -> "^ERROR (\\d+) (.+)",
      "fieldNames" -> "code, msg", "dataTypes" -> "INT, VARCHAR"))
    val lines = Seq("ERROR 42 boom", "ERROR 7 fine", "WARN 3 warn",
      "error 1 lower", "xERROR 9 embedded", "ERROR not_int text", "")
    def verify(out: Array[org.apache.spark.sql.Row]): Unit = {
      assert(out.length == 6) // blank dropped
      val matched = out.filter(_.getAs[String]("unmatched_lines") == null)
      // "ERROR not_int text" survives the literal pre-check but fails the
      // regex — it must land in unmatched_lines exactly as before
      assert(matched.map(_.getAs[String]("msg")).toSet == Set("boom", "fine"))
      assert(out.count(_.getAs[String]("unmatched_lines") != null) == 4)
    }
    // expression path (ParseLogLine codegen)
    verify(LogFrame.parse(lines.toDF("value"), opts).collect())
    // DSV2 reader path (LineParser)
    val dir = java.nio.file.Files.createTempDirectory("graft_litprefix")
    java.nio.file.Files.writeString(dir.resolve("a.log"), lines.mkString("\n"))
    verify(spark.read.format("log")
      .option("pattern", "^ERROR (\\d+) (.+)")
      .option("fieldNames", "code, msg").option("dataTypes", "INT, VARCHAR")
      .load(dir.toString).collect())
  }
}
