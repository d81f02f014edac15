package graft

import org.scalacheck.{Gen, Prop}

import graft.log.LinePattern

/** Fuzz for the backtracking detector and the budgeted matcher.
  *
  * 1. Totality: [[LinePattern.riskyPattern]] is a hand-rolled scanner that
  *    runs on EVERY pattern at load time — it must terminate and never
  *    throw on any compile-valid pattern a grammar can produce (groups,
  *    classes, ranges, escapes, quantifiers, alternation, anchors).
  * 2. Wrapper transparency: for benign patterns, `findBudgeted` under a
  *    budget must agree with the plain matcher on BOTH the match verdict
  *    and every extracted group — claiming otherwise would corrupt rows
  *    whenever the detector (or an explicit option) engages the wrapper.
  */
class RegexDetectorFuzzSpec extends SparkSpec {

  private val genAtom: Gen[String] = Gen.oneOf(
    Gen.alphaNumChar.map(_.toString),
    Gen.oneOf("\\d", "\\w", "\\s", "\\S", "\\D", "\\W"),
    Gen.oneOf(".", "\\.", "\\[", "\\]", "\\n", "\\t"),
    Gen.oneOf("[abc]", "[^abc]", "[a-z]", "[^0-9\\]]", "[+*]", "[]a]"))
  private val genQuant: Gen[String] =
    Gen.oneOf("", "", "*", "+", "?", "{2}", "{1,3}", "*?", "++", "*+")
  private val genPiece: Gen[String] =
    for { a <- genAtom; q <- genQuant } yield a + q
  private def genSeq(depth: Int): Gen[String] =
    for {
      n <- Gen.choose(1, 4)
      parts <- Gen.listOfN(n, genTerm(depth))
    } yield parts.mkString
  private def genTerm(depth: Int): Gen[String] =
    if (depth <= 0) genPiece
    else Gen.frequency(
      4 -> genPiece,
      2 -> (for { b <- genSeq(depth - 1); q <- genQuant } yield s"($b)$q"),
      1 -> (for { b <- genSeq(depth - 1); q <- genQuant } yield s"(?:$b)$q"),
      1 -> (for { l <- genSeq(depth - 1); r <- genSeq(depth - 1) } yield s"($l|$r)"))
  private val genPattern: Gen[String] =
    for {
      anchor <- Gen.oneOf("", "^")
      body <- genSeq(2)
      end <- Gen.oneOf("", "$")
    } yield anchor + body + end

  test("riskyPattern: total (terminates, no throw) on any compile-valid pattern") {
    val prop = Prop.forAllNoShrink(genPattern) { p =>
      val compiles = try { java.util.regex.Pattern.compile(p); true }
        catch { case _: Exception => false }
      !compiles || {
        LinePattern.riskyPattern(p) // must not throw
        true
      }
    }
    val params = org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(500)
      .withInitialSeed(org.scalacheck.rng.Seed(20260815L))
    val res = org.scalacheck.Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  test("findBudgeted: verdict AND groups identical to the plain matcher") {
    val genLine: Gen[String] = for {
      n <- Gen.choose(0, 24)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', '1', '2', ' ', '.', '['))
    } yield cs.mkString
    val buf = new LinePattern.BudgetedChars
    // budget 2M: a benign unanchored find on a 24-char line costs ~10k
    // reads (150x margin); only genuine exponential/high-poly blowups can
    // trip it — and the GUARDED matcher runs FIRST so such a pattern
    // trips in ms instead of hanging the plain matcher
    val Budget = 2000000L
    val prop = Prop.forAllNoShrink(genPattern, genLine) { (p, line) =>
      val compiled = try Some(java.util.regex.Pattern.compile(p))
        catch { case _: Exception => None }
      compiled.forall { pat =>
        val guarded = pat.matcher("")
        val guardedFound: Option[Boolean] =
          try Some(LinePattern.findBudgeted(guarded, buf, line, Budget, s"'$p'"))
          catch { case _: org.apache.spark.SparkException => None }
        guardedFound match {
          case None =>
            // tripped the budget on a 24-char line: that is a genuine
            // blowup, and the static detector must have flagged it
            LinePattern.riskyPattern(p)
          case Some(gf) =>
            val plain = pat.matcher(line)
            val pf = plain.find()
            gf == pf && (!pf ||
              (0 to plain.groupCount).forall(g => plain.group(g) == guarded.group(g)))
        }
      }
    }
    val params = org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(500)
      .withInitialSeed(org.scalacheck.rng.Seed(20260815L))
    val res = org.scalacheck.Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }
}
