package graft.log

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.regex.Pattern

import org.scalatest.funsuite.AnyFunSuite

/** Differential equivalence of [[LineKernel]] against `Matcher.find()`:
  * for generated subset patterns and lines (matching samples, near-misses,
  * `\r`, `\u000B`, trailing whitespace), match/no-match and every group
  * span agree; every shipped pattern compiles; every construct outside the
  * subset falls back; nothing the kernel accepts is a risky pattern. */
class LineKernelSpec extends AnyFunSuite {

  // (regex text, characters it matches that lines are drawn from)
  private val Atoms: IndexedSeq[(String, String)] = IndexedSeq(
    "a" -> "a", "b" -> "b", " " -> " ", "-" -> "-", ":" -> ":", "\"" -> "\"",
    "\\[" -> "[", "\\]" -> "]", "\\." -> ".", "\\t" -> "\t",
    "\\d" -> "0379", "\\D" -> "ab -:\"", "\\s" -> " \t\u000B\f", "\\S" -> "ab09-:\"[]",
    "\\w" -> "ab09_", "\\W" -> " -:\"[]", "." -> "ab 0-\t", "[^\"]" -> "ab 0-\t",
    "[a-c]" -> "abc", "[^\\]]" -> "ab 0[", "[]a]" -> "]a", "[0-9:]" -> "09:", "[^ ]" -> "ab0-:")
  private val Quants = IndexedSeq("", "", "", "?", "*", "+", "{2}", "{1,}", "{1,3}", "{0,2}")
  private val Noise = "ab -:\"[]._09\t\r\u000B\f\n"

  private def javaFind(p: Pattern, line: String): Option[Seq[(Int, Int)]] = {
    val m = p.matcher(line)
    if (!m.find()) None else Some((1 to m.groupCount()).map(g => (m.start(g), m.end(g))))
  }

  private def kernelFind(k: LineKernel, line: String): Option[Seq[(Int, Int)]] = {
    // the line sits at offset 3 of a larger buffer: spans are absolute
    val b = ("xyz" + line + "!!").getBytes(ISO_8859_1)
    val spans = new Array[Int](2 * k.groupCount)
    if (!k.find(b, 3, line.length, spans)) None
    else Some((0 until k.groupCount).map(g => (spans(2 * g) - 3, spans(2 * g + 1) - 3)))
  }

  /** A random subset pattern and a generator of lines it matches. */
  private def randomPattern(rnd: scala.util.Random): (String, () => String) = {
    val n = 1 + rnd.nextInt(6)
    val head = IndexedSeq.fill(n)((Atoms(rnd.nextInt(Atoms.size)), Quants(rnd.nextInt(Quants.size))))
    // a quarter end in the MySQL preset's shape: a variable atom, then `.+`
    val parts =
      if (rnd.nextInt(4) != 0) head
      else head ++ Seq((Atoms(rnd.nextInt(Atoms.size)), Seq("+", "*", "{1,3}")(rnd.nextInt(3))),
        ("." -> "ab 0-\t", "+"))
    val sb = new StringBuilder
    if (rnd.nextInt(3) == 0) sb.append('^')
    var open = false
    parts.foreach { case ((re, _), q) =>
      if (!open && rnd.nextInt(3) == 0) { sb.append('('); open = true }
      sb.append(re).append(q)
      if (open && rnd.nextInt(2) == 0) { sb.append(')'); open = false }
    }
    if (open) sb.append(')')
    val sample = () => {
      val out = new StringBuilder
      parts.foreach { case ((_, chars), q) =>
        val reps = q match {
          case "" => 1
          case "?" => rnd.nextInt(2)
          case "*" => rnd.nextInt(4)
          case "+" | "{1,}" => 1 + rnd.nextInt(3)
          case "{2}" => 2
          case "{1,3}" => 1 + rnd.nextInt(3)
          case _ => rnd.nextInt(3)
        }
        (0 until reps).foreach(_ => out.append(chars(rnd.nextInt(chars.length))))
      }
      out.toString
    }
    (sb.toString, sample)
  }

  private def lines(rnd: scala.util.Random, sample: () => String): Seq[String] = {
    def noise(k: Int) = Seq.fill(k)(Noise(rnd.nextInt(Noise.length))).mkString
    Seq.fill(6)(sample()) ++
      Seq.fill(6) { // near-misses: one character replaced, dropped or inserted
        val s = sample()
        if (s.isEmpty) noise(2)
        else {
          val i = rnd.nextInt(s.length)
          rnd.nextInt(3) match {
            case 0 => s.updated(i, Noise(rnd.nextInt(Noise.length)))
            case 1 => s.patch(i, Nil, 1)
            case _ => s.patch(i, noise(1), 0)
          }
        }
      } ++
      Seq(noise(1 + rnd.nextInt(3)) + sample() + noise(rnd.nextInt(3)), // embedded
        sample() + " \t", sample() + "\r", sample() + "\u000B", "", noise(12))
  }

  test("generated subset patterns: match and every group span agree with Matcher.find") {
    val rnd = new scala.util.Random(20261019L)
    var accepted = 0
    var giveBack = 0
    var tried = 0
    while (accepted < 1500) {
      tried += 1
      val (p, sample) = randomPattern(rnd)
      LineKernel.compile(p).foreach { k =>
        accepted += 1
        if (p.endsWith(".+)") || p.endsWith(".+")) giveBack += 1
        val jp = Pattern.compile(p)
        assert(k.groupCount == jp.matcher("").groupCount(), p)
        assert(!LinePattern.riskyPattern(p), s"kernel-accepted pattern is risky: $p")
        lines(rnd, sample).foreach { l =>
          assert(kernelFind(k, l) == javaFind(jp, l),
            s"pattern '$p' line '${l.flatMap(c => if (c < ' ') f"\\x${c.toInt}%02x" else c.toString)}'")
        }
      }
    }
    // the generator must reach the interesting shapes, not only the trivial ones
    assert(accepted.toDouble / tried > 0.2, s"$accepted of $tried accepted")
    assert(giveBack > 20, s"only $giveBack final-.+ patterns")
  }

  test("the final .+ gives back exactly as the backtracking engine does") {
    val k = LineKernel.compile("(\\d+)\\s+(.+)").get
    val jp = Pattern.compile("(\\d+)\\s+(.+)")
    for (l <- Seq("12   x", "12   ", "12 \t\r", "12 \r ", "12\t\u000B", "12 ", "12", "a 12  b  ", "12 \n x"))
      assert(kernelFind(k, l) == javaFind(jp, l), l)
  }

  test("every preset, the default pattern and perfbench's app pattern compile") {
    val shipped = LogOptions.Presets.values.map(_("pattern")).toSeq ++ Seq(
      LogOptions.DefaultPattern,
      "^(\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}) (\\w+) (\\S+) (.*)")
    shipped.foreach(p => assert(LineKernel.compile(p).isDefined, p))
    // and they take the kernel in the scan: no step budget engages
    shipped.foreach(p => assert(
      LinePattern.effectiveBudget(p, LogOptions.DefaultRegexMaxSteps, explicit = false) == 0L, p))
  }

  test("constructs outside the subset fall back to java.util.regex") {
    val rejected = Seq(
      "(a|b)", "a|b", "(a)+", "(a)?", "((a))", "(?:a)", "(?i)a", "(?<n>a)", "a(?=b)",
      "a*?", "a+?", "a++", "a{2,}?", "\\bfoo", "(\\w+) \\1", "a$", "\\Qa\\E", "\\p{Alpha}+",
      "\\x41", "\\u0041", "[a-z&&[^x]]", "[[a]]", "é(\\w+)",
      // overlapping variable atoms: the greedy run is not the only candidate
      "\\S+\\S", ".*x", "(\\d+)(\\d+)", "a*a", "\\w+ ?\\w", "(.*) (.*)", "\\s+x?(.+)",
      "\\d+(.+)x")
    rejected.foreach { p =>
      Pattern.compile(p) // every one is a valid regex
      assert(LineKernel.compile(p).isEmpty, p)
    }
  }

  test("non-ASCII pattern text is rejected, ASCII patterns over any class compile") {
    assert(LineKernel.compile("(\\w+)é").isEmpty)
    assert(LineKernel.compile("([^\"]*)\"").isDefined)
    assert(LineKernel.compile("").isDefined)
  }
}
