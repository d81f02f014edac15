package graft

import java.io.File
import java.nio.file.Files

/** The `regexMaxSteps` kill switch ([[graft.log.LinePattern.findBudgeted]]):
  * a catastrophically-backtracking user pattern on adversarial input must
  * fail in milliseconds with the pattern, line and file named — not stall
  * a scan task for hours (the reference shares the hazard,
  * LogRecordReader.java:224; this is a documented improvement like the
  * 4 KB fix). The tests COMPLETING at all is the core assertion: the
  * poison lines below cost ~2^45 unguarded backtracking steps.
  */
class RegexBudgetSpec extends SparkSpec {

  private def writeLog(lines: Seq[String]): File = {
    val dir = Files.createTempDirectory("regexbudget").toFile
    Files.writeString(new File(dir, "a.log").toPath, lines.mkString("\n"))
    dir
  }

  private def chain(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: chain(t.getCause)

  test("catastrophic backtracking fails fast with pattern, line and file context") {
    // (.*a){12}x on a long all-'a' line without x: exponential backtracking
    // on THIS JVM (probed: n=20/25/28 take 0.17/1.0/5.2 s; n=45 is days).
    // Classic (a+)+x variants are collapsed by Java 17's loop optimizer
    // and no longer backtrack — they make a useless poison here
    val dir = writeLog(Seq("1 INFO", "a" * 45 + "!"))
    val df = spark.read.format("log")
      .option("pattern", "((.*a){12}x)")
      .option("schema", "g VARCHAR, tail VARCHAR")
      .load(dir.getAbsolutePath)
    val t0 = System.nanoTime()
    // count(*) takes the no-regex shortcut by design — project a field
    val e = intercept[Exception] { df.select("g").collect() }
    val secs = (System.nanoTime() - t0) / 1e9
    val msgs = chain(e).flatMap(t => Option(t.getMessage))
    assert(msgs.exists(_.contains("regexMaxSteps")), msgs.mkString(" | "))
    assert(msgs.exists(_.contains("a.log")), msgs.mkString(" | "))
    assert(msgs.exists(_.contains("(.*a){12}x")), msgs.mkString(" | "))
    assert(secs < 60.0, s"budget tripped but took ${secs}s")
  }

  test("overlapping non-dot chain (round-12 blind class) trips the budget by default") {
    // \S*a x12 has no quantified group and no dot atom — invisible to the
    // round-12 detector — yet backtracks O(n^12): probed 7.0 s at n=30 on
    // this JVM, far worse at 45. The overlap rule must auto-engage the
    // budget with no option set.
    val dir = writeLog(Seq("1 INFO", "a" * 45 + "!"))
    val df = spark.read.format("log")
      .option("pattern", "(" + "\\S*a" * 12 + "x)")
      .option("schema", "g VARCHAR")
      .load(dir.getAbsolutePath)
    val t0 = System.nanoTime()
    val e = intercept[Exception] { df.select("g").collect() }
    val secs = (System.nanoTime() - t0) / 1e9
    val msgs = chain(e).flatMap(t => Option(t.getMessage))
    assert(msgs.exists(_.contains("regexMaxSteps")), msgs.mkString(" | "))
    assert(secs < 60.0, s"budget tripped but took ${secs}s")
  }

  test("recordStartPattern runs under the same budget") {
    val dir = writeLog(Seq("1 START ok", "a" * 45 + "!"))
    val df = spark.read.format("log")
      .option("pattern", "(\\d+) START (\\w+)")
      .option("schema", "id INT, name VARCHAR")
      .option("recordStartPattern", "(.*a){12}x")
      .load(dir.getAbsolutePath)
    val e = intercept[Exception] { df.select("id").collect() }
    val msgs = chain(e).flatMap(t => Option(t.getMessage))
    assert(msgs.exists(m => m.contains("regexMaxSteps") && m.contains("recordStartPattern")),
      msgs.mkString(" | "))
  }

  test("regexMaxSteps=0 disables the guard; benign parses are identical either way") {
    val dir = writeLog(Seq("1 INFO", "2 WARN", "not matching"))
    def read(extra: (String, String)*) = {
      val base = spark.read.format("log")
        .option("pattern", "(\\d+) (\\w+)")
        .option("schema", "id INT, level VARCHAR")
      extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }
        .load(dir.getAbsolutePath)
        .select("id", "level", "unmatched_lines").collect()
        .map(r => (r.get(0), r.get(1), r.get(2))).toSeq
    }
    val guarded = read()
    val unguarded = read("regexMaxSteps" -> "0")
    val tight = read("regexMaxSteps" -> "1") // +100/char headroom covers benign lines
    assert(guarded == unguarded && guarded == tight, s"$guarded vs $unguarded vs $tight")
    assert(guarded.count(_._1 != null) == 2)
  }

  test("parse_log_line (SQL surface) shares the kill switch, both eval paths") {
    import spark.implicits._
    val df = Seq("1 INFO", "a" * 45 + "!").toDF("value")
    // codegen path
    val e = intercept[Exception] {
      df.select(graft.log.LogFrame.parseLogLine(org.apache.spark.sql.functions.col("value"),
        "((.*a){12}x)")).collect()
    }
    assert(chain(e).flatMap(t => Option(t.getMessage))
      .exists(m => m.contains("regexMaxSteps") && m.contains("parse_log_line")),
      chain(e).flatMap(t => Option(t.getMessage)).mkString(" | "))
    // interpreted path (nullSafeEval), same contract
    val expr = graft.log.ParseLogLine(
      org.apache.spark.sql.catalyst.expressions.Literal("a" * 45 + "!"), "((.*a){12}x)")
    val e2 = intercept[Exception] { expr.eval(null) }
    assert(Option(e2.getMessage).exists(_.contains("regexMaxSteps")), e2.getMessage)
    // benign pattern: both paths still parse (plain zero-overhead route)
    val ok = df.select(graft.log.LogFrame.parseLogLine(
      org.apache.spark.sql.functions.col("value"), "(\\d+) (\\w+)").as("g")).collect()
    assert(ok.count(!_.isNullAt(0)) == 1)
  }

  test("riskyPattern: flags the catastrophic class, clears every benign preset") {
    import graft.log.{LinePattern, LogOptions}
    // structurally backtracking-capable: quantified group with a
    // quantifier or alternation in its body
    for (p <- Seq("(a+)+x", "((?:a+)+x)", "(.*a){12}x", "(a|aa)+x", "(a?)+x",
                  "((a+)b)*", "((\\S+)?x)+",
                  // inlined dot-quantifier chains: no quantified group,
                  // still O(n^k) — probed 6.8 s at k=12/n=30 on this JVM
                  ".*a.*a.*ax", "(.+)=(.+):(.+);(.*)"))
      assert(LinePattern.riskyPattern(p), s"should flag: $p")
    // overlapping NON-dot chains: the round-12 blind class. Probed on this
    // JVM: \S*a x8 → 5.0 s at n=40, [^"]*x x3 → 8.9 s at n=400,
    // \w*a x8 → 4.7 s at n=40 — same overlap structure as the dot chain
    for (p <- Seq("\\S*a" * 8 + "x", "\\S*a" * 12 + "x",
                  "[^\"]*x[^\"]*x[^\"]*xy",
                  "\\w*a\\w*a\\w*ax", "\\D*a\\D*a\\D*ax",
                  "(\\S+):(\\S+):(\\S+)x", // ':' is non-space → ambiguous splits
                  "a*aa*aa*ax", // quantified literals overlapping their successor
                  "[ab]*a[ab]*a[ab]*ax")) // narrow class, still overlapping
      assert(LinePattern.riskyPattern(p), s"should flag (overlap chain): $p")
    // review-found blind classes (round 13, each probed before fixing):
    for (p <- Seq(
        "\\S{1,}a" * 8 + "x", // {m,} == + (0.97 s at n=40)
        "\\S{0,99}a" * 8 + "x", // bounded-variable {m,n} (5.3 s at n=40)
        "(.)*a" * 12 + "x", // group-wrapped wildcard chain (HANGS at n=30)
        "(\\S)*a" * 12 + "x", // same, escape-class body
        "([^b])*a([^b])*a([^b])*ax", // same, negated-class body
        "\\d*x?1" * 8 + "y")) // skippable successor: \d overlaps the 1 past x?
      assert(LinePattern.riskyPattern(p), s"should flag (round-13 class): $p")
    // review-found blind classes (round 14, each probed before fixing):
    for (p <- Seq(
        // escape as a range LOWER bound: [\t-z] spans \t..z (includes 'a'),
        // the old parser modeled it as {'\t','-','z'} → missed overlap.
        // Probed: 6.4 s at n=40 on all-'a' input (same class as \S*a x8)
        "[\\t-z]*a" * 8 + "x",
        "[\\d-z]*a" * 3 + "x", // class escape as a bound: unmodelable → conservative
        // overlap via a NON-FIRST alternative: the x branch doesn't overlap
        // \d but the 0 branch does. Probed: 26 s at n=400 on all-digit input
        "\\d*(x|0)" * 3 + "y"))
      assert(LinePattern.riskyPattern(p), s"should flag (round-14 class): $p")
    // ...and the precise paths around them stay precise: a modeled
    // escape-bound range that does NOT reach its successor, and an
    // alternation-free successor group, contribute nothing
    assert(!LinePattern.riskyPattern("[\\t-.]*z" * 8 + "x")) // \t..'.' excludes 'z'
    assert(!LinePattern.riskyPattern("\\d*(xy)" * 8 + "z")) // plain group, no overlap
    // single-level quantifiers cannot multiply match attempts
    for (p <- Seq("(\\d+) (\\w+)", "(.*)", "^ERROR: (\\d+) (.+)",
                  "([+*]+)x", // quantifier chars inside a class are literals
                  "(\\d{3})?", // ?-quantified group: 0-or-1 cannot multiply
                  "(a|b) (c|d)", // alternation NOT under a quantifier
                  "(.*) -> (.*)", // two dot-quantifiers: at worst quadratic
                  "\\.*a\\.*b\\.*c") ++ // escaped dots are literals
                LogOptions.Presets.values.map(_("pattern")))
      assert(!LinePattern.riskyPattern(p), s"should NOT flag: $p")
    // NON-overlapping quantified atoms never count toward the chain: the
    // atom's class cannot match its successor, so split points are
    // unambiguous and backtracking is linear — these shapes are ubiquitous
    // in real log patterns and must stay on the zero-overhead path
    for (p <- Seq("(\\S+) (\\S+) (\\S+) (\\S+)", // space separators
                  "\"([^\"]*)\" \"([^\"]*)\" \"([^\"]*)\"", // quoted fields
                  "(\\w+)=(\\w+)&(\\w+)=(\\w+)", // query-string fields
                  "(\\d+)\\.(\\d+)\\.(\\d+)\\.(\\d+)", // IP address
                  "(\\w+)\\.(\\w+)\\.(\\w+)\\.(\\w+)", // dotted names
                  "\\[([^\\]]+)\\] \\[([^\\]]+)\\] \\[([^\\]]+)\\]",
                  "(\\d+) (\\d+) (\\d+) (\\d+)", // narrow classes, no overlap
                  "\\S++a\\S++a\\S++a\\S++ax", // possessive: cannot backtrack
                  ".*+a.*+a.*+ax", // possessive dot too (probed: 1 ms)
                  "\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}", // fixed {m}: no choice
                  "(\\d{2}:)x(\\w{3},)yz", // fixed reps inside plain groups
                  "\\d*x1\\d*x1\\d*x1y")) // non-skippable x blocks the overlap
      assert(!LinePattern.riskyPattern(p), s"should NOT flag (no overlap): $p")
    // trailing atom has no successor; 2 overlapping atoms are at worst
    // quadratic — both under the >= 3 chain threshold
    assert(!LinePattern.riskyPattern("(\\S*)"))
    assert(!LinePattern.riskyPattern("\\S*a\\S*ax"))
    // every pattern the bench/oracle queries scan with stays unflagged
    // (flagging one would silently add the ~10% wrapper to a bench path)
    for (p <- Seq(
        "(?s)(\\d+) (\\w+) user=(\\d+)\\n  seq=\\d+\\n  tail value=([0-9.]+)",
        "(\\S+) (\\d{2}:\\d{2}:\\d{2}) (\\w+) evt=(\\d+)",
        "(\\d+) (\\w+) user=(\\d+) ([0-9.]+)",
        "(\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}) (\\w+) evt=(\\d+)"))
      assert(!LinePattern.riskyPattern(p), s"bench pattern must stay unflagged: $p")
    // backreferences: their own catastrophic class ((\w+)\1+), flagged
    // outright
    assert(LinePattern.riskyPattern("(\\w+)\\1+x"))
    assert(LinePattern.riskyPattern("(a+)\\1"))
    assert(!LinePattern.riskyPattern("(\\d+)\\.(\\d+)")) // escaped dot, no backref
    // engagement: default budget is live only for flagged patterns;
    // explicit setting engages anything
    assert(LinePattern.effectiveBudget("(a+)+x", 10L, explicit = false) == 10L)
    assert(LinePattern.effectiveBudget("(\\d+)", 10L, explicit = false) == 0L)
    assert(LinePattern.effectiveBudget("(\\d+)", 10L, explicit = true) == 10L)
    assert(LinePattern.effectiveBudget("(a+)+x", 0L, explicit = true) == 0L)
  }

  test("huge explicit regexMaxSteps saturates instead of wrapping negative") {
    val dir = writeLog(Seq("1 INFO", "2 WARN"))
    val rows = spark.read.format("log")
      .option("pattern", "(\\d+) (\\w+)")
      .option("schema", "id INT, level VARCHAR")
      .option("regexMaxSteps", Long.MaxValue.toString) // wrapper engaged, effectively unlimited
      .load(dir.getAbsolutePath)
      .select("id").collect().map(_.getInt(0)).sorted.toSeq
    assert(rows == Seq(1, 2))
  }

  test("parse_log_line budget honors the spark.graft.log.regexMaxSteps session conf") {
    import spark.implicits._
    val df = Seq("a" * 45 + "!").toDF("value")
    def run() = df.select(graft.log.LogFrame.parseLogLine(
      org.apache.spark.sql.functions.col("value"), "((.*a){12}x)")).collect()
    // tightened budget still trips (conf is read at analysis time)
    spark.conf.set("spark.graft.log.regexMaxSteps", "1000")
    try {
      val e = intercept[Exception] { run() }
      assert(chain(e).flatMap(t => Option(t.getMessage))
        .exists(_.contains("spark.graft.log.regexMaxSteps")),
        chain(e).flatMap(t => Option(t.getMessage)).mkString(" | "))
      // 0 disables — the documented escape hatch for a pattern the user
      // accepts as slow; this poison would hang, so use a small line
      spark.conf.set("spark.graft.log.regexMaxSteps", "0")
      val small = Seq("a" * 14 + "!").toDF("value")
      val out = small.select(graft.log.LogFrame.parseLogLine(
        org.apache.spark.sql.functions.col("value"), "((.*a){12}x)").as("g")).collect()
      assert(out.head.isNullAt(0)) // no match, NO budget error
    } finally spark.conf.unset("spark.graft.log.regexMaxSteps")
  }

  test("a bad spark.graft.log.regexMaxSteps fails parse_log_line and log.`path` alike") {
    import spark.implicits._
    val dir = writeLog(Seq("1 INFO"))
    val df = Seq("1 INFO").toDF("value")
    for (bad <- Seq("-1", "abc")) {
      spark.conf.set("spark.graft.log.regexMaxSteps", bad)
      try {
        // at analysis, before any row is read: the DataFrame and SQL surfaces
        val e1 = intercept[IllegalArgumentException] {
          df.select(graft.log.LogFrame.parseLogLine(org.apache.spark.sql.functions.col("value"),
            "(\\d+) (\\w+)"))
        }
        val e2 = intercept[Exception] {
          spark.sql("SELECT parse_log_line('1 INFO', '(\\\\d+)')").queryExecution.analyzed
        }
        val e3 = intercept[Exception] {
          spark.sql(s"SELECT * FROM log.`${dir.getAbsolutePath}`").queryExecution.analyzed
        }
        for (e <- Seq(e1, e2, e3)) {
          val msgs = chain(e).flatMap(t => Option(t.getMessage))
          assert(msgs.exists(_.contains("regexMaxSteps")), s"$bad: ${msgs.mkString(" | ")}")
          assert(!msgs.exists(_.contains("regexmaxstepsdefault")), s"$bad: ${msgs.mkString(" | ")}")
        }
      } finally spark.conf.unset("spark.graft.log.regexMaxSteps")
    }
  }

  test("option validation: negative or non-numeric regexMaxSteps fails at load") {
    intercept[IllegalArgumentException] {
      graft.log.LogOptions.fromMap(Map(
        "pattern" -> "(\\d+)", "schema" -> "id INT", "regexmaxsteps" -> "-1"))
    }
    intercept[IllegalArgumentException] {
      graft.log.LogOptions.fromMap(Map(
        "pattern" -> "(\\d+)", "schema" -> "id INT", "regexmaxsteps" -> "lots"))
    }
  }
}
