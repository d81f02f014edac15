package graft.log

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.regex.Pattern

import org.apache.hadoop.io.Text
import org.apache.spark.SparkException
import org.apache.spark.unsafe.types.UTF8String

/** How a log pattern matches a line, decided once for each of its three
  * users: the scan's field pattern ([[LineParser]]), its
  * `recordStartPattern` ([[LogPartitionReader]]) and `parse_log_line`
  * ([[ParseLogLine]]). One unanchored `find()` per line
  * (`LogRecordReader.java:224-225`), by one of two matchers with one
  * result:
  *   - the [[LineKernel]], over the bytes of an ASCII line, when the
  *     pattern is in its subset and no step budget is engaged;
  *   - else `java.util.regex` on the decoded line, behind the pattern's
  *     required literal prefix ([[LinePattern.literalPrefix]]) and under
  *     the `regexMaxSteps` budget when one is engaged
  *     ([[LinePattern.effectiveBudget]]).
  *
  * `desc` names the pattern in a budget error. With `dotSpan`, a line is
  * matched only inside the span the default pattern `(.*)` would capture
  * from it: up to its first U+0085, U+2028 or U+2029, the line terminators
  * `.` stops at on a framed line ([[AbsorbParseLogLine]]'s reads). ASCII
  * lines hold none of them. Immutable and serializable; the matching state
  * is [[matcher]]'s, one per thread.
  */
private[graft] final class LinePattern(
    pattern: String,
    maxSteps: Long,
    explicit: Boolean,
    private val desc: String,
    private val dotSpan: Boolean = false) extends Serializable {
  import LinePattern._

  private val compiled = Pattern.compile(pattern)
  val groupCount: Int = compiled.matcher("").groupCount()
  private val budget = effectiveBudget(pattern, maxSteps, explicit)
  private val kernel = if (budget > 0L) null else LineKernel.compile(pattern).orNull
  private val litText: String = literalPrefix(pattern).map(_._1).orNull
  private val litAnchored = pattern.startsWith("^")

  def matcher(): Matcher = new Matcher(this)
}

private[graft] object LinePattern {

  /** One thread's state for matching a [[LinePattern]], shaped like
    * `java.util.regex.Matcher`: a `find` per line, then that line's groups
    * (1-based; null for a group that did not participate). Reading a group
    * after a failed `find` is undefined. */
  final class Matcher private[log] (p: LinePattern) {
    private val m = p.compiled.matcher("")
    private val budgeted = if (p.budget > 0L) new BudgetedChars else null
    private val spans = if (p.kernel == null) null else new Array[Int](2 * p.groupCount)
    // the line found last: kb[kOff, kOff + kLen) on the kernel (bytes the
    // caller may reuse once it is done with this line), else `text`
    private var viaKernel = false
    private var kb: Array[Byte] = _
    private var kOff = 0
    private var kLen = 0
    private var text: String = _
    // find(String)'s ASCII copy, grown on demand
    private var scratch: Array[Byte] = _

    /** `find()` on the UTF-8 line `b[off, off + len)`. An ASCII line goes
      * to the kernel undecoded when the pattern has one; any other line is
      * decoded as Hadoop's `Text.toString` decodes it. */
    def find(b: Array[Byte], off: Int, len: Int): Boolean =
      if (!isAscii(b, off, len)) findRegex(Text.decode(b, off, len))
      else if (p.kernel != null) findKernel(b, off, len)
      else findRegex(new String(b, off, len, ISO_8859_1))

    /** `find()` on `line`; an ASCII line reaches the kernel through a
      * per-matcher byte copy. */
    def find(line: String): Boolean = {
      if (p.kernel != null) {
        val n = line.length
        if (scratch == null || scratch.length < n) scratch = new Array[Byte](math.max(n, 256))
        var i = 0
        while (i < n && line.charAt(i) < 0x80) { scratch(i) = line.charAt(i).toByte; i += 1 }
        if (i == n) return findKernel(scratch, 0, n)
      }
      findRegex(line)
    }

    private def findKernel(b: Array[Byte], off: Int, len: Int): Boolean = {
      viaKernel = true; kb = b; kOff = off; kLen = len
      p.kernel.find(b, off, len, spans)
    }

    private def findRegex(line: String): Boolean = {
      viaKernel = false; text = line
      // the literal reject is a necessary condition on the span as well
      val mightMatch = p.litText == null ||
        (if (p.litAnchored) line.startsWith(p.litText) else line.contains(p.litText))
      mightMatch && findBudgeted(m, budgeted, line, p.budget, p.desc,
        if (p.dotSpan) dotSpanEnd(line) else line.length)
    }

    /** Group `g` as its own `UTF8String`. A kernel group always
      * participates: its groups are never optional. */
    def groupUtf8(g: Int): UTF8String =
      if (viaKernel) utf8Copy(kb, spans(2 * g - 2), spans(2 * g - 1) - spans(2 * g - 2))
      else {
        val r = m.group(g)
        if (r == null) null else UTF8String.fromString(r)
      }

    def groupText(g: Int): String =
      if (viaKernel) new String(kb, spans(2 * g - 2), spans(2 * g - 1) - spans(2 * g - 2), ISO_8859_1)
      else m.group(g)

    def lineUtf8(): UTF8String =
      if (viaKernel) utf8Copy(kb, kOff, kLen) else UTF8String.fromString(text)

    def lineText(): String =
      if (viaKernel) new String(kb, kOff, kLen, ISO_8859_1) else text
  }

  /** Where `(.*)`'s capture of a framed `line` ends: its first U+0085,
    * U+2028 or U+2029 (framing leaves no `\n` or `\r` in it). */
  private def dotSpanEnd(line: String): Int = {
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '\u0085' || c == '\u2028' || c == '\u2029') return i
      i += 1
    }
    i
  }

  /** A `UTF8String` of its own copy of `b[off, off + len)` (`fromBytes`
    * with an offset would alias `b`, which framing and callers reuse). */
  private def utf8Copy(b: Array[Byte], off: Int, len: Int): UTF8String =
    UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, off, off + len))

  /** Every byte of `b[off, off + len)` below 0x80 (one OR-reduction, no
    * early exit, so the loop vectorizes). */
  private def isAscii(b: Array[Byte], off: Int, len: Int): Boolean = {
    var acc = 0
    var i = off
    val end = off + len
    while (i < end) { acc |= b(i); i += 1 }
    acc >= 0
  }

  /** Required literal prefix of a regex, for the scan's fast-reject
    * pre-check (`dev/SCAN_PROFILE.md`: the typed scan is regex-bound, and
    * `Matcher.find` on a NON-matching line is the worst case — the engine
    * retries at every position). If the pattern begins (after an optional
    * `^`) with plain literal characters, then every `find()` match must
    * contain that literal (at position 0 when anchored), so
    * `startsWith`/`indexOf` — JIT-intrinsic, allocation-free — can reject
    * most unmatched lines without entering the regex machinery at all.
    * `find()`'s substring semantics (LRR:225) are preserved: the check is
    * a necessary condition only, never a replacement for the match.
    *
    * Returns `(literal, anchored)`; None when no safe literal exists.
    * Conservative bails: a quantifier after the literal's last char (that
    * char is optional/repeated), an escape class (`\d`, `\Q`, …), any
    * `|` anywhere (top-level alternation would void the "required"
    * property — not worth a bracket-depth parser to distinguish), or a
    * leading `(` (flags/groups).
    */
  private[graft] def literalPrefix(pattern: String): Option[(String, Boolean)] = {
    if (pattern.contains('|')) return None
    val metas = "\\()[]{}.*+?^$|"
    def isQuant(c: Char) = c == '*' || c == '+' || c == '?' || c == '{'
    val anchored = pattern.startsWith("^")
    var i = if (anchored) 1 else 0
    val sb = new StringBuilder
    var done = false
    while (i < pattern.length && !done) {
      val c = pattern.charAt(i)
      if (c == '\\') {
        if (i + 1 < pattern.length && metas.contains(pattern.charAt(i + 1))) {
          if (i + 2 < pattern.length && isQuant(pattern.charAt(i + 2))) done = true
          else { sb.append(pattern.charAt(i + 1)); i += 2 }
        } else done = true // \d, \w, \s, \b, \Q, backrefs, ...
      } else if (metas.contains(c)) {
        done = true
      } else {
        if (i + 1 < pattern.length && isQuant(pattern.charAt(i + 1))) done = true
        else { sb.append(c); i += 1 }
      }
    }
    val s = sb.toString
    if (s.isEmpty) None else Some((s, anchored))
  }

  /** Step-counting `CharSequence` for the `regexMaxSteps` kill switch: the
    * regex engine reads input exclusively through `charAt`, so counting
    * reads bounds BACKTRACKING work directly — a `(a+)+$`-class pattern on
    * adversarial input does exponentially many reads and trips the budget
    * in milliseconds, where the plain matcher would stall a 100 TB scan
    * task for hours with no diagnostic (the reference shares the hazard,
    * LogRecordReader.java:224). `group()` extraction goes through
    * [[subSequence]], uncounted — extraction is linear by construction.
    * One instance per parser, reset per line: zero allocation on the hot
    * path, and the only per-read cost is an increment and a compare.
    */
  private[graft] final class BudgetedChars extends CharSequence {
    private var s: String = ""
    private var steps: Long = 0L
    private var budget: Long = Long.MaxValue
    def reset(line: String, b: Long): Unit = { s = line; steps = 0L; budget = b }
    override def length(): Int = s.length
    override def charAt(i: Int): Char = {
      steps += 1
      if (steps > budget) throw new RegexBudgetExceeded
      s.charAt(i)
    }
    override def subSequence(start: Int, end: Int): CharSequence = s.subSequence(start, end)
    override def toString: String = s
  }

  /** Control-flow signal for a tripped budget (stackless: it unwinds only
    * to [[findBudgeted]]'s catch, which attaches the real context). */
  private[log] final class RegexBudgetExceeded
      extends RuntimeException(null, null, false, false)

  /** The step budget to ENGAGE for `pattern`: the configured budget when
    * set explicitly or when the pattern is structurally capable of
    * catastrophic backtracking ([[riskyPattern]]), else 0 (plain matching,
    * zero overhead). */
  private[graft] def effectiveBudget(pattern: String, maxSteps: Long, explicit: Boolean): Long =
    if (maxSteps <= 0L) 0L
    else if (explicit || riskyPattern(pattern)) maxSteps
    else 0L

  /** A character-class model for the chain rule: `test` decides membership,
    * `chars` lists the specific literal characters the class was built from
    * (so overlap checks can probe them in addition to the fixed category
    * representatives). `null` stands for "couldn't model — treat as
    * overlapping", the conservative direction. */
  private[log] final class Cls(val test: Char => Boolean, val chars: List[Char])

  private def litCls(c: Char) = new Cls(x => x == c, c :: Nil)
  private def isWordCh(c: Char) =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'
  private def isSpaceCh(c: Char) = // Java \s = [ \t\n\x0B\f\r]
    c == ' ' || c == '\t' || c == '\n' || c == 11.toChar || c == '\f' || c == '\r'

  /** The single literal character an escape sequence denotes, when it
    * denotes one (`\t`, `\.`, …); None for the class escapes (`\d` …)
    * and the unmodeled ones (`\b \A \p{...} \x.. \u..`). Split out so
    * [[riskyPattern]]'s class parser can tell "usable as a range bound"
    * from "a whole class". */
  private def escLit(c: Char): Option[Char] = c match {
    case 'n' => Some('\n')
    case 't' => Some('\t')
    case 'r' => Some('\r')
    case 'f' => Some('\f')
    case 'e' => Some(27.toChar)
    case 'a' => Some(7.toChar)
    case ch if !ch.isLetter && !ch.isDigit => Some(ch) // escaped meta/punct literal
    case _ => None
  }

  /** `\d \D \s \S \w \W` and the escape literals; null for anything else. */
  private[log] def escCls(c: Char): Cls = c match {
    case 'd' => new Cls(ch => ch >= '0' && ch <= '9', Nil)
    case 'D' => new Cls(ch => !(ch >= '0' && ch <= '9'), Nil)
    case 's' => new Cls(isSpaceCh, Nil)
    case 'S' => new Cls(ch => !isSpaceCh(ch), Nil)
    case 'w' => new Cls(isWordCh, Nil)
    case 'W' => new Cls(ch => !isWordCh(ch), Nil)
    case ch => escLit(ch).map(litCls).orNull // \b \B \A \z \Q \p{...} — unmodeled
  }

  /** Representatives across the character categories the modeled classes
    * can distinguish (several per category, so complement-vs-complement
    * overlaps survive a few excluded literals); class-specific literals
    * are probed on top ([[Cls.chars]]). */
  private val ClsReps = "aAzZ059_ \t\n\r.\",;:/=%".toList

  /** `.` matches everything but newline (DOTALL widens it; treating it as
    * the wider class would only add conservative counts). */
  private val DotCls = new Cls(c => c != '\n', Nil)

  private def clsOverlap(a: Cls, b: Cls): Boolean =
    (ClsReps ++ a.chars ++ b.chars).exists(c => a.test(c) && b.test(c))

  /** Parse the character class starting at `start` (`pattern.charAt(start)
    * == '['`): returns (model-or-null, index past the closing `]`). The
    * model is exact where it is not null; nested classes, intersections
    * and range bounds it cannot read give null. Shared by [[riskyPattern]]
    * and [[LineKernel]]'s compiler, the one pattern parser of the package. */
  private[log] def parseCharClass(pattern: String, start: Int): (Cls, Int) = {
    val n = pattern.length
    var j = start + 1
    var negated = false
    if (j < n && pattern.charAt(j) == '^') { negated = true; j += 1 }
    var items = List.empty[Cls]
    var lits = List.empty[Char]
    var ok = true
    var first = true
    while (j < n && (pattern.charAt(j) != ']' || first)) {
      first = false
      val item: Cls = pattern.charAt(j) match {
        case '\\' if j + 1 < n =>
          val esc = pattern.charAt(j + 1); j += 2
          if (j + 1 < n && pattern.charAt(j) == '-' && pattern.charAt(j + 1) != ']') {
            // the escape is the LOWER bound of a range ([\t-z]): model it
            // when the escape denotes one literal char. A class escape as
            // a bound ([\d-z]) or an escaped hi bound ([\t-\\]) is
            // unmodelable here — bail conservative (under-approximating
            // the class would be a false NEGATIVE for the chain rule).
            escLit(esc) match {
              case Some(lo) =>
                val hi = pattern.charAt(j + 1) match {
                  case '\\' => ok = false; j += 2; ' ' // \-escaped hi bound — bail
                  case h    => j += 2; h
                }
                if (ok) { lits = lo :: hi :: lits; new Cls(x => x >= lo && x <= hi, lo :: hi :: Nil) }
                else null
              case None => ok = false; null
            }
          } else escCls(esc)
        case '[' => ok = false; j += 1; null // nested class / POSIX — bail
        case '&' if j + 1 < n && pattern.charAt(j + 1) == '&' =>
          ok = false; j += 2; null // intersection — bail
        case c =>
          j += 1
          if (j + 1 < n && pattern.charAt(j) == '-' && pattern.charAt(j + 1) != ']') {
            // range c-d (a '-' before ']' is a literal, handled next loop)
            val hi = pattern.charAt(j + 1) match {
              case '\\' => ok = false; j += 2; ' ' // \-escaped hi bound — bail
              case h    => j += 2; h
            }
            if (ok) { lits = c :: hi :: lits; new Cls(x => x >= c && x <= hi, c :: hi :: Nil) }
            else null
          } else { lits = c :: lits; litCls(c) }
      }
      if (item == null) ok = false else items = item :: items
    }
    if (j >= n) return (null, n) // unterminated — bail conservative
    j += 1 // past ']'
    if (!ok) return (null, j)
    val within = items
    val pos = new Cls(c => within.exists(_.test(c)), lits ++ within.flatMap(_.chars))
    (if (negated) new Cls(c => !pos.test(c), pos.chars) else pos, j)
  }

  /** A quantifier: `min`..`max` repetitions (`max` -1 = unbounded; counts
    * past nine digits saturate at `Int.MaxValue`), `greedy` = no `+`
    * (possessive) or `?` (reluctant) modifier, and `end` = the index past
    * it. `counting` = it can repeat a VARIABLE number of times and
    * backtrack: non-possessive `*` / `+` / `{m,}` / `{m,n}` with n≠m
    * (probed: `\S{1,}a`×8 0.97 s, `\S{0,99}a`×8 5.3 s at n=40, same class
    * as `+`). `?` and fixed `{m}` cannot multiply ambiguity; a possessive
    * modifier cannot backtrack at all. */
  private[log] final case class Quant(min: Int, max: Int, greedy: Boolean, counting: Boolean, end: Int)

  /** The quantifier at `j`, or null when none starts there (a `{` not
    * followed by `digits}` / `digits,digits}` is not one). */
  private[log] def parseQuant(pattern: String, j: Int): Quant = {
    val n = pattern.length
    if (j >= n) return null
    def num(s: String): Int = {
      val t = s.dropWhile(_ == '0')
      if (t.isEmpty) 0 else if (t.length > 9) Int.MaxValue else t.toInt
    }
    var min = 0
    var max = -1
    var counting = false
    var k = j
    pattern.charAt(j) match {
      case '*' => counting = true; k += 1
      case '+' => counting = true; min = 1; k += 1
      case '?' => max = 1; k += 1
      case '{' =>
        var m = j + 1
        while (m < n && pattern.charAt(m).isDigit) m += 1
        if (m == j + 1) return null // literal '{'
        val lo = pattern.substring(j + 1, m)
        min = num(lo)
        if (m < n && pattern.charAt(m) == ',') {
          m += 1
          val hiStart = m
          while (m < n && pattern.charAt(m).isDigit) m += 1
          if (m >= n || pattern.charAt(m) != '}') return null
          val hi = pattern.substring(hiStart, m)
          counting = hi.isEmpty || hi != lo // {m,} unbounded, or n≠m choice
          max = if (hi.isEmpty) -1 else num(hi)
          k = m + 1
        } else if (m < n && pattern.charAt(m) == '}') {
          max = min // fixed {m}: no choice, not counting
          k = m + 1
        } else return null
      case _ => return null
    }
    var greedy = true
    if (k < n && pattern.charAt(k) == '+') { counting = false; greedy = false; k += 1 } // possessive
    else if (k < n && pattern.charAt(k) == '?') { greedy = false; k += 1 } // reluctant still backtracks
    Quant(min, max, greedy, counting, k)
  }

  /** Static detector for the structural prerequisites of catastrophic
    * (exponential or high-degree polynomial) backtracking. Conservative in
    * the safe direction: a false POSITIVE merely engages the ~10% counting
    * wrapper (still exact); anything unparseable flags true rather than
    * disabling the kill switch.
    *
    * Rule 1 — a QUANTIFIED group whose body itself contains a quantifier
    * or an alternation: `(a+)+`, `(.*a){12}`, `(a|aa)+`. `?` counts as a
    * BODY quantifier (`(a?)+x` is exponential — each iteration chooses
    * take-or-skip) but not as an engaging OUTER quantifier (0-or-1 of
    * anything cannot multiply); the `?` of group syntax `(?:`/`(?=`/`(?i)`
    * is skipped at the `(`.
    *
    * Rule 2 — three or more OVERLAPPING quantified atoms. An inlined chain
    * with no quantified group still backtracks O(n^k) when each quantified
    * atom can match the thing that follows it, making the split points
    * ambiguous. Probed on this JVM (dev/SCAN_PROFILE.md): `.*a`×12 takes
    * 6.8 s at n=30; `\S*a`×8 takes 5.0 s at n=40; `[^"]*x`×3 takes 8.9 s
    * at n=400; `\w*a`×8 takes 4.7 s at n=40. Counted toward the chain:
    *   - `.*`/`.+` unconditionally (dot overlaps everything);
    *   - any other quantified atom — escape class, character class, or
    *     literal — whose class CAN match its successor token (skipping
    *     group parentheses), decided by [[clsOverlap]]; unmodelable atoms
    *     or successors count conservatively. Possessive quantifiers
    *     (`*+`/`++`) never count: they cannot backtrack, and rewriting to
    *     them is exactly the documented mitigation.
    * Non-overlapping single-level quantifiers (`(\S+) (\S+)`, `"([^"]*)"`,
    * `(\w+)=(\w+)` — every preset) contribute nothing and stay on the
    * unwrapped zero-overhead path. Two overlapping atoms (the ubiquitous
    * `prefix (.*) suffix` shapes) are at worst quadratic and stay
    * unflagged.
    */
  private[graft] def riskyPattern(pattern: String): Boolean = {
    val n = pattern.length
    // body(d) = "group at depth d contains an unescaped quantifier or |"
    val body = new Array[Boolean](64)
    var depth = 0
    var chainQuants = 0 // overlapping quantified atoms seen (rule 2)
    var i = 0
    def quantAt(j: Int): Boolean = j < n && {
      val c = pattern.charAt(j)
      c == '*' || c == '+' || (c == '{' && j + 1 < n && pattern.charAt(j + 1).isDigit)
    }
    // Does the group opening at `open` (pattern.charAt(open) == '(')
    // contain a `|` at ITS OWN top level? `(x|0)` yes; `(a(x|0))` no —
    // the inner group is examined on its own if the scan reaches it.
    // Unterminated group: conservative true.
    def groupHasAlternation(open: Int): Boolean = {
      var d = 0
      var k = open
      while (k < n) {
        pattern.charAt(k) match {
          case '\\' => k += 2
          case '['  => k = parseCharClass(pattern, k)._2 // `|` inside a class is a literal
          case '('  => d += 1; k += 1
          case ')'  => d -= 1; if (d == 0) return false; k += 1
          case '|'  => if (d == 1) return true; k += 1
          case _    => k += 1
        }
      }
      true
    }
    // Can `cls` match a REACHABLE successor token after position `start`?
    // Group punctuation is skipped; a token whose quantifier lets it match
    // empty (`x?`, `a*`, `{0,n}`) is looked PAST when it doesn't itself
    // overlap — `\d*x?1` chains are ambiguous through the skippable `x?`
    // (probed: ×8 6.9 s at n=40). End-of-pattern and `$` cannot overlap;
    // anything unmodelable overlaps conservatively.
    def overlapsSuccessor(cls: Cls, start: Int): Boolean = {
      var j = start
      while (j < n) {
        pattern.charAt(j) match {
          case ')' | '^' => j += 1
          case '(' =>
            // a successor group with alternation has MULTIPLE first
            // tokens: `\d*(x|0)` overlaps through the `0` branch even
            // when `x` doesn't, and a first-alternative-only scan would
            // return from the `x` token without ever seeing it (probed:
            // `\d*(x|0)`×3 is polynomial on all-digit input). Every
            // branch would need probing — conservative overlap instead.
            if (groupHasAlternation(j)) return true
            j += 1
            if (j < n && pattern.charAt(j) == '?') {
              if (j + 1 < n && pattern.charAt(j + 1) == ':') j += 2
              else return true // lookaround / flags / named group — conservative
            }
          case '$' => return false // end anchor: nothing follows to overlap
          case '|' | '*' | '+' | '?' => return true // ambiguous here — conservative
          case _ =>
            // one consuming token, then its quantifier
            val (tokCls, tokEnd): (Cls, Int) = pattern.charAt(j) match {
              case '.' => (DotCls, j + 1)
              case '[' => parseCharClass(pattern, j)
              case '\\' =>
                if (j + 1 >= n) return true
                val nx = pattern.charAt(j + 1)
                if (nx.isDigit || nx == 'k') return true // backref — conservative
                (escCls(nx), j + 2)
              case '{' =>
                if (parseQuant(pattern, j) != null) return true // stray quantifier — conservative
                (litCls('{'), j + 1)
              case ch => (litCls(ch), j + 1)
            }
            if (cls == null || tokCls == null || clsOverlap(cls, tokCls)) return true
            val q = parseQuant(pattern, tokEnd)
            if (q != null && q.min == 0) j = q.end // skippable: look past it
            else return false
        }
      }
      false // trailing atom: no successor, cannot chain
    }
    // After an atom modeled as `cls` (null = unmodelable) ending at `j`:
    // consume a quantifier + modifier if present, update the rule-1 body
    // flag and the rule-2 chain count, and return the next index.
    def afterAtom(cls: Cls, j: Int): Int = {
      val q = parseQuant(pattern, j)
      if (q == null) return j
      if (depth >= 1) body(depth) = true
      if (q.counting && (cls == null || overlapsSuccessor(cls, q.end))) chainQuants += 1
      q.end
    }
    // Per-depth UNION of the atom classes a group's body can consume, so a
    // variably-quantified GROUP participates in the chain rule as an atom
    // of that union class — `(.)*a(.)*a(.)*a…x` and `(\S)*a…` backtrack
    // exactly like their inlined forms (probed: ×12 hangs outright at
    // n=30) but have no quantified ATOM the per-atom rule would see.
    // uAll = body contained something unmodelable → class unknown (null,
    // counted conservatively when quantified).
    val uAll = new Array[Boolean](64)
    val uItems = new Array[List[Cls]](64)
    def noteAtom(cls: Cls): Unit = if (depth >= 1) {
      if (cls == null) uAll(depth) = true
      else uItems(depth) = cls :: uItems(depth)
    }
    while (i < n) {
      pattern.charAt(i) match {
        case '\\' =>
          // backreferences (\1..\9, named \k<...>) are their own
          // catastrophic class — (\w+)\1+ backtracks exponentially with
          // no quantified group the structural rules would see. Rare in
          // log patterns, so any backref flags outright (a \0 octal or
          // \k literal false positive just pays the wrapper).
          if (i + 1 < n && (pattern.charAt(i + 1).isDigit || pattern.charAt(i + 1) == 'k'))
            return true
          val cls = if (i + 1 < n) escCls(pattern.charAt(i + 1)) else null
          noteAtom(cls)
          i = afterAtom(cls, i + 2)
        case '[' => // character class: quantifier chars inside are literals
          val (cls, end) = parseCharClass(pattern, i)
          noteAtom(cls)
          i = afterAtom(cls, end)
        case '(' =>
          depth += 1
          if (depth >= body.length) return true // absurd nesting: bail risky
          body(depth) = false
          uAll(depth) = false
          uItems(depth) = Nil
          i += 1
          if (i < n && pattern.charAt(i) == '?') i += 1 // group syntax (?:/(?=/(?i
        case '?' =>
          if (depth >= 1) body(depth) = true
          i += 1
        case ')' =>
          val had = depth >= 1 && body(depth)
          val groupCls: Cls =
            if (depth >= 1 && !uAll(depth) && uItems(depth).nonEmpty) {
              val items = uItems(depth)
              new Cls(c => items.exists(_.test(c)), items.flatMap(_.chars))
            } else null
          if (depth >= 1) depth -= 1
          val quantified = quantAt(i + 1)
          if (had && quantified) return true
          // a quantified or quantifier-bearing group makes the PARENT's
          // body quantifier-bearing (covers ((a+)b)* nesting)
          if (depth >= 1) body(depth) |= had || quantified
          i += 1
          // the group is itself an atom of its body's union class: joins
          // the parent's union, and counts toward the chain when variably
          // quantified and successor-overlapping
          noteAtom(groupCls)
          i = afterAtom(groupCls, i)
        case '*' | '+' => // stray quantifier (atom/group-level ones are
          if (depth >= 1) body(depth) = true // consumed by afterAtom)
          i += 1
        case '{' =>
          if (quantAt(i) && depth >= 1) body(depth) = true
          i += 1
        case '|' =>
          if (depth >= 1) body(depth) = true
          i += 1
        case '.' =>
          noteAtom(DotCls)
          i = afterAtom(DotCls, i + 1)
        case '^' | '$' => i += 1
        case c =>
          i += 1
          noteAtom(litCls(c))
          i = afterAtom(litCls(c), i)
      }
    }
    chainQuants >= 3
  }

  /** `Matcher.find()` under the per-line step budget. The effective budget
    * is `maxSteps + 100×length`: legitimately long lines get proportional
    * headroom (a well-behaved unanchored find costs O(length) reads per
    * start position), while exponential blowup — which dwarfs any linear
    * term — still trips fast. `maxSteps <= 0` disables (plain matching,
    * zero overhead). Throws a FAILFAST-style SparkException with the
    * pattern and line context; the partition reader appends the file path
    * like every other scan error.
    *
    * A `spanEnd` before the line's end matches `line[0, spanEnd)` alone,
    * through `Matcher.region` with its default anchoring and opaque bounds
    * — as the substring would match, budget and message included.
    */
  private[graft] def findBudgeted(
      m: java.util.regex.Matcher,
      buf: BudgetedChars,
      line: String,
      maxSteps: Long,
      patternDesc: String,
      spanEnd: Int = Int.MaxValue): Boolean = {
    val end = math.min(spanEnd, line.length)
    if (maxSteps <= 0L) {
      m.reset(line)
      if (end < line.length) m.region(0, end)
      return m.find()
    }
    // saturating add: an explicit huge regexMaxSteps ("effectively
    // unlimited but keep the wrapper") must not wrap negative and fail
    // every line on its first read
    val headroom = 100L * end
    val budget = if (maxSteps > Long.MaxValue - headroom) Long.MaxValue
      else maxSteps + headroom
    buf.reset(line, budget)
    m.reset(buf)
    if (end < line.length) m.region(0, end)
    try m.find()
    catch {
      case _: RegexBudgetExceeded =>
        throw new SparkException(
          s"[log] regex step budget exhausted (regexMaxSteps=$maxSteps): pattern " +
            s"$patternDesc is backtracking catastrophically on a $end-char " +
            s"line beginning '${line.substring(0, math.min(80, end))}'; rewrite the pattern (possessive " +
            "quantifiers / atomic groups) or raise the regexMaxSteps option (0 disables)")
    }
  }
}
