package graft.log

import scala.collection.mutable.ArrayBuffer

/** A delimited-field pattern compiled to a byte program that reproduces
  * `Matcher.find()` — leftmost start, then the match and every group span
  * the backtracking engine settles on — without backtracking, over lines
  * whose bytes are all below 0x80.
  *
  * The subset: an optional leading `^`; literals; `\d \D \s \S \w \W`;
  * `.`; `[...]` / `[^...]` classes (read by [[LinePattern.parseCharClass]],
  * the package's one pattern parser); each atom with an optional greedy
  * `? * + {m} {m,} {m,n}`; and capture groups that are neither nested nor
  * quantified. Anything else — alternation, `$`, backreferences,
  * lookaround, `(?...)` groups, reluctant or possessive quantifiers,
  * non-ASCII pattern text — is rejected, and the caller keeps
  * `java.util.regex`.
  *
  * Why greedy is exact here: a pattern is accepted only when every
  * variably-quantified atom's class is disjoint from each atom that can
  * follow it, up to and including the next mandatory one (all of them
  * when none is mandatory). A shorter run of such an atom would leave one
  * of its own characters next, which the optional successors must skip
  * and the mandatory one cannot match, so the greedy run is the only run
  * `find()` could backtrack to. The one overlap allowed is a final `.*`
  * or `.+` right after the atom: `.*` always matches what is left, and
  * for `.+` (`\s+(.+)`, the MySQL preset's tail) the give-back `find()`
  * would perform is one right-to-left scan for the first character `.`
  * accepts. Every accepted pattern is thus outside
  * [[LinePattern.riskyPattern]]'s chains.
  *
  * Java's `.` excludes the line terminators; on ASCII those are `\n` and
  * `\r`, so the model is its own (not [[LinePattern.riskyPattern]]'s `.`,
  * which over-approximates it).
  *
  * Immutable and thread-safe: match results go to a caller-owned span
  * array, two ints (start, end) per group.
  */
private[log] final class LineKernel private (
    anchored: Boolean,
    // per atom: its ASCII class as 128 flags, at tbl((atom << 7) | char),
    // and its repeat bounds (max -1 = unbounded)
    tbl: Array[Boolean],
    min: Array[Int],
    max: Array[Int],
    // span slots set on reaching atom boundary k (0..atoms)
    marks: Array[Array[Int]],
    // the pattern ends in `.+` right after an overlapping variable atom
    giveBack: Boolean,
    val groupCount: Int) extends Serializable {

  private val atoms = min.length
  // atom 0 runs unbounded: a start inside its run fails like the run's
  // own start did, so the start loop may jump past the run
  private val skipRun = atoms > 0 && max(0) < 0

  @inline private def mark(k: Int, p: Int, spans: Array[Int]): Unit = {
    val ms = marks(k)
    var i = 0
    while (i < ms.length) { spans(ms(i)) = p; i += 1 }
  }

  /** Position past atom `a`'s greedy run from `p`, or -1 when fewer than
    * `min(a)` characters match. */
  private def run(a: Int, b: Array[Byte], p: Int, end: Int): Int = {
    val mx = max(a)
    val lim = if (mx < 0 || mx > end - p) end else p + mx
    val t = tbl
    val base = a << 7
    var q = p
    while (q < lim && t(base | b(q))) q += 1
    if (q - p < min(a)) -1 else q
  }

  /** `find()` over `b[off, off + len)`, every byte below 0x80: true when
    * the pattern matches, with group g's absolute byte offsets in
    * `spans(2g)` (start) and `spans(2g + 1)` (end). */
  def find(b: Array[Byte], off: Int, len: Int, spans: Array[Int]): Boolean = {
    val end = off + len
    val lastStart = if (anchored) off else end
    var s = off
    while (s <= lastStart) {
      var p = s
      var predStart = s // where the atom before the current one started
      var a = 0
      var failed = false
      var run0End = s
      while (a < atoms && !failed) {
        mark(a, p, spans)
        var q = run(a, b, p, end)
        if (a == 0) run0End = if (q < 0) p else q
        if (q < 0 && giveBack && a == atoms - 1) {
          // `.+` failed at its predecessor's run end: give the run back
          // from the right to the first character `.` accepts
          var g = p - 1
          val floor = predStart + min(a - 1)
          while (g >= floor && !tbl((a << 7) | b(g))) g -= 1
          if (g >= floor) {
            mark(a, g, spans) // the boundary's marks move with the split
            q = run(a, b, g, end)
          }
        }
        if (q < 0) failed = true
        else { predStart = p; p = q; a += 1 }
      }
      if (!failed) { mark(atoms, p, spans); return true }
      s = if (skipRun && run0End > s) run0End else s + 1
    }
    false
  }
}

private[log] object LineKernel {

  private def ascii(test: Char => Boolean): Array[Boolean] = Array.tabulate(128)(c => test(c.toChar))

  /** `.` on ASCII: everything but the line terminators `\n` and `\r`. */
  private val Dot = ascii(c => c != '\n' && c != '\r')

  // repeat counts past this are outside the subset (the loops are int-bounded)
  private val MaxCount = 1 << 20

  /** Compile `pattern`, or None when it is outside the subset or could
    * make the engine backtrack into a different match than the greedy one.
    * `pattern` is assumed to compile under `java.util.regex`. */
  def compile(pattern: String): Option[LineKernel] = {
    val n = pattern.length
    if (pattern.exists(_ >= 0x80)) return None
    val classes = ArrayBuffer.empty[Array[Boolean]]
    val mins = ArrayBuffer.empty[Int]
    val maxs = ArrayBuffer.empty[Int]
    val marks = ArrayBuffer(ArrayBuffer.empty[Int])
    var groups = 0
    var inGroup = false
    var i = 0
    if (n > 0 && pattern.charAt(0) == '^') i = 1
    while (i < n) {
      val (cls, next): (Array[Boolean], Int) = pattern.charAt(i) match {
        case '(' =>
          if (inGroup || (i + 1 < n && pattern.charAt(i + 1) == '?')) return None
          inGroup = true
          marks.last += 2 * groups
          i += 1
          (null, i)
        case ')' =>
          if (!inGroup || LinePattern.parseQuant(pattern, i + 1) != null) return None
          inGroup = false
          marks.last += 2 * groups + 1
          groups += 1
          i += 1
          (null, i)
        case '[' =>
          val (c, e) = LinePattern.parseCharClass(pattern, i)
          if (c == null) return None
          (ascii(c.test), e)
        case '\\' =>
          if (i + 1 >= n) return None
          val c = LinePattern.escCls(pattern.charAt(i + 1)) // null: \b \Q \1 \x.. \p{..}
          if (c == null) return None
          (ascii(c.test), i + 2)
        case '.' => (Dot, i + 1)
        case '^' | '$' | '|' | '*' | '+' | '?' | '{' | '}' | ']' => return None
        case ch => (ascii(_ == ch), i + 1)
      }
      if (cls != null) {
        val q = LinePattern.parseQuant(pattern, next)
        val (mn, mx, end) =
          if (q == null) (1, 1, next)
          else if (!q.greedy || q.min > MaxCount || q.max > MaxCount) return None
          else (q.min, q.max, q.end)
        classes += cls; mins += mn; maxs += mx
        marks += ArrayBuffer.empty[Int]
        i = end
      } else i = next
    }
    if (inGroup) return None
    val atoms = mins.length
    def overlap(a: Int, b: Int) = (0 until 128).exists(c => classes(a)(c) && classes(b)(c))
    var giveBack = false
    var a = 0
    while (a < atoms) {
      if (mins(a) != maxs(a)) {
        // the atoms that can follow a: up to the next mandatory one, or all
        var m = a + 1
        while (m < atoms - 1 && mins(m) == 0) m += 1
        var j = a + 1
        while (j <= m && j < atoms) {
          if (overlap(a, j)) {
            // only a final `.*` / `.+` may follow a overlapping it
            val finalDot = j == atoms - 1 && j == a + 1 && mins(j) <= 1 && maxs(j) < 0 &&
              java.util.Arrays.equals(classes(j), Dot)
            if (!finalDot) return None
            giveBack = mins(j) == 1 // `.*` never fails, so never needs it
          }
          j += 1
        }
      }
      a += 1
    }
    Some(new LineKernel(pattern.startsWith("^"), classes.flatten.toArray, mins.toArray,
      maxs.toArray, marks.map(_.toArray).toArray, giveBack, groups))
  }
}
