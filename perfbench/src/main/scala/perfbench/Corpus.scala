package perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable

/** One log dialect: the `log` source options that read it and its declared
  * fields (in declaration order). */
final case class Dialect(name: String, options: Map[String, String], fields: Seq[String])

object Dialects {
  val Apache: Dialect = Dialect("apache", Map("format" -> "apache_combined"),
    Seq("host", "ident", "authuser", "ts", "request", "status", "bytes", "referer", "user_agent"))
  // the reference README's MySQL general-log example, as shipped preset
  val Mysql: Dialect = Dialect("mysql", Map("format" -> "mysql_general"),
    Seq("date", "time", "pid", "action", "query"))
  val AppPattern = "^(\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}) (\\w+) (\\S+) (.*)"
  val App: Dialect = Dialect("app", Map(
    "pattern" -> AppPattern,
    "fieldNames" -> "ts, level, component, msg",
    "dataTypes" -> "TIMESTAMP, VARCHAR, VARCHAR, VARCHAR",
    "dateFormat" -> "yyyy-MM-dd HH:mm:ss"), Seq("ts", "level", "component", "msg"))
  val All: Seq[Dialect] = Seq(Apache, Mysql, App)
}

/** Seeded line generators for the three dialects. Each call returns the line
  * and folds it into the running expected aggregates, so every check the
  * benchmark makes compares Spark's answer against numbers computed while
  * the input was written, never against Spark itself.
  *
  * A fixed share of lines is garbage that matches no dialect pattern and
  * must surface in `unmatched_lines`.
  */
final class LineGen(seed: Long, salt: Int) {
  import LineGen._
  private val rng = new SplittableRandom(seed * 1000003L + salt)
  private def r(n: Int): Int = rng.nextInt(n)
  private var tick = 0L

  /** Next event time, epoch seconds: monotone with seeded jitter. */
  private def nextTs(): Long = { tick += 1 + r(3); BaseEpoch + tick }

  def garbage(): Boolean = r(1000) < GarbagePerMille

  def apache(agg: Expected): String = {
    if (garbage()) {
      val l = s"!! malformed proxy record ${r(100000)} ~~ upstream reset"
      agg.add("apache", null, Seq(1L, null, 0L, null, null, null, 1L)); return l
    }
    val ts = nextTs()
    val host = s"10.${r(256)}.${r(256)}.${r(256)}"
    val user = if (r(5) == 0) s"user${r(500)}" else "-"
    val request = s"${Methods(r(Methods.length))} /${Words(r(Words.length))}/${r(10000)}.html HTTP/1.1"
    val status = Statuses(r(Statuses.length))
    val bytes: java.lang.Long = if (r(10) == 0) null else java.lang.Long.valueOf(r(50000).toLong)
    val referer = if (r(3) == 0) "-" else s"https://example.com/${Words(r(Words.length))}"
    val ua = Agents(r(Agents.length))
    val chars = host.length + 1 + user.length + request.length + referer.length + ua.length
    agg.add("apache", status, Seq(1L, bytes, if (bytes == null) 1L else 0L, ts, ts, chars.toLong, 0L))
    s"$host - $user [${ApacheFmt.format(utc(ts))} +0000] \"$request\" $status " +
      s"${if (bytes == null) "-" else bytes} \"$referer\" \"$ua\""
  }

  def mysql(agg: Expected): String = {
    if (garbage()) {
      val l = MysqlNoise(r(MysqlNoise.length))
      agg.add("mysql", null, Seq(1L, null, null, null, null, null, 1L)); return l
    }
    val ts = nextTs()
    val pid = 1 + r(5000)
    val action = Actions(r(Actions.length))
    val query = action match {
      case "Connect" => s"root@localhost on db${r(10)}"
      case "Query"   => s"select * from t${r(50)} where id = ${r(100000)}"
      case "Quit"    => "quit"
      case _         => s"stmt_${r(1000)}"
    }
    val day = Math.floorDiv(ts, 86400L)
    val msOfDay = Math.floorMod(ts, 86400L) * 1000L
    agg.add("mysql", action, Seq(1L, pid.toLong, day, day, msOfDay, query.length.toLong, 0L))
    val pad = " " * (1 + r(6))
    s"${MysqlDate.format(utc(ts))}$pad$pid $action\t$query"
  }

  /** `component` is fixed for a whole stream file; batch files draw it. */
  def app(agg: Expected, component: String = null): String = {
    if (garbage()) {
      val l = AppNoise(r(AppNoise.length))
      agg.add("app", null, Seq(1L, null, null, null, null, 1L)); return l
    }
    val ts = nextTs()
    val level = Levels(r(Levels.length))
    val comp = if (component != null) component else s"svc-${r(40)}"
    val msg = s"request ${r(1000000)} ${Words(r(Words.length))} done in ${r(2000)} ms"
    agg.add("app", level, Seq(1L, ts, ts, msg.length.toLong, comp.length.toLong, 0L))
    s"${AppFmt.format(utc(ts))} $level $comp $msg"
  }
}

object LineGen {
  val GarbagePerMille = 30
  val BaseEpoch = 1709251200L // 2024-03-01T00:00:00Z
  val Methods = Array("GET", "GET", "GET", "POST", "HEAD")
  val Statuses = Array(200, 200, 200, 200, 200, 200, 304, 404, 404, 500)
  val Words = Array("api", "static", "img", "login", "search", "cart", "docs", "feed")
  val Agents = Array("Mozilla/5.0 (X11; Linux x86_64)", "curl/8.4.0", "Googlebot/2.1",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_0)")
  val Actions = Array("Query", "Query", "Query", "Connect", "Quit", "Prepare")
  val Levels = Array("INFO", "INFO", "INFO", "DEBUG", "WARN", "ERROR")
  val MysqlNoise = Array(
    "/usr/sbin/mysqld, Version: 8.0.36 (MySQL Community Server - GPL). started with:",
    "Tcp port: 3306  Unix socket: /var/run/mysqld/mysqld.sock",
    "Time                 Id Command    Argument")
  val AppNoise = Array(
    "\tat com.example.svc.Handler.handle(Handler.java:142)",
    "Caused by: java.io.IOException: connection reset by peer",
    "\t... 17 more")
  val ApacheFmt: DateTimeFormatter = DateTimeFormatter.ofPattern("dd/MMM/yyyy:HH:mm:ss", Locale.US)
  val MysqlDate: DateTimeFormatter = DateTimeFormatter.ofPattern("yyMMdd HH:mm:ss", Locale.US)
  val AppFmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss", Locale.US)
  def utc(epochSec: Long): LocalDateTime =
    LocalDateTime.ofInstant(Instant.ofEpochSecond(epochSec), ZoneOffset.UTC)
}

/** Expected aggregates per (dialect, group key): each column is summed,
  * min-ed or max-ed according to `Expected.Combine`; nulls are skipped the
  * way SQL aggregates skip them. */
final class Expected {
  val groups: mutable.Map[(String, Any), Array[Any]] = mutable.HashMap.empty

  def add(dialect: String, key: Any, cells: Seq[Any]): Unit = {
    val ops = Expected.Combine(dialect)
    val cur = groups.getOrElseUpdate((dialect, key), Array.fill[Any](cells.size)(null))
    cells.indices.foreach { i =>
      val v = cells(i)
      if (v != null) {
        val x = v.asInstanceOf[Number].longValue()
        cur(i) = if (cur(i) == null) x else {
          val c = cur(i).asInstanceOf[Long]
          ops(i) match { case 's' => c + x; case 'n' => math.min(c, x); case 'x' => math.max(c, x) }
        }
      }
    }
  }

  /** Canonical rows (see [[Expected.canon]]) of the dialect's typed
    * aggregate: the group key first, then the cells. */
  def rows(dialect: String): Seq[String] =
    groups.collect { case ((d, k), cells) if d == dialect => Expected.canon(k +: cells.toSeq) }
      .toSeq.sorted

  def cells(dialect: String, key: Any): Array[Any] =
    groups.getOrElse((dialect, key), Array.empty)
}

object Expected {
  // per-column combine: s = sum, n = min, x = max (first column is always the count)
  val Combine: Map[String, String] = Map(
    "apache" -> "sssnxss", // n, bytes, bytes_null, min_ts, max_ts, chars, unmatched
    "mysql" -> "ssnxsss",  // n, pid, min_day, max_day, ms, query_chars, unmatched
    "app" -> "snxsss")      // n, min_ts, max_ts, msg_chars, comp_chars, unmatched

  /** One row as a string: integral numbers normalised to Long, nulls as
    * NULL, cells joined with `|`. Results and expectations compare as
    * sorted lists of these. */
  def canon(cells: Seq[Any]): String = cells.map {
    case null => "NULL"
    case n: java.lang.Integer => n.longValue().toString
    case n: java.lang.Short => n.longValue().toString
    case n: java.lang.Long => n.toString
    case other => other.toString
  }.mkString("|")
}

/** The on-disk `log_scan` corpus: `<root>/<dialect>/part-NNNNN.log`. */
final case class Corpus(root: File, bytes: Long, lines: Long, expected: Expected) {
  def dir(d: Dialect): String = new File(root, d.name).getPath
  def dialectBytes(d: Dialect): Long =
    Option(new File(root, d.name).listFiles()).getOrElse(Array.empty).map(_.length()).sum
}

object Corpus {
  val FilesPerDialect = 8

  /** Write (or reuse) the corpus for (seed, linesPerDialect) under `cacheDir`.
    * A `_DONE` marker written last makes a torn directory count as absent;
    * the expectations are recomputed by replaying the seeded generator
    * without writing, which costs the same formatting work but no I/O. */
  def ensure(cacheDir: File, seed: Long, linesPerDialect: Int): Corpus = {
    val root = new File(cacheDir, s"corpus_s${seed}_n$linesPerDialect")
    val done = new File(root, "_DONE")
    val reuse = done.exists()
    if (!reuse) {
      deleteRec(root)
      evictOthers(cacheDir, keep = root.getName)
    }
    val agg = new Expected
    var lines = 0L
    Dialects.All.zipWithIndex.foreach { case (d, salt) =>
      val gen = new LineGen(seed, salt)
      val ddir = new File(root, d.name)
      if (!reuse) ddir.mkdirs()
      val perFile = linesPerDialect / FilesPerDialect
      (0 until FilesPerDialect).foreach { f =>
        val w: BufferedWriter =
          if (reuse) null
          else Files.newBufferedWriter(new File(ddir, f"part-$f%05d.log").toPath, StandardCharsets.UTF_8)
        try (0 until perFile).foreach { _ =>
          val line = d.name match {
            case "apache" => gen.apache(agg)
            case "mysql" => gen.mysql(agg)
            case _ => gen.app(agg)
          }
          lines += 1
          if (w != null) { w.write(line); w.write('\n') }
        } finally if (w != null) w.close()
      }
    }
    if (!reuse) Files.write(done.toPath, Array.emptyByteArray)
    val bytes = Dialects.All.map(d => Option(new File(root, d.name).listFiles())
      .getOrElse(Array.empty).map(_.length()).sum).sum
    Corpus(root, bytes, lines, agg)
  }

  /** Keep at most one other cached corpus beside the current one. */
  private def evictOthers(cacheDir: File, keep: String): Unit = {
    val others = Option(cacheDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("corpus_") && f.getName != keep)
      .sortBy(-_.lastModified())
    others.drop(1).foreach(deleteRec)
  }

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete()
  }
}
