package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.log.{LineParser, LogOptions}

/** Layer probes that run the same way in every workload. */
object Probe {
  private val SampleLines = 40000
  private val SentinelLines = 300000
  private val ProbeSeed = 7L

  /** Single-threaded per-line CPU cost of the `log` parse, split the way
    * `graft.dev.ScanProfile` splits it: a bare `Matcher.find` plus group
    * extraction, then `LineParser.parse` with every field VARCHAR (regex +
    * row materialization), then fully typed (+ coercion). In-memory samples
    * of all three dialects, so no I/O or Spark is involved. */
  def parser(): Map[String, Double] = {
    val samples = Dialects.All.zipWithIndex.map { case (d, salt) =>
      val gen = new LineGen(ProbeSeed, salt)
      val agg = new Expected
      d -> Array.fill(SampleLines)(d.name match {
        case "apache" => gen.apache(agg)
        case "mysql" => gen.mysql(agg)
        case _ => gen.app(agg)
      })
    }
    val total = samples.map(_._2.length).sum.toDouble
    val opts = samples.map { case (d, _) => LogOptions.fromMap(d.options) }
    val varcharOpts = samples.map { case (d, _) =>
      LogOptions.fromMap(d.options + ("dataTypes" -> d.fields.map(_ => "VARCHAR").mkString(", ")))
    }
    val regexAll: () => Long = { () =>
      var sink = 0L
      samples.zip(opts).foreach { case ((_, lines), o) =>
        val m = o.compiledPattern.matcher("")
        lines.foreach { l =>
          m.reset(l)
          if (m.find()) { var g = 1; while (g <= m.groupCount()) { val s = m.group(g); if (s != null) sink += s.length; g += 1 } }
        }
      }
      sink
    }
    def parseAll(os: Seq[LogOptions]): () => Long = {
      val parsers = os.map(o => new LineParser(o, o.schema, Nil))
      () => {
        var sink = 0L
        samples.zip(parsers).foreach { case ((_, lines), p) =>
          lines.foreach { l => val row = p.parse(l); if (row != null) sink += row.numFields }
        }
        sink
      }
    }
    // this thread's CPU time, best of five rounds that interleave the three
    // passes, so a slow spell of the host hits all three alike instead of
    // one side of a difference (materialize, coerce)
    val passes = Seq(regexAll, parseAll(varcharOpts), parseAll(opts))
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    passes.foreach(_())
    val best = Array.fill(passes.size)(Double.MaxValue)
    (0 until 5).foreach { _ =>
      passes.zipWithIndex.foreach { case (f, i) =>
        val t0 = bean.getCurrentThreadCpuTime
        f()
        best(i) = math.min(best(i), (bean.getCurrentThreadCpuTime - t0) / total)
      }
    }
    val Array(regex, varchar, typed) = best
    Map(
      "log.regex_ns_per_line" -> regex,
      "log.materialize_ns_per_line" -> (varchar - regex),
      "log.coerce_ns_per_line" -> (typed - varchar),
      "log.parse_ns_per_line" -> typed)
  }

  /** The sentinel file: a fixed app-dialect log, the same in every run. */
  def sentinelFile(cacheDir: File): File = {
    val f = new File(cacheDir, s"sentinel_$SentinelLines.log")
    if (!f.exists()) {
      val tmp = new File(cacheDir, f.getName + ".tmp")
      val gen = new LineGen(ProbeSeed, 99)
      val agg = new Expected
      val w = Files.newBufferedWriter(tmp.toPath, StandardCharsets.UTF_8)
      try (0 until SentinelLines).foreach { _ => w.write(gen.app(agg)); w.write('\n') }
      finally w.close()
      tmp.renameTo(f)
    }
    f
  }

  /** Framing floor (`read.text().count()`, no library code: a code-free
    * drift sentinel, every run) and, when `withCount`, the `log` source's
    * own `count()` over the same file; MB/s, each the median of three. */
  def sentinels(spark: SparkSession, file: File, withCount: Boolean): Map[String, Double] = {
    val mb = file.length() / 1048576.0
    def rate(f: => Long): Double = {
      f
      Stats.median((0 until 3).map { _ =>
        val t0 = System.nanoTime(); f; mb / ((System.nanoTime() - t0) / 1e9)
      })
    }
    val frame = Map("log.frame_mb_s" -> rate(spark.read.text(file.getPath).count()))
    if (!withCount) frame
    else frame + ("log.count_mb_s" -> rate(spark.read.format("log").load(file.getPath).count()))
  }
}
