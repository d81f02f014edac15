package perfbench

import java.io.File

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `log_scan`: one client, closed loop, queries back to back over the seeded
  * three-dialect corpus. Parsing is most of the wall time, so this is where
  * a `LineParser`, `FastDateTime` or `LogPartitionReader` change shows.
  *
  * A repeat runs six ops in a fixed order, each on a freshly built
  * DataFrame timed to `collect()`:
  *   - `typed_<dialect>` ×3: an aggregate over every declared column of
  *     the dialect (full parse + coercion; nothing for Catalyst to prune);
  *   - `filter_apache`: `status = 500`, pushed into the reader;
  *   - `sqlpath_app`: `FROM log.\`dir\`` with `parse_log_line` in SQL;
  *   - `count_all`: `count(*)` over the whole corpus (the no-regex path).
  */
final class LogScanWorkload(cacheDir: File, seed: Long, linesPerDialect: Int) extends Workload {
  var corpus: Corpus = _

  def prepare(): Unit =
    corpus = Corpus.ensure(cacheDir, seed, linesPerDialect)

  private def read(spark: SparkSession, d: Dialect): DataFrame =
    spark.read.format("log").options(d.options).load(corpus.dir(d))

  /** Aggregate touching every declared field of `d`, grouped by the
    * dialect's key; columns line up with [[Expected]]'s cells. */
  def typedAggregate(spark: SparkSession, d: Dialect): DataFrame = {
    val unmatched = count(col("unmatched_lines")).as("unmatched")
    d.name match {
      case "apache" => read(spark, d).groupBy(col("status")).agg(
        count(lit(1)).as("n"),
        sum(col("bytes").cast("long")).as("bytes"),
        sum(when(col("bytes").isNull && col("unmatched_lines").isNull, 1L).otherwise(0L)).as("bytes_null"),
        min(unix_seconds(col("ts"))).as("min_ts"),
        max(unix_seconds(col("ts"))).as("max_ts"),
        sum(length(col("host")) + length(col("ident")) + length(col("authuser")) +
          length(col("request")) + length(col("referer")) + length(col("user_agent"))).cast("long").as("chars"),
        unmatched)
      case "mysql" => read(spark, d).groupBy(col("action")).agg(
        count(lit(1)).as("n"),
        sum(col("pid").cast("long")).as("pid"),
        min(unix_date(col("date"))).as("min_day"),
        max(unix_date(col("date"))).as("max_day"),
        sum(col("time").cast("long")).as("ms"),
        sum(length(col("query"))).cast("long").as("query_chars"),
        unmatched)
      case _ => read(spark, d).groupBy(col("level")).agg(
        count(lit(1)).as("n"),
        min(unix_seconds(col("ts"))).as("min_ts"),
        max(unix_seconds(col("ts"))).as("max_ts"),
        sum(length(col("msg"))).cast("long").as("msg_chars"),
        sum(length(col("component"))).cast("long").as("comp_chars"),
        unmatched)
    }
  }

  private def filterApache(spark: SparkSession): DataFrame =
    read(spark, Dialects.Apache).filter(col("status") === 500).agg(
      count(lit(1)).as("n"),
      sum(col("bytes").cast("long")).as("bytes"),
      sum(when(col("bytes").isNull, 1L).otherwise(0L)).as("bytes_null"))

  private def sqlPathApp(spark: SparkSession): DataFrame = {
    val pattern = Dialects.AppPattern.replace("\\", "\\\\")
    spark.sql(
      s"""SELECT g[1] AS level, count(*) AS n, cast(sum(length(g[3])) AS BIGINT) AS msg_chars
         |FROM (SELECT parse_log_line(line, '$pattern') AS g FROM log.`${corpus.dir(Dialects.App)}`)
         |WHERE g IS NOT NULL GROUP BY 1""".stripMargin)
  }

  private def countAll(spark: SparkSession): DataFrame =
    spark.read.format("log").load(corpus.root.getPath).agg(count(lit(1)).as("n"))

  /** One op of a repeat: the span layer it is traced under, its input
    * bytes, and the canonical rows it must return. */
  private final case class ScanOp(name: String, layer: String, bytes: Long, build: () => DataFrame,
      expect: Seq[String]) {
    def run(tracer: Option[Tracer]): OpResult =
      Workload.query(tracer, layer, name)(build())(rows => Workload.canonRows(rows) == expect)
  }

  private def ops(spark: SparkSession): Seq[ScanOp] = {
    val e = corpus.expected
    val typed = Dialects.All.map { d =>
      ScanOp(s"typed_${d.name}", "scan", corpus.dialectBytes(d), () => typedAggregate(spark, d), e.rows(d.name))
    }
    val c500 = e.cells("apache", 500)
    val sqlRows = Seq("DEBUG", "ERROR", "INFO", "WARN").map { l =>
      val c = e.cells("app", l); Expected.canon(Seq(l, c(0), c(3)))
    }.sorted
    typed ++ Seq(
      ScanOp("filter_apache", "scan", corpus.dialectBytes(Dialects.Apache), () => filterApache(spark),
        Seq(Expected.canon(Seq(c500(0), c500(1), c500(2))))),
      ScanOp("sqlpath_app", "sql", corpus.dialectBytes(Dialects.App), () => sqlPathApp(spark), sqlRows),
      ScanOp("count_all", "scan", corpus.bytes, () => countAll(spark), Seq(Expected.canon(Seq(corpus.lines)))))
  }

  def warmup(spark: SparkSession): Unit = {
    val r = ops(spark).head.run(None)
    require(r.ok, s"log_scan warm-up op ${r.name} failed: ${r.error}")
  }

  def prime(spark: SparkSession): Unit = ops(spark).foreach { op =>
    val r = op.run(None)
    require(r.ok, s"log_scan op ${r.name} failed while priming: ${r.error}")
  }

  def window(spark: SparkSession, seconds: Double, tracer: Option[Tracer], index: Int): Window = {
    val all = ops(spark)
    val out = Seq.newBuilder[OpResult]
    val (repeats, wall) = Workload.rounds(seconds, nominalRoundS = 2.4)(all.foreach(op => out += op.run(tracer)))
    Window(out.result(), wall, Map(
      "scan_mb_s" -> repeats * all.map(_.bytes).sum / 1048576.0 / wall,
      "corpus_mb" -> corpus.bytes / 1048576.0,
      "repeats" -> repeats.toDouble))
  }

  override def layers(t: Tracer, spans: Seq[Span], w: Window): Map[String, Double] = {
    val sqlMbS = w.ops.filter(o => o.name == "sqlpath_app" && o.ok)
      .map(o => corpus.dialectBytes(Dialects.App) / 1048576.0 / o.seconds)
    t.scanMetrics(spans, Set("scan", "sql")) + ("functions.sqlpath_mb_s" -> Stats.median(sqlMbS))
  }
}
