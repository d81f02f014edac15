package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Row, SparkSession}

/** `query_mix`: one client, closed loop, catalog queries
  * (`graft.SparkEntry.queries`) back to back over the sf0.01 tables, each
  * pass in an order the seed permutes. At this size planning, job
  * submission, driver gaps and the `graft.ops` shuffles dominate and log
  * parsing is absent, so a parser change should leave this flat while a
  * planning or driver-gap change shows here and not in `log_scan`.
  *
  * Output checks: the first result of every query in a run is written out
  * and compared against the DuckDB oracle (`SparkEntry.oracleSql`) after the
  * JVM exits, with the rows/schema/hash rule of `dev/oracle_check.py`; every
  * later execution must match that first result exactly (floats compared
  * at 9 decimals, the oracle rule's precision).
  */
final class QueryMixWorkload(dataDir: String, outDir: File, seed: Long) extends Workload {
  import QueryMixWorkload._

  private val first = mutable.LinkedHashMap.empty[String, (StructType, Array[Row], String)]
  private val rng = new scala.util.Random(seed)

  def prepare(): Unit = {
    Corpus.deleteRec(outDir)
    val missing = Queries.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"query_mix names unknown to SparkEntry.queries: ${missing.mkString(", ")}")
  }

  private def run(spark: SparkSession, tracer: Option[Tracer], name: String): OpResult = {
    var schema: StructType = null
    Workload.query(tracer, "query", name) {
      val df = graft.SparkEntry.queries(name)(spark, dataDir)
      schema = df.schema
      df
    } { rows =>
      val h = digest(rows)
      first.get(name) match {
        case Some((_, _, h0)) => h == h0
        case None => first(name) = (schema, rows, h); true
      }
    }
  }

  def warmup(spark: SparkSession): Unit = {
    val r = run(spark, None, Queries.head)
    require(r.ok, s"query_mix warm-up op ${Queries.head} failed: ${r.error}")
  }

  /** One pass, which compiles each query's generated code and fixes its
    * first result: the oracle checks that one, and every timed execution
    * must equal it. */
  def prime(spark: SparkSession): Unit = Queries.foreach { q =>
    val r = run(spark, None, q)
    require(r.ok, s"query_mix op $q failed while priming: ${r.error}")
  }

  /** Whole passes only, so every run times the same multiset of queries
    * whatever the seed's order. */
  def window(spark: SparkSession, seconds: Double, tracer: Option[Tracer], index: Int): Window = {
    val out = Seq.newBuilder[OpResult]
    val (passes, wall) =
      Workload.rounds(seconds, nominalRoundS = 6.0)(rng.shuffle(Queries).foreach(q => out += run(spark, tracer, q)))
    val res = out.result()
    val perQuery = res.groupBy(_.name).map { case (_, rs) => Stats.median(rs.map(_.seconds)) }
    Window(res, wall, Map(
      "query_mix_s" -> perQuery.sum,
      "passes" -> passes.toDouble,
      "pass_queries" -> Queries.size.toDouble))
  }

  override def layers(t: Tracer, spans: Seq[Span], w: Window): Map[String, Double] = {
    // per-family pass time: a family is the query name's first word
    val fam = w.ops.groupBy(o => "query.family." + o.name.stripPrefix("q_").takeWhile(_ != '_') + "_s")
      .map { case (k, rs) =>
        k -> rs.groupBy(_.name).values.map(x => Stats.median(x.map(_.seconds))).sum
      }
    fam
  }

  /** The first result of each query, for the DuckDB oracle check. */
  override def finish(spark: SparkSession): Unit = {
    outDir.mkdirs()
    first.foreach { case (name, (schema, rows, _)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(outDir, name).getPath)
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => first.contains(k) }
    Files.write(new File(outDir, "oracle_sql.json").toPath,
      Json.write(oracle).getBytes(StandardCharsets.UTF_8))
  }
}

object QueryMixWorkload {
  /** Catalog queries timed by `query_mix`: every `SparkEntry.queries` entry
    * that has a DuckDB oracle, keeps all its files inside the Spark session
    * (no fixture or checkpoint written to a fixed /tmp or /dev/shm path)
    * and is not a streaming drain, and whose second execution at sf0.01 on
    * four cores took under 0.35 s (74 of them), then every sixth of those
    * by name. All 282 catalog queries match the oracle on the benchmark's
    * tables, but a full pass (~3 min on four cores) does not fit a run. */
  val Queries: Seq[String] = Seq(
    "q_asof_forward", "q_curriculum", "q_distinct_agg", "q_epoch_shuffle", "q_heavy_hitters",
    "q_kappa", "q_multimodal_frames", "q_posexplode", "q_scalar_funcs", "q_string_suite",
    "q_tpch_q6", "q_url_extract", "q_window_topk")

  /** Order-insensitive digest of a result: canonical row strings, sorted. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(r => r.toSeq.map(cell).mkString("|")).sorted.foreach { s =>
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  private def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).toString
    case f: Float => cell(f.toDouble)
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(cell).mkString("[", ",", "]")
    case a: Array[_] => a.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }
}
