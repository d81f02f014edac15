package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog._

/** Driver contract: `queries` maps each catalog query name to its body,
  * `oracleSql` maps the same names to equivalent DuckDB SQL over the same
  * parquet tables. Both are views over the query families in
  * `graft.catalog`, where each query is declared once, as one [[QueryDef]].
  *
  * Conventions for oracle parity: every result is deterministically
  * ORDER BY'd, every double is round()'d, every derived integer is cast to
  * long (DuckDB integer functions return BIGINT), and column names are
  * aliased identically on both sides.
  */
object SparkEntry {

  /** Every catalog query, family by family. */
  private[graft] lazy val catalog: Seq[QueryDef] = {
    val all = Seq(LogSourceQueries, RelationalQueries, TpchQueries, PhysicalQueries,
      StatsQueries, BehaviorQueries, GraphQueries, StreamQueries, DedupQueries,
      EmbeddingQueries, TextQueries, RetrievalQueries).flatMap(_.defs)
    val twice = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty, s"query names declared twice: ${twice.mkString(", ")}")
    all
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    catalog.map(q => q.name -> q.oracle).toMap

  /** Flagship: events → log lines → `log` source scan (regex extract +
    * typed coercion) → host aggregation. Exercises SURVEY.md §2A #1-#11
    * end-to-end on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_log_parse_agg")(spark, "/root/testdata/sf0.001")

  // private[graft]: EventsEncodingSpec drives this loader over fixture
  // parquet in each historical ts encoding
  private[graft] def events(spark: SparkSession, dir: String): DataFrame =
    QuerySupport.events(spark, dir)

  // PlanSpec reads these two inputs to assert on their scans' plans
  private[graft] def dppInput(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    PhysicalQueries.dppInput(spark, dir)

  private[graft] def metaCountFrame(spark: SparkSession, dir: String): DataFrame =
    PhysicalQueries.metaCountFrame(spark, dir)
}
