package graft
package catalog

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A file of catalog queries. Each `query(...)` call in the object's body
  * declares one [[QueryDef]]; `defs` lists them in declaration order.
  */
private[graft] abstract class QueryFamily {
  private val declared = ArrayBuffer.empty[QueryDef]

  /** Declares the query `name` with its DuckDB `oracle`. A query declared
    * with `Drain.RocksDb` runs `build` under
    * [[QuerySupport.withRocksDbStateStore]].
    */
  protected final def query(name: String, oracle: String, drain: Drain = Drain.None)(
      build: (SparkSession, String) => DataFrame): Unit = {
    val run: (SparkSession, String) => DataFrame = drain match {
      case Drain.RocksDb =>
        (spark, dir) => QuerySupport.withRocksDbStateStore(spark)(build(spark, dir))
      case _ => build
    }
    declared += QueryDef(name, run, oracle, drain)
  }

  final def defs: Seq[QueryDef] = declared.toSeq
}
