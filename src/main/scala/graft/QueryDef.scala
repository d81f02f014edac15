package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Whether a catalog query drains a Structured Streaming pipeline while it
  * builds its result, and on which state store. The bench splits a
  * draining query's time into a fixed per-drain floor and data work, and
  * picks the floor by this kind.
  */
sealed trait Drain

object Drain {
  /** A batch query: it starts no streaming query. */
  case object None extends Drain

  /** Drains a stream on the default state store. */
  case object Stateless extends Drain

  /** Drains a transformWithState stream, which needs the RocksDB state
    * store; the catalog runs the query body with that store swapped in.
    */
  case object RocksDb extends Drain
}

/** One catalog query: its name, the body that builds its result over a
  * testdata directory, the DuckDB SQL that computes the same result over
  * the same parquet tables, and its drain kind.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    drain: Drain) {
  // a family object that reads an oracle fragment declared further down
  // its body sees null here, not the SQL
  require(oracle != null, s"$name: oracle SQL read before its definition")
}
