package graft.ops

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.functions._

import graft.ops.Lineage.CutSyntax

/** Partitioned, clustered parquet output — the write half of a training-data
  * pipeline (the read half is partition pruning + predicate pushdown, which
  * Spark gives for free once the layout exists).
  *
  * The naive `df.write.partitionBy(cols)` has a scale trap: every task
  * holds an open writer for EVERY partition value it encounters, so T tasks
  * x P partition values = T*P small files (and T*P writer buffers in
  * memory). The fix is the standard one: shuffle BY the partition columns
  * first so each task owns few partition values, and salt the shuffle key
  * so one giant partition value (the skew case: `lang=en` at 80% of a
  * corpus) still spreads over `filesPerPartition` tasks instead of one
  * straggler writing one enormous file.
  *
  * `sortCols` cluster rows WITHIN each output file (`sortWithinPartitions`
  * — a per-task sort, no extra shuffle), which is what makes min/max
  * row-group statistics selective for later range predicates on those
  * columns.
  */
object PartitionedSink {

  /** Write `df` to `path` as parquet partitioned by `partCols`, salted to
    * `filesPerPartition` files per partition value, rows clustered by
    * `sortCols` within files. Verification is the caller's read-back (see
    * q_partitioned_write) — returning a count here would re-scan the whole
    * output a second time for a number most callers drop.
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partCols: Seq[String],
      sortCols: Seq[String],
      filesPerPartition: Int = 4): Unit =
    layoutWriter(df, partCols, sortCols, filesPerPartition).parquet(path)

  /** The salted, clustered overwrite of `df` that [[writePartitioned]]
    * and [[upsertByKey]] share. */
  private def layoutWriter(
      df: DataFrame,
      partCols: Seq[String],
      sortCols: Seq[String],
      filesPerPartition: Int): DataFrameWriter[Row] = {
    require(partCols.nonEmpty, "partCols must not be empty")
    val salt: Column =
      if (filesPerPartition <= 1) lit(0)
      else if (sortCols.nonEmpty) pmod(hash(sortCols.map(col): _*), lit(filesPerPartition))
      // long arithmetic: hash() spans the full Int range, so an Int add of
      // spark_partition_id() overflows with probability pid/2^32 per row —
      // a guaranteed ArithmeticException at billions of rows under ANSI mode
      else pmod(hash(partCols.map(col): _*).cast("long") + spark_partition_id(),
        lit(filesPerPartition.toLong))
    val shuffled = df
      .withColumn("__salt", salt)
      .repartition((partCols.map(col) :+ col("__salt")): _*)
      .drop("__salt")
    val clustered =
      if (sortCols.isEmpty) shuffled
      else shuffled.sortWithinPartitions((partCols ++ sortCols).map(col): _*)
    clustered.write.mode("overwrite").partitionBy(partCols: _*)
  }

  /** Keyed UPSERT into an existing [[writePartitioned]] layout — the
    * "patch yesterday's corpus" maintenance op (re-crawled docs, late
    * fixes, takedowns-by-replacement): rows of `batch` REPLACE existing
    * rows with the same `keyCol`; everything else in the touched
    * partitions is carried over; untouched partitions are never read or
    * rewritten.
    *
    * Scale shape: the merge reads ONLY the partitions the batch touches
    * (a filter on collected partition values — driver state bounded by
    * partition cardinality, and partition pruning keeps the scan off
    * everything else; null partition values are handled — `isin` alone
    * would silently DROP the carried null-partition rows), anti-joins
    * the batch keys out of the existing rows, unions the batch in, and
    * rewrites just those partitions via dynamic partition overwrite.
    * Replaced bytes ~ touched partitions, not corpus size.
    *
    * CONTRACT: a key's partition value must be STABLE — this op prunes
    * to the batch's partitions, so a batch row whose key currently
    * lives in an untouched partition leaves the stale copy there (the
    * key is then duplicated). That matches the usual layout (partition
    * is a function of the key — lang, date, source); when partitions
    * can move, run a full rewrite instead, or enable
    * `assertStableKeys` (a column-pruned key+partition scan of the
    * whole corpus — debug-tier cost) to fail fast on a moved key.
    * Concurrency: the whole call is one read-modify-write, so it runs
    * under a [[DirLock]] single-writer lease on `path` — a second
    * concurrent upsert into the same layout fails loudly at acquire
    * instead of losing one writer's rows (torn-state/lost-update
    * taxonomy in the DirLock scaladoc; cross-TABLE transactionality
    * remains a table-format concern — Delta/Iceberg).
    */
  def upsertByKey(
      batch: DataFrame,
      path: String,
      partCol: String,
      keyCol: String,
      sortCols: Seq[String] = Nil,
      filesPerPartition: Int = 4,
      assertStableKeys: Boolean = false): Unit = {
    val spark = batch.sparkSession
    DirLock.withLock(spark, path) {
      upsertLocked(batch, path, partCol, keyCol, sortCols, filesPerPartition,
        assertStableKeys)
    }
  }

  private def upsertLocked(
      batch: DataFrame,
      path: String,
      partCol: String,
      keyCol: String,
      sortCols: Seq[String],
      filesPerPartition: Int,
      assertStableKeys: Boolean): Unit = {
    val spark = batch.sparkSession
    // the batch is consumed three times (partition collect, anti-join
    // keys, union branch): persist so an expensive upstream plan (joins,
    // dedup) runs once
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = b.select(partCol).distinct().collect().map(_.get(0))
      if (touched.isEmpty) return
      val nonNull = touched.filter(_ != null)
      val partFilter: Column = {
        val in = if (nonNull.nonEmpty) col(partCol).isin(nonNull: _*) else lit(false)
        if (touched.contains(null)) in || col(partCol).isNull else in
      }
      if (assertStableKeys) {
        val moved = spark.read.parquet(path)
          .select(col(keyCol), col(partCol))
          .join(b.select(col(keyCol)).distinct(), Seq(keyCol), "left_semi")
          .filter(!coalesce(partFilter, lit(false)))
          .limit(1).collect()
        if (moved.nonEmpty)
          throw new IllegalStateException(
            s"[upsertByKey] key '${moved.head.get(0)}' lives in untouched partition " +
              s"'${moved.head.get(1)}' — keys must not change partitions (see scaladoc)")
      }
      val existing = spark.read.parquet(path).filter(partFilter)
      // the lineage cut breaks the read path BEFORE the overwrite —
      // Spark (correctly) refuses to overwrite a path a plan still reads
      // from; the materialized set is bounded by the touched partitions
      // (disk-backed executor storage), never the corpus
      val merged = existing
        .join(b.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
        .unionByName(b)
        .cutLineage()
      // same salted layout as writePartitioned; dynamic overwrite replaces
      // only the touched partitions. Passed as this write's own option
      // (read ahead of the session's spark.sql.sources.partitionOverwriteMode),
      // so the caller's session conf is never touched
      layoutWriter(merged, Seq(partCol), sortCols, filesPerPartition)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    } finally b.unpersist(blocking = false)
  }
}
