package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The production state-store backend: at real scale streaming state
  * (windows, joins, dedup sets) outgrows the default in-memory
  * HDFS-backed provider; RocksDB spills to local disk with incremental
  * checkpointing. State-store choice is a CONFIG swap — this spec pins
  * that the same watermarked windowed aggregation produces identical
  * results under both providers.
  */
class RocksDbStateSpec extends SparkSpec {

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def drain(provider: Option[String], srcDir: String): Set[(String, String, Long)] = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    provider.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try {
      val out = collection.mutable.Set.empty[(String, String, Long)]
      val schema = spark.read.parquet(srcDir).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("k"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("ws"),
          col("k"), col("n"))
        .writeStream.outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("rocksdb_ckpt").toString)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.collect().foreach(r => out.synchronized {
            out += ((r.getString(0), r.getString(1), r.getLong(2)))
          })
        }
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "drain timed out")
      out.toSet
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("windowed aggregation is identical under RocksDB and the default provider") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("rocksdb_src").toString
    // 4 time-ordered chunks, several keys, windows spanning chunks
    for (c <- 0 until 4) {
      (0 until 50).map { i =>
        val minute = c * 45 + i % 45 // overlapping hours across chunks
        (java.sql.Timestamp.valueOf(f"2024-03-01 ${minute / 60}%02d:${minute % 60}%02d:00"),
          s"k${i % 3}")
      }.toDF("ts", "k").coalesce(1).write.mode("append").parquet(src)
    }
    val rocks = drain(Some(RocksDb), src)
    val default = drain(None, src)
    assert(rocks.nonEmpty, "no windows emitted — watermark never advanced")
    assert(rocks == default,
      s"providers disagree: only-rocks=${rocks -- default} only-default=${default -- rocks}")
  }

  /** Drain `srcDir` through a FIXED checkpoint under RocksDB + changelog
    * checkpointing, through the same helper the transformWithState queries
    * run under (catalog.QuerySupport.withRocksDbStateStore). Each call is
    * one "process lifetime": AvailableNow drains what is present, stops.
    */
  private def drainChangelog(
      srcDir: String, ckpt: String): Set[(String, String, Long)] =
    catalog.QuerySupport.withRocksDbStateStore(spark) {
      val out = collection.mutable.Set.empty[(String, String, Long)]
      val schema = spark.read.parquet(srcDir).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("k"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("ws"),
          col("k"), col("n"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.collect().foreach(r => out.synchronized {
            out += ((r.getString(0), r.getString(1), r.getLong(2)))
          })
        }
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "drain timed out")
      out.toSet
    }

  test("changelog checkpointing: open-window state survives a restart") {
    import spark.implicits._
    def writeChunk(src: String, c: Int): Unit =
      (0 until 50).map { i =>
        val minute = c * 45 + i % 45
        (java.sql.Timestamp.valueOf(f"2024-03-01 ${minute / 60}%02d:${minute % 60}%02d:00"),
          s"k${i % 3}")
      }.toDF("ts", "k").coalesce(1).write.mode("append").parquet(src)

    // restarted lifetime: chunks 0-1 in run 1, chunks 2-3 in run 2 —
    // windows open at the stop must resume from RESTORED changelog state,
    // or their counts under-report in run 2
    val srcA = java.nio.file.Files.createTempDirectory("rocksdb_restart_src").toString
    val ckptA = java.nio.file.Files.createTempDirectory("rocksdb_restart_ckpt").toString
    for (c <- 0 until 2) writeChunk(srcA, c)
    val run1 = drainChangelog(srcA, ckptA)
    for (c <- 2 until 4) writeChunk(srcA, c)
    val run2 = drainChangelog(srcA, ckptA)
    assert((run1 & run2).isEmpty, s"append-mode window emitted twice: ${run1 & run2}")

    // unrestarted control: same 4 chunks, one lifetime, fresh checkpoint
    val srcB = java.nio.file.Files.createTempDirectory("rocksdb_ctrl_src").toString
    for (c <- 0 until 4) writeChunk(srcB, c)
    val control = drainChangelog(srcB,
      java.nio.file.Files.createTempDirectory("rocksdb_ctrl_ckpt").toString)
    val restarted = run1 ++ run2
    assert(restarted == control,
      s"restart lost state: only-restarted=${restarted -- control} " +
        s"only-control=${control -- restarted}")
  }
}
