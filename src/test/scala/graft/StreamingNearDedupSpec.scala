package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.functions._

import graft.streaming.StreamingNearDedup

/** Streaming near-dedup across batches: first occurrence wins, batch-
  * internal near-dups are kept, and a replayed batch id is exactly-once
  * (never dedups against its own torn write).
  */
class StreamingNearDedupSpec extends SparkSpec {

  import spark.implicits._

  // 12 distinct tokens; an 11-token truncation shares 9 of 10 shingles:
  // J = 9/10 = 0.9 >= 0.8
  private def words(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  private def keptIds(sinkDir: String): Set[Long] =
    graft.streaming.IdempotentParquetSink.read(spark, sinkDir)
      .select("doc_id").as[Long].collect().toSet

  test("near-copies of prior batches drop; batch-internal near-dups keep") {
    val sink = java.nio.file.Files.createTempDirectory("graft_snd").toString + "/sink"
    val a = words("a", 12); val c = words("c", 12)
    val b0 = Seq((1L, a), (2L, words("b", 12))).toDF("doc_id", "text")
    StreamingNearDedup.dedupBatch(b0, 0L, sink, "doc_id", "text")
    assert(keptIds(sink) == Set(1L, 2L))

    // 3 = truncated copy of a (cross-batch → drop); 4 = fresh; 5/6 =
    // near-dups of each other WITHIN the batch (both keep, by contract)
    val b1 = Seq(
      (3L, words("a", 11)), (4L, c),
      (5L, words("e", 12)), (6L, words("e", 11))).toDF("doc_id", "text")
    StreamingNearDedup.dedupBatch(b1, 1L, sink, "doc_id", "text")
    assert(keptIds(sink) == Set(1L, 2L, 4L, 5L, 6L))

    // 7 = near-copy of c (kept in batch 1 → drop); 8 = near-copy of a
    // (kept in batch 0 → drop, even though batch 1's copy was dropped)
    val b2 = Seq((7L, words("c", 11)), (8L, words("a", 11)), (9L, words("g", 12)))
      .toDF("doc_id", "text")
    StreamingNearDedup.dedupBatch(b2, 2L, sink, "doc_id", "text")
    assert(keptIds(sink) == Set(1L, 2L, 4L, 5L, 6L, 9L))
  }

  test("band postings persist beside the sink and extend per batch") {
    val sink = java.nio.file.Files.createTempDirectory("graft_snd").toString + "/sink"
    val b0 = Seq((1L, words("a", 12)), (2L, words("b", 12))).toDF("doc_id", "text")
    StreamingNearDedup.dedupBatch(b0, 0L, sink, "doc_id", "text")
    val posts0 = graft.ops.BandPostings.load(spark, s"$sink/_postings")
    assert(posts0.posts.select("__idH").distinct().count() == 2)
    assert(posts0.bands == 16 && posts0.numHashes == 64)

    val b1 = Seq((3L, words("a", 11)), (4L, words("c", 12))).toDF("doc_id", "text")
    StreamingNearDedup.dedupBatch(b1, 1L, sink, "doc_id", "text")
    // 3 dropped (near-copy of 1): postings hold survivors only
    val posts1 = graft.ops.BandPostings.load(spark, s"$sink/_postings")
    assert(posts1.posts.select("__idH").distinct().as[Long].collect().toSet
      == Set(1L, 2L, 4L))
    // the postings dir must be invisible to the sink's own reads
    assert(keptIds(sink) == Set(1L, 2L, 4L))
  }

  test("missing postings under an existing sink: fallback dedups, then repairs") {
    val sink = java.nio.file.Files.createTempDirectory("graft_snd").toString + "/sink"
    val b0 = Seq((1L, words("a", 12))).toDF("doc_id", "text")
    StreamingNearDedup.dedupBatch(b0, 0L, sink, "doc_id", "text")
    // simulate a pre-upgrade checkpoint / crash before the postings save
    Scratch.deleteRec(new java.io.File(s"$sink/_postings"))
    val b1 = Seq((2L, words("a", 11)), (3L, words("d", 12))).toDF("doc_id", "text")
    StreamingNearDedup.dedupBatch(b1, 1L, sink, "doc_id", "text")
    assert(keptIds(sink) == Set(1L, 3L)) // dedup still correct via re-banding
    // and the postings were rebuilt for the WHOLE history
    val repaired = graft.ops.BandPostings.load(spark, s"$sink/_postings")
    assert(repaired.posts.select("__idH").distinct().as[Long].collect().toSet
      == Set(1L, 3L))
  }

  test("crash between sink write and postings write: gap is repaired, dedup still sees that batch") {
    val sink = java.nio.file.Files.createTempDirectory("graft_snd").toString + "/sink"
    val b0 = Seq((1L, words("a", 12))).toDF("doc_id", "text")
    StreamingNearDedup.dedupBatch(b0, 0L, sink, "doc_id", "text")
    // simulate the crash window: batch 1's SINK write landed but the
    // postings update never ran (the design's documented ordering)
    val b1 = Seq((2L, words("d", 12))).toDF("doc_id", "text")
    graft.streaming.IdempotentParquetSink.writeBatch(b1, 1L, sink)
    // batch 2 holds a near-copy of the postings-less batch 1 doc — a
    // whole-postings design silently misses this; per-batch repair must not
    val b2 = Seq((3L, words("d", 11)), (4L, words("f", 12))).toDF("doc_id", "text")
    StreamingNearDedup.dedupBatch(b2, 2L, sink, "doc_id", "text")
    assert(keptIds(sink) == Set(1L, 2L, 4L))
    val posts = graft.ops.BandPostings.load(spark, s"$sink/_postings")
    assert(posts.posts.select("__idH").distinct().as[Long].collect().toSet
      == Set(1L, 2L, 4L))
  }

  test("torn postings partition (no _SUCCESS) is repaired, not trusted") {
    val sink = java.nio.file.Files.createTempDirectory("graft_snd").toString + "/sink"
    val b0 = Seq((1L, words("a", 12))).toDF("doc_id", "text")
    StreamingNearDedup.dedupBatch(b0, 0L, sink, "doc_id", "text")
    val b1 = Seq((2L, words("d", 12))).toDF("doc_id", "text")
    StreamingNearDedup.dedupBatch(b1, 1L, sink, "doc_id", "text")
    // simulate a crash mid-write of __pbatch=1: data files gone, no
    // _SUCCESS — a bare-directory existence check would count it as
    // present and silently dedup later batches against empty postings
    val torn = new java.io.File(s"$sink/_postings/__pbatch=1")
    assert(torn.isDirectory)
    Option(torn.listFiles()).getOrElse(Array.empty).foreach(_.delete())
    assert(!new java.io.File(torn, "_SUCCESS").exists())
    // batch 2 carries a near-copy of batch 1's doc: only a repaired
    // __pbatch=1 can catch it
    val b2 = Seq((3L, words("d", 11)), (4L, words("f", 12))).toDF("doc_id", "text")
    StreamingNearDedup.dedupBatch(b2, 2L, sink, "doc_id", "text")
    assert(keptIds(sink) == Set(1L, 2L, 4L))
    // and the repair recommitted the marker
    assert(new java.io.File(torn, "_SUCCESS").exists())
  }

  test("a replayed batch id is exactly-once and never self-dedups") {
    val sink = java.nio.file.Files.createTempDirectory("graft_snd").toString + "/sink"
    val b0 = Seq((1L, words("a", 12))).toDF("doc_id", "text")
    StreamingNearDedup.dedupBatch(b0, 0L, sink, "doc_id", "text")
    val b1 = Seq((2L, words("a", 11)), (3L, words("d", 12))).toDF("doc_id", "text")
    StreamingNearDedup.dedupBatch(b1, 1L, sink, "doc_id", "text")
    val afterFirst = keptIds(sink)
    assert(afterFirst == Set(1L, 3L))
    // crash-replay of batch 1: its previous write is already in the sink,
    // but history filters batch_id < 1 → same survivors, no duplication
    StreamingNearDedup.dedupBatch(b1, 1L, sink, "doc_id", "text")
    assert(keptIds(sink) == afterFirst)
    val rows = graft.streaming.IdempotentParquetSink.read(spark, sink).count()
    assert(rows == 2L)
  }

  test("shufflePartitions runs the body at that width while the batch's session keeps its own") {
    val Shuffle = "spark.sql.shuffle.partitions"
    // the batch's session as a stream hands it over: AQE off, its own width
    val caller = spark.newSession()
    caller.conf.set("spark.sql.adaptive.enabled", "false")
    caller.conf.set(Shuffle, "3")
    def onCaller(rows: (Long, String)*) = caller.createDataFrame(rows).toDF("doc_id", "text")
    val callerWidths = new ConcurrentLinkedQueue[String]()
    val shuffleStageTasks = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        callerWidths.add(caller.conf.get(Shuffle))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.parentIds.nonEmpty) shuffleStageTasks.add(e.stageInfo.numTasks)
    }
    val sink = java.nio.file.Files.createTempDirectory("graft_snd").toString + "/sink"
    spark.sparkContext.addSparkListener(listener)
    try {
      StreamingNearDedup.dedupBatch(onCaller((1L, words("a", 12)), (2L, words("b", 12))),
        0L, sink, "doc_id", "text", shufflePartitions = Some(5))
      StreamingNearDedup.dedupBatch(onCaller((3L, words("a", 11)), (4L, words("c", 12))),
        1L, sink, "doc_id", "text", shufflePartitions = Some(5))
      GraftSql.waitForListeners(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(keptIds(sink) == Set(1L, 2L, 4L))
    assert(callerWidths.asScala.nonEmpty && callerWidths.asScala.forall(_ == "3"),
      s"the batch's session ran under the body's width: ${callerWidths.asScala.toSeq}")
    // post-shuffle stages run at the width, bar Dedup.spreadDf's explicit
    // repartition to the core count
    val widths = shuffleStageTasks.asScala.toSet
    assert(widths.contains(5) && widths.subsetOf(Set(5, spark.sparkContext.defaultParallelism)),
      s"shuffle stages ran at $widths, width 5")
    assert(caller.conf.get(Shuffle) == "3")
  }
}
