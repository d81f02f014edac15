package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, CyclicBarrier, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.catalog.QuerySupport

/** A drain's state conf (the shuffle-width cap and the RocksDB state
  * store) is pinned when the stream starts and lives only in the stream's
  * own session: the caller's session never runs under it, and drains
  * started side by side leave it as they found it.
  */
class DrainConfSpec extends SparkSpec {

  private val Shuffle = "spark.sql.shuffle.partitions"
  private val Provider = "spark.sql.streaming.stateStore.providerClass"

  /** Three single-file chunks: three data micro-batches at one file per
    * trigger, each feeding the same keyed state. */
  private lazy val srcDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("drainconf_src").toString
    for (c <- 0 until 3)
      (0 until 30).map(i => (c * 30L + i, s"k${i % 5}")).toDF("id", "k")
        .coalesce(1).write.mode("append").parquet(dir)
    dir
  }

  private def counts: DataFrame =
    spark.readStream.schema("id LONG, k STRING")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .groupBy("k").count()

  /** Drains [[counts]] as `name` and returns, per batch, the caller
    * session's value of each key in `watch` as the batch body reads it. */
  private def drainCounts(name: String, cap: Int, watch: String*): Seq[Seq[Option[String]]] = {
    val seen = new ConcurrentLinkedQueue[Seq[Option[String]]]()
    QuerySupport.drain(counts, name, stateCap = Some(cap)) {
      _.outputMode("update").queryName(name)
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          batch.count()
          seen.add(watch.map(spark.conf.getOption))
          ()
        }
    }
    seen.asScala.toSeq
  }

  /** Runs `body` and returns the progress of the streams it starts under
    * `names`, once each has terminated. */
  private def progressOf(names: String*)(body: => Unit): Map[String, Seq[StreamingQueryProgress]] = {
    val ids = new ConcurrentHashMap[java.util.UUID, String]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val ended = new CountDownLatch(names.size)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (names.contains(e.name)) ids.put(e.id, e.name)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (ids.containsKey(e.progress.id)) progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (ids.containsKey(e.id)) ended.countDown()
    }
    spark.streams.addListener(listener)
    try {
      body
      assert(ended.await(60, TimeUnit.SECONDS), "listener never saw the drains end")
    } finally spark.streams.removeListener(listener)
    progress.asScala.toSeq.groupBy(_.name)
  }

  private def stateOps(ps: Seq[StreamingQueryProgress]) = {
    val ops = ps.flatMap(_.stateOperators)
    assert(ops.nonEmpty, "the drain ran no stateful batch")
    ops
  }

  private def onRocksDb(ps: Seq[StreamingQueryProgress]): Boolean =
    stateOps(ps).forall(_.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")))

  test("the caller's session keeps its own shuffle width while a capped drain's batches run") {
    val own = spark.conf.get(Shuffle)
    assert(own.toInt > 2, s"the test session must be wider than the cap (is $own)")
    val seen = drainCounts("drainconf_caller", cap = 2, Shuffle)
    assert(seen.size >= 3, s"expected one batch per chunk, saw ${seen.size}")
    assert(seen.forall(_ == Seq(Some(own))),
      s"the caller's session ran under the drain's cap: $seen")
    assert(spark.conf.get(Shuffle) == own)
  }

  test("every state operator of a capped drain runs at the cap") {
    val progress = progressOf("drainconf_width")(drainCounts("drainconf_width", cap = 2))
    val widths = stateOps(progress("drainconf_width")).map(_.numShufflePartitions)
    assert(widths.forall(_ == 2), s"state operators ran at $widths, cap 2")
  }

  test("a Drain.RocksDb-bound drain runs on RocksDB while the caller's provider conf is unchanged") {
    val own = spark.conf.getOption(Provider)
    var seen = Seq.empty[Seq[Option[String]]]
    val progress = progressOf("drainconf_rocks") {
      seen = QuerySupport.onRocksDbStateStore(drainCounts("drainconf_rocks", cap = 2, Provider))
    }
    assert(onRocksDb(progress("drainconf_rocks")),
      "no rocksdb* state metrics: the drain ran on another state store")
    assert(seen.nonEmpty && seen.forall(_ == Seq(own)),
      s"the caller's session saw the drain's state store: $seen")
    assert(spark.conf.getOption(Provider) == own)
  }

  test("two drains started from two threads leave the session's conf as it was") {
    val before = Seq(Shuffle, Provider).map(spark.conf.getOption)
    val go = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    val progress = progressOf("drainconf_t2", "drainconf_t3") {
      try {
        val runs = Seq[Callable[Unit]](
          () => { go.await(); QuerySupport.onRocksDbStateStore(drainCounts("drainconf_t2", cap = 2)); () },
          () => { go.await(); drainCounts("drainconf_t3", cap = 3); () })
        pool.invokeAll(runs.asJava).asScala.foreach(_.get()) // rethrows a drain's failure
      } finally pool.shutdown()
    }
    assert(Seq(Shuffle, Provider).map(spark.conf.getOption) == before)
    assert(stateOps(progress("drainconf_t2")).forall(_.numShufflePartitions == 2))
    assert(stateOps(progress("drainconf_t3")).forall(_.numShufflePartitions == 3))
    assert(onRocksDb(progress("drainconf_t2")))
    assert(!stateOps(progress("drainconf_t3")).exists(
      _.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb"))),
      "the default-store drain picked up the other thread's RocksDB binding")
  }

  test("catalog source: only QuerySupport starts streams or writes session conf") {
    val banned = Seq("awaitTermination(", ".start()", "conf.set(", "conf.unset(")
    val sources = Files.list(Paths.get("src/main/scala/graft/catalog")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.getFileName.toString == "QuerySupport.scala"), "catalog sources not found")
    val offenders = sources.filter(_.getFileName.toString != "QuerySupport.scala").flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if banned.exists(line.contains) => s"${p.getFileName}:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty,
      "drain through QuerySupport.drain and scope conf with QuerySupport.sessionWith:\n" +
        offenders.mkString("\n"))
  }
}
