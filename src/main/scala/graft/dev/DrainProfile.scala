package graft.dev

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-batch breakdown of a streaming drain query (VERDICT r10 item 2):
  * runs one `SparkEntry.queries` entry n times and dumps every
  * `QueryProgressEvent` JSON — `durationMs` (triggerExecution, addBatch,
  * getBatch, walCommit, commitOffsets, queryPlanning) and
  * `stateOperators` (commit times, store sizes) — so "where do the
  * 3 seconds go" is measured, not guessed.
  *
  * Usage: `sbt "runMain graft.dev.DrainProfile q_streaming_left_join"`
  * (session: [[graft.HarnessSession]]; `SPARK_GRAFT_CPUS=32` reproduces
  * the local[32] numbers in dev/DRAIN_PROFILE.md).
  */
object DrainProfile {
  def main(args: Array[String]): Unit = {
    val qname = if (args.nonEmpty) args(0) else "q_streaming_left_join"
    val runs = if (args.length > 1) args(1).toInt else 3
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.HarnessSession()
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        events.add(e.progress.json)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    (1 to runs).foreach { i =>
      events.clear() // keep only the LAST (warmed) run's batches
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(qname)(spark, sf).count()
      println(f"RUN$i total=${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    Thread.sleep(500) // listener events are async
    events.forEach(j => println("PROGRESS " + j))
    spark.stop()
  }
}
