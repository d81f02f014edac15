package graft

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.BeforeAndAfterAll

/** Smoke: every SparkEntry query runs at sf0.001 and yields rows, and
  * starts a streaming query exactly when its catalog entry declares a
  * drain; every oracle key refers to a real query. (Exact value parity vs
  * DuckDB is the driver's t2 gate; cross-checked during development.)
  */
class QueriesSpec extends SparkSpec with BeforeAndAfterAll {

  // Streaming queries started on the shared session. The session posts
  // QueryStartedEvent to its own listeners on the thread that calls
  // start(), so the count is complete once a query body returns.
  private val streamsStarted = new java.util.concurrent.atomic.AtomicInteger
  private lazy val startCounter = {
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        streamsStarted.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    l
  }

  override def afterAll(): Unit =
    try spark.streams.removeListener(startCounter) finally super.afterAll()

  private val drains = SparkEntry.catalog.map(q => q.name -> q.drain).toMap

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle entries without a query: $extra")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs and returns rows at sf0.001") {
      startCounter
      streamsStarted.set(0)
      val df = fn(spark, sf)
      assert(df.count() > 0, s"$name returned no rows")
      // a wrong declaration would mis-split Bench's streaming floors
      assert((streamsStarted.get > 0) == (drains(name) != Drain.None),
        s"$name declares drain ${drains(name)} but started ${streamsStarted.get} streaming queries")
    }
  }

  test("every Spark output column is named in its oracle SQL (alias-drift guard)") {
    // the driver's compare sorts columns BY NAME before hashing values, so
    // a Spark alias the oracle doesn't produce is an automatic mismatch —
    // catch it textually here instead of one driver round later
    val drift = for {
      (name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
      sql <- SparkEntry.oracleSql.get(name).toSeq
      colName <- fn(spark, sf).columns
      // word-boundary match; SQL is case-preserving for aliases here
      if !s"(?i)(^|[^A-Za-z0-9_])${java.util.regex.Pattern.quote(colName)}($$|[^A-Za-z0-9_])".r
        .findFirstIn(sql).isDefined
    } yield s"$name.$colName"
    assert(drift.isEmpty, s"columns missing from oracle SQL: $drift")
  }

  test("timer-API sessionization emits exactly the legacy-API sessions") {
    // TimedSessions (transformWithState + event-time timers) and
    // Sessionize (flatMapGroupsWithState + timeout) implement the same
    // 30-min-gap spec — their per-user readouts must be row-identical,
    // not merely each oracle-green
    def rows(q: String) = SparkEntry.queries(q)(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(rows("q_timed_sessions") == rows("q_sessionize_custom"))
  }

  test("streaming CDC fold lands on exactly the batch compaction snapshot") {
    // the documented equality-by-construction (time-ordered batches +
    // within-batch LWW): q_streaming_cdc's readout must be row-identical
    // to q_cdc_apply's, not merely oracle-green in isolation
    def rows(q: String) = SparkEntry.queries(q)(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(rows("q_streaming_cdc") == rows("q_cdc_apply"))
  }
}
