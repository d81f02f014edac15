package graft.dev

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{BandPostings, Dedup, DirLock, PartitionedSink}

/** Cross-PROCESS drive for [[graft.ops.DirLock]] (VERDICT r14 item 4):
  * DirLockSpec covers in-process interleavings, but the lease's real
  * adversary is a SECOND JVM — two jobs scheduled against one artifact
  * directory. This drive runs the contract end-to-end with real child
  * JVMs and a real SIGKILL:
  *
  *  1. CONTENTION — child A (holder) takes the cycle lease on a
  *     partitioned-parquet artifact and runs a deliberately slow
  *     [[PartitionedSink.upsertByKey]]; child B (contender) attempts a
  *     plain acquire while A is alive and must FAIL LOUDLY with the
  *     holder's identity (never wait, never corrupt).
  *  2. KILL + STALE BREAK — the parent SIGKILLs A mid-upsert
  *     (`destroyForcibly`), leaving a torn write and an orphaned lease;
  *     child C (breaker) acquires with `breakStaleAfterMs`, re-runs the
  *     upsert with its own payload over the same key set, and releases.
  *     Integrity: the artifact reads back as EXACTLY the breaker's rows
  *     (the torn holder generation fully replaced — no torn mix), and
  *     the lease file is gone.
  *  3. BANDPOSTINGS CYCLE — same pair over the version-stamped
  *     [[Dedup.BandPostings]] artifact: holder killed mid-`save` (tmp
  *     write + swap), breaker breaks the lease, re-saves, and
  *     `BandPostings.load` must succeed with the params sidecar's
  *     version stamp verified (load rejects torn/unstamped artifacts
  *     loudly — a successful load IS the integrity check).
  *  4. CONCURRENT READER (r16, across 1-3) — child R polls both
  *     artifacts continuously with plain `spark.read.parquet` (no
  *     lease — leases are a writer protocol) while the scenarios above
  *     run, logging per-poll row counts / tag mixes / exceptions. The
  *     parent classifies the log into clean / torn / error polls: the
  *     MEASURED reader-isolation contract during an upsert, a SIGKILL,
  *     and a stale-break restore (documented in dev/DIRLOCK_DRIVE.md +
  *     ARCHITECTURE.md — dynamic partition overwrite and the postings
  *     delete→rename swap are not reader-atomic by construction; the
  *     drive measures what that non-atomicity actually exposes).
  *
  * Run: `sbt "runMain graft.dev.DirLockDrive orchestrate [workDir]"` —
  * the parent prints one `DRIVE <scenario> outcome=...` line per
  * scenario; children signal via marker files (no stdout parsing).
  * Results + reading recorded in dev/DIRLOCK_DRIVE.md.
  */
object DirLockDrive {

  private val Keys = 64

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("orchestrate")
    val work = args.lift(1).getOrElse("/tmp/graft_dirlock_drive")
    mode match {
      case "orchestrate" => orchestrate(work)
      case "holder"      => holder(work)
      case "contender"   => contender(work)
      case "breaker"     => breaker(work)
      case "bp-holder"   => bpHolder(work)
      case "bp-breaker"  => bpBreaker(work)
      case "reader"      => reader(work)
      case other => sys.error(s"unknown mode $other")
    }
  }

  private def artifactDir(work: String) = s"$work/artifact"
  private def postingsDir(work: String) = s"$work/postings"

  // own builder, not HarnessSession: the drive's child JVMs build theirs here
  private def session(app: String): SparkSession = {
    val s = SparkSession.builder()
      .appName(app)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A keyed batch over 4 partitions; `slowMs` > 0 injects a per-row
    * sleep so the write is reliably in flight when the parent kills. */
  private def batch(spark: SparkSession, tag: String, slowMs: Int) = {
    import spark.implicits._
    val base = spark.range(Keys).select(
      col("id").as("key"),
      concat(lit("p"), pmod(col("id"), lit(4))).as("part"),
      lit(tag).as("val"))
    if (slowMs == 0) base
    else {
      val slow = udf { (i: Long) => Thread.sleep(slowMs); i }
      base.withColumn("key", slow(col("key")))
    }
  }

  private def touch(p: String): Unit = {
    Files.createDirectories(Paths.get(p).getParent)
    Files.writeString(Paths.get(p), "ok")
  }

  // ------------------------------------------------------------ children

  /** Child A: cycle lease + slow upsert (killed by the parent mid-write). */
  private def holder(work: String): Unit = {
    val spark = session("dirlock-holder")
    val l = DirLock.acquire(spark, artifactDir(work))
    touch(s"$work/holder.acquired")
    // 64 rows x 1 s over 4 cores = a >=16 s write window: the parent's
    // kill (acquired + 6 s) is guaranteed mid-upsert no matter how slow
    // the contender JVM comes up
    try PartitionedSink.upsertByKey(
      batch(spark, "HOLDER", slowMs = 1000), artifactDir(work), "part", "key")
    finally l.release() // unreachable when SIGKILLed — that's the point
    touch(s"$work/holder.finished") // reached only if the kill missed
  }

  /** Child B: plain acquire against a live lease — must refuse loudly. */
  private def contender(work: String): Unit = {
    val spark = session("dirlock-contender")
    try {
      val l = DirLock.acquire(spark, artifactDir(work))
      l.release()
      touch(s"$work/contender.acquired") // would mean a broken lease
    } catch {
      case e: java.io.IOException =>
        println(s"DRIVE contender refused: ${e.getMessage.linesIterator.next()}")
        touch(s"$work/contender.refused")
    }
    spark.stop()
  }

  /** Child C: break the dead holder's lease, repair by re-upserting the
    * same key set, release, verify no torn mix. */
  private def breaker(work: String): Unit = {
    val spark = session("dirlock-breaker")
    val l = DirLock.acquire(spark, artifactDir(work), breakStaleAfterMs = 2000L)
    try PartitionedSink.upsertByKey(
      batch(spark, "SURVIVOR", slowMs = 0), artifactDir(work), "part", "key")
    finally l.release()
    // integrity from the survivor's own vantage: every key present once,
    // every value the survivor's (holder's torn generation fully gone)
    val byVal = spark.read.parquet(artifactDir(work))
      .groupBy("val").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val lockGone = !Files.exists(Paths.get(
      DirLock.lockPathFor(new org.apache.hadoop.fs.Path(artifactDir(work))).toUri.getPath))
    if (byVal == Map("SURVIVOR" -> Keys.toLong) && lockGone)
      touch(s"$work/breaker.ok")
    else println(s"DRIVE breaker INTEGRITY FAILURE: byVal=$byVal lockGone=$lockGone")
    spark.stop()
  }

  /** Scenario-4 READER: polls both artifacts continuously (no lease —
    * leases are a WRITER protocol) while the writer scenarios run,
    * logging one line per poll: what a concurrent reader actually
    * observes during an upsert, a SIGKILL, and a stale-break restore.
    * Each poll re-plans `spark.read.parquet` from scratch (fresh file
    * listing — no FileIndex reuse across polls). `art` clean =
    * one tag with 64 rows / 64 distinct keys; anything else is a torn
    * snapshot; exceptions (missing dir mid-swap, missing files
    * mid-overwrite) are recorded by class. The parent classifies the
    * log — this scenario MEASURES the isolation contract, it does not
    * assume one (dev/DIRLOCK_DRIVE.md reader section).
    */
  private def reader(work: String): Unit = {
    val spark = session("dirlock-reader")
    val log = new java.io.PrintWriter(new java.io.FileWriter(s"$work/reader.log"), true)
    touch(s"$work/reader.started")
    while (!Files.exists(Paths.get(s"$work/reader.stop"))) {
      val t = System.currentTimeMillis()
      val art =
        try {
          val rows = spark.read.parquet(artifactDir(work))
            .groupBy("val")
            .agg(count(lit(1)).as("n"), countDistinct(col("key")).as("k"))
            .collect()
            .map(r => s"${r.getString(0)}:${r.getLong(1)}:${r.getLong(2)}")
            .sorted.mkString(",")
          s"ok $rows"
        } catch { case e: Throwable => s"err ${e.getClass.getSimpleName}" }
      val posts =
        try s"ok ${spark.read.parquet(postingsDir(work)).count()}"
        catch { case e: Throwable => s"err ${e.getClass.getSimpleName}" }
      log.println(s"$t art=[$art] posts=[$posts]")
    }
    log.close()
    touch(s"$work/reader.stopped")
    spark.stop()
  }

  private def docs(spark: SparkSession, n: Int, tag: String) =
    spark.range(n).select(col("id").as("doc_id"),
      concat(lit(s"$tag document text number "), col("id"),
        lit(" with shared tail tokens alpha beta gamma")).as("text"))

  /** Scenario-3 holder: cycle lease + slow BandPostings save (killed
    * mid tmp-write/swap). */
  private def bpHolder(work: String): Unit = {
    val spark = session("dirlock-bp-holder")
    val dir = postingsDir(work)
    val l = DirLock.acquire(spark, dir)
    touch(s"$work/bp_holder.acquired")
    val p = Dedup.bandPostings(docs(spark, 200, "holder"), "doc_id", "text")
    val slow = udf { (i: Int) => Thread.sleep(30); i }
    val slowPosts = p.posts.withColumn("__band", slow(col("__band")))
    try p.copy(posts = slowPosts).save(dir)
    finally l.release()
    touch(s"$work/bp_holder.finished")
  }

  /** Scenario-3 breaker: break the lease, re-save a clean generation,
    * prove the artifact loads (version stamp verified by load). */
  private def bpBreaker(work: String): Unit = {
    val spark = session("dirlock-bp-breaker")
    val dir = postingsDir(work)
    val l = DirLock.acquire(spark, dir, breakStaleAfterMs = 2000L)
    try Dedup.bandPostings(docs(spark, 300, "breaker"), "doc_id", "text").save(dir)
    finally l.release()
    val loaded = BandPostings.load(spark, dir) // loud on torn/unstamped
    val nDocs = loaded.posts.select("__idH").distinct().count()
    println(s"DRIVE bp-breaker loaded: docs=$nDocs bands=${loaded.bands} " +
      s"numHashes=${loaded.numHashes} shingleN=${loaded.shingleN}")
    if (nDocs == 300 && loaded.bands == 16 && loaded.numHashes == 64)
      touch(s"$work/bp_breaker.ok")
    else println("DRIVE bp-breaker INTEGRITY FAILURE")
    spark.stop()
  }

  // --------------------------------------------------------- orchestrator

  private def spawn(mode: String, work: String): Process = {
    import scala.jdk.CollectionConverters._
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val in = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList
    // re-issue the parent's module opens (paired or --add-opens=... form)
    val opens = in.zip(in.drop(1) :+ "").flatMap {
      case (f, v) if f == "--add-opens" || f == "--add-exports" => Seq(f, v)
      case (f, _) if f.startsWith("--add-opens=") || f.startsWith("--add-exports=") => Seq(f)
      case _ => Nil
    }
    val cmd = Seq(javaBin) ++ opens ++ Seq(
      "-Xmx4g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"),
      "graft.dev.DirLockDrive", mode, work)
    new ProcessBuilder(cmd.asJava).inheritIO().start()
  }

  private def awaitFile(p: String, timeoutMs: Long): Boolean = {
    val t0 = System.currentTimeMillis()
    while (!Files.exists(Paths.get(p))) {
      if (System.currentTimeMillis() - t0 > timeoutMs) return false
      Thread.sleep(100)
    }
    true
  }

  private def orchestrate(work: String): Unit = {
    graft.Scratch.deleteRec(new java.io.File(work))
    val spark = session("dirlock-orchestrator")
    // seed both artifacts (upsertByKey needs an existing generation)
    PartitionedSink.writePartitioned(
      batch(spark, "SEED", slowMs = 0), artifactDir(work), Seq("part"), Nil)
    Dedup.bandPostings(docs(spark, 100, "seed"), "doc_id", "text")
      .save(postingsDir(work))

    // scenario 4 (runs ACROSS 1-3): a concurrent reader polling both
    // artifacts for the whole drive — what isolation does a reader
    // observe while writers upsert, die, and stale-break-restore?
    val r = spawn("reader", work)
    // any failure below must still stop the reader — its only exit
    // condition is the stop marker, and an orphaned poller burns the
    // bench box forever (the contamination BENCH_DRIFT.md documents)
    try {
    require(awaitFile(s"$work/reader.started", 120000), "reader never started")

    // scenario 1+2: holder vs contender, then SIGKILL + stale break.
    // The kill is anchored to holder.acquired + 6 s — NOT to the
    // contender's JVM lifecycle — so the holder is provably mid-write
    // (its upsert takes >=16 s by construction) regardless of how fast
    // or slow the contender comes up. The contender's refusal is
    // against the lease FILE, which outlives the SIGKILL, so it holds
    // whether it races the live holder or the orphaned lease.
    val h = spawn("holder", work)
    require(awaitFile(s"$work/holder.acquired", 120000), "holder never acquired")
    val tAcquired = System.currentTimeMillis()
    val c = spawn("contender", work)
    val killAt = tAcquired + 6000
    while (System.currentTimeMillis() < killAt) Thread.sleep(100)
    h.destroyForcibly(); h.waitFor()
    val killedMidWrite = !Files.exists(Paths.get(s"$work/holder.finished"))
    c.waitFor()
    val refused = Files.exists(Paths.get(s"$work/contender.refused")) &&
      !Files.exists(Paths.get(s"$work/contender.acquired"))
    println(s"DRIVE contention outcome=${if (refused) "REFUSED_LOUDLY" else "FAILED"}")
    val b = spawn("breaker", work)
    b.waitFor()
    val broke = Files.exists(Paths.get(s"$work/breaker.ok"))
    println(s"DRIVE kill-stale-break outcome=${if (broke && killedMidWrite) "RECOVERED" else "FAILED"} " +
      s"(killedMidWrite=$killedMidWrite breakerOk=$broke)")

    // scenario 3: BandPostings save cycle
    val h2 = spawn("bp-holder", work)
    require(awaitFile(s"$work/bp_holder.acquired", 120000), "bp-holder never acquired")
    Thread.sleep(3000)
    h2.destroyForcibly(); h2.waitFor()
    val killed2 = !Files.exists(Paths.get(s"$work/bp_holder.finished"))
    val b2 = spawn("bp-breaker", work)
    b2.waitFor()
    val ok2 = Files.exists(Paths.get(s"$work/bp_breaker.ok"))
    println(s"DRIVE bandpostings-cycle outcome=${if (ok2 && killed2) "RECOVERED" else "FAILED"} " +
      s"(killedMidSave=$killed2 breakerOk=$ok2)")

    // stop the reader and classify its observations. A clean `art` poll
    // is ONE tag at 64 rows / 64 distinct keys; a torn poll saw a
    // cross-partition mix or a partial key set; err polls saw a missing
    // dir/file mid-swap. This is a MEASUREMENT — the gate is only that
    // the reader ran and polled throughout; the observed counts are the
    // documented contract (dev/DIRLOCK_DRIVE.md).
    touch(s"$work/reader.stop")
    val readerStopped = awaitFile(s"$work/reader.stopped", 60000)
    // timed: a wedged reader must not hang the drive past the finally's
    // backstop — kill it here so the busy-poller can't outlive the run
    if (!r.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)) {
      r.destroyForcibly(); r.waitFor()
    }
    val lines = scala.io.Source.fromFile(s"$work/reader.log").getLines().toSeq
    def field(l: String, k: String): String =
      l.split(s"$k=\\[", 2).lift(1).map(_.takeWhile(_ != ']')).getOrElse("")
    val artObs = lines.map(field(_, "art"))
    val postsObs = lines.map(field(_, "posts"))
    def cleanArt(o: String): Boolean = o.startsWith("ok ") && {
      val tags = o.drop(3).split(",").filter(_.nonEmpty)
      tags.length == 1 && tags(0).endsWith(s":$Keys:$Keys")
    }
    val artClean = artObs.count(cleanArt)
    val artTorn = artObs.count(o => o.startsWith("ok ") && !cleanArt(o))
    val artErr = artObs.count(_.startsWith("err"))
    val postsOk = postsObs.count(_.startsWith("ok"))
    val postsErr = postsObs.count(_.startsWith("err"))
    val tagsSeen = artObs.filter(_.startsWith("ok "))
      .flatMap(_.drop(3).split(",")).map(_.takeWhile(_ != ':'))
      .filter(_.nonEmpty).distinct.sorted
    val tornSamples = artObs.filter(o => o.startsWith("ok ") && !cleanArt(o)).distinct.take(3)
    val errSamples = (artObs ++ postsObs).filter(_.startsWith("err")).distinct.take(3)
    println(s"DRIVE reader polls=${lines.size} " +
      s"art{clean=$artClean,torn=$artTorn,err=$artErr} " +
      s"posts{ok=$postsOk,err=$postsErr} tagsSeen=${tagsSeen.mkString("/")} " +
      s"tornSamples=${tornSamples.mkString(" | ")} errSamples=${errSamples.mkString(" | ")}")

    spark.stop()
    if (!(refused && broke && killedMidWrite && ok2 && killed2 &&
        readerStopped && lines.size >= 20)) sys.exit(1)
    } finally {
      touch(s"$work/reader.stop") // idempotent; reaches the crash paths
      if (!r.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)) r.destroyForcibly()
    }
  }
}
