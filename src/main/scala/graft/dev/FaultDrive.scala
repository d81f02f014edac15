package graft.dev

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Executor-loss drive for [[graft.ops.Lineage]]'s reliable-checkpoint
  * mode (VERDICT r13 item 1): the property the mode exists for —
  * surviving the loss of the executor holding localCheckpoint blocks
  * mid-iteration — exercised against a REAL executor kill, not argued.
  *
  * Run via spark-submit on `local-cluster[2,2,N]` (real executor JVMs,
  * unlike `local[*]`):
  *
  * {{{
  * /opt/spark/bin/spark-submit --master 'local-cluster[2,2,1536]' \
  *   --class graft.dev.FaultDrive --conf spark.ui.enabled=false \
  *   target/scala-2.13/<jar> <mode> [ckptDir]
  * }}}
  *
  * Modes (each prints one `FAULT ...` line the harness script greps):
  *  - `baseline`    — checkpoint dir set, NO kill: the reference hash.
  *  - `kill-reliable` — checkpoint dir set (Lineage auto → reliable
  *    checkpoints), one executor JVM SIGKILLed mid-loop: the job must
  *    COMPLETE with the baseline's hash (lost tasks re-read the
  *    checkpoint files; nothing irrecoverable died with the executor).
  *  - `kill-local`  — NO checkpoint dir (Lineage auto → localCheckpoint),
  *    same kill: the documented FAILURE mode. localCheckpoint truncates
  *    lineage to blocks that live only on the executor that computed
  *    them, so the kill makes them irrecoverable and Spark aborts with
  *    its checkpoint-block-not-found error — printed here verbatim as
  *    the without-ckpt-dir contract.
  *  - `bpe-baseline` / `bpe-kill-reliable` — the same pair over the
  *    other round-per-cut iterative operator ([[graft.ops.Bpe]]).
  *
  * The kill: a daemon thread scans /proc for CoarseGrainedExecutorBackend
  * JVMs (the driver is SparkSubmit — never matched) after the loop has
  * run `killAfterMs`, and SIGKILLs the first. The standalone worker
  * relaunches a FRESH executor (empty block manager), so recovery can
  * only come from reliable checkpoint files — exactly the property under
  * test. Results + reading recorded in dev/EXECUTOR_LOSS.md.
  */
object FaultDrive {

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("baseline")
    val ckptDir = args.lift(1).getOrElse("/tmp/graft_fault_ckpt")
    // own builder, not HarnessSession: the master (local-cluster) is spark-submit's
    val spark = SparkSession.builder()
      .appName(s"graft-fault-$mode")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val withCkpt = mode != "kill-local"
    if (withCkpt) spark.sparkContext.setCheckpointDir(ckptDir)
    val kill = mode.startsWith("kill-") || mode.endsWith("-kill-reliable")

    // third arg: kill delay (default 45 s — mid-loop for the ~2.5 min cc
    // drive; pass smaller for the shorter bpe drive)
    if (kill) startKiller(killAfterMs = args.lift(2).map(_.toLong).getOrElse(45000L))

    try {
      val result =
        if (mode.startsWith("bpe")) bpeHash(spark)
        else ccHash(spark)
      println(s"FAULT mode=$mode outcome=COMPLETED $result")
    } catch {
      case e: Throwable =>
        val root = rootCause(e)
        println(s"FAULT mode=$mode outcome=FAILED " +
          s"error=${root.getClass.getSimpleName}: ${firstLine(root.getMessage)}")
    }
    spark.stop()
  }

  /** Connected components over a chain-heavy graph — enough rounds
    * (diameter 64 chains) that an 8 s-in kill lands mid-iteration. */
  private def ccHash(spark: SparkSession): String = {
    val n = 2000000L
    val edges = spark.range(n).toDF("u")
      .filter(col("u") % 64 =!= 63)
      .select(col("u"), (col("u") + 1).as("v"))
    val comp = graft.ops.DupGroups.connectedComponents(edges, "u", "v")
    summarize(comp.select(col("node"), col("component")))
  }

  /** Sequential BPE (one cut per merge round) over a synthetic corpus
    * big enough to keep each round on the executors for a while. */
  private def bpeHash(spark: SparkSession): String = {
    val docs = spark.range(300000L).toDF("i")
      .select(concat(
        lit("alpha beta gamma delta epsilon zeta eta theta word"),
        (col("i") % 5000).cast("string"),
        lit(" tail"), (col("i") % 97).cast("string")).as("text"))
    val merges = graft.ops.Bpe.trainMerges(docs, "text", rounds = 8)
    summarize(merges.select(col("round").cast("long").as("node"),
      xxhash64(col("tok_a"), col("tok_b"), col("n")).as("component")))
  }

  private def summarize(df: DataFrame): String = {
    // bit_xor: order-independent and overflow-free (sum of 64-bit hashes
    // trips ANSI overflow)
    val r = df.select(xxhash64(col("node"), col("component")).as("h"))
      .agg(count(lit(1)).as("rows"), expr("bit_xor(h)").as("hash")).collect()(0)
    s"rows=${r.getLong(0)} hash=${r.getLong(1)}"
  }

  /** SIGKILL the first CoarseGrainedExecutorBackend after `killAfterMs`. */
  private def startKiller(killAfterMs: Long): Unit = {
    val t = new Thread(() => {
      Thread.sleep(killAfterMs)
      val procs = new java.io.File("/proc").listFiles()
        .filter(f => f.getName.forall(_.isDigit))
      val victim = procs.find { p =>
        try {
          val cmd = java.nio.file.Files.readString(
            java.nio.file.Paths.get(p.getPath, "cmdline")).replace('\u0000', ' ')
          cmd.contains("CoarseGrainedExecutorBackend")
        } catch { case _: Exception => false }
      }
      victim match {
        case Some(p) =>
          System.err.println(s"[fault] SIGKILL executor pid=${p.getName}")
          Runtime.getRuntime.exec(Array("kill", "-9", p.getName)).waitFor()
        case None =>
          System.err.println("[fault] no executor JVM found to kill!")
      }
    })
    t.setDaemon(true)
    t.start()
  }

  private def rootCause(e: Throwable): Throwable = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    c
  }

  private def firstLine(s: String): String =
    Option(s).map(_.linesIterator.next()).getOrElse("")
}
