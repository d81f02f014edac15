package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed operation and whether its output checked out. `qe` is the
  * identity of the QueryExecution it ran (0 for non-query ops), so the
  * self-tests can pin that no two repeats share one. `cpuS` is the CPU
  * time the JVM's Java threads spent while the op ran ([[Stats.threadCpu]]). */
final case class OpResult(name: String, layer: String, seconds: Double, ok: Boolean,
    qe: Int = 0, error: String = "", cpuS: Double = 0.0)

/** What one measuring window produced. `ops` are the latency samples;
  * `checks` are further checked ops that are not latency samples (the
  * stream's drain phase). `cpuPerOp` replaces the per-op CPU figure where
  * ops do not run one at a time (an open loop's files share micro-batches).
  * `named` holds the workload's own figures under the names the design uses
  * (printed, not bounded). */
final case class Window(ops: Seq[OpResult], wallS: Double, named: Map[String, Double] = Map.empty,
    checks: Seq[OpResult] = Nil, cpuPerOp: Option[Double] = None) {
  def opsPerS: Double = ops.size / wallS

  /** CPU seconds per op: each op kind's median over the window, averaged
    * over the kinds, so every kind weighs the same whatever its count. */
  def opCpuS: Double = cpuPerOp.getOrElse {
    val perKind = ops.groupBy(_.name).values.map(rs => Stats.median(rs.map(_.cpuS))).toSeq
    perKind.sum / perKind.size
  }
}

trait Workload {
  /** Generate or load this run's inputs (timed as `gen_s`, not set-up). */
  def prepare(): Unit
  /** The first warm-up op, timed as part of `setup_s`. */
  def warmup(spark: SparkSession): Unit
  /** Untimed, after set-up: run each op once so that caches fill and
    * lazy set-up (JIT, codegen) finishes before timing starts. */
  def prime(spark: SparkSession): Unit
  /** Measure for about `seconds`; `tracer` is set only on traced windows. */
  def window(spark: SparkSession, seconds: Double, tracer: Option[Tracer], index: Int): Window
  /** Workload-specific layer metrics of a traced window. */
  def layers(t: Tracer, spans: Seq[Span], w: Window): Map[String, Double] = Map.empty
  /** Called once after all windows (result dumps for external checks). */
  def finish(spark: SparkSession): Unit = ()
}

object Workload {
  /** Build a fresh DataFrame, `collect()` its full result, check it. The
    * build is inside the timed region: analysis is part of what a user
    * waits for. Never `count()`, never a second action on the same Dataset. */
  def query(tracer: Option[Tracer], layer: String, name: String)(build: => DataFrame)
      (check: Array[Row] => Boolean): OpResult = {
    val t0 = System.nanoTime()
    val c0 = Stats.threadCpu()
    try {
      val (rows, qe) = tracer match {
        case Some(t) => t.op(layer, name) {
          val df = build
          val r = df.collect()
          ((r, df.queryExecution), Some(df.queryExecution))
        }
        case None =>
          val df = build
          (df.collect(), df.queryExecution)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val cpu = Stats.cpuBetween(c0, Stats.threadCpu())
      val ok = try check(rows) catch { case NonFatal(_) => false }
      OpResult(name, layer, secs, ok, System.identityHashCode(qe), if (ok) "" else "wrong output", cpu)
    } catch {
      case NonFatal(e) =>
        OpResult(name, layer, (System.nanoTime() - t0) / 1e9, ok = false,
          error = String.valueOf(e.getMessage).take(300))
    }
  }

  /** Run as many whole rounds (repeats, passes) as `seconds` holds at the
    * workload's nominal round time on four cores, at least one. The count
    * depends on the run length only, never on how fast this run goes, so
    * every run times the same mix of ops; returns (rounds, elapsed seconds). */
  def rounds(seconds: Double, nominalRoundS: Double)(round: => Unit): (Int, Double) = {
    val n = math.max(1, math.round(seconds / nominalRoundS).toInt)
    val t0 = System.nanoTime()
    (1 to n).foreach(_ => round)
    (n, (System.nanoTime() - t0) / 1e9)
  }

  /** Rows as sorted canonical strings ([[Expected.canon]] per row). */
  def canonRows(rows: Array[Row]): Seq[String] = rows.map(r => Expected.canon(r.toSeq)).toSeq.sorted
}
