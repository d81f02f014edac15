package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one seed, one run. `run.py` builds the
  * classpath, launches this, then adds the external oracle check and
  * prints the final JSON line.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cache DIR --out FILE [--tables DIR] [--spans FILE] [--files-per-second R]
  */
object Main {
  /** Set-ups per run: the JVM's first (cold) one is `setup_s`; the warm
    * rebuild after it is `setup_warm_s`, context only. */
  val SetupRepeats = 2
  /** `log_scan` corpus size: lines per dialect (three dialects). */
  val LinesPerDialect = 240000
  /** Default `log_stream` arrival rate, files per second (see the rate
    * sweep in README.md). */
  val FilesPerSecond = 20.0

  def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val cache = new File(opts("cache"))
    val out = new File(opts("out"))
    val cores = Runtime.getRuntime.availableProcessors()
    cache.mkdirs()
    val loadStart = Stats.loadavg()

    val workload: Workload = workloadName match {
      case "log_scan" => new LogScanWorkload(cache, seed, LinesPerDialect)
      case "query_mix" => new QueryMixWorkload(opts("tables"), new File(cache, "query_mix_out"), seed)
      case "log_stream" =>
        new LogStreamWorkload(cache, seed, opts.get("files-per-second").map(_.toDouble).getOrElse(FilesPerSecond))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val g0 = System.nanoTime()
    workload.prepare()
    val sentinel = Probe.sentinelFile(cache)
    val genS = (System.nanoTime() - g0) / 1e9

    // set-up: session build + the workload's first warm-up op; the first is
    // the cold one a user waits for (class loading, object initialisers,
    // extension registration), the rest rebuild the session in a warm JVM
    var spark: SparkSession = null
    val setups = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      spark = session(cores, cache)
      workload.warmup(spark)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetupRepeats) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      dt
    }
    val p0 = System.nanoTime()
    workload.prime(spark)
    val primeS = (System.nanoTime() - p0) / 1e9
    val sentinels = Probe.sentinels(spark, sentinel, withCount = traced)

    val ticks0 = Stats.cpuTicks()
    val (proc0, threads0) = (Stats.processCpuNs(), Stats.threadCpu())
    // `checked`: every op of the run, for attempted/failed; `win`: the
    // window the figures come from (the traced third when traced)
    val (win, checked, layers) =
      if (!traced) {
        val w = workload.window(spark, seconds, None, 0)
        (w, w.ops ++ w.checks, Map.empty[String, Double])
      } else {
        // untraced, traced, untraced thirds: the traced third against the
        // mean of its neighbours is the tracing overhead, with warm-up drift
        // across the run cancelled to first order
        val before = workload.window(spark, seconds / 3, None, 0)
        val tracer = new Tracer(spark)
        tracer.start(workloadName)
        val w = workload.window(spark, seconds / 3, Some(tracer), 1)
        tracer.stop()
        val after = workload.window(spark, seconds / 3, None, 2)
        val spans = tracer.spans.toSeq ++ tracer.schedulerSpans()
        opts.get("spans").foreach(f => tracer.write(new File(f), spans))
        val p50Plain = (Stats.median(before.ops.map(_.seconds)) + Stats.median(after.ops.map(_.seconds))) / 2
        val p50Traced = Stats.median(w.ops.map(_.seconds))
        val self = tracer.selfTimes(spans).map { case (k, v) => s"trace.self_s.$k" -> v }
        (w, Seq(before, w, after).flatMap(x => x.ops ++ x.checks), Probe.parser() ++ sentinels ++ tracer.commonMetrics(spans, cores) ++
          workload.layers(tracer, spans, w) ++ self ++ Map(
            "trace.spans" -> spans.size.toDouble,
            "trace.overhead_frac" -> (p50Traced / p50Plain - 1.0),
            "trace.untraced_latency_p50_s" -> p50Plain,
            "trace.traced_latency_p50_s" -> p50Traced))
      }
    val stealFrac = Stats.stealFrac(ticks0, Stats.cpuTicks())
    // whole-JVM against Java-thread CPU: the difference is JIT and GC time,
    // which op_cpu_s leaves out
    val processCpuS = (Stats.processCpuNs() - proc0) / 1e9
    val threadsCpuS = Stats.cpuBetween(threads0, Stats.threadCpu())
    val heapLiveMb = Stats.liveHeapMb()
    workload.finish(spark)
    spark.stop()

    val ops = win.ops
    val failed = checked.count(!_.ok)
    val lat = ops.map(_.seconds)
    val tailQ = Stats.tailPercentile(lat.size)
    val endToEnd = Map(
      "setup_s" -> setups.head,
      "op_cpu_s" -> win.opCpuS,
      "peak_rss_mb" -> Stats.peakRssMb(),
      "heap_live_mb" -> heapLiveMb)
    val context = Map(
      "gen_s" -> genS,
      "latency_p50_s" -> Stats.median(lat),
      "ops_per_s" -> win.opsPerS,
      "setup_warm_s" -> Stats.median(setups.tail),
      "prime_s" -> primeS,
      "ops_failed_frac" -> failed.toDouble / math.max(1, checked.size),
      "loadavg_start" -> loadStart,
      "loadavg_end" -> Stats.loadavg(),
      "steal_frac" -> stealFrac,
      "window_process_cpu_s" -> processCpuS,
      "window_java_threads_cpu_s" -> threadsCpuS,
      "cores" -> cores.toDouble,
      "samples" -> ops.size.toDouble,
      "window_s" -> win.wallS) ++ sentinels ++ win.named ++
      tailQ.map(q => s"latency_p${(q * 100).round}_s" -> Stats.percentile(lat, q))
    val result = Map(
      "workload" -> workloadName, "seed" -> seed, "traced" -> traced,
      "attempted" -> checked.size, "failed" -> failed,
      "failures" -> checked.filterNot(_.ok).take(20).map(o => s"${o.name}: ${o.error}"),
      "op_counts" -> checked.groupBy(_.name).map { case (k, v) => k -> v.size },
      "op_failed_counts" -> checked.filterNot(_.ok).groupBy(_.name).map { case (k, v) => k -> v.size },
      "end_to_end" -> endToEnd, "context" -> context, "per_layer" -> layers,
      "setup_runs_s" -> setups,
      "ops" -> ops.map(o => Seq(o.name, o.seconds, o.ok, o.cpuS)))
    Files.write(out.toPath, Json.write(result).getBytes(StandardCharsets.UTF_8))
  }
}
