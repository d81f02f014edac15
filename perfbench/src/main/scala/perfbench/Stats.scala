package perfbench

/** Order statistics and process readings. */
object Stats {

  /** Linear-interpolated percentile (`q` in [0, 1]) of `xs`; NaN if empty. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** The highest of the standard percentiles that still has at least ten
    * samples beyond it, or None below twenty samples. */
  def tailPercentile(n: Int): Option[Double] =
    Seq(0.99, 0.95, 0.9, 0.75, 0.5).find(q => n * (1 - q) >= 10.0)

  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NegativeInfinity
    var curE = Double.NegativeInfinity
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def loadavg(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
  }

  /** Cumulative (steal, total) CPU ticks of the box, from /proc/stat: time
    * the hypervisor gave this machine's CPUs to someone else. */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  /** Share of CPU time stolen between two [[cpuTicks]] readings. */
  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  /** Heap in use after a full collection, in MB: what the session and the
    * library keep live (status store, caches, stream state), as opposed to
    * the fixed heap the JVM reserves. */
  def liveHeapMb(): Double = {
    // the second collection also frees what the first left to reference
    // processing and finalization
    System.gc()
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time of this JVM, every thread (Java threads, JIT compilers, GC), in ns. */
  def processCpuNs(): Long = os.getProcessCpuTime

  /** CPU time so far of every live Java thread (task, driver, stream
    * execution, listener threads), by thread id, in ns. The JVM's own JIT
    * compiler and GC threads are not among them: their time swings with
    * contention on the host. */
  def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** Java-thread CPU seconds between two [[threadCpu]] readings: threads
    * started since count from 0; those that ended since are not counted. */
  def cpuBetween(before: Map[Long, Long], after: Map[Long, Long]): Double =
    after.iterator.map { case (id, ns) => math.max(0L, ns - before.getOrElse(id, 0L)) }.sum / 1e9

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

/** JSON for the result and spans files (json4s, on Spark's classpath). */
object Json {
  def write(v: AnyRef): String = org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)
}
