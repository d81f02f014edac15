package graft

import org.apache.spark.sql.SparkSession

/** The one session the harness mains (`Bench`, `Verify`,
  * `dev.QueryProfile`, `dev.ScaleCurve`) run on:
  * `local[SPARK_GRAFT_CPUS]` (default 4) with the [[GraftExtensions]]
  * users get, one shuffle partition per core, UTC session time, no UI,
  * WARN logging; the heap is the JVM's own `-Xmx`. `dev.FaultDrive`
  * (master from spark-submit) and `dev.DirLockDrive` (child JVMs) keep
  * their own builders.
  */
private[graft] object HarnessSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
