package graft

import org.apache.spark.sql.SparkSession

/** The session the harness mains (`Bench`, `Verify`, `dev.JobProfile`,
  * `dev.PlanDump`) run the catalog on: `local[SPARK_GRAFT_CPUS]` (default
  * 4) with the [[GraftExtensions]] users get, one shuffle partition per
  * core, UTC session time, no UI, WARN logging.
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
