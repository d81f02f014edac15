package graft.dev

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for declared queries to per-query text
  * files — the optimization-round evidence artifact (plans/r16/). Building a
  * query's DataFrame may execute side work (streaming drains, /tmp sink
  * synthesis); the dump captures the plan of the RETURNED DataFrame, the
  * thing the bench times with `.count()`.
  *
  * Usage: runMain graft.dev.PlanDump <sfDir> <outDir> [suffix] [names]
  * writes <outDir>/<query><suffix>.txt (suffix e.g. "_before"/"_after").
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val suffix = if (args.length > 2) args(2) else ""
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    val spark = graft.HarnessSession()
    Files.createDirectories(Paths.get(outDir))
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/$name$suffix.txt"), txt)
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
