package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapred.JobConf
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.log.SerializableHadoopConf

/** How a `log` scan ships its Hadoop conf: once per scan, in a broadcast.
  * The reader factory, which Spark serializes into every task, carries
  * only the broadcast's handle, and the executor-side reader still sees
  * the context's conf as it stood when the scan executed.
  */
class LogConfShippingSpec extends SparkSpec {

  private val MaxLength = "mapreduce.input.linerecordreader.line.maxlength"

  private def logFile(lines: String*): String = {
    val f = java.io.File.createTempFile("confship", ".log")
    f.deleteOnExit()
    java.nio.file.Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
    f.getAbsolutePath
  }

  private def read(path: String): DataFrame =
    spark.read.format("log")
      .option("pattern", "(\\d+) (.*)")
      .option("fieldNames", "id, msg")
      .option("dataTypes", "INT, VARCHAR")
      .load(path)

  private def readerFactoryOf(df: DataFrame): AnyRef =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.readerFactory
    }.getOrElse(fail("no BatchScanExec in plan"))

  test("the reader factory every task deserializes carries no Hadoop conf") {
    val factory = readerFactoryOf(read(logFile("1 a", "2 b")))
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(factory)
    out.close()
    // the context's conf alone serializes to ~100 KB (~1k entries)
    assert(bytes.size < 16 * 1024, s"reader factory serialized to ${bytes.size} bytes")
  }

  test("the broadcast carries the context's live conf to the executor-side reader") {
    val path = logFile("1 short", "2 " + "x" * 500, "3 short")
    def ids: Seq[Int] = read(path).select("id").collect().map(_.getInt(0)).toSeq.sorted
    assert(ids == Seq(1, 2, 3))
    val hc = spark.sparkContext.hadoopConfiguration
    val saved = Option(hc.get(MaxLength))
    hc.setInt(MaxLength, 64)
    // LineRecordReader skips a line longer than the maximum
    try assert(ids == Seq(1, 3))
    finally saved.fold(hc.unset(MaxLength))(hc.set(MaxLength, _))
    assert(ids == Seq(1, 2, 3))
  }

  test("the conf survives Kryo, which writes broadcasts under spark.serializer=Kryo") {
    val conf = new Configuration(false)
    conf.set("graft.probe", "kept")
    val ser = new KryoSerializer(spark.sparkContext.getConf).newInstance()
    val back = ser.deserialize[SerializableHadoopConf](ser.serialize(new SerializableHadoopConf(conf)))
    assert(back.value.isInstanceOf[JobConf])
    assert(back.value.get("graft.probe") == "kept")
  }
}
