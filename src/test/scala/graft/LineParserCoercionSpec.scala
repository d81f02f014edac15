package graft.log

import java.nio.file.Files
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.Locale

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop}

import graft.SparkSpec

/** A malformed typed value becomes NULL without an exception
  * ([[LineParser.parseInt]], [[LineParser.noNumber]], [[FastDateTime]]'s
  * failure value), and every value converts as the JDK parser (or the
  * formatter) it stands in for converts it. */
class LineParserCoercionSpec extends SparkSpec {

  /** The value [[LineParser]] gives a line that is exactly `s`, as one
    * field of type `dt`. */
  private def parsed(dt: String, s: String, dateFormat: String = "yyyy-MM-dd"): Option[Any] = {
    val opts = LogOptions.fromMap(Map("pattern" -> "(.*)", "fieldNames" -> "v",
      "dataTypes" -> dt, "dateFormat" -> dateFormat))
    val row = new LineParser(opts, StructType(opts.schema.take(1))).parse(s)
    Option(row.get(0, opts.schema.head.dataType))
  }

  private val edges = Seq(
    "0", "7", "-7", "+7", "-", "+", "", " ", " 1", "1 ", "--1", "+-1", "1-", "007", "-007",
    "2147483647", "2147483648", "-2147483648", "-2147483649", "+2147483647", "99999999999",
    "00000000002147483647", "-0", "1e3", "1.0", "0x10", "1_000", "٣", "-٣٠",
    "３４", "1٣", "٣x", "NaN", "Infinity", "-Infinity", "+NaN", " NaN ", "NaNd",
    "Infinityf", "1d", "1f", "1D", "1F", ".5", "5.", ".", "e", "1e", "1e+", "0x1p3", "0x1.8p1",
    "0x.8p1", "0xp1", "-0.0", "1e400", "1e-400", "3.4028236e38", "\t2.5\n", "++1", "d", "f")

  private val alphabet = Gen.oneOf("0", "1", "9", "-", "+", " ", ".", "e", "E", "x", "p", "d", "f",
    "N", "a", "I", "NaN", "Infinity", "2147483647", "2147483648", "٣", "３", "\t")
  private val strings: Gen[String] = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, alphabet).map(_.mkString))

  private def viaJdk[T](f: => T): Option[Any] = Try(f).toOption

  private def forAll(name: String, seed: Long)(check: String => Boolean): Unit = {
    val params = org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(3000).withInitialSeed(org.scalacheck.rng.Seed(seed))
    val res = org.scalacheck.Test.check(params, Prop.forAllNoShrink(strings)(check))
    assert(res.passed, s"$name: ${res.status}")
  }

  test("INT: parseInt agrees with Integer.valueOf: signs, overflow, zeros, whitespace, Unicode digits") {
    def agree(s: String) = {
      val mine = LineParser.parseInt(s) match { case LineParser.Malformed => None; case v => Some(v) }
      mine == viaJdk(java.lang.Integer.valueOf(s))
    }
    edges.foreach(s => assert(agree(s), s"'$s'"))
    forAll("parseInt", 20261021L)(agree)
    // and through the parser: the value, or NULL where the JDK throws
    (edges :+ "-" * 3).filter(_.trim.nonEmpty).foreach { s =>
      assert(parsed("INT", s) == viaJdk(java.lang.Integer.valueOf(s)), s"'$s'")
    }
  }

  test("DOUBLE / FLOAT: only strings the JDK rejects are rejected without it") {
    def rejectsFor(s: String) = !LineParser.noNumber(s) ||
      (viaJdk(java.lang.Double.valueOf(s)).isEmpty && viaJdk(java.lang.Float.valueOf(s)).isEmpty)
    edges.foreach(s => assert(rejectsFor(s), s"'$s'"))
    forAll("noNumber", 20261022L)(rejectsFor)
    Seq("-", "", " ", ".", "e", "d", "NaNd", "Infinityf", "++").foreach { s =>
      assert(LineParser.noNumber(s), s"'$s'")
    }
    Seq("NaN", "+NaN", "-Infinity", " NaN ", "٣", "0x.8p1").foreach { s =>
      assert(!LineParser.noNumber(s), s"'$s'")
    }
    edges.filter(_.trim.nonEmpty).foreach { s =>
      // by text: NaN is not == NaN, and -0.0 is == 0.0
      assert(parsed("DOUBLE", s).map(_.toString) == viaJdk(java.lang.Double.valueOf(s)).map(_.toString),
        s"DOUBLE '$s'")
      assert(parsed("FLOAT", s).map(_.toString) == viaJdk(java.lang.Float.valueOf(s)).map(_.toString),
        s"FLOAT '$s'")
    }
  }

  test("DATE: the fast path's failure value reads as the formatter's rejection") {
    val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd", Locale.US)
    Seq("2024-02-29", "2023-02-29", "2024-04-31", "2024-13-01", "0000-01-01", "-", "2024-1-01",
        "2024-01-01 ", "٢٠٢٤-01-01").foreach { s =>
      assert(parsed("DATE", s) == viaJdk(LocalDate.from(fmt.parse(s)).toEpochDay.toInt), s"'$s'")
    }
  }

  test("a tolerant scan of 1,000 '-' INT values throws nothing from graft.log") {
    val dir = Files.createTempDirectory("dashes").toFile
    Files.write(new java.io.File(dir, "a.log").toPath, Seq.tabulate(1000)(i => s"k$i -").asJava)
    val df = spark.read.format("log").option("pattern", "(\\S+) (\\S+)")
      .option("schema", "k VARCHAR, n INT").load(dir.getAbsolutePath)
    assert(df.collect().length == 1000) // warm: classes, codegen
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.JavaExceptionThrow").withStackTrace()
    rec.start()
    val rows = df.collect()
    rec.stop()
    val out = Files.createTempFile("exceptions", ".jfr")
    rec.dump(out)
    rec.close()
    assert(rows.length == 1000 && rows.forall(_.isNullAt(1)))
    // an exception counts as ours when the first frame outside the JDK that
    // made it is in graft.log (the JDK's own parsers throw on our behalf)
    val ours = jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.filter { e =>
      Option(e.getStackTrace).exists(_.getFrames.asScala.map(_.getMethod.getType.getName)
        .find(n => !n.startsWith("java.") && !n.startsWith("jdk.") && !n.startsWith("sun."))
        .exists(_.startsWith("graft.log.")))
    }
    Files.delete(out)
    assert(ours.isEmpty, s"${ours.size} exceptions thrown from graft.log, e.g. ${ours.headOption}")
  }
}
