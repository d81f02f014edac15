package graft.catalog

import org.scalatest.funsuite.AnyFunSuite

/** `QuerySupport.tmpKey` names /tmp sinks and caches after a source dir:
  * a key must begin with a letter, because Spark's file listing hides
  * names that start with `_` or `.` (and warns "All paths were ignored"
  * when such a directory is the root it reads). */
class TmpKeySpec extends AnyFunSuite {

  test("keys begin with a letter and still tell their dirs apart") {
    val dirs = Seq("/data/logs/sf0.01", "/data/logs/sf0.001", "relative/dir",
      "", "/", "/__x", "/.hidden", "/9lives")
    val keys = dirs.map(QuerySupport.tmpKey)
    keys.zip(dirs).foreach { case (k, d) => assert(k.head.isLetter, s"'$d' -> '$k'") }
    assert(keys.distinct.size == keys.size, keys.mkString(", "))
    assert(QuerySupport.tmpKey("/data/logs/sf0.01").startsWith("data_logs_sf0_01_"))
  }
}
