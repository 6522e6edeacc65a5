package graft

import org.scalatest.funsuite.AnyFunSuite

/** GRAFT_CONF parsing: one pure function shared by every entry point. */
class GraftConfSpec extends AnyFunSuite {

  test("key=value pairs parse in order; the value keeps any later '='") {
    assert(GraftSession.parseConf("k=v;k2=v=2") == Seq("k" -> "v", "k2" -> "v=2"))
  }

  test("empty spec and empty segments yield no entries; empty values are kept") {
    assert(GraftSession.parseConf("").isEmpty)
    assert(GraftSession.parseConf(";;a=1;;b=;") == Seq("a" -> "1", "b" -> ""))
  }

  test("an entry without '=' or with an empty key is rejected by name") {
    val e = intercept[IllegalArgumentException](
      GraftSession.parseConf("spark.sql.shuffle.partitions=4;spark.sql.adaptive.enabled"))
    assert(e.getMessage.contains("'spark.sql.adaptive.enabled'"))
    val e2 = intercept[IllegalArgumentException](GraftSession.parseConf("=v"))
    assert(e2.getMessage.contains("'=v'"))
  }
}
