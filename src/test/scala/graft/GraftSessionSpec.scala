package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("shuffle partitions follow the master's local thread count") {
    assert(GraftSession.shufflePartitionsFor("local[3]") == 3)
    assert(GraftSession.shufflePartitionsFor("local[*]") ==
      Runtime.getRuntime.availableProcessors)
    assert(GraftSession.shufflePartitionsFor("spark://host:7077") == 200)
  }

  test("reading events leaves the caller's session conf unchanged") {
    val s = TestSpark.spark.newSession()
    val before = s.conf.getAll
    Tables.events(s, TestSpark.sf).schema
    assert(s.conf.getAll == before)
  }
}
