package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("shuffle partitions follow the master's local thread count") {
    assert(GraftSession.shufflePartitionsFor("local[3]") == 3)
    assert(GraftSession.shufflePartitionsFor("local[*]") ==
      Runtime.getRuntime.availableProcessors)
    assert(GraftSession.shufflePartitionsFor("spark://host:7077") == 200)
  }
}
