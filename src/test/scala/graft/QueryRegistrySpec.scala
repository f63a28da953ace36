package graft

import org.scalatest.funsuite.AnyFunSuite

class QueryRegistrySpec extends AnyFunSuite {

  test("two specs with the same name fail the registry") {
    val spec = QuerySpec("dup", (s, _) => s.range(1).toDF(), "SELECT 0 AS id")
    val err = intercept[IllegalArgumentException] {
      QuerySpec.byName(Seq(spec, spec.copy(oracle = "SELECT 1 AS id")))
    }
    assert(err.getMessage.contains("dup"))
  }
}
