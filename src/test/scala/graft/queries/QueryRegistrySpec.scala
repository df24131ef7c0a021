package graft
package queries

import org.scalatest.funsuite.AnyFunSuite

class QueryRegistrySpec extends AnyFunSuite {

  test("a duplicate query name makes registry construction throw, naming the key") {
    val q = Queries.byName("t1_map")
    val e = intercept[IllegalArgumentException](
      Query.index(Queries.all :+ q.copy(oracle = "SELECT 1")))
    assert(e.getMessage.contains("t1_map"), e.getMessage)
    assert(!e.getMessage.contains("t3_filter"), e.getMessage)
  }
}
