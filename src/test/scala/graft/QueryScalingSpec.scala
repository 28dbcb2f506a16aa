package graft

import org.scalatest.funsuite.AnyFunSuite

/** The replicated corpus is F independent copies only inside the guard's
  * bounds; outside them `QueryScaling` must refuse before staging anything. */
class QueryScalingSpec extends AnyFunSuite {

  test("replication guard: factor in 1..26, doc_id in [0, 20370)") {
    for (f <- Seq(1, 10, 26)) QueryScaling.checkFactor(f)
    for (f <- Seq(0, 27, -1)) {
      val e = intercept[IllegalArgumentException](QueryScaling.checkFactor(f))
      assert(e.getMessage.contains("SPARK_GRAFT_SCALE"), e.getMessage)
    }
    QueryScaling.checkIds(0L, 4999L)
    QueryScaling.checkIds(0L, 20369L)
    for ((lo, hi) <- Seq(0L -> 20370L, -1L -> 499L)) {
      val e = intercept[IllegalArgumentException](QueryScaling.checkIds(lo, hi))
      assert(e.getMessage.contains("20370"), e.getMessage)
    }
  }
}
