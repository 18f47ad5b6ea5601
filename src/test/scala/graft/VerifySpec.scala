package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Verify.select`: which queries a correctness dump covers. */
class VerifySpec extends AnyFunSuite {

  test("no names selects every query") {
    assert(Verify.select(Nil).keySet === SparkEntry.queries.keySet)
  }

  test("names select exactly those queries") {
    assert(Verify.select(Seq("q01_pricing_summary", "st02_stream_drift")).keySet ===
      Set("q01_pricing_summary", "st02_stream_drift"))
  }

  test("an unknown name fails, naming each unknown query") {
    val e = intercept[IllegalArgumentException](
      Verify.select(Seq("st02_windowed_drift_psi", "q01_pricing_summary", "no_such_query")))
    assert(e.getMessage.contains("st02_windowed_drift_psi"))
    assert(e.getMessage.contains("no_such_query"))
    assert(!e.getMessage.contains("q01_pricing_summary"))
  }
}
