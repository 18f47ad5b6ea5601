package graft

/** Every [[SparkEntry.queries]] entry runs to completion at sf0.001: a query
  * that throws fails here, not only as a missing output in a sweep that
  * logs and continues. The queries whose oracle pins a sketch's tolerance
  * verdict instead of its value must also answer TRUE on every row. */
class QueriesRunSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private val toleranceColumns = Map(
    "v45_tdigest_quantiles" -> Seq("within_rank_tol"),
    "v47_drift_sketched" -> Seq("psi_within_tol", "kl_within_tol", "js_within_tol"),
    "st06_stream_quantile_digest" -> Seq("median_within_rank_tol"))

  test("the tolerance-verdict queries exist") {
    assert(toleranceColumns.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$name runs at sf0.001") {
      val rows = SparkEntry.queries(name)(spark, dir).collect()
      for (c <- toleranceColumns.getOrElse(name, Nil)) {
        val bad = rows.filterNot(r => r.getAs[Any](c) == true)
        assert(rows.nonEmpty && bad.isEmpty, s"$name.$c is not TRUE on: ${bad.mkString("; ")}")
      }
    }
  }
}
