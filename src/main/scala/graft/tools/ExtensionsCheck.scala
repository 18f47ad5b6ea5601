package graft.tools

import org.apache.spark.sql.SparkSession

/** Smoke check for the `--conf spark.sql.extensions=graft.GraftExtensions`
  * launch path: the session must resolve `histogram_sketch` WITHOUT any
  * driver-side registration. Run via:
  * {{{
  *   tools/submit.sh graft.tools.ExtensionsCheck 4
  * }}}
  * (submit.sh passes the extensions conf; prints EXTOK + the histogram.)
  */
object ExtensionsCheck {
  def main(args: Array[String]): Unit = {
    // deliberately NOT GraftSession: prove the conf alone wires the function
    val spark = SparkSession.builder().appName("graft-ext-check").getOrCreate()
    spark.range(100).createOrReplaceTempView("nums")
    val counts = spark.sql(
      "SELECT histogram_sketch(CAST(id AS DOUBLE), 0, 100, 4) AS h FROM nums")
      .head().getSeq[Long](0)
    require(counts.sum == 100L && counts.forall(_ == 25L), s"bad sketch: $counts")
    // and the codegen'd dot product, from pure SQL (no driver registration)
    val d = spark.sql(
      "SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .head().getDouble(0)
    require(d == 11.0, s"bad dot: $d")
    // t-digest family: sketch → quantile AND cdf, from pure SQL
    val Array(q, c) = spark.sql(
      "SELECT tdigest_quantile(td, CAST(0.5 AS DOUBLE)) AS q, " +
        "tdigest_cdf(td, CAST(50 AS DOUBLE)) AS c FROM " +
        "(SELECT tdigest_sketch(CAST(id AS DOUBLE), CAST(100 AS DOUBLE)) AS td FROM nums)")
      .head().toSeq.map(_.asInstanceOf[Double]).toArray
    require(math.abs(q - 49.5) < 2 && math.abs(c - 0.5) < 0.05, s"bad tdigest: q=$q c=$c")
    // the fused MinHash kernel: one 3-shingle, seed 1 = xxhash64(1, '1 2 3')
    val mh = spark.sql(
      "SELECT minhash_terms(array(1, 2, 3), 3, 2, 'xxhash64')[1] = xxhash64(1, '1 2 3') AS ok")
      .head().getBoolean(0)
    require(mh, "bad minhash_terms")
    // the RFC3339 format kernel: 2024-02-29 is a date, 2023-02-29 is not
    val rfc = spark.sql(
      "SELECT rfc3339_check('2024-02-29T23:59:60+05:30', 'date-time') AND " +
        "NOT rfc3339_check('2023-02-29', 'date') AND rfc3339_check('10:00:00Z', 'time') AS ok")
      .head().getBoolean(0)
    require(rfc, "bad rfc3339_check")
    println(s"EXTOK ${counts.mkString(",")} dot=$d tdigest_q50=$q tdigest_cdf50=$c minhash=$mh rfc3339=$rfc")
    spark.stop()
  }
}
