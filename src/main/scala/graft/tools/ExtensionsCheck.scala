package graft.tools

import org.apache.spark.sql.SparkSession

/** Smoke check for the `--conf spark.sql.extensions=graft.GraftExtensions`
  * launch path, which a session built outside [[graft.GraftSession]] needs:
  * the session must resolve all five injected functions from that conf
  * alone. Run via:
  * {{{
  *   tools/submit.sh graft.tools.ExtensionsCheck 4
  * }}}
  * (submit.sh passes the extensions conf; prints EXTOK + each result.)
  */
object ExtensionsCheck {
  def main(args: Array[String]): Unit = {
    // deliberately NOT GraftSession: prove the conf alone wires the function
    val spark = SparkSession.builder().appName("graft-ext-check").getOrCreate()
    spark.range(100).createOrReplaceTempView("nums")
    // the bounded top-K aggregate: the 3 smallest keys, payloads in key order
    val top = spark.sql(
      "SELECT topk_sketch(99 - id, CAST(id AS STRING), 3) AS t FROM nums")
      .head().getSeq[String](0)
    require(top == Seq("99", "98", "97"), s"bad topk_sketch: $top")
    // the top-k by (score, id): the 3 highest scores, ties to the smaller id
    val byScore = spark.sql(
      "SELECT transform(topk_by_score(CAST(id % 10 AS DOUBLE), id, 3, false), e -> e.id) AS t " +
        "FROM nums").head().getSeq[Long](0)
    require(byScore == Seq(9L, 19L, 29L), s"bad topk_by_score: $byScore")
    // the codegen'd dot product, from pure SQL (no driver registration)
    val d = spark.sql(
      "SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .head().getDouble(0)
    require(d == 11.0, s"bad dot: $d")
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
    println(s"EXTOK topk=${top.mkString(",")} topk_by_score=${byScore.mkString(",")} " +
      s"dot=$d minhash=$mh rfc3339=$rfc")
    spark.stop()
  }
}
