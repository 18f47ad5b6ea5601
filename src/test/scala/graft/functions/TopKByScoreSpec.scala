package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TopKByScore must be BIT-IDENTICAL to the per-query row_number window it
  * replaces (the ANN shortlist stage) — including tie-breaks, NULL-score
  * ordering (asc = nulls first, desc = nulls last, Spark's SortOrder
  * defaults), signed zeros, and partitioning invariance. */
class TopKByScoreSpec extends SparkSuite {

  private def windowTopK(df: DataFrame, k: Int, asc: Boolean): DataFrame = {
    val ord = if (asc) col("score").asc else col("score").desc
    val w = Window.partitionBy("q").orderBy(ord, col("id"))
    df.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select("q", "id", "score", "rank")
  }

  private def aggTopK(df: DataFrame, k: Int, asc: Boolean): DataFrame = {
    df.groupBy("q")
      .agg(TopKByScore.topkByScore(col("score"), col("id"), k, asc).as("t"))
      .select(col("q"), posexplode(col("t")).as(Seq("p", "e")))
      .select(col("q"), col("e.id").as("id"), col("e.score").as("score"),
        (col("p") + 1).cast("int").as("rank"))
  }

  /** Adversarial fixture: duplicate scores (tie-break on id), NULL scores,
    * +0.0 vs -0.0, and groups smaller than k. */
  private def fixture(parts: Int): DataFrame = {
    import spark.implicits._
    val rows = (0L until 500L).map { i =>
      val q = i % 7
      val score: java.lang.Double = (i % 11) match {
        case 0 => null
        case 1 => java.lang.Double.valueOf(0.0)
        case 2 => java.lang.Double.valueOf(-0.0)
        case m => java.lang.Double.valueOf((m % 3).toDouble / 2.0) // many ties
      }
      (q, i, score)
    } ++ Seq((99L, 1L, java.lang.Double.valueOf(0.5))) // group with 1 member
    rows.toDF("q", "id", "score").repartition(parts)
  }

  // scores compare by bit pattern (NaN != NaN under ==; -0.0 must stay -0.0)
  private def canon(df: DataFrame): Seq[(Long, Long, Option[Long], Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None
      else Some(java.lang.Double.doubleToLongBits(r.getDouble(2))), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq

  for (asc <- Seq(true, false); k <- Seq(1, 5, 1000)) {
    test(s"window parity asc=$asc k=$k") {
      val df = fixture(4)
      assert(canon(aggTopK(df, k, asc)) === canon(windowTopK(df, k, asc)))
    }
  }

  test("partition invariance: 1 vs 13 partitions give identical results") {
    val a = canon(aggTopK(fixture(1), 5, asc = false))
    val b = canon(aggTopK(fixture(13), 5, asc = false))
    assert(a === b)
  }

  test("signed-zero and NaN total order match Spark's double sort") {
    import spark.implicits._
    val df = Seq(
      (1L, 10L, java.lang.Double.valueOf(0.0)),
      (1L, 11L, java.lang.Double.valueOf(-0.0)),
      (1L, 12L, java.lang.Double.valueOf(Double.NaN)),
      (1L, 13L, java.lang.Double.valueOf(1.0)),
      (1L, 14L, null.asInstanceOf[java.lang.Double])
    ).toDF("q", "id", "score")
    for (asc <- Seq(true, false))
      assert(canon(aggTopK(df, 5, asc)) === canon(windowTopK(df, 5, asc)),
        s"asc=$asc")
  }

  test("NULL ids are dropped, where the window would rank them") {
    import spark.implicits._
    val df = Seq[(Long, java.lang.Long, java.lang.Double)](
      (1L, 10L, 0.5), (1L, null, 0.9), (1L, 11L, 0.1), (1L, 12L, 0.7)
    ).toDF("q", "id", "score")
    assert(canon(aggTopK(df, 3, asc = false)) ===
      canon(windowTopK(df.where(col("id").isNotNull), 3, asc = false)))
    // the window it replaced ranks the NULL id first (best score)
    assert(windowTopK(df, 3, asc = false).orderBy("rank").head().isNullAt(1))
  }
}
