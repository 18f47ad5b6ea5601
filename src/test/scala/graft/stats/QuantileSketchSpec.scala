package graft.stats

import graft.SparkSuite
import graft.stats.QuantileSketch.{quantile, rankBelow, sketch}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The engine's KLL quantile path ([[QuantileSketch]] over Spark's
  * built-in `kll_sketch_*`): accuracy in RANK space (the sketch's
  * contract), exact extremes, the merge path, the null contract, the
  * exclusive-rank bin edges, and the sketched drift distances.
  *
  * Rank-space check: an estimate `e` for quantile `q` passes when
  * `P(X < e) − eps ≤ q ≤ P(X ≤ e) + eps` — the interval form is what makes
  * the bound meaningful on discrete data, where a single atom can carry
  * more mass than any value-space tolerance allows.
  */
class QuantileSketchSpec extends SparkSuite {
  import spark.implicits._

  private val qs = Seq(0.001, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 0.999)

  /** max over qs of the rank-interval distance of the sketch estimate */
  private def maxRankErr(df: DataFrame, c: String): Double = {
    val d = df.agg(sketch(col(c)).as("s"))
    val ests = d.select(qs.map(q => quantile(col("s"), q).as(s"e$q")): _*)
      .head().toSeq.map(_.asInstanceOf[Double])
    val n = df.count().toDouble
    qs.zip(ests).map { case (q, e) =>
      val Row(nLt: Long, nLe: Long) =
        df.agg(sum((col(c) < e).cast("long")), sum((col(c) <= e).cast("long"))).head()
      val lo = nLt / n
      val hi = nLe / n
      if (q < lo) lo - q else if (q > hi) q - hi else 0.0
    }.max
  }

  private def uniformDf(n: Int): DataFrame =
    spark.range(n).select((pmod(xxhash64(col("id")), lit(1000000)) / 1000.0).as("v"))

  test("rank error < 0.01 on 100k hashed-uniform doubles (K = 500)") {
    assert(maxRankErr(uniformDf(100000), "v") < 0.01)
  }

  test("rank error bounded on a lognormal-ish skewed column") {
    val df = uniformDf(50000).select(exp(col("v") / 100.0).as("v"))
    assert(maxRankErr(df, "v") < 0.01)
  }

  test("rank-interval check passes on heavy discrete atoms (11 values, 9% mass each)") {
    val df = spark.range(110000).select((pmod(xxhash64(col("id")), lit(11)) / 100.0).as("v"))
    assert(maxRankErr(df, "v") < 0.01)
  }

  test("q=0 and q=1 return the exact min/max; tails are near-exact") {
    val df = uniformDf(20000)
    val Row(mn: Double, mx: Double) = df.agg(min("v"), max("v")).head()
    val Row(e0: Double, e1: Double) = df.agg(sketch(col("v")).as("s"))
      .select(quantile(col("s"), 0.0), quantile(col("s"), 1.0)).head()
    assert(e0 == mn && e1 == mx)
  }

  test("merge path: 32-partition sketch agrees with 1-partition sketch within 0.01 rank") {
    val df = uniformDf(80000)
    assert(maxRankErr(df.repartition(32), "v") < 0.01)
    assert(maxRankErr(df.coalesce(1), "v") < 0.01)
  }

  test("NaNs and NULLs are skipped; an all-null group yields NULL") {
    val df = Seq(Some(1.0), None, Some(Double.NaN), Some(3.0)).toDF("v")
    val Row(n: Long, lo: Double, hi: Double) = df.agg(sketch(col("v")).as("s"))
      .select(kll_sketch_get_n_double(col("s")), quantile(col("s"), 0.0), quantile(col("s"), 1.0))
      .head()
    assert(n == 2 && lo == 1.0 && hi == 3.0)
    for (vs <- Seq(Seq[Option[Double]](None, None), Seq(Some(Double.NaN), None))) {
      val r = vs.toDF("v").agg(sketch(col("v")).as("s"))
        .select(quantile(col("s"), 0.5), rankBelow(col("s"), 1.0)).head()
      assert(r.isNullAt(0) && r.isNullAt(1), s"$vs gave $r")
    }
  }

  test("ColumnStats.quantileDigest: long shape, one row per (column, q), sane estimates") {
    val df = uniformDf(30000).select(col("v").as("a"), (col("v") * 2).as("b"))
    val out = ColumnStats.quantileDigest(df, Seq("a", "b"), Seq(0.25, 0.5, 0.75))
    val rows = out.collect()
    assert(rows.length == 6)
    assert(out.columns.toSeq == Seq("column", "q", "est"))
    val mid = rows.find(r => r.getString(0) == "b" && r.getDouble(1) == 0.5).get.getDouble(2)
    // b is ~uniform on [0, 2000): the median must land mid-range
    assert(mid > 900 && mid < 1100, s"median of b was $mid")
  }

  test("cdf is the monotone inverse of quantile: cdf(quantile(q)) ≈ q") {
    val df = uniformDf(50000)
    val d = df.agg(sketch(col("v")).as("s"))
    val qs2 = Seq(0.05, 0.25, 0.5, 0.75, 0.95)
    val ests = d.select(qs2.map(q => quantile(col("s"), q)): _*)
      .head().toSeq.map(_.asInstanceOf[Double])
    val backs = d.select(qs2.indices.map(i => rankBelow(col("s"), ests(i))): _*)
      .head().toSeq.map(_.asInstanceOf[Double])
    qs2.zip(backs).foreach { case (q, b) =>
      assert(math.abs(q - b) < 0.005, s"rank(quantile($q)) = $b")
    }
    // monotone + tail anchoring
    val Row(c0: Double, c1: Double) = d.select(rankBelow(col("s"), -1.0), rankBelow(col("s"), 1e9)).head()
    assert(c0 == 0.0 && c1 == 1.0)
  }

  test("bin-edge atoms: sketched bin masses equal the exact histogram's") {
    // integer atoms on the width-8 edges of [0, 64), fewer rows than K so
    // the sketch holds every value: each atom belongs to the bin it opens
    // ([lo, hi) bins), which the inclusive built-in rank would get wrong
    val n = QuantileSketch.K / 2
    val df = spark.range(n).select(((col("id") % 9) * 8).cast("int").as("v"))
    val (lo, hi, bins) = (0.0, 64.0, 8)
    val exact = Drift.histogram(df, "v", lo, hi, bins).as[(Int, Long)].collect().toMap
    val d = df.agg(sketch(col("v")).as("s"))
    val edges = (1 until bins).map(i => rankBelow(col("s"), lo + i * (hi - lo) / bins))
    val cdf = 0.0 +: d.select(edges: _*).head().toSeq.map(_.asInstanceOf[Double]) :+ 1.0
    val sketched = (0 until bins).map(i => math.round((cdf(i + 1) - cdf(i)) * n))
    assert(sketched === (0 until bins).map(i => exact.getOrElse(i, 0L)))
  }

  test("psiSketched/klSketched track the exact histogram PSI/KL on drifted data") {
    // reference ~ U[0,1000); current = reference shifted right by 150
    val ref = uniformDf(60000)
    val cur = uniformDf(60000).select((col("v") + 150.0).as("v"))
    val lo = 0.0; val hi = 1200.0; val bins = 12
    val exactPsi = Drift.psi(
      Drift.histogram(ref, "v", lo, hi, bins),
      Drift.histogram(cur, "v", lo, hi, bins)).head().getDouble(0)
    val sketchPsi = Drift.psiSketched(ref, cur, "v", lo, hi, bins).head().getDouble(0)
    assert(exactPsi > 0.2, s"fixture should drift significantly, psi=$exactPsi")
    assert(math.abs(sketchPsi - exactPsi) < 0.05 * math.max(1.0, exactPsi),
      s"sketch $sketchPsi vs exact $exactPsi")
    val exactKl = Drift.kl(
      Drift.histogram(ref, "v", lo, hi, bins),
      Drift.histogram(cur, "v", lo, hi, bins)).head().getDouble(0)
    val sketchKl = Drift.klSketched(ref, cur, "v", lo, hi, bins).head().getDouble(0)
    assert(math.abs(sketchKl - exactKl) < 0.05 * math.max(1.0, exactKl),
      s"sketch $sketchKl vs exact $exactKl")
    val exactJs = Drift.js(
      Drift.histogram(ref, "v", lo, hi, bins),
      Drift.histogram(cur, "v", lo, hi, bins)).head().getDouble(0)
    val sketchJs = Drift.jsSketched(ref, cur, "v", lo, hi, bins).head().getDouble(0)
    assert(math.abs(sketchJs - exactJs) < 0.05 * math.max(1.0, exactJs),
      s"sketch $sketchJs vs exact $exactJs")
    // JS is bounded by ln 2 — both forms respect it
    assert(sketchJs >= 0 && sketchJs <= math.log(2.0) + 1e-9)
  }

  test("psiSketched ≈ 0 when the two snapshots share a distribution") {
    val a = uniformDf(40000)
    val b = uniformDf(40000).select((col("v") + 0.0).as("v"))
    val p = Drift.psiSketched(a, b, "v", 0, 1000, 10).head().getDouble(0)
    assert(math.abs(p) < 0.01, s"psi=$p")
  }
}
