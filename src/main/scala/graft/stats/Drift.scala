package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-drift checks (north_rule): fixed-width histograms as the
  * sketch, KL divergence and PSI (population stability index) as the
  * distances, computed reference-snapshot vs current-snapshot.
  *
  * Histogram binning is a single `groupBy(bin).count()` — partial agg +
  * constant-size shuffle, the same scale shape as [[ColumnStats]]. Bin
  * counts are exact integers (deterministic across partitionings and
  * engines); only the final PSI/KL arithmetic is floating point.
  *
  * For quantile-based drift the stored snapshot artifact is a KLL sketch
  * ([[QuantileSketch]], Spark's built-in `kll_sketch_*`):
  * [[psiSketched]]/[[klSketched]]/[[jsSketched]] compute the drift
  * distance from two sketches via their ranks at the bin edges, without
  * rescanning either snapshot. The built-in `percentile_approx`
  * (Greenwald–Khanna `QuantileSummaries`) remains available where only
  * point quantiles are needed.
  */
object Drift {

  /** Fixed-width histogram of `valueCol` over [lo, hi) with `bins` buckets;
    * under/overflow clamp into the edge buckets so mass is conserved. */
  def histogram(df: DataFrame, valueCol: String, lo: Double, hi: Double, bins: Int): DataFrame = {
    val width = (hi - lo) / bins
    val rawBin = floor((col(valueCol).cast("double") - lo) / width).cast("int")
    val bin = least(greatest(rawBin, lit(0)), lit(bins - 1))
    df.where(col(valueCol).isNotNull)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"))
  }

  /** Same histogram via the custom [[graft.functions.HistogramSketch]]
    * aggregate: one aggregation, no per-bin shuffle rows — preferable inside
    * a wider `agg(...)` (e.g. per-source sketches next to other stats).
    * Empty bins are dropped to match [[histogram]]'s shape. */
  def histogramOnePass(df: DataFrame, valueCol: String, lo: Double, hi: Double, bins: Int): DataFrame = {
    graft.functions.HistogramSketch.register(df.sparkSession)
    df.agg(graft.functions.HistogramSketch
        .histogramSketch(col(valueCol), lo, hi, bins).as("h"))
      .select(posexplode(col("h")).as(Seq("bin", "n")))
      .where(col("n") > 0)
  }

  /** PSI between two histograms over the same binning:
    * `sum((p-q) * ln(p/q))` with epsilon-clamped proportions (standard
    * practice so empty bins don't blow up the log). PSI > 0.2 is the usual
    * "significant shift" alert threshold. */
  def psi(reference: DataFrame, current: DataFrame, eps: Double = 1e-6): DataFrame =
    joinedProportions(reference, current, eps)
      .agg(sum((col("p") - col("q")) * log(col("p") / col("q"))).as("psi"))

  /** KL(P || Q) with the same clamping. */
  def kl(reference: DataFrame, current: DataFrame, eps: Double = 1e-6): DataFrame =
    joinedProportions(reference, current, eps)
      .agg(sum(col("p") * log(col("p") / col("q"))).as("kl"))

  /** Jensen–Shannon divergence: `0.5·KL(P‖M) + 0.5·KL(Q‖M)` with
    * `M = (P+Q)/2` — the symmetric, bounded (≤ ln 2) member of the drift
    * family, the usual alerting complement to the unbounded KL/PSI (a new
    * mode appearing in Q moves JS smoothly instead of exploding). Same
    * epsilon-clamped proportions over the shared binning. */
  def js(reference: DataFrame, current: DataFrame, eps: Double = 1e-6): DataFrame =
    joinedProportions(reference, current, eps)
      .select(col("p"), col("q"), ((col("p") + col("q")) / 2).as("m"))
      .agg(sum(col("p") * log(col("p") / col("m")) * 0.5
        + col("q") * log(col("q") / col("m")) * 0.5).as("js"))

  private def joinedProportions(reference: DataFrame, current: DataFrame, eps: Double): DataFrame = {
    val p = proportions(reference).withColumnRenamed("prop", "p")
    val q = proportions(current).withColumnRenamed("prop", "q")
    // histograms are tiny (≤ thousands of bins): broadcast outer join
    p.join(q, Seq("bin"), "full_outer") // bins are tiny; hint-free (broadcast unsupported for full-outer)
      .select(
        col("bin"),
        greatest(coalesce(col("p"), lit(0.0)), lit(eps)).as("p"),
        greatest(coalesce(col("q"), lit(0.0)), lit(eps)).as("q"))
  }

  private def proportions(hist: DataFrame): DataFrame = {
    val total = hist.agg(sum(col("n")).as("total"))
    hist.crossJoin(broadcast(total))
      .select(col("bin"), (col("n").cast("double") / col("total")).as("prop"))
  }

  /** Per-group histogram over the same fixed binning: one partial-aggregated
    * `groupBy(group, bin)` — the shuffle carries (group × bins) counter rows,
    * never data rows, so the shape survives any corpus size. `group` is
    * typically a tumbling-window start (the streaming-drift monitor's batch
    * twin) or a data partition such as `source`. */
  def histogramByGroup(df: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    val width = (hi - lo) / bins
    val rawBin = floor((col(valueCol).cast("double") - lo) / width).cast("int")
    val bin = least(greatest(rawBin, lit(0)), lit(bins - 1))
    df.where(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), bin.as("bin"))
      .agg(count(lit(1)).as("n"))
  }

  /** PSI of each group's value distribution against the WHOLE dataset's
    * distribution (the "which window drifted?" monitor): per-group
    * `sum((p−q)·ln(p/q))` over the globally-occupied bins, proportions
    * epsilon-clamped exactly like [[psi]]. Two aggregations total — the
    * global histogram (≤ `bins` rows, broadcast) and the per-group one —
    * then a counters-only join; nothing rescans data per group. */
  def psiByGroup(df: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double, bins: Int, eps: Double = 1e-6): DataFrame = {
    val gh = histogramByGroup(df, groupCol, valueCol, lo, hi, bins)
    val gt = gh.groupBy("grp").agg(sum(col("n")).as("t"))
    val q  = proportions(histogram(df, valueCol, lo, hi, bins))
      .select(col("bin"), greatest(col("prop"), lit(eps)).as("q"))
    // grid = every group × every globally-occupied bin, so a bin a group
    // never hit still contributes its clamped (eps vs q) term
    gt.crossJoin(broadcast(q))
      .join(gh, Seq("grp", "bin"), "left")
      .select(col("grp"),
        greatest(coalesce(col("n"), lit(0L)).cast("double") / col("t"), lit(eps)).as("p"),
        col("q"))
      .groupBy("grp")
      .agg(sum((col("p") - col("q")) * log(col("p") / col("q"))).as("psi"))
  }

  /** Per-bin (p, q) proportions derived from two KLL SKETCHES instead of
    * exact histograms: bin mass = `rank(hi) − rank(lo)` on each sketch,
    * with the exclusive rank P(X < edge) of [[QuantileSketch.rankBelow]] so
    * the bins are `[lo, hi)` like [[histogram]]'s; edge bins absorb the
    * tails (rank is monotone, so masses are non-negative and sum to 1 — the
    * same clamp contract as [[histogram]]). Each snapshot is ONE sketch
    * aggregation (O(K log(n/K)) state), and the drift arithmetic runs on
    * the two stored artifacts — re-checking against a month of snapshots
    * rescans nothing. */
  private def digestProportions(reference: DataFrame, current: DataFrame,
      valueCol: String, lo: Double, hi: Double, bins: Int, eps: Double): DataFrame = {
    val rd = reference.agg(QuantileSketch.sketch(col(valueCol)).as("dref"))
    val cd = current.agg(QuantileSketch.sketch(col(valueCol)).as("dcur"))
    val width = (hi - lo) / bins
    val rows = (0 until bins).map { i =>
      def mass(d: String): Column = {
        val pl = if (i == 0) lit(0.0) else QuantileSketch.rankBelow(col(d), lo + i * width)
        val ph = if (i == bins - 1) lit(1.0) else QuantileSketch.rankBelow(col(d), lo + (i + 1) * width)
        ph - pl
      }
      struct(lit(i).as("bin"), mass("dref").as("p"), mass("dcur").as("q"))
    }
    rd.crossJoin(cd) // 1×1: two sketch rows, no data motion
      .select(explode(array(rows: _*)).as("s"))
      .select(col("s.bin").as("bin"),
        greatest(col("s.p"), lit(eps)).as("p"),
        greatest(col("s.q"), lit(eps)).as("q"))
  }

  /** PSI computed from two KLL sketches (see [[digestProportions]]);
    * agrees with the exact [[psi]] to within the sketch's rank error —
    * pinned by spec and by the v47 oracle's tolerance verdict. */
  def psiSketched(reference: DataFrame, current: DataFrame, valueCol: String,
      lo: Double, hi: Double, bins: Int, eps: Double = 1e-6): DataFrame =
    digestProportions(reference, current, valueCol, lo, hi, bins, eps)
      .agg(sum((col("p") - col("q")) * log(col("p") / col("q"))).as("psi"))

  /** KL(P || Q) from two KLL sketches. */
  def klSketched(reference: DataFrame, current: DataFrame, valueCol: String,
      lo: Double, hi: Double, bins: Int, eps: Double = 1e-6): DataFrame =
    digestProportions(reference, current, valueCol, lo, hi, bins, eps)
      .agg(sum(col("p") * log(col("p") / col("q"))).as("kl"))

  /** Jensen–Shannon divergence from two KLL sketches — the bounded
    * symmetric member, same shape as [[js]]. */
  def jsSketched(reference: DataFrame, current: DataFrame, valueCol: String,
      lo: Double, hi: Double, bins: Int, eps: Double = 1e-6): DataFrame =
    digestProportions(reference, current, valueCol, lo, hi, bins, eps)
      .select(col("p"), col("q"), ((col("p") + col("q")) / 2).as("m"))
      .agg(sum(col("p") * log(col("p") / col("m")) * 0.5
        + col("q") * log(col("q") / col("m")) * 0.5).as("js"))

  /** Drift verdict in the violation-row shape: fires when PSI exceeds
    * `threshold`. */
  def psiRule(reference: DataFrame, current: DataFrame, ruleId: String,
      threshold: Double = 0.2): DataFrame =
    psi(reference, current).select(
      lit(ruleId).as("rule_id"),
      col("psi"),
      when(col("psi") > threshold, "fail").otherwise("pass").as("verdict"))
}
