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
  * One kernel per input shape computes all three distances in one
  * aggregate: [[distances]] over two histograms, [[sketchedDistances]]
  * over two KLL sketches ([[QuantileSketch]], Spark's built-in
  * `kll_sketch_*`) read at the bin edges. [[psi]]/[[kl]]/[[js]] and
  * [[psiSketched]]/[[klSketched]]/[[jsSketched]] select one column of
  * them; ColumnPruning drops the other two sums, so one distance computes
  * one sum. [[psiByGroup]] runs the same sums per group. The built-in
  * `percentile_approx` (Greenwald–Khanna `QuantileSummaries`) remains
  * available where only point quantiles are needed.
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

  /** PSI, KL(P‖Q) and Jensen–Shannon divergence between two histograms
    * over the same binning, as one row `(psi, kl, js)`: one full-outer join
    * of the epsilon-clamped proportions (standard practice so empty bins
    * don't blow up the log) and one aggregate of three sums.
    *  - PSI = `sum((p-q) * ln(p/q))`; PSI > 0.2 is the usual "significant
    *    shift" alert threshold.
    *  - KL = `sum(p * ln(p/q))`.
    *  - JS = `0.5·KL(P‖M) + 0.5·KL(Q‖M)` with `M = (P+Q)/2`: the symmetric,
    *    bounded (≤ ln 2) member of the family, the usual alerting
    *    complement to the unbounded KL/PSI (a new mode appearing in Q moves
    *    JS smoothly instead of exploding). */
  def distances(reference: DataFrame, current: DataFrame, eps: Double = 1e-6): DataFrame =
    distanceSums(joinedProportions(reference, current, eps))

  /** PSI alone; see [[distances]]. */
  def psi(reference: DataFrame, current: DataFrame, eps: Double = 1e-6): DataFrame =
    distances(reference, current, eps).select("psi")

  /** KL(P || Q) alone; see [[distances]]. */
  def kl(reference: DataFrame, current: DataFrame, eps: Double = 1e-6): DataFrame =
    distances(reference, current, eps).select("kl")

  /** Jensen–Shannon divergence alone; see [[distances]]. */
  def js(reference: DataFrame, current: DataFrame, eps: Double = 1e-6): DataFrame =
    distances(reference, current, eps).select("js")

  /** The three distance sums over per-bin clamped proportions `(p, q)`,
    * one row per `by` group (one row in all without `by`). */
  private def distanceSums(pq: DataFrame, by: Column*): DataFrame = {
    val (p, q) = (col("p"), col("q"))
    val m = (p + q) / 2
    pq.groupBy(by: _*).agg(
      sum((p - q) * log(p / q)).as("psi"),
      sum(p * log(p / q)).as("kl"),
      sum(p * log(p / m) * 0.5 + q * log(q / m) * 0.5).as("js"))
  }

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
    val grid = gt.crossJoin(broadcast(q))
      .join(gh, Seq("grp", "bin"), "left")
      .select(col("grp"),
        greatest(coalesce(col("n"), lit(0L)).cast("double") / col("t"), lit(eps)).as("p"),
        col("q"))
    distanceSums(grid, col("grp")).select("grp", "psi")
  }

  /** Per-bin (p, q) proportions derived from two KLL SKETCHES instead of
    * exact histograms: bin mass = `rank(hi) − rank(lo)` on each sketch,
    * with the exclusive rank P(X < edge) of [[QuantileSketch.rankBelow]] so
    * the bins are `[lo, hi)` like [[histogram]]'s; edge bins absorb the
    * tails (rank is monotone, so masses are non-negative and sum to 1 — the
    * same clamp contract as [[histogram]]). Each snapshot is ONE sketch
    * aggregation (O(K log(n/K)) state) and the drift arithmetic runs on the
    * two sketch rows. Every call aggregates both snapshots again: nothing
    * here reads a stored sketch column. */
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

  /** PSI, KL and JS as one row `(psi, kl, js)` from two KLL sketches (see
    * [[digestProportions]]): one sketch aggregation per snapshot feeds all
    * three. Agrees with the exact [[distances]] to within the sketch's rank
    * error — pinned by spec and by the v47 oracle's tolerance verdict. */
  def sketchedDistances(reference: DataFrame, current: DataFrame, valueCol: String,
      lo: Double, hi: Double, bins: Int, eps: Double = 1e-6): DataFrame =
    distanceSums(digestProportions(reference, current, valueCol, lo, hi, bins, eps))

  /** PSI alone from two KLL sketches; see [[sketchedDistances]]. */
  def psiSketched(reference: DataFrame, current: DataFrame, valueCol: String,
      lo: Double, hi: Double, bins: Int, eps: Double = 1e-6): DataFrame =
    sketchedDistances(reference, current, valueCol, lo, hi, bins, eps).select("psi")

  /** KL(P || Q) alone from two KLL sketches; see [[sketchedDistances]]. */
  def klSketched(reference: DataFrame, current: DataFrame, valueCol: String,
      lo: Double, hi: Double, bins: Int, eps: Double = 1e-6): DataFrame =
    sketchedDistances(reference, current, valueCol, lo, hi, bins, eps).select("kl")

  /** Jensen–Shannon divergence alone from two KLL sketches; see
    * [[sketchedDistances]]. */
  def jsSketched(reference: DataFrame, current: DataFrame, valueCol: String,
      lo: Double, hi: Double, bins: Int, eps: Double = 1e-6): DataFrame =
    sketchedDistances(reference, current, valueCol, lo, hi, bins, eps).select("js")

  /** Drift verdict in the violation-row shape: fires when PSI exceeds
    * `threshold`. */
  def psiRule(reference: DataFrame, current: DataFrame, ruleId: String,
      threshold: Double = 0.2): DataFrame =
    psi(reference, current).select(
      lit(ruleId).as("rule_id"),
      col("psi"),
      when(col("psi") > threshold, "fail").otherwise("pass").as("verdict"))
}
