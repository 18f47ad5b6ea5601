package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One-pass column profiling — the engine's scaled-up counterpart of the
  * reference's tiny in-document folds (element counts Draft4.pm:92-95, key
  * counts Draft4.pm:131-135), per SURVEY.md §2.7.
  *
  * All statistics for all columns are computed in ONE aggregation job:
  * Catalyst runs partial (map-side) aggregation per partition and shuffles
  * only the tiny state, so the cost at 100 TB is one scan + a constant-size
  * shuffle. Approx-distinct uses the built-in HyperLogLog++
  * (`approx_count_distinct`); quantiles the built-in `percentile_approx`
  * (Greenwald–Khanna `QuantileSummaries`), or KLL sketches through
  * [[quantileDigest]] where the sketch itself must be kept. The
  * long-format output (one row per column) is stable for tests and
  * SQL-expressible for the DuckDB oracle (exact stats only).
  */
object ColumnStats {

  final case class Spec(approxDistinct: Boolean = true, quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75))

  /** Wide one-row stats: for each column `c` emits `c__n_nonnull`,
    * `c__n_null`, `c__min`, `c__max` (+ numeric: `c__sum`, `c__approx_distinct`,
    * quantiles). */
  def wide(df: DataFrame, columns: Seq[String] = Seq.empty, spec: Spec = Spec()): DataFrame = {
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    val aggs = cols.flatMap { c =>
      val f = df.schema(c)
      val base = Seq(
        count(col(c)).as(s"${c}__n_nonnull"),
        sum(col(c).isNull.cast("long")).as(s"${c}__n_null"))
      val ordered = f.dataType match {
        case _: NumericType | _: StringType | _: DateType | _: TimestampType =>
          Seq(min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max"))
        case _ => Seq.empty
      }
      val numeric = f.dataType match {
        case _: NumericType =>
          Seq(sum(col(c)).as(s"${c}__sum")) ++
            (if (spec.approxDistinct) Seq(approx_count_distinct(col(c)).as(s"${c}__approx_distinct")) else Nil) ++
            spec.quantiles.map(q => percentile_approx(col(c), lit(q), lit(10000)).as(s"${c}__p${(q * 100).toInt}"))
        case _ if spec.approxDistinct =>
          Seq(approx_count_distinct(col(c)).as(s"${c}__approx_distinct"))
        case _ => Seq.empty
      }
      base ++ ordered ++ numeric
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Long-format exact profile: one row per column with
    * `(column, n_rows, n_nonnull, n_null, min_str, max_str)` — everything
    * cast to string so the schema is column-type independent. Exactly
    * reproducible in SQL (the oracle's UNION ALL per column). */
  def profile(df: DataFrame, columns: Seq[String] = Seq.empty): DataFrame = {
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    val perCol = cols.map { c =>
      val dt = df.schema(c).dataType
      val supportsMinMax = dt match {
        case _: NumericType | _: StringType | _: DateType | _: TimestampType | _: BooleanType => true
        case _ => false
      }
      struct(
        lit(c).as("column"),
        count(lit(1)).as("n_rows"),
        count(col(c)).as("n_nonnull"),
        sum(col(c).isNull.cast("long")).as("n_null"),
        (if (supportsMinMax) min(col(c)).cast("string") else lit(null).cast("string")).as("min_str"),
        (if (supportsMinMax) max(col(c)).cast("string") else lit(null).cast("string")).as("max_str"))
    }
    // one agg job producing an array of per-column structs, exploded driver-free
    df.agg(array(perCol: _*).as("stats"))
      .select(explode(col("stats")).as("s"))
      .select("s.*")
  }

  /** KLL quantile estimates for numeric columns in ONE aggregation, the
    * at-scale quantile path. Unlike `percentile_approx`, whose
    * Greenwald–Khanna buffer never leaves the aggregate, each column's
    * sketch ([[QuantileSketch]]) is a mergeable artifact that can be stored
    * per partition or snapshot and merged again across runs.
    * Long output: one row per (column, q) with the estimate; an all-null
    * column gives a NULL estimate. */
  def quantileDigest(df: DataFrame, columns: Seq[String], qs: Seq[Double]): DataFrame = {
    val aggs = columns.map(c => QuantileSketch.sketch(col(c)).as(s"${c}__kll"))
    val row = df.agg(aggs.head, aggs.tail: _*)
    val perCol = columns.map { c =>
      struct(lit(c).as("column"), array(qs.map { q =>
        struct(lit(q).as("q"), QuantileSketch.quantile(col(s"${c}__kll"), q).as("est"))
      }: _*).as("ests"))
    }
    row.select(explode(array(perCol: _*)).as("s"))
      .select(col("s.column").as("column"), explode(col("s.ests")).as("e"))
      .select(col("column"), col("e.q").as("q"), col("e.est").as("est"))
  }

  /** Per-partition stats for the lineage/metrics table (north_rule):
    * group by a data partition column, one shuffle of constant-size state. */
  def byPartition(df: DataFrame, partitionCol: String, valueCol: String): DataFrame =
    df.groupBy(col(partitionCol)).agg(
      count(lit(1)).as("n_rows"),
      count(col(valueCol)).as("n_nonnull"),
      min(col(valueCol)).as("min_v"),
      max(col(valueCol)).as("max_v"),
      avg(col(valueCol)).as("avg_v"),
      approx_count_distinct(col(valueCol)).as("approx_distinct"))
}
