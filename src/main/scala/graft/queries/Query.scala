package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its id, the ANSI-SQL oracle the driver runs in DuckDB
  * over the same parquet tables, whether its table reads take the scan
  * floor ([[Tables.scanFloor]]), and its Spark build. The build reads every
  * table through the [[Tables]] it is given, so the floor choice is stated
  * here once and nowhere in the body.
  *
  * Determinism rules used throughout (so Spark and DuckDB hash-match):
  *  - money/double sums go through DECIMAL (exact, order-independent), then
  *    `round(...,2)` and a final cast to DOUBLE;
  *  - per-row double arithmetic (ratios of exact ints, IEEE ops in fixed
  *    order) is emitted raw — bit-identical across engines;
  *  - every result has a total ORDER BY;
  *  - counts are BIGINT in both engines; `size()`/`length()` are cast to
  *    LONG to match DuckDB's BIGINT.
  *
  * The floor is off for queries that are pure sketch/counter aggregations
  * over the scan (count_distinct, HLL, percentile, histogram counters):
  * there the partial aggregation ships only aggregation buffers across the
  * exchange, while a pre-repartition would ship the raw rows themselves
  * (measured: v44 2.3 s vs 4.6 s with the floor). Expression-heavy scans
  * (validation packs, tokenization, hashing) keep it — their per-row CPU
  * dwarfs the one extra row shuffle.
  */
final case class Query(name: String, oracle: String, floor: Boolean)(val build: Tables => DataFrame) {
  def run(spark: SparkSession, dir: String): DataFrame = build(new Tables(spark, dir, floor))
}

/** The table reader a [[Query]] build gets: `t("orders")` reads
  * `<dir>/orders.parquet`, behind [[Tables.scanFloor]] when the query's
  * floor flag is on. */
final class Tables(val spark: SparkSession, val dir: String, floor: Boolean) {
  def apply(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.parquet(path)
    if (floor) Tables.scanFloor(spark, df, path) else df
  }

  /** This reader over another session, with the same floor choice. */
  def in(session: SparkSession): Tables = new Tables(session, dir, floor)
}

object Tables {

  /** Scan-parallelism floor (guide §2.5, "input skew: one huge unsplittable
    * file … repartition immediately after the read"): the test tables are
    * single-row-group parquet files, so a bare scan plans ONE effective
    * task and every expression that rides it (regex tokenization, md5
    * fingerprints, compiled rule packs) runs on one core regardless of
    * cluster width. When the file layout yields fewer scan tasks than the
    * session's parallelism, round-robin repartition right after the read:
    * the exchange moves each byte once (cheap filters still push BELOW it,
    * pruning/pushdown verified by PlanAuditSpec) and every downstream
    * stage runs at full width. REPARTITION_BY_NUM is exempt from AQE
    * coalescing, so the width sticks. On a production many-file table the
    * scan already splits past the floor and this adds NO exchange — the
    * condition is derived from the file layout, not tuned to local mode. */
  private[graft] def scanFloor(s: SparkSession, df: DataFrame, path: String): DataFrame = {
    if (!ScanFloorEnabled) return df
    val target = s.sparkContext.defaultParallelism
    // width the scan could reach at the most generous split size — pure
    // file-metadata arithmetic (planning an RDD here costs ~0.1 s per
    // call); Hadoop FS API so hdfs:/s3a: inputs size correctly too, and
    // any metadata failure falls safe to "wide enough" (no extra exchange)
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
      } catch { case _: Exception => Long.MaxValue }
    if (reachableScanTasks(bytes, s.sessionState.conf.filesMaxPartitionBytes) < target)
      df.repartition(target)
    else df
  }

  /** ⌈bytes / maxSplit⌉ without the overflow of `(bytes + maxSplit − 1) /
    * maxSplit`: the metadata-failure sentinel `Long.MaxValue` must read as
    * the widest possible scan (no floor), not wrap negative (floor). */
  private[graft] def reachableScanTasks(bytes: Long, maxSplit: Long): Long =
    if (bytes <= 0) 0L else 1L + (bytes - 1) / math.max(1L, maxSplit)

  /** A/B switch for [[scanFloor]] (`GRAFT_SCAN_FLOOR=0` disables) — used to
    * record the floor's effect in OPTIMIZATION_r06.md and as the opt-out
    * for inputs whose layout is known-good. */
  private val ScanFloorEnabled = sys.env.getOrElse("GRAFT_SCAN_FLOOR", "1") != "0"
}
