package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory — every engine entry point builds its
  * session here so the engine's config choices apply uniformly:
  *
  *  - the engine's five SQL functions, from [[GraftExtensions]] (installed
  *    through `spark.sql.extensions`, after any extensions the launch conf
  *    already names, so a `--conf spark.sql.extensions=graft.GraftExtensions`
  *    launch injects each function once); every `newSession()` child shares
  *    them,
  *  - `local[cores]`, where `cores` defaults to [[Cores]],
  *  - `shuffle.partitions = cores` (local mode; the 200 default just adds
  *    task-scheduling overhead),
  *  - AQE on (runtime re-planning, skew-join backstop),
  *  - UTC session time zone (oracle parity),
  *  - `InferFiltersFromGenerate` EXCLUDED: that rule copies the generator
  *    input into a `size(e) > 0` pre-filter, which for this engine means
  *    evaluating the entire compiled rule expression (or a shingle array)
  *    twice per row — `explode` already skips empty arrays, and the rule
  *    costs a measured 2× on validation queries. (Same motivation as the
  *    upstream default exclusion of this rule for expensive generators.)
  *  - codegen cache of 1000 classes: Spark's default 100 is split over
  *    four hash-picked segments, so one validation pass's generated
  *    classes evict each other and a repeat pass compiles them again.
  */
object GraftSession {

  val ExcludedRules = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** The core count of every engine main: `SPARK_GRAFT_CPUS`, else every
    * processor of this machine. */
  val Cores: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  private val ExtensionsKey = "spark.sql.extensions"

  /** `spark.sql.extensions` of a session: the launch conf's classes (a
    * builder option replaces the launch conf's value, so they are kept
    * here), then [[GraftExtensions]] unless the launch conf names it. */
  private[graft] def extensions(launch: Option[String]): String =
    (launch.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty) :+
      classOf[GraftExtensions].getName).distinct.mkString(",")

  def builder(cores: String = Cores, appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config(ExtensionsKey, extensions(sys.props.get(ExtensionsKey)))
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE post-shuffle coalescing floor: this engine's per-byte CPU cost
      // is high (compiled validation expressions, regex tokenization,
      // md5-portable hashing), so the default 1 MB minimum collapses most
      // reduce stages of the test corpora to 1-5 tasks and serializes the
      // expensive work. 64 KB keeps coalescing on (parallelismFirst still
      // targets defaultParallelism partitions) while letting CPU-bound
      // stages use the full width; on production-sized shuffles partitions
      // are far above either floor and this is a no-op.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.optimizer.excludedRules", ExcludedRules)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")

  def get(cores: String = Cores, appName: String = "graft"): SparkSession = {
    val s = builder(cores, appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
