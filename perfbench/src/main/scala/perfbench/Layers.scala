package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

/** Per-layer metrics of the traced run, named `<layer>.<metric>`. A layer
  * the workload never calls reads 0. */
object Layers {
  type M = Map[String, (Double, String)]

  val EngineLayers = Seq("rulepack", "core", "global", "stats", "table", "pipeline")

  /** Span whose summed duration gives each `_s` / `_ms` metric. */
  val SpanTimes = Seq(
    "core.validate_s" -> "core.validate", "core.verdict_s" -> "core.verdict",
    "global.unique_s" -> "global.unique", "global.ref_s" -> "global.ref",
    "stats.profile_s" -> "stats.profile", "stats.quantile_s" -> "stats.quantile",
    "stats.drift_s" -> "stats.drift", "table.write_s" -> "table.write",
    "pipeline.pairs_s" -> "pipeline.pairs", "pipeline.cc_s" -> "pipeline.cc")

  /** Metrics of first-pass costs (planning, code generation, pack load):
    * reported from the cold pass, the warm passes' caches hide them. */
  val ColdOnly = Set("codegen.compile_ms", "codegen.classes", "codegen.source_bytes",
    "core.build_ms", "core.plan_ms", "rulepack.load_ms")

  /** Filled from the workload's own outcome. */
  val FromWorkload = Seq("core.violation_rows", "core.failing_row_frac", "pipeline.pairs_n",
    "pipeline.pair_precision", "pipeline.group_recall")

  def unitOf(name: String): String = name match {
    case n if n.endsWith("_ms")                          => "ms"
    case n if n.endsWith("_s")                           => "s"
    case n if n.endsWith("_bytes")                       => "bytes"
    case n if n.endsWith("_mb")                          => "MB"
    case n if n.endsWith("_frac") || n.endsWith("_util") || n.endsWith("_precision") ||
      n.endsWith("_recall") || n.endsWith("_skew") || n.contains("scaling_eff") => "ratio"
    case _                                               => "count"
  }

  /** Everything one traced pass shows. */
  def of(spans: Seq[Span], c: Counters, cg: Codegen, wallS: Double, cores: Int): M = c.synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    def layerOf(spanId: Int) = byId.get(spanId).map(_.layer)
    def spanSum(name: String) = spans.filter(_.name == name).map(_.durNs).sum / 1e9
    val stages = c.stages.values.filter(s => byId.contains(s.span)).toSeq
    val jobs = c.jobSpan.values.filter(byId.contains).toSeq
    val self = Tracer.selfNsByLayer(spans)
    // planning of each query is charged to the innermost span open when it began
    val planByLayer = c.planning.toSeq.flatMap { case (startMs, ms) =>
      spans.filter(s => s.startMs <= startMs && startMs <= s.endMs).sortBy(-_.startNs).headOption
        .map(_.layer -> ms)
    }.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum.toDouble }
    val skew = stages.filter(_.tasks >= cores).map { s =>
      val t = s.taskMs.sorted
      t.last.toDouble / math.max(1L, t(t.size / 2))
    }
    // eden fills to whatever the heap allows between collections; the pools
    // that hold surviving objects show what a pass keeps
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && !p.getName.contains("Eden"))
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

    val m = Map[String, Double](
      "spark.jobs" -> jobs.size,
      "spark.scan_tasks" -> stages.filter(_.inputRecords > 0).map(_.tasks).maxOption.getOrElse(0).toDouble,
      "spark.core_util" -> stages.map(_.runMs).sum / (wallS * 1000 * cores),
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
      "spark.task_skew" -> skew.maxOption.getOrElse(0.0),
      "spark.gc_s" -> stages.map(_.gcMs).sum / 1e3,
      "spark.spill_bytes" -> stages.map(_.spill).sum.toDouble,
      "spark.input_bytes" -> stages.map(_.inputBytes).sum.toDouble,
      "spark.executor_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "table.jobs" -> jobs.count(j => layerOf(j).contains("table")).toDouble,
      "pipeline.cc_jobs" -> jobs.count(j => byId.get(j).exists(_.name == "pipeline.cc")).toDouble,
      "codegen.compile_ms" -> cg.compileMs,
      "codegen.classes" -> cg.classes.toDouble,
      "codegen.source_bytes" -> cg.sourceBytes,
      "core.build_ms" -> spanSum("core.build") * 1e3,
      "core.plan_ms" -> planByLayer.getOrElse("core", 0.0),
      "rulepack.load_ms" -> spanSum("rulepack.load") * 1e3,
      "jvm.heap_peak_mb" -> heapPeakMb) ++
      SpanTimes.map { case (metric, span) => metric -> spanSum(span) } ++
      EngineLayers.map(l => s"$l.self_s" -> self.getOrElse(l, 0L) / 1e9)
    m.map { case (k, v) => k -> (v, unitOf(k)) }
  }

  /** Cold-pass figures for first-pass costs, medians of the traced warm
    * passes for the rest, and the tracing overhead. */
  def summarise(cold: Main.Pass, traced: Seq[Main.Pass], untraced: Seq[Main.Pass]): M = {
    val names = cold.layers.keySet ++ traced.flatMap(_.layers.keySet) ++ FromWorkload
    val warm = names.toSeq.map { k =>
      val src = if (ColdOnly(k)) Seq(cold) else traced
      val v = Main.median(src.flatMap(_.layers.get(k)).map(_._1))
      k -> (v, unitOf(k))
    }.toMap
    val overhead = Main.median(traced.map(_.wallS)) - Main.median(untraced.filter(_.ok).map(_.wallS))
    warm + ("trace.overhead_s" -> (overhead, "s"))
  }
}
