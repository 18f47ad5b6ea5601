package perfbench

import org.apache.spark.perfbench.BusAccess
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Harness JVM: sets the engine's session up, runs one cold pass, warm-up
  * passes for `WarmUpS` and then measured warm passes until `--seconds` have
  * passed since the cold pass (three at least), checks every pass, and
  * writes the raw measurements as JSON for run.py.
  *
  * Untraced (`--trace 0`): no listener and no spans; the session is set up
  * five times (the first from process start) for `setup_s`.
  * Traced (`--trace 1`): the cold pass is traced; measured passes are
  * untraced and traced in turn, so the tracing overhead is their
  * difference. A token_audit run adds one pass at local[1]. */
object Main {
  val Cores = 4
  val WarmUpS = 8.0

  final case class Pass(wallS: Double, ok: Boolean, traced: Boolean, layers: Map[String, (Double, String)])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchNs = opt("launch-ns").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val wl = Workload(opt("workload"), opt("data"), opt("work"))

    val setups = mutable.ArrayBuffer.empty[Double]
    def setUp(cores: Int, fromNs: Long): SparkSession = {
      val spark = graft.GraftSession.get(cores.toString, "perfbench")
      wl.open(spark)
      setups += (epochNs() - fromNs) / 1e9
      spark
    }
    var spark = setUp(Cores, launchNs)

    val tracer = new Tracer(spark)
    val counters = new Counters
    val errors = mutable.ArrayBuffer.empty[String]
    val passes = mutable.ArrayBuffer.empty[Pass]

    def runPass(n: Int, trace: Boolean, cores: Int): Pass = {
      tracer.enabled = trace
      tracer.run = n
      if (trace) {
        counters.reset()
        spark.sparkContext.addSparkListener(counters)
        spark.listenerManager.register(counters)
        ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      }
      val cg0 = Codegen.now()
      val t0 = System.nanoTime()
      val result =
        try Right(wl.pass(spark, tracer, n))
        catch { case e: Exception => Left(s"pass $n threw ${e.getClass.getName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      val cg = Codegen.now() - cg0
      var layers = Map.empty[String, (Double, String)]
      if (trace) {
        BusAccess.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(counters)
        spark.listenerManager.unregister(counters)
        layers = Layers.of(tracer.ofRun(n), counters, cg, wall, cores)
      }
      val errs = result match {
        case Left(e) => Seq(e)
        case Right(o) =>
          try o.check().map(e => s"pass $n: $e")
          catch { case e: Exception => Seq(s"pass $n check threw ${e.getClass.getName}: ${e.getMessage}") }
      }
      errors ++= errs
      val out = result.toOption
      if (errs.isEmpty) out.foreach(o => layers ++= o.info().map { case (k, v) => k -> (v, Layers.unitOf(k)) })
      val p = Pass(wall, errs.isEmpty, trace, layers)
      System.err.println(f"perfbench: pass $n%d (cores=$cores%d traced=$trace%s) ${p.wallS}%.3f s " +
        f"ok=${p.ok}%s codegen=${cg.classes}%d classes/${cg.compileMs}%.0f ms")
      p
    }

    passes += runPass(0, traced, Cores)
    val coldEnd = System.nanoTime()
    def since = (System.nanoTime() - coldEnd) / 1e9
    // a failing pass is often a fast one: stop after a few instead of timing them
    def failing = passes.count(!_.ok) >= 3
    // warm-up, not reported: the JIT keeps compiling hot paths for some
    // seconds after the cold pass, and passes there still speed up
    var n = 1
    while (!failing && (n == 1 || since < WarmUpS)) {
      passes += runPass(n, trace = false, Cores)
      n += 1
    }
    val firstMeasured = n
    def measured = passes.drop(firstMeasured)
    def count(t: Boolean) = measured.count(p => p.traced == t)
    val (minUntraced, minTraced) = if (traced) (2, 2) else (3, 0)
    while (!failing && (since < seconds || count(false) < minUntraced || count(true) < minTraced)) {
      // untraced and traced passes in U T T U order, so a drift that is
      // left does not land on one side
      val k = (n - firstMeasured) % 4
      passes += runPass(n, traced && (k == 1 || k == 2), Cores)
      n += 1
    }

    val out = mutable.LinkedHashMap.empty[String, Any]
    val warmOk = measured.filter(p => p.ok && !p.traced)
    if (traced) {
      var layers = Layers.summarise(passes.head, measured.filter(_.traced).toSeq,
        measured.filter(!_.traced).toSeq)
      layers += "jvm.first_setup_s" -> (setups.head, "s")
      val scaling = if (wl.isInstanceOf[TokenAudit] && warmOk.nonEmpty) {
        spark.stop()
        spark = setUp(1, epochNs())
        val one = runPass(n, trace = false, cores = 1)
        passes += one
        // throughput at local[4] over 4 × throughput at local[1]
        if (one.ok) one.wallS / (Cores * median(warmOk.map(_.wallS).toSeq)) else 0.0
      } else 0.0
      layers += "spark.scaling_eff_1to4" -> (scaling, "ratio")
      out("layers") = layers.map { case (k, (v, u)) => k -> Seq(v, u) }
      writeSpans(opt("spans"), tracer.spans.toSeq)
    } else {
      for (_ <- 1 to 4) {
        spark.stop()
        spark = setUp(Cores, epochNs())
      }
    }
    spark.stop()

    out("setup_s") = setups.toSeq
    out("cold_s") = passes.head.wallS
    // warm timings come from the passes that passed their check
    out("warm_s") = (if (warmOk.nonEmpty) warmOk else measured).map(_.wallS).toSeq
    out("rows") = wl.rows
    out("attempted") = passes.size
    out("failed") = passes.count(!_.ok)
    out("errors") = errors.toSeq
    Files.write(Paths.get(opt("out")), Json.render(out).getBytes("UTF-8"))
  }

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val rows = spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "run" -> s.run, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), Json.render(rows).getBytes("UTF-8"))
  }
}

/** Minimal JSON rendering for the harness's own output. */
object Json {
  def render(v: Any): String = v match {
    case null                => "null"
    case s: String           => graft.core.JStr(s).render
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int              => n.toString
    case n: Long             => n.toString
    case b: Boolean          => b.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]     => xs.map(render).mkString("[", ",", "]")
    case other               => render(other.toString)
  }
}
