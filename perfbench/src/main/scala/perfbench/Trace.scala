package perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One recorded span: a call into an engine layer, named `<layer>.<call>`. */
final case class Span(id: Int, parent: Int, run: Int, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** Span recorder. Spans live in memory and are written when the run ends.
  * While a span is open, Spark jobs started from its thread carry the span
  * id as a local property, so the listener can charge them to it. When
  * tracing is off `span` only runs its body. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var enabled = false
  var run = 0
  private var stack = List(0)
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      spark.sparkContext.setLocalProperty(Tracer.SpanProp, id.toString)
      val (t0, ms0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        spans += Span(id, parent, run, name, t0, System.nanoTime(), ms0, System.currentTimeMillis())
        stack = stack.tail
        spark.sparkContext.setLocalProperty(Tracer.SpanProp,
          if (stack.head == 0) null else stack.head.toString)
      }
    }

  def ofRun(r: Int): Seq[Span] = spans.filter(_.run == r).toSeq
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Self time per layer: each span's duration minus the part of it its
    * child spans cover (children of one span never overlap: the harness
    * calls the engine from one thread). */
  def selfNsByLayer(spans: Seq[Span]): Map[String, Long] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum
    }
  }
}

/** Task and job counters for one stage, summed over its tasks. */
final class StageAcc {
  var span = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Spark's public listener interfaces, registered by the harness for the
  * traced passes only: per-stage task metrics, jobs charged to the span
  * that started them, and each query's planning-phase times. */
final class Counters extends SparkListener with QueryExecutionListener {
  val jobSpan = mutable.Map.empty[Int, Int]
  val stageSpan = mutable.Map.empty[Int, Int]
  val stages = mutable.Map.empty[Int, StageAcc]
  /** (start ms, phase ms) per executed query: analysis + optimization + planning. */
  val planning = mutable.ArrayBuffer.empty[(Long, Long)]

  def reset(): Unit = synchronized {
    jobSpan.clear(); stageSpan.clear(); stages.clear(); planning.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(0)
    jobSpan(e.jobId) = span
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val acc = stages.getOrElseUpdate(e.stageId, new StageAcc)
      acc.span = stageSpan.getOrElse(e.stageId, 0)
      acc.tasks += 1
      acc.runMs += m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.gcMs += m.jvmGCTime
      acc.inputBytes += m.inputMetrics.bytesRead
      acc.inputRecords += m.inputMetrics.recordsRead
      acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      acc.taskMs += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    val start = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    planning += ((start, ms))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Spark's codegen counters (JVM-wide histograms): compilations, compile
  * time and generated source size since JVM start. The reservoir keeps
  * every value until 1028 compilations, far above what a run compiles. */
final case class Codegen(classes: Long, compileMs: Double, sourceBytes: Double) {
  def -(o: Codegen): Codegen = Codegen(classes - o.classes, compileMs - o.compileMs, sourceBytes - o.sourceBytes)
}

object Codegen {
  def now(): Codegen = {
    val t = CodegenMetrics.METRIC_COMPILATION_TIME
    val s = CodegenMetrics.METRIC_SOURCE_CODE_SIZE
    Codegen(t.getCount, t.getSnapshot.getValues.sum.toDouble, s.getSnapshot.getValues.sum.toDouble)
  }
}
