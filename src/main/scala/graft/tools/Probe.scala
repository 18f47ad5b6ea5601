package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

import java.nio.file.{Files, Paths}
import java.util.Locale

/** One measurement CLI over the [[graft.SparkEntry]] queries, in two modes:
  *  - `time` gives each query one cold run (its first in this JVM), then
  *    `--reps` warm runs (default 3), all through a noop sink under the job
  *    description `<query> rep <i>` (rep 0 is the cold run), and prints one
  *    JSON line per query: `{"query","cold_s","warm_s":[…],"warm_min","warm_median"}`.
  *  - `plan` runs each query, then prints its final adaptive physical plan
  *    (`isFinalPlan=true`) in formatted mode, to stdout or `<out>/<query>.txt`.
  *
  * No query names means every query, in sorted order; an unknown name fails
  * before any job runs. `--sf` defaults to `SPARK_GRAFT_SF_DIR`, then
  * `/root/testdata/sf0.1`. The core count is [[graft.GraftSession.Cores]].
  */
object Probe {

  private val Usage = "usage: runMain graft.tools.Probe time [--sf DIR] [--reps N] [query…]\n" +
    "       runMain graft.tools.Probe plan [--sf DIR] [--out DIR] [query…]"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get(appName = "graft-probe")
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** Runs one probe on `spark`; the session stays open. */
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val flags = args.headOption match {
      case Some("time") => Set("--sf", "--reps")
      case Some("plan") => Set("--sf", "--out")
      case _ => throw new IllegalArgumentException(Usage)
    }
    val (opts, named) = parse(args.tail.toList, flags, Map.empty, Vector.empty)
    val unknown = named.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    val names = if (named.isEmpty) SparkEntry.queries.keys.toSeq.sorted else named
    val sf = opts.getOrElse("--sf", sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    if (args.head == "time") {
      val reps = opts.get("--reps").fold(3)(_.toInt)
      require(reps >= 1, s"--reps must be at least 1, got $reps")
      names.foreach(q => println(time(spark, sf, q, reps)))
    } else names.foreach(q => plan(spark, sf, q, opts.get("--out")))
  }

  @annotation.tailrec
  private def parse(rest: List[String], flags: Set[String], opts: Map[String, String],
      names: Vector[String]): (Map[String, String], Vector[String]) = rest match {
    case flag :: value :: tail if flags(flag) => parse(tail, flags, opts + (flag -> value), names)
    case flag :: _ if flag.startsWith("--") =>
      throw new IllegalArgumentException(s"bad option $flag; $Usage")
    case name :: tail => parse(tail, flags, opts, names :+ name)
    case Nil => (opts, names)
  }

  private def time(spark: SparkSession, sf: String, q: String, reps: Int): String = {
    val secs = (0 to reps).map { i =>
      spark.sparkContext.setJobDescription(s"$q rep $i")
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, sf).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.setJobDescription(null)
    val warm = secs.tail.sorted
    val median = (warm((reps - 1) / 2) + warm(reps / 2)) / 2
    def n(s: Double) = "%.4f".formatLocal(Locale.ROOT, s)
    s"""{"query":"$q","cold_s":${n(secs.head)},"warm_s":[${secs.tail.map(n).mkString(",")}],""" +
      s""""warm_min":${n(warm.head)},"warm_median":${n(median)}}"""
  }

  private def plan(spark: SparkSession, sf: String, q: String, out: Option[String]): Unit = {
    val qe = SparkEntry.queries(q)(spark, sf).queryExecution
    // AQE settles the final plan only while the query runs
    SQLExecution.withNewExecutionId(qe, Some(s"$q plan"))(qe.toRdd.count())
    val text = qe.explainString(FormattedMode)
    out match {
      case Some(dir) =>
        val path = Files.createDirectories(Paths.get(dir)).resolve(s"$q.txt")
        Files.writeString(path, text)
        println(s"wrote $path")
      case None => println(s"== $q ==\n$text")
    }
  }
}
