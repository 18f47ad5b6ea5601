package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every SparkEntry query on
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line.
  *
  * Each query is forced with a noop-sink write (full materialization of the
  * result — `count()` would let Catalyst prune the projections away).
  * Shuffle partitions = cores (local mode; 200 would thrash task startup).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get(appName = "graft-bench")

    // warm the JVM/codegen once on the smallest table
    spark.read.parquet(s"$sfDir/region.parquet").count()

    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}") }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // the captured stdout line can be tail-truncated by harnesses; keep the
    // full record on disk so per-query round-over-round comparison always
    // has complete data
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_full.json"),
      (line + "\n").getBytes("UTF-8"))
    catch {
      // a silently-stale file would masquerade as this run's record — warn
      case e: java.io.IOException =>
        System.err.println(s"[bench] WARNING: BENCH_full.json not written (${e.getMessage}); " +
          "any existing file is from a PREVIOUS run")
    }
    spark.stop()
  }
}
