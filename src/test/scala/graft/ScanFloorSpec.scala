package graft

import graft.queries.Tables
import org.apache.spark.sql.catalyst.plans.logical.Repartition

/** The scan-parallelism floor's sizing: a metadata failure must fall safe
  * to "wide enough" (no extra exchange), and a directory input is sized by
  * the files in it. The reachable-task arithmetic
  * used to compute `(bytes + maxSplit − 1) / maxSplit`, which wraps
  * negative on the failure sentinel `Long.MaxValue` and so applied the
  * floor it meant to skip. */
class ScanFloorSpec extends SparkSuite {

  private val split = 128L << 20

  test("reachable scan tasks: ceiling division that never overflows") {
    assert(Tables.reachableScanTasks(0L, split) === 0L)
    assert(Tables.reachableScanTasks(1L, split) === 1L)
    assert(Tables.reachableScanTasks(split, split) === 1L)
    assert(Tables.reachableScanTasks(split + 1, split) === 2L)
    assert(Tables.reachableScanTasks(Long.MaxValue, split) === (Long.MaxValue - 1) / split + 1)
    assert(Tables.reachableScanTasks(Long.MaxValue, 1L) === Long.MaxValue)
    assert(Tables.reachableScanTasks(Long.MaxValue - 1, Long.MaxValue) === 1L)
  }

  private def floored(path: String): Boolean = {
    val df = spark.range(10).toDF()
    Tables.scanFloor(spark, df, path).queryExecution.logical
      .collectFirst { case r: Repartition => r }.isDefined
  }

  test("a metadata failure adds no exchange; a one-task file gets the floor") {
    assume(sys.env.getOrElse("GRAFT_SCAN_FLOOR", "1") != "0", "scan floor disabled")
    assert(!floored("/nonexistent/graft-scan-floor/input.parquet"))
    val small = java.nio.file.Files.createTempFile("graft-scan-floor", ".parquet")
    try {
      java.nio.file.Files.write(small, new Array[Byte](4096))
      assert(floored(small.toString))
    } finally java.nio.file.Files.delete(small)
  }

  test("a directory is sized by its files: many small files reaching session width get no exchange") {
    assume(sys.env.getOrElse("GRAFT_SCAN_FLOOR", "1") != "0", "scan floor disabled")
    val width = spark.sparkContext.defaultParallelism
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    val dir = java.nio.file.Files.createTempDirectory("graft-scan-floor-dir")
    val files = (0 until width).map(i => dir.resolve(s"part-$i.parquet"))
    try {
      files.foreach(f => java.nio.file.Files.write(f, new Array[Byte](4096)))
      spark.conf.set(key, "4096")
      assert(!floored(dir.toString))
      // one of those files alone reaches a single task
      assert(floored(files.head.toString))
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
      files.foreach(java.nio.file.Files.deleteIfExists)
      java.nio.file.Files.delete(dir)
    }
  }
}
