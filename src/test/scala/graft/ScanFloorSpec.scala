package graft

import org.apache.spark.sql.catalyst.plans.logical.Repartition

/** The scan-parallelism floor's sizing: a metadata failure must fall safe
  * to "wide enough" (no extra exchange). The reachable-task arithmetic
  * used to compute `(bytes + maxSplit − 1) / maxSplit`, which wraps
  * negative on the failure sentinel `Long.MaxValue` and so applied the
  * floor it meant to skip. */
class ScanFloorSpec extends SparkSuite {

  private val split = 128L << 20

  test("reachable scan tasks: ceiling division that never overflows") {
    assert(SparkEntry.reachableScanTasks(0L, split) === 0L)
    assert(SparkEntry.reachableScanTasks(1L, split) === 1L)
    assert(SparkEntry.reachableScanTasks(split, split) === 1L)
    assert(SparkEntry.reachableScanTasks(split + 1, split) === 2L)
    assert(SparkEntry.reachableScanTasks(Long.MaxValue, split) === (Long.MaxValue - 1) / split + 1)
    assert(SparkEntry.reachableScanTasks(Long.MaxValue, 1L) === Long.MaxValue)
    assert(SparkEntry.reachableScanTasks(Long.MaxValue - 1, Long.MaxValue) === 1L)
  }

  private def floored(path: String): Boolean = {
    val df = spark.range(10).toDF()
    SparkEntry.scanFloor(spark, df, path).queryExecution.logical
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
}
