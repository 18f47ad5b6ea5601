package graft.table

import graft.SparkSuite
import graft.sources.TokenGen
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Resumable snapshot semantics: interrupted runs resume from the manifest,
  * completed partitions are never reprocessed, output is exactly-once per
  * partition. */
class SnapshotStoreSpec extends SparkSuite {

  test("writeResumable: full run commits all partitions with row metrics") {
    val root = Files.createTempDirectory("snap1").toString
    val store = new SnapshotStore(root, spark)
    val df = TokenGen.tokenSequences(spark, 5000, numPartitions = 4, maxLen = 16)
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(4)).cast("int"))
    val written = store.writeResumable(df, "bucket", "snap-a")
    assert(written.keySet === Set("0", "1", "2", "3"))
    assert(written.values.sum === 5000L)
    assert(store.read().count() === 5000L)
    // second run: nothing remaining (idempotent resume)
    assert(store.writeResumable(df, "bucket", "snap-a").isEmpty)
    // lineage table mirrors the manifest
    assert(store.lineage("snap-a").agg(sum("n_rows")).head().getLong(0) === 5000L)
  }

  test("writeResumable: resume after partial completion only writes the rest") {
    val root = Files.createTempDirectory("snap2").toString
    val store = new SnapshotStore(root, spark)
    val df = TokenGen.tokenSequences(spark, 5000, numPartitions = 4, maxLen = 16)
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(4)).cast("int"))

    // simulate an interrupted run: partitions 0 and 1 completed
    val partial = df.where(col("bucket") < 2)
    val firstRun = store.writeResumable(partial, "bucket", "snap-b")
    assert(firstRun.keySet === Set("0", "1"))

    // resume with the FULL input: only 2 and 3 are written
    val resumed = store.writeResumable(df, "bucket", "snap-b")
    assert(resumed.keySet === Set("2", "3"))

    // final table is complete and exactly-once
    assert(store.read().count() === 5000L)
    assert(store.read().select("doc_id").distinct().count() ===
      df.select("doc_id").distinct().count())
    val m = store.readManifest("snap-b").get
    assert(m.completed.keySet === Set("0", "1", "2", "3"))
    assert(m.completed.values.sum === 5000L)
  }

  test("writeResumable: NULL partition values are written and resume under the hive default key") {
    val root = Files.createTempDirectory("snap3").toString
    val store = new SnapshotStore(root, spark)
    val df = TokenGen.tokenSequences(spark, 1000, numPartitions = 2, maxLen = 8)
      .withColumn("bucket",
        when(pmod(xxhash64(col("doc_id")), lit(4)) === 0, lit(null).cast("int"))
          .otherwise(lit(1)))
    val written = store.writeResumable(df, "bucket", "snap-c")
    assert(written.keySet === Set(store.NullPartitionKey, "1"))
    assert(written.values.sum === 1000L)
    assert(store.read().count() === 1000L)
    // resume: the null partition is recorded as done, nothing re-runs
    assert(store.writeResumable(df, "bucket", "snap-c").isEmpty)
  }

  test("writeResumable: stray partitions under a shared root are never claimed by this run") {
    val root = Files.createTempDirectory("snap4").toString
    val store = new SnapshotStore(root, spark)
    val df = TokenGen.tokenSequences(spark, 3000, numPartitions = 3, maxLen = 8)
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(3)).cast("int"))

    // run 1: only buckets 0 and 1 present
    assert(store.writeResumable(df.where(col("bucket") < 2), "bucket", "snap-d").keySet === Set("0", "1"))

    // a torn run of a DIFFERENT dataframe left bucket=9 under the same root
    TokenGen.tokenSequences(spark, 100, numPartitions = 1, maxLen = 8)
      .withColumn("bucket", lit(9))
      .write.mode("append").partitionBy("bucket").parquet(store.dataPath)

    // resume with the full input (buckets 0..2): only bucket 2 may be
    // credited — the stray bucket 9 is not in this run's input
    val resumed = store.writeResumable(df, "bucket", "snap-d")
    assert(resumed.keySet === Set("2"))
    val m = store.readManifest("snap-d").get
    assert(m.completed.keySet === Set("0", "1", "2"))
    assert(!m.completed.contains("9"))
  }

  test("writeResumable: a resumed input that lacks partitions of a torn earlier run does not credit them") {
    val root = Files.createTempDirectory("snap5").toString
    val store = new SnapshotStore(root, spark)
    val df = TokenGen.tokenSequences(spark, 4000, numPartitions = 4, maxLen = 8)
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(4)).cast("int"))
    assert(store.writeResumable(df.where(col("bucket") < 2), "bucket", "snap-e").keySet === Set("0", "1"))

    // a torn run of the same snapshot wrote buckets 2 and 3, then died
    // before its manifest commit
    df.where(col("bucket") >= 2).write.mode("append").partitionBy("bucket").parquet(store.dataPath)

    // the resumed input carries bucket 3 only: bucket 2's files are on
    // disk, but this run never saw that partition, so it is not credited
    val resumed = store.writeResumable(df.where(col("bucket") =!= 2), "bucket", "snap-e")
    assert(resumed.keySet === Set("3"))
    assert(resumed("3") === df.where(col("bucket") === 3).count())
    assert(store.readManifest("snap-e").get.completed.keySet === Set("0", "1", "3"))
  }

  test("writeResumable: a relaunch with every partition done returns an empty map without blocking") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val root = Files.createTempDirectory("snap6").toString
    val store = new SnapshotStore(root, spark)
    val df = TokenGen.tokenSequences(spark, 2000, numPartitions = 2, maxLen = 8)
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(3)).cast("int"))
    assert(store.writeResumable(df, "bucket", "snap-f").values.sum === 2000L)
    // the filtered input is empty, so the observed key set is empty too
    val again = Await.result(Future(store.writeResumable(df, "bucket", "snap-f")), 120.seconds)
    assert(again.isEmpty)
    assert(store.read().count() === 2000L)
    assert(store.readManifest("snap-f").get.completed.values.sum === 2000L)
  }

  test("writeResumable: the count-back reads only the partitions this write saw") {
    val root = Files.createTempDirectory("snap7").toString
    val store = new SnapshotStore(root, spark)
    // stray partitions of another dataframe already sit under data/
    TokenGen.tokenSequences(spark, 600, numPartitions = 3, maxLen = 8)
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(3)).cast("int") + 10)
      .write.partitionBy("bucket").parquet(store.dataPath)
    val df = TokenGen.tokenSequences(spark, 2000, numPartitions = 2, maxLen = 8)
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(2)).cast("int"))

    val scans = new java.util.concurrent.ConcurrentLinkedQueue[FileSourceScanExec]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        scans.addAll(fileScans(qe.executedPlan).asJava)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val written =
      try {
        val w = store.writeResumable(df, "bucket", "snap-g")
        // the listener runs on the listener bus: the count-back is the run's
        // one file scan, so wait for it to arrive
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (scans.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
        w
      } finally spark.listenerManager.unregister(listener)
    assert(written.keySet === Set("0", "1"))
    assert(written.values.sum === 2000L)

    val writtenFiles = Seq("0", "1").map { p =>
      new java.io.File(s"${store.dataPath}/bucket=$p").listFiles().count(_.getName.endsWith(".parquet"))
    }.sum
    val countBack = scans.asScala.toSeq
    assert(countBack.size === 1, countBack)
    assert(countBack.head.metrics("numPartitions").value === 2L)
    assert(countBack.head.metrics("numFiles").value === writtenFiles.toLong)
  }

  test("writeResumable: zero-padded partition values are counted back under their own key") {
    // the directory names read like integers; the count-back must not turn
    // "007" into 7 and then fail to match the key the write saw
    import spark.implicits._
    val root = Files.createTempDirectory("snap8").toString
    val store = new SnapshotStore(root, spark)
    val df = Seq(("a", "007"), ("b", "007"), ("c", "010")).toDF("id", "part")
    assert(store.writeResumable(df, "part", "snap-h") === Map("007" -> 2L, "010" -> 1L))
    assert(store.readManifest("snap-h").get.completed === Map("007" -> 2L, "010" -> 1L))
    assert(store.writeResumable(df, "part", "snap-h").isEmpty)
  }

  /** File scans of a plan, through AQE's adaptive and query-stage leaves. */
  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p.collectLeaves().flatMap {
    case f: FileSourceScanExec => Seq(f)
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case _ => Nil
  }

  test("writeBucketed refuses to overwrite an unrelated catalog table of the same name") {
    val root = Files.createTempDirectory("snap-unrelated").toString
    val store = new SnapshotStore(root, spark)
    val table = "snap_unrelated_spec"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.range(10).write.saveAsTable(table)
    try {
      val e = intercept[IllegalArgumentException](
        store.writeBucketed(spark.range(100).select(col("id").as("doc_id")), table, Seq("doc_id"), 4))
      val theirs = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table)).location.getPath
      assert(e.getMessage.contains(theirs), e.getMessage)
      assert(e.getMessage.contains(s"$root/bucketed/$table"), e.getMessage)
      assert(spark.table(table).count() === 10L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("bucketed snapshot: uniqueness plans with NO exchange and matches the plain layout") {
    // the r5 VERDICT shuffle-floor item: a snapshot written bucketed by the
    // key lets every repeat-validation uniqueness pass reuse the persisted
    // hash clustering — groupBy(key) over the bucketed read must plan ZERO
    // Exchange nodes, and the answers must be identical to the unbucketed
    // path
    val root = Files.createTempDirectory("snap-bucketed").toString
    val store = new SnapshotStore(root, spark)
    import spark.implicits._
    // planted duplicates: ids 0..49 appear twice (1000 rows mod 950), rest once
    val df = spark.range(1000).select((col("id") % 950).as("doc_id"),
      (col("id") % 7).as("v"))
    val table = "snap_bucketed_spec"
    store.writeBucketed(df, table, Seq("doc_id"), numBuckets = 8)
    val bucketed = store.readBucketed(table)

    val dupB = graft.global.Uniqueness.duplicateKeys(bucketed, Seq("doc_id"))
    dupB.collect()
    val plan = dupB.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed uniqueness still shuffles:\n$plan")
    assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
      "scan did not use the bucket spec")

    val dupPlain = graft.global.Uniqueness.duplicateKeys(df, Seq("doc_id"))
    val got = dupB.as[(Long, Long)].collect().sortBy(_._1).toSeq
    val want = dupPlain.as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === want)
    assert(got.size === 50) // ids 0..49 under %950 folding appear twice

    // the table's files live in the store's layout, not the session
    // warehouse, and an overwrite replaces them in place
    val location = new java.io.File(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
    assert(location.getCanonicalPath === new java.io.File(s"$root/bucketed/$table").getCanonicalPath)
    store.writeBucketed(df, table, Seq("doc_id"), numBuckets = 8)
    assert(location.listFiles().exists(_.getName.endsWith(".parquet")))
    assert(store.readBucketed(table).count() === 1000L)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("manifest json round-trips") {
    val m = SnapshotManifest("s1", Some("s0"), Map("a" -> 10L, "b" -> 20L))
    assert(SnapshotManifest.fromJson(m.toJson) === m)
  }
}
