package graft.table

import graft.SparkSuite
import graft.sources.TokenGen
import org.apache.spark.sql.functions._

import java.nio.file.Files

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
