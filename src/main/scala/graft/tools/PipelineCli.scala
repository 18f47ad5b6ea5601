package graft.tools

import graft.pipeline.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus cleaning pipeline — the composition the
  * individual operators exist for, in the order a 100 TB run would use
  * (cheapest filter first, fuzzy dedup last, one scan per stage):
  *
  *   1. exact dedup (content fingerprint groupBy — removes the bulk);
  *   2. quality + language filters (pure per-row expressions, ride the
  *      same scan);
  *   3. near-dup GROUP collapse: MinHash banding → candidate pairs →
  *      large-star/small-star connected components → keep the best doc
  *      per component;
  *   4. resumable snapshot write (per-partition lineage in the manifest).
  *
  * Usage: PipelineCli [docsParquet] [outRoot] [minQuality] [lang]
  */
object PipelineCli {
  def main(args: Array[String]): Unit = {
    val docsPath = args.lift(0).getOrElse("/root/testdata/sf0.01/documents.parquet")
    val outRoot = args.lift(1)
    val minQuality = args.lift(2).map(_.toDouble).getOrElse(0.3)
    val lang = args.lift(3).getOrElse("en")
    val spark = graft.GraftSession.get(appName = "graft-pipeline")

    val docs = spark.read.parquet(docsPath)
    val n0 = docs.count()

    // 1. exact dedup: keep the min doc_id of every fingerprint group
    val withFp = docs.withColumn("fp", TextAnalysis.fingerprint(col("text")))
    val keepers = withFp.groupBy("fp").agg(min("doc_id").as("doc_id"))
    val exactDeduped = withFp.join(keepers, Seq("fp", "doc_id"), "left_semi").drop("fp")
    val n1 = exactDeduped.count()

    // 2. per-row quality + language + repetition gates + PII scrub (the
    // scalar gates are one projection riding the scan; the top-bigram
    // repetition gate adds the bigram partial-agg — Gopher-style: drop
    // documents dominated by one repeated bigram or by duplicate words)
    val rep = TextAnalysis.repetitionSignals(exactDeduped, "doc_id", "text")
      .select(col("id").as("doc_id"), col("dup_word_frac"), col("top_bigram_frac"))
    // char-entropy gibberish gate (CCNet-style): natural prose sits in a
    // band; repeated filler falls below it, binary-ish junk above
    val ent = TextAnalysis.charEntropy(exactDeduped, "doc_id", "text")
      .select(col("id").as("doc_id"), col("entropy"))
    val filtered = exactDeduped
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("predicted_lang", TextAnalysis.langId(col("text")))
      .where(col("quality") >= minQuality && col("predicted_lang") === lang)
      .join(rep, Seq("doc_id"), "left")
      .join(ent, Seq("doc_id"), "left")
      .where(coalesce(col("dup_word_frac"), lit(0.0)) <= 0.9 &&
        coalesce(col("top_bigram_frac"), lit(0.0)) <= 0.5 &&
        coalesce(col("entropy"), lit(3.0)).between(1.5, 6.0))
      .withColumn("text", TextAnalysis.redactPii(col("text")))
      .drop("dup_word_frac", "top_bigram_frac", "entropy")
    val n2 = filtered.count()

    // 3. near-dup collapse: banded MinHash pairs → components → keep the
    // BEST-quality member per group, ties to the smallest id (the quality
    // column from stage 2 rides along for free; min-id keeping was the
    // placeholder policy before groupRepresentatives existed)
    val pairs = Dedup.minhashCandidatePairs(filtered, "doc_id", "text",
      shingleK = 3, numHashes = 16, bands = 8, family = Dedup.XxFast)
    val comps = Dedup.connectedComponentsStar(pairs)
    val reps = Dedup.groupRepresentatives(comps,
      filtered.select(col("doc_id"), col("quality")), "doc_id", "quality")
    val dropIds = comps.join(reps.select(col("keep_id").as("id")), Seq("id"), "left_anti")
      .select(col("id").as("doc_id"))
    val cleaned = filtered.join(dropIds, Seq("doc_id"), "left_anti")
      .drop("quality", "predicted_lang")
    val n3 = cleaned.count()

    println(f"== corpus cleaning: $n0 docs → exact-dedup $n1 → quality/lang $n2 → near-dup $n3 ==")

    outRoot.foreach { root =>
      val store = new graft.table.SnapshotStore(root, spark)
      val bucketed = cleaned.withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(8)).cast("int"))
      val written = store.writeResumable(bucketed, "bucket", "clean-run")
      println(s"== wrote ${written.values.sum} docs across ${written.size} new buckets under $root ==")
    }
    spark.stop()
  }
}
