package graft.tools

import graft.core.Violations
import graft.pipeline.{Dedup, Packing}
import org.apache.spark.sql.functions._

/** End-to-end pipeline over the NORTH-RULE table shape itself —
  * `(doc_id, tokens array<int>, n_tok, source)` — with no text column
  * anywhere: the composition a pretraining-data owner runs on the
  * pre-tokenized corpus the engine was built for (SURVEY §1.2):
  *
  *   1. validate against the token rule pack; report exact per-rule
  *      counts with a bounded exemplar sample (never the violation
  *      stream);
  *   2. drop rows that fail validation (fail-closed corpus hygiene);
  *   3. exact dedup on the token sequence (fingerprint groupBy);
  *   4. near-dup GROUP collapse via token-domain MinHash banding →
  *      connected components → keep the min-id member (token arrays have
  *      no quality column; LONGER is not BETTER — min-id is the
  *      deterministic policy);
  *   5. GPT-style packing layout over the survivors (distributed prefix
  *      sum) + the bin-fill report a training-run planner reads;
  *   6. optional resumable snapshot write (per-partition lineage).
  *
  * Usage: TokenPipelineCli [nRows] [maxLen] [budget] [outRoot] — the
  * table synthesizes deterministically (TokenGen) so the run is
  * reproducible anywhere.
  */
object TokenPipelineCli {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(100000L)
    val maxLen = args.lift(1).map(_.toLong).getOrElse(256L)
    val budget = args.lift(2).map(_.toLong).getOrElse(2048L)
    val outRoot = args.lift(3)
    val spark = graft.GraftSession.get(appName = "graft-token-pipeline")

    val facts = graft.sources.TokenGen.tokenSequences(spark, n,
      numPartitions = 16, maxLen = maxLen)
    val pack = AuditCli.tokenRulePack(maxLen = maxLen.toInt)
    val n0 = facts.count()

    // 1. bounded validation report
    val violations = Violations.validate(facts, pack, Seq("doc_id"))
    println("-- violations by rule (exact counts, <=5 exemplars each):")
    Violations.sampleViolations(violations, Seq("doc_id"), perRuleK = 5)
      .orderBy("path", "rule_id").show(50, truncate = false)

    // 2. fail-closed: drop every doc with at least one violation, AND
    //    every doc whose id is duplicated — a non-unique id would alias
    //    rows in every downstream stage (packing orders by id; joins fan
    //    out), so uniqueness is a validation here, not just a report
    val badIds = violations.select(col("doc_id")).distinct()
    val dupIds = graft.global.Uniqueness.duplicateKeys(facts, Seq("doc_id"))
      .select("doc_id")
    val valid = facts.join(badIds.unionByName(dupIds).distinct(), Seq("doc_id"), "left_anti")
    val n1 = valid.count()

    // 3. exact dedup in the token domain (keep the min doc_id per group);
    //    checkpoint: five downstream actions (counts, pairs, packing, bin
    //    report, snapshot) must not re-run the validation/dedup lineage
    val fp = TokenPipelineSteps.withTokenFingerprint(valid)
    val keepers = fp.groupBy("fp").agg(min("doc_id").as("doc_id"))
    val exactDeduped = fp.join(keepers, Seq("fp", "doc_id"), "left_semi").drop("fp")
      .localCheckpoint()
    val n2 = exactDeduped.count()

    // 4. near-dup collapse, token-native (fast hash family; the
    //    engine-portable md5 family is the oracle's job, not production's)
    val pairs = Dedup.minhashCandidatePairsTokens(exactDeduped, "doc_id", "tokens",
      shingleK = 3, numHashes = 16, bands = 8, family = Dedup.XxFast,
      expectedDocs = Some(n1))
    // star variant: synthetic/short sequences can chain (A~B~C…), and
    // large-star/small-star converges in O(log diameter) where plain
    // min-label pays O(diameter) rounds
    val comps = Dedup.connectedComponentsStar(pairs)
    val drop = comps.where(col("id") =!= col("component")).select(col("id").as("doc_id"))
    val cleaned = exactDeduped.join(drop, Seq("doc_id"), "left_anti").localCheckpoint()
    val n3 = cleaned.count()

    // 5. packing layout + bin report (numeric id = the doc index digits)
    val packed = Packing.packSequences(
      cleaned.withColumn("__nid", regexp_extract(col("doc_id"), "(\\d+)", 1).cast("long")),
      "__nid", "n_tok", budget = budget)
    val bins = Packing.binReport(
      cleaned.select(regexp_extract(col("doc_id"), "(\\d+)", 1).cast("long").as("id"),
        col("n_tok")), budget)
    println("-- packing bin report (total tokens, bins, fill):")
    bins.show(truncate = false)

    println(f"== token pipeline: $n0 docs → valid $n1 → exact-dedup $n2 → near-dup $n3 " +
      f"→ packed ${packed.count()} assignments @ budget $budget ==")

    outRoot.foreach { root =>
      val store = new graft.table.SnapshotStore(root, spark)
      val bucketed = cleaned.withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(8)).cast("int"))
      val written = store.writeResumable(bucketed, "bucket", "token-clean-run")
      println(s"== wrote ${written.values.sum} docs across ${written.size} new buckets under $root ==")
    }
    spark.stop()
  }
}

/** Steps shared with the spec (kept out of `main` so tests exercise the
  * exact production expressions). */
object TokenPipelineSteps {
  /** Token-sequence fingerprint column attached as `fp` — md5 over the
    * space-joined decimal ids, the same hash domain as
    * [[graft.pipeline.Dedup.exactDupGroupsTokens]]. */
  def withTokenFingerprint(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.withColumn("fp", graft.pipeline.TextAnalysis.fingerprint(
      array_join(graft.pipeline.Dedup.tokenTerms(col("tokens")), " ")))
}
