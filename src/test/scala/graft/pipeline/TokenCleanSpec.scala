package graft.pipeline

import graft.SparkSuite
import graft.core.Violations
import graft.tools.{AuditCli, TokenPipelineSteps}
import org.apache.spark.sql.functions._

/** Composition glue of the token-native cleaning pipeline
  * (TokenPipelineCli): each stage's operator has its own spec; this pins
  * the hand-offs — fail-closed validation drop, token fingerprint dedup,
  * near-dup collapse — on a corpus with planted defects of each kind. */
class TokenCleanSpec extends SparkSuite {
  import spark.implicits._

  test("token pipeline stages compose: validate-drop → exact dedup → near-dup collapse") {
    def doc(i: Long) = f"doc-$i%012d"
    val base = (0L until 40L).map(i =>
      (doc(i), (0 until 30).map(j => ((i * 31 + j * 7) % 1000).toInt), 30, "web"))
    val rows = base ++ Seq(
      (doc(100L), base(3)._2, 30, "web"),                 // exact dup of doc 3
      (doc(101L), base(5)._2.updated(0, 999), 30, "web"), // near dup of doc 5
      (doc(102L), Seq(-1, 2, 3), 3, "web"),               // minimum violation
      ("bad id", Seq(1, 2, 3), 3, "web"))                 // pattern violation
    val facts = rows.toDF("doc_id", "tokens", "n_tok", "source")
    val pack = AuditCli.tokenRulePack(vocabSize = 1000, maxLen = 64)

    val violations = Violations.validate(facts, pack, Seq("doc_id"))
    val badIds = violations.select("doc_id").distinct()
    assert(badIds.as[String].collect().toSet === Set(doc(102L), "bad id"))
    val valid = facts.join(badIds, Seq("doc_id"), "left_anti")
    assert(valid.count() === 42)

    val fp = TokenPipelineSteps.withTokenFingerprint(valid)
    val keepers = fp.groupBy("fp").agg(min("doc_id").as("doc_id"))
    val exactDeduped = fp.join(keepers, Seq("fp", "doc_id"), "left_semi").drop("fp")
    // doc 100 (exact copy of doc 3) collapses; the near-dup survives here
    assert(exactDeduped.count() === 41)
    assert(exactDeduped.where(col("doc_id") === doc(100L)).count() === 0)

    val pairs = Dedup.minhashCandidatePairsTokens(exactDeduped, "doc_id", "tokens",
      shingleK = 3, numHashes = 16, bands = 8, family = Dedup.XxFast)
    val comps = Dedup.connectedComponentsStar(pairs)
    val drop = comps.where(col("id") =!= col("component")).select(col("id").as("doc_id"))
    val cleaned = exactDeduped.join(drop, Seq("doc_id"), "left_anti")
    // the 29/30-shingle-overlap copy shares a band with its source
    assert(cleaned.where(col("doc_id") === doc(101L)).count() === 0)
    assert(cleaned.where(col("doc_id") === doc(5L)).count() === 1)
  }
}
