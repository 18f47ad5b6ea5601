package graft.tools

import graft.core.{Rule, Violations}
import graft.core.Rule._
import graft.global.{Referential, Uniqueness}
import graft.sources.TokenGen
import graft.stats.{ColumnStats, Drift}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Flagship end-to-end audit of a tokenized-sequence table (the north_rule
  * pipeline). Its legs, in order, each its own action over the table:
  *
  *   1. row-local rule pack → per-rule violation counts with a capped,
  *      hash-ordered exemplar sample (`Violations.sampleViolations`)
  *   2. uniqueness of `doc_id` (hash shuffle of aggregated counts only)
  *   3. referential anti-join of `source` against the allowed sources
  *      (broadcast dim)
  *   4. column profile (`ColumnStats.profile`)
  *   5. with an output root: the violations written resumably, bucketed
  *      by a `doc_id` hash (`SnapshotStore.writeResumable`), then the
  *      snapshot's lineage
  *   6. drift: PSI between the `n_tok` histograms of the table's two halves
  *
  * Usage: AuditCli [nRows] [maxLen] [outRoot] — synthesizes the table
  * (deterministic generator, TokenGen); `outRoot` enables leg 5.
  */
object AuditCli {

  /** The standard rule pack for the token table (SURVEY.md §7.4). */
  def tokenRulePack(vocabSize: Int = TokenGen.VocabSize, maxLen: Int = 8192): Rule = All(Seq(
    Properties(Seq(
      "n_tok" -> All(Seq(TypeIs(Seq("integer")), Minimum(0), Maximum(maxLen))),
      "doc_id" -> All(Seq(TypeIs(Seq("string")), Pattern("^doc-\\d{12}$"))),
      "tokens" -> Items(All(Seq(Minimum(0), Maximum(vocabSize - 1)))))),
    Required(Seq("doc_id", "source", "n_tok")),
    Predicate("n_tok_invariant", "n_tok must equal size(tokens)",
      row => row.getField("n_tok") === size(row.getField("tokens")))))

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(100000L)
    val maxLen = args.lift(1).map(_.toLong).getOrElse(256L)
    val spark = graft.GraftSession.get(appName = "graft-audit")

    val t0 = System.nanoTime()
    val facts = TokenGen.tokenSequences(spark, n, numPartitions = spark.sparkContext.defaultParallelism * 2, maxLen = maxLen)
    val dim = TokenGen.allowedSources(spark)
    val pack = tokenRulePack(maxLen = maxLen.toInt)

    println(s"== auditing $n synthesized rows (maxLen=$maxLen) ==")

    val rowViolations = Violations.validate(facts, pack, Seq("doc_id"))
    println("-- row-local violations by rule (exact counts + capped exemplar sample):")
    // the bounded sink: counts stay exact, exemplars are a deterministic
    // hash-ordered <=5 per rule — a broadly-failing rule can't flood the
    // report (or, at scale, the sink) with its violation stream
    Violations.sampleViolations(rowViolations, Seq("doc_id"), perRuleK = 5)
      .orderBy("path", "rule_id").show(50, truncate = false)

    println("-- uniqueness verdict (doc_id):")
    Uniqueness.verdict(facts, Seq("doc_id")).show(truncate = false)

    println("-- referential violations (source ∉ allowed_sources):")
    println(s"   n = ${Referential.violations(facts, "source", dim, "source").count()}")

    println("-- column profile:")
    ColumnStats.profile(facts).orderBy("column").show(truncate = false)

    // resumable violation sink (north rule: checkpoint + per-partition
    // lineage): violations land partitioned by a doc_id hash bucket; a
    // relaunch with the same snapshot id skips completed buckets.
    args.lift(2).foreach { outRoot =>
      val store = new graft.table.SnapshotStore(outRoot, spark)
      val bucketed = rowViolations.withColumn("bucket",
        pmod(xxhash64(col("doc_id")), lit(8)).cast("int"))
      val written = store.writeResumable(bucketed, "bucket", "audit-run")
      println(s"-- snapshot sink: wrote ${written.values.sum} violations across ${written.size} new buckets")
      println("-- lineage (per-partition metrics from the manifest):")
      store.lineage("audit-run").orderBy("partition").show(20, truncate = false)
    }

    println("-- drift vs reference window (first half vs second half):")
    val h1 = Drift.histogram(facts.where(col("doc_id") < format_string("doc-%012d", lit(n / 2))), "n_tok", 0, maxLen.toDouble, 32)
    val h2 = Drift.histogram(facts.where(col("doc_id") >= format_string("doc-%012d", lit(n / 2))), "n_tok", 0, maxLen.toDouble, 32)
    Drift.psiRule(h1, h2, "drift:n_tok").show(truncate = false)

    println(f"== audit wall time: ${(System.nanoTime() - t0) / 1e9}%.1f s ==")
    spark.stop()
  }
}
