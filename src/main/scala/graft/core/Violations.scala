package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Turns compiled rules into violation/verdict tables — the engine's analog
  * of the reference's sorted error list (reference Schema.pm:149-157
  * `validate` + Error.pm stringification), emitted as DataFrames:
  *
  *  - violations: one row per error `(doc_id…, path, rule_id, category,
  *    message, observed)`, filtered *before* explode so the passing 99.x% of
  *    rows never produce array data (scale: the explode generator only runs
  *    on failing rows),
  *  - verdicts: per-partition pass/fail counts (the north rule's
  *    "per-partition pass/fail verdict" output), from the pass tier alone.
  */
object Violations {

  /** Root-level row validation: the whole row is the instance document.
    * It reads the error tier of the compiled pack, with no `where(!pass)`
    * pre-filter: `explode` already drops passing rows, and the range
    * partitioner of [[sorted]] samples its input in a separate job, where a
    * pre-filter made failing rows run their checks twice (the sampling job
    * went from 105 to 203 ms on a records-like pack).
    *
    * Column pruning: when the rule's referenced-field set is statically
    * known, only those columns (plus the id columns) enter the row — so the
    * parquet scan reads exactly the rule pack's columns (`ReadSchema` in
    * `.explain`), not the whole table. */
  def validate(df: DataFrame, rule: Rule, idCols: Seq[String],
      ctx: RuleCompiler.Ctx = RuleCompiler.Ctx()): DataFrame = {
    val pruned = prune(df, rule, idCols)
    explodeErrors(pruned, RuleCompiler.compileRow(rule, pruned.schema, ctx).errs, idCols)
  }

  /** `df` narrowed to the rule's referenced fields plus `keep`, when that
    * set is statically known. */
  private def prune(df: DataFrame, rule: Rule, keep: Seq[String]): DataFrame =
    Rule.referencedFields(rule) match {
      case Some(fields) =>
        df.select(df.columns.filter(c => fields.contains(c) || keep.contains(c)).toIndexedSeq
          .map(RuleCompiler.column): _*)
      case None => df
    }

  /** Validation of a single column (instance = that column's value). */
  def validateColumn(df: DataFrame, rule: Rule, column: String, idCols: Seq[String],
      ctx: RuleCompiler.Ctx = RuleCompiler.Ctx()): DataFrame = {
    val dt = df.schema(column).dataType
    val errs = RuleCompiler.compile(rule, dt, col(column), lit(""), ctx)
    explodeErrors(df, errs, idCols)
  }

  /** `explode` (non-outer) drops empty arrays, so passing rows emit nothing
    * — no pre-filter needed. (A `where(size>0)` before the explode would
    * inline the whole error expression twice: once in the Filter condition
    * and once in the Project — measured 2× slower.) */
  private def explodeErrors(df: DataFrame, errs: Column, idCols: Seq[String]): DataFrame = {
    val keep = idCols.map(col)
    df.select(keep :+ errs.as("_errs"): _*)
      .select(keep :+ explode(col("_errs")).as("_e"): _*)
      .select(keep ++ Seq(
        when(col("_e.path") === "", "/").otherwise(col("_e.path")).as("path"),
        col("_e.rule_id").as("rule_id"),
        col("_e.category").as("category"),
        col("_e.message").as("message"),
        col("_e.observed").as("observed")): _*)
  }

  /** Deterministic presentation order, as the reference sorts by path
    * (Schema.pm:154-155); id columns first for stable test output. */
  def sorted(violations: DataFrame, idCols: Seq[String]): DataFrame =
    violations.orderBy((idCols ++ Seq("path", "rule_id", "message")).map(col): _*)

  /** Per-partition pass/fail verdicts. `partitionCol` is a data partition
    * column (e.g. `source` or an ingest date); when None, the physical
    * `spark_partition_id()` is used. One job: partial aggregation map-side,
    * single shuffle of the tiny per-partition counters. The verdict reads
    * only the pass tier of the compiled pack: per row one boolean, with no
    * error string or struct built. */
  def verdictByPartition(df: DataFrame, rule: Rule, partitionCol: Option[String],
      ctx: RuleCompiler.Ctx = RuleCompiler.Ctx()): DataFrame = {
    // same pruning as `validate`: the scan must read only the pack's
    // referenced columns (+ the partition key) — relying on Catalyst's
    // column pruning through the row expression is not a guarantee the
    // §8.1 scale audit can assert on
    val pruned = prune(df, rule, partitionCol.toSeq)
    val pass = RuleCompiler.compileRow(rule, pruned.schema, ctx).pass
    val part = partitionCol.map(col).getOrElse(spark_partition_id().cast("long").as("pid"))
    pruned.select(part.as("partition"), (!pass).as("failed"))
      .groupBy("partition")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("failed").cast("long")).as("n_failed"),
        (count(lit(1)) - sum(col("failed").cast("long"))).as("n_passed"))
      .withColumn("verdict", when(col("n_failed") === 0, "pass").otherwise("fail"))
  }

  /** Violation counts per rule: the compact per-rule verdict used by the
    * oracle-checked queries (exactly expressible as SQL `sum(case …)`). */
  def ruleCounts(violations: DataFrame): DataFrame =
    violations.groupBy("path", "rule_id").agg(count(lit(1)).as("n_violations"))

  /** Bounded violation sink (SURVEY §2.8 `limit`, reference
    * Schema.pm:149-157 keeps a bounded error list per document — this is
    * the corpus-scale analog per RULE): exact `n_violations` counts plus a
    * deterministic ≤ `perRuleK` exemplar sample per `(path, rule_id)`. At
    * 10¹² rows a broadly-failing rule emits ~10¹² violation rows; a sink
    * that materializes them all (or sorts them per rule in a window) is
    * unusable, while counts-plus-capped-exemplars is what an operator
    * actually triages with.
    *
    * Sampling is content-hash ordered: each violation's rank is the
    * portable md5-window hash of its identity (ids + path + rule + message
    * — the same `'0:'||s` family the dedup oracles replay in DuckDB), and
    * the K smallest win. A pure function of the data — stable across
    * partitioning, engines, and reruns — and UNIFORM-ish over violations,
    * so the exemplars are a spread sample rather than "first K of one
    * partition". Executed by [[graft.functions.TopKSketch]]: K-bounded
    * heaps merged associatively under partial aggregation — the shuffle
    * carries O(map-tasks · K) rows per rule, never the violation stream,
    * and NO per-rule sort exists anywhere in the plan. */
  def sampleViolations(violations: DataFrame, idCols: Seq[String],
      perRuleK: Int,
      keyCols: Seq[String] = Seq("path", "rule_id", "message")): DataFrame = {
    val keyStr = concat_ws("|",
      (idCols ++ keyCols).map(c => col(c).cast("string")): _*)
    // portable 32-bit md5-window hash — the same single definition the
    // dedup oracles replay (see PortableHash for the DuckDB twin)
    val key = graft.functions.PortableHash.md5Window32(keyStr, 0)
    val payload = concat_ws("|", idCols.map(c => col(c).cast("string")): _*)
    violations.groupBy("path", "rule_id").agg(
      count(lit(1)).as("n_violations"),
      graft.functions.TopKSketch.topkSketch(key, payload, perRuleK).as("sample_ids"))
  }
}
