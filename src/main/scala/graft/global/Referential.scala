package graft.global

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Referential membership — the scaled-up `$ref` (reference resolves a value
  * against a schema living in another document, lib/JSON/Validator/
  * Schema.pm:102-147 + Store.pm:62-100; here the "other document" is a
  * dimension table and membership is a join).
  *
  * Join-strategy ladder (SURVEY.md §2.4, north_rule explicit-skew mandate):
  *  - small dim  → `broadcast(dim)` left-anti: zero shuffle of the facts;
  *  - large dim  → shuffle hash anti-join on the key;
  *  - skewed facts (70% of rows on one `source`) → *salted* shuffle join:
  *    the fact side gets `salt = pmod(hash(saltBy), S)`, the dim side is
  *    exploded ×S, and the join key becomes (key, salt), spreading the hot
  *    key over S reducers. Each fact row joins exactly one dim replica, so
  *    anti-join semantics are preserved with no duplicate violations.
  *    AQE's skew-join handles sort-merge skew adaptively; explicit salting
  *    also covers the hash-join path and is deterministic.
  */
object Referential {

  /** Fact rows whose `factKey` has no match in `dim.dimKey` (NULL keys are
    * reported separately by the null/required rule, so they are excluded
    * here — SQL anti-join would keep them). */
  def violations(facts: DataFrame, factKey: String, dim: DataFrame, dimKey: String,
      broadcastDim: Boolean = true): DataFrame = {
    val d = dim.select(col(dimKey).as("__dim_key")).distinct()
    val dimSide = if (broadcastDim) broadcast(d) else d
    facts.where(col(factKey).isNotNull)
      .join(dimSide, col(factKey) === col("__dim_key"), "left_anti")
  }

  /** Salted anti-join for the skewed-fact/large-dim case. `saltBuckets`
    * spreads each dim key over S replicas; the fact's salt is a
    * deterministic hash of `saltBy` (e.g. doc_id), so results are
    * reproducible across runs and partitionings. */
  def violationsSalted(facts: DataFrame, factKey: String, dim: DataFrame, dimKey: String,
      saltBy: String, saltBuckets: Int = 16): DataFrame = {
    val saltedFacts = facts.where(col(factKey).isNotNull)
      .withColumn("__salt", pmod(xxhash64(col(saltBy)), lit(saltBuckets)).cast("int"))
    val saltedDim = dim.select(col(dimKey).as("__dim_key")).distinct()
      .withColumn("__salt", explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedFacts
      .join(saltedDim,
        col(factKey) === col("__dim_key") && saltedFacts("__salt") === saltedDim("__salt"),
        "left_anti")
      .drop("__salt")
  }

  /** Key-skew diagnosis: the top-k heaviest join keys with their share of
    * all rows — the measurement behind the broadcast/shuffle/salt ladder
    * choice (salt when one key's share would overload a reducer). One
    * partial-aggregated groupBy; the top-k sort runs on the counter table,
    * never the data. */
  def keySkewReport(df: DataFrame, keyCol: String, k: Int = 10): DataFrame = {
    val counts = df.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__total"))
    counts.crossJoin(broadcast(total))
      .select(col(keyCol), col("n"),
        (col("n").cast("double") / col("__total")).as("share"))
      .orderBy(col("n").desc, col(keyCol))
      .limit(k)
  }
}
