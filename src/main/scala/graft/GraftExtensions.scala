package graft

import graft.functions.{DotProduct, MinHashTerms, Rfc3339Check, TopKByScore, TopKSketch, VectorOps}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one place the engine's custom SQL functions are registered. Every
  * session [[GraftSession]] builds installs this class (through the
  * `spark.sql.extensions` conf), and so does every `newSession()` child of
  * such a session; a session built elsewhere gets the same functions from
  * `--conf spark.sql.extensions=graft.GraftExtensions` (see
  * `graft.tools.ExtensionsCheck`). Each function's column form is a plain
  * `call_function` by name, so no caller registers anything. Injects:
  *
  *  - `topk_sketch(key, payload, k)` — the K-bounded deterministic top-K
  *    aggregate behind violation-sample caps;
  *  - `topk_by_score(score, id, k, asc)` — the top-k by (score, id)
  *    aggregate behind the ANN shortlists;
  *  - `graft_dot(a, b)` — the codegen'd array dot product behind the ANN
  *    similarity paths;
  *  - `minhash_terms(terms, k, numHashes, family)` — the fused per-row
  *    MinHash kernel (k-term shingle windows → per-seed minima, xxhash64 or
  *    the portable md5 family) behind the near-dup signatures;
  *  - `rfc3339_check(s, kind)` — the single-pass byte kernel behind the
  *    `date`, `time` and `date-time` formats.
  *
  * Quantile sketches need no injection: they are Spark's built-in
  * `kll_sketch_*` functions ([[graft.stats.QuantileSketch]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.Functions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
}

object GraftExtensions {

  /** `(SQL name, expression class, builder from the argument list)` of each
    * injected function. */
  val Functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("topk_sketch", classOf[TopKSketch], TopKSketch.fromExpressions),
    ("topk_by_score", classOf[TopKByScore], TopKByScore.fromExpressions),
    ("graft_dot", classOf[DotProduct], VectorOps.fromExpressions),
    ("minhash_terms", classOf[MinHashTerms], MinHashTerms.fromExpressions),
    ("rfc3339_check", classOf[Rfc3339Check], Rfc3339Check.fromExpressions))
}
