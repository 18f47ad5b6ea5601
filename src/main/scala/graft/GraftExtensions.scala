package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.HistogramSketch

/** SparkSessionExtensions entry point — the cluster-idiomatic way to ship
  * the engine's custom expressions: `spark-submit --conf
  * spark.sql.extensions=graft.GraftExtensions ...` registers them in every
  * session of the application with no driver code changes (vs the
  * per-session [[graft.functions.HistogramSketch.register]]). Currently
  * injects:
  *
  *  - `histogram_sketch(col, lo, hi, bins)` — the one-pass mergeable
  *    histogram TypedImperativeAggregate behind the drift rules;
  *  - `graft_dot(a, b)` — the codegen'd array dot product behind the ANN
  *    similarity paths;
  *  - `minhash_terms(terms, k, numHashes, family)` — the fused per-row
  *    MinHash kernel (k-term shingle windows → per-seed minima, xxhash64 or
  *    the portable md5 family) behind the near-dup signatures;
  *  - `rfc3339_check(s, kind)` — the single-pass byte kernel behind the
  *    `date`, `time` and `date-time` formats;
  *  - `topk_sketch(key, payload, k)` — the K-bounded deterministic
  *    top-K aggregate behind violation-sample caps.
  *
  * Quantile sketches need no injection: they are Spark's built-in
  * `kll_sketch_*` functions ([[graft.stats.QuantileSketch]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("histogram_sketch"),
      new ExpressionInfo(classOf[HistogramSketch].getName, "histogram_sketch"),
      (exprs: Seq[Expression]) => HistogramSketch.fromExpressions(exprs)))
    ext.injectFunction((
      FunctionIdentifier("topk_sketch"),
      new ExpressionInfo(classOf[graft.functions.TopKSketch].getName, "topk_sketch"),
      (exprs: Seq[Expression]) => graft.functions.TopKSketch.fromExpressions(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[graft.functions.DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => graft.functions.VectorOps.fromExpressions(exprs)))
    ext.injectFunction((
      FunctionIdentifier("minhash_terms"),
      new ExpressionInfo(classOf[graft.functions.MinHashTerms].getName, "minhash_terms"),
      (exprs: Seq[Expression]) => graft.functions.MinHashTerms.fromExpressions(exprs)))
    ext.injectFunction((
      FunctionIdentifier("rfc3339_check"),
      new ExpressionInfo(classOf[graft.functions.Rfc3339Check].getName, "rfc3339_check"),
      (exprs: Seq[Expression]) => graft.functions.Rfc3339Check.fromExpressions(exprs)))
  }
}
