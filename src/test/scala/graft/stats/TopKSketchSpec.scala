package graft.stats

import graft.SparkSuite
import graft.core.{Rule, Violations}
import graft.functions.TopKSketch
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

class TopKSketchSpec extends SparkSuite {
  import spark.implicits._

  test("topk_sketch keeps the K smallest (key, payload) pairs in ascending order") {
    val df = Seq((5L, "e"), (1L, "a"), (3L, "c"), (2L, "b"), (4L, "d"))
      .toDF("k", "v")
    val got = df.agg(TopKSketch.topkSketch(col("k"), col("v"), 3).as("top"))
      .as[Seq[String]].head()
    assert(got === Seq("a", "b", "c"))
    // ties on the key break on the payload — fully deterministic
    val tied = Seq((1L, "z"), (1L, "a"), (1L, "m")).toDF("k", "v")
      .agg(TopKSketch.topkSketch(col("k"), col("v"), 2)).as[Seq[String]].head()
    assert(tied === Seq("a", "m"))
    // fewer rows than K: all returned, still sorted; nulls skipped
    val small = Seq((Some(2L), Some("b")), (Some(1L), None), (None, Some("x")))
      .toDF("k", "v")
      .agg(TopKSketch.topkSketch(col("k"), col("v"), 10)).as[Seq[String]].head()
    assert(small === Seq("b"))
  }

  test("topk_sketch round-trips payloads past the 64KB modified-UTF-8 cliff") {
    // regression: writeUTF throws UTFDataFormatException past 65535
    // encoded bytes; the registered function takes ARBITRARY payloads, so
    // serde is length-prefixed raw UTF-8. Force the merge/serde path with
    // a repartition so partial buffers actually serialize.
    val big = "x" * 100000
    val df = Seq((2L, big), (1L, "small")).toDF("k", "v").repartition(2)
    val got = df.agg(TopKSketch.topkSketch(col("k"), col("v"), 2))
      .as[Seq[String]].head()
    assert(got === Seq("small", big))
  }

  test("topk_sketch is partition-invariant (merge path exercised)") {
    val rng = new scala.util.Random(11)
    val rows = (0 until 5000).map(i => (rng.nextLong(), s"p$i"))
    val expected = rows.sorted.take(7).map(_._2)
    for (parts <- Seq(1, 4, 32)) {
      val got = spark.createDataset(rows).toDF("k", "v").repartition(parts)
        .agg(TopKSketch.topkSketch(col("k"), col("v"), 7)).as[Seq[String]].head()
      assert(got === expected, s"partitioning $parts changed the top-K")
    }
  }

  test("sampleViolations: exact counts, capped deterministic exemplars, no window/sort plan") {
    // 200 rows all violating one rule → count exact at 200, sample capped
    val df = (0L until 200L).map(i => (i, -5L)).toDF("id", "x")
    val rule = Rule.All(Seq(Rule.Properties(Seq("x" -> Rule.Minimum(0)))))
    val v = Violations.validate(df, rule, Seq("id"))
    val out = Violations.sampleViolations(v, Seq("id"), perRuleK = 5)
    val row = out.collect().head
    assert(row.getAs[Long]("n_violations") === 200L)
    assert(row.getAs[scala.collection.Seq[String]]("sample_ids").size === 5)
    // deterministic across partitioning
    val out13 = Violations.sampleViolations(
      Violations.validate(df.repartition(13), rule, Seq("id")), Seq("id"), 5)
    assert(out13.collect().head.getAs[scala.collection.Seq[String]]("sample_ids") ===
      row.getAs[scala.collection.Seq[String]]("sample_ids"))
    // the scale property: no window and no sort over the violation stream —
    // the K-bound lives inside an object-hash aggregate
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Window"), "violation sampling sorts per rule in a window")
    assert(!plan.contains("Sort "), "violation sampling plans a sort")
    assert(plan.contains("ObjectHashAggregate"), "topk_sketch lost its object-hash aggregate")
  }

  test("a fresh session already has topk_sketch; sampleViolations registers nothing") {
    // the session's extensions inject topk_sketch into every newSession();
    // sampling runs on it twice and leaves that registration as it is
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    val id = FunctionIdentifier("topk_sketch")
    assert(registry.functionExists(id))
    val builder = registry.lookupFunctionBuilder(id)
    val df = fresh.createDataFrame((0L until 20L).map(i => (i, -1L))).toDF("id", "x")
    val rule = Rule.All(Seq(Rule.Properties(Seq("x" -> Rule.Minimum(0)))))
    def sampled(): Long = Violations.sampleViolations(
      Violations.validate(df, rule, Seq("id")), Seq("id"), perRuleK = 3)
      .collect().head.getAs[Long]("n_violations")
    assert(sampled() === 20L)
    assert(sampled() === 20L)
    assert(registry.lookupFunctionBuilder(id).get eq builder.get, "topk_sketch was registered again")
  }
}
