package graft

import graft.core.{JValue, Rule, Violations}
import graft.functions.{MinHashTerms, Rfc3339Check, TopKByScore, TopKSketch, VectorOps}
import graft.rulepack.RulePack
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Session-wide settings from [[GraftSession]]: the engine's functions
  * every session and child session has, and the settings that change what
  * a repeat run pays. */
class GraftSessionSpec extends SparkSuite {

  test("a newSession() child resolves all five functions by column form and SQL, streams included") {
    // no registration call anywhere: the functions come from the session's
    // extensions, which every child of a GraftSession session shares
    val fresh = spark.newSession()
    import fresh.implicits._
    assert(GraftExtensions.Functions.map(_._1).toSet ===
      Set("topk_sketch", "topk_by_score", "graft_dot", "minhash_terms", "rfc3339_check"))
    val df = Seq((3L, "c", 0.5, "2024-02-29"), (1L, "a", 0.25, "2023-02-29"),
      (2L, "b", 0.75, "10:00:00Z")).toDF("k", "v", "score", "s").repartition(1)
    df.createOrReplaceTempView("fns")
    def ids(r: Row): Seq[Long] = r.getSeq[Row](0).map(_.getAs[Long]("id"))

    // topk_sketch: the two smallest keys' payloads, in key order
    assert(df.agg(TopKSketch.topkSketch(col("k"), col("v"), 2)).head().getSeq[String](0) ===
      Seq("a", "b"))
    assert(fresh.sql("SELECT topk_sketch(k, v, 2) FROM fns").head().getSeq[String](0) ===
      Seq("a", "b"))
    // topk_by_score: the two highest scores' ids, in rank order
    assert(ids(df.agg(TopKByScore.topkByScore(col("score"), col("k"), 2, asc = false)).head()) ===
      Seq(2L, 3L))
    assert(ids(fresh.sql("SELECT topk_by_score(score, k, 2, false) FROM fns").head()) ===
      Seq(2L, 3L))
    // graft_dot
    val (a, b) = (array(lit(1.0f), lit(2.0f)), array(lit(3.0f), lit(4.0f)))
    assert(df.select(VectorOps.dot(a, b)).head().getDouble(0) === 11.0)
    assert(fresh.sql("SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
      "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))").head().getDouble(0) === 11.0)
    // minhash_terms: one 3-shingle, seed 1 = xxhash64(1, '1 2 3')
    val terms = array(lit(1), lit(2), lit(3))
    assert(df.select(MinHashTerms.minhashTerms(terms, 3, 2, "xxhash64").getItem(1) ===
      xxhash64(lit(1), lit("1 2 3"))).head().getBoolean(0))
    assert(fresh.sql("SELECT minhash_terms(array(1, 2, 3), 3, 2, 'xxhash64')[1] = " +
      "xxhash64(1, '1 2 3')").head().getBoolean(0))
    // rfc3339_check: only the leap-year date is a date
    val dates = Seq(true, false, false)
    assert(df.orderBy(col("k").desc).select(Rfc3339Check.rfc3339Check(col("s"), "date"))
      .as[Boolean].collect().toSeq === dates)
    assert(fresh.sql("SELECT rfc3339_check(s, 'date') FROM fns ORDER BY k DESC")
      .as[Boolean].collect().toSeq === dates)

    // a `date`-format rule validates a stream that runs in the child session
    val dir = java.nio.file.Files.createTempDirectory("graft-session-stream").resolve("in").toString
    df.select(col("k"), col("s")).write.parquet(dir)
    val rule = Rule.Properties(Seq("s" -> Rule.Format("date")))
    val stream = fresh.readStream.schema(fresh.read.parquet(dir).schema).parquet(dir)
    val q = Violations.validate(stream, rule, Seq("k"))
      .writeStream.format("memory").queryName("session_date_viol")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    assert(fresh.table("session_date_viol").select("k").as[Long].collect().toSet === Set(1L, 2L))
  }

  test("the extensions conf keeps the launch conf's classes and names GraftExtensions once") {
    // under `--conf spark.sql.extensions=graft.GraftExtensions` a second
    // mention would inject every function twice
    val graftExt = classOf[GraftExtensions].getName
    assert(GraftSession.extensions(None) === graftExt)
    assert(GraftSession.extensions(Some(graftExt)) === graftExt)
    assert(GraftSession.extensions(Some(s"a.B, $graftExt")) === s"a.B,$graftExt")
    assert(GraftSession.extensions(Some("a.B")) === s"a.B,$graftExt")
  }

  test("a repeat validation pass compiles no classes (codegen cache of 1000)") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "1000")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pack = RulePack.fromJson(JValue.parseAny(
      """{"type": "object", "required": ["doc_id"], "properties": {
        |"lang": {"enum": ["en", "de"]}, "n_chars": {"maximum": 500},
        |"text": {"minLength": 10, "pattern": "^[A-Z]"}}}""".stripMargin))
    def pass(): Unit = {
      Violations.validate(docs, pack, Seq("doc_id")).collect()
      Violations.verdictByPartition(docs, pack, None).collect()
    }
    pass()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before === 0L)
  }
}
