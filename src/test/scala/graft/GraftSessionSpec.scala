package graft

import graft.core.{JValue, Violations}
import graft.rulepack.RulePack
import org.apache.spark.metrics.source.CodegenMetrics

/** Session-wide settings from [[GraftSession]] that change what a repeat
  * run pays. */
class GraftSessionSpec extends SparkSuite {

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
