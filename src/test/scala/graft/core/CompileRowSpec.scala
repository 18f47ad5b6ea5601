package graft.core

import graft.SparkSuite
import graft.core.Rule._
import org.apache.spark.sql.functions._

/** `RuleCompiler.compileRow`: a row's fields are its columns, read by name. */
class CompileRowSpec extends SparkSuite {
  import spark.implicits._

  test("root fields whose names hold a dot or a backtick are read as those columns") {
    val df = Seq((1L, -1L, 5L), (2L, 3L, -2L), (3L, 4L, 6L)).toDF("id", "a.b", "c`d")
    val rule = All(Seq(
      Properties(Seq("a.b" -> Minimum(0), "c`d" -> Minimum(0))),
      Required(Seq("a.b", "c`d"))))
    val got = Violations.validate(df, rule, Seq("id"))
      .select("id", "path", "rule_id").as[(Long, String, String)].collect().toSet
    assert(got === Set((1L, "/a.b", "minimum"), (2L, "/c`d", "minimum")))
    val verdict = Violations.verdictByPartition(df, rule, None).agg(sum("n_failed")).head().getLong(0)
    assert(verdict === 2L)
  }
}
