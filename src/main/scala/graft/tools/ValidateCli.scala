package graft.tools

import graft.core.{RuleCompiler, Violations}
import graft.rulepack.RulePack
import org.apache.spark.sql.SparkSession

/** Command-line surface of the engine: validate a parquet table against a
  * JSON rule pack and write/print the violation + verdict tables.
  *
  * Usage: ValidateCli <table.parquet> <rulepack.json|yaml> <idCol[,idCol…]>
  *          [outDir] [--direction=request|response]
  *
  * With no outDir the violations print to stdout (driver-side `show`,
  * capped); with outDir they are written as parquet — the scale path.
  * `--direction` validates as an OpenAPI request or response (readOnly /
  * writeOnly modality; default validates everything).
  */
object ValidateCli {
  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    require(positional.length >= 3, "usage: ValidateCli <table.parquet> <rulepack.json> <idCols> [outDir] [--direction=request|response]")
    val Array(table, packPath, idColsArg) = positional.take(3)
    val outDir = positional.lift(3)
    val idCols = idColsArg.split(",").toSeq
    val direction = flags.collectFirst {
      case f if f.startsWith("--direction=") => f.stripPrefix("--direction=") match {
        case "request"  => graft.core.Rule.Request
        case "response" => graft.core.Rule.Response
        case other      => throw new IllegalArgumentException(s"unknown direction: $other")
      }
    }.getOrElse(graft.core.Rule.Both)

    val spark = graft.GraftSession.get(appName = "graft-validate")

    // format-sniffed: JSON or YAML packs both load (Util.pm:163-167)
    val packText = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(packPath)), "UTF-8")
    val packDoc = graft.core.JValue.parseAny(packText)
    // meta-schema gate first (load_and_validate_schema, Validator.pm:53-64):
    // a malformed pack fails HERE, before any cluster job launches
    val specErrs = graft.rulepack.JsonValidate.schemaErrors(packDoc)
    if (specErrs.nonEmpty)
      throw new IllegalArgumentException(
        ("Invalid JSON specification" +: specErrs.map(e => s"- $e")).mkString("\n"))
    val rule = RulePack.fromJson(packDoc)
    val df = spark.read.parquet(table)

    // driver-side pre-flight (is_invalid analog): structural problems +
    // constants the typed compiler would silently drop against THIS schema
    val warnings = RulePack.lint(rule) ++ RulePack.lint(rule, df.schema)
    warnings.foreach(w => println(s"lint: $w"))

    val ctx = RuleCompiler.Ctx(direction = direction)
    val violations = Violations.sorted(Violations.validate(df, rule, idCols, ctx), idCols)
    val verdicts = Violations.verdictByPartition(df, rule, None, ctx)

    outDir match {
      case Some(dir) =>
        violations.write.mode("overwrite").parquet(s"$dir/violations")
        verdicts.write.mode("overwrite").parquet(s"$dir/verdicts")
        println(s"wrote violations + verdicts under $dir")
      case None =>
        println(s"== violations (first 50) of ${df.count()} rows:")
        violations.show(50, truncate = false)
        println("== per-partition verdicts:")
        verdicts.orderBy("partition").show(100, truncate = false)
    }
    spark.stop()
  }
}
