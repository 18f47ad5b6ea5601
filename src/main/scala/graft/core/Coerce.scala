package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Coercion projections — the reference's `coerce('booleans,numbers,
  * strings,defaults')` (reference lib/JSON/Validator/Validator.pm:39-49,
  * rules at Schema.pm:676-679, 710-714, 816-819, 752-755).
  *
  * The reference MUTATES the input in place (`$_[1] = …`, observable in
  * t/coerce.t). The engine is non-mutating by design: coercion is a
  * *projection* producing a new repaired DataFrame; the source is untouched
  * (idiomatic Spark, and the input_hint's non-mutation invariant).
  */
object Coerce {

  /** "true"/"1" → true, "false"/"0"/"" → false (Schema.pm:676-679). */
  def booleans(c: Column): Column =
    when(c.isin("true", "1"), lit(true))
      .when(c.isin("false", "0", ""), lit(false))
      .otherwise(lit(null).cast(BooleanType))

  /** Strict JSON-number strings → double (Schema.pm:710-714 regex). */
  val jsonNumberRe = "^-?(?:0|[1-9]\\d*)(?:\\.\\d+)?(?:[eE][+-]?\\d+)?$"
  def numbers(c: Column): Column =
    when(c.rlike(jsonNumberRe), c.cast(DoubleType)).otherwise(lit(null).cast(DoubleType))

  /** number → string (Schema.pm:816-819). */
  def strings(c: Column): Column = c.cast(StringType)

  /** missing/null → schema default (Schema.pm:752-755). */
  def defaults(c: Column, default: JValue, dt: DataType): Column =
    coalesce(c, RuleCompiler.litOf(default, dt).getOrElse(lit(null).cast(dt)))

  /** OpenAPI v2 collectionFormat splitting (reference OpenAPIv2.pm:245-256):
    * csv/ssv/tsv/pipes delimited string → array<string>. `multi` has no
    * single-column representation (it is a repeated query parameter) and is
    * the caller's concern. */
  def splitCollection(c: Column, format: String): Column = {
    val sep = format match {
      case "csv"   => ","
      case "ssv"   => " "
      case "tsv"   => "\t"
      case "pipes" => "\\|"
      case other   => throw new IllegalArgumentException(s"unknown collectionFormat: $other")
    }
    split(c, sep)
  }

  sealed trait Coercion
  case object ToBoolean extends Coercion
  case object ToNumber extends Coercion
  case object ToString extends Coercion
  final case class WithDefault(default: JValue) extends Coercion

  /** `coerce('defaults')` from a rule-pack document: extract every property
    * default ([[graft.rulepack.RulePack.propertyDefaults]], `$ref`s
    * followed) and apply them as one repaired projection. Defaults whose
    * JSON type can never inhabit the column (the reference's "default
    * values must be valid" case, t/coerce-default.t:29-32) leave the column
    * NULL, so the subsequent validation reports the violation — same
    * outcome, typed-engine shape. */
  def withPackDefaults(df: DataFrame, packJson: JValue,
      store: graft.rulepack.RulePack.Store = graft.rulepack.RulePack.Store()): DataFrame =
    apply(df, graft.rulepack.RulePack.propertyDefaults(packJson, store)
      .map { case (k, d) => k -> (WithDefault(d): Coercion) })

  /** Apply a coercion spec per column: returns the repaired projection. */
  def apply(df: DataFrame, spec: Map[String, Coercion]): DataFrame = {
    val cols = df.columns.map { name =>
      spec.get(name) match {
        case Some(ToBoolean) => booleans(col(name)).as(name)
        case Some(ToNumber)  => numbers(col(name)).as(name)
        case Some(ToString)  => strings(col(name)).as(name)
        case Some(WithDefault(d)) => defaults(col(name), d, df.schema(name).dataType).as(name)
        case None => col(name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }
}
