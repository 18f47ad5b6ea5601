package graft.core

import graft.functions.Formats
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compiles a [[Rule]] tree into Catalyst `Column`s in two tiers, from one
  * traversal of the tree ([[Tiers]]):
  *  - `pass`: a non-NULL boolean, TRUE exactly when the value has no error.
  *    It carries no strings and no structs, so a verdict that reads only
  *    `pass` never builds an error.
  *  - `errs`: the error list for the target value, `array<struct<path,
  *    rule_id, category, message, observed>>` — the columnar analog of the
  *    reference's `@errors` list of `JSON::Validator::Error` objects
  *    (reference lib/JSON/Validator/Schema.pm:366-420 `_validate`).
  * Every gate that asks "did this sub-rule fail?" (a keyword group in one
  * schema object, `not`, `if`/`then`/`else`, `anyOf`/`oneOf`, `contains`)
  * reads the sub-rule's `pass`, never the size of its error list, so no
  * error expression is inlined twice.
  *
  * Everything is pure Catalyst expressions (no UDFs): rules on array
  * elements use higher-order functions (`transform`/`filter`), so the whole
  * validation of a row stays inside one whole-stage-codegen span. Compilation
  * is a pure function of (rule, input DataType); type dispatch happens at
  * compile time — the reference's runtime `data_type` sniffing
  * (Util.pm:58-72) is free here because the DataFrame schema is static.
  *
  * A whole row is compiled by [[compileRow]]: its fields are the DataFrame's
  * own columns, so a root property compiles to the column itself, not to a
  * field of a struct of every column (each such struct copy is analyzed,
  * then folded away by the optimizer).
  *
  * Error semantics ported:
  *  - type errors suppress sibling keyword errors (Schema.pm:410 early
  *    return),
  *  - allOf/anyOf/oneOf branch messages get `/allOf/<i> ` prefixes and
  *    same-path type errors collapse into one `Expected a/b - got c.` error
  *    (Schema.pm:422-536, Util.pm:116-130 `prefix_errors`),
  *  - oneOf emits `all_rules_match` / `n_rules_match` with pass indices.
  */
object RuleCompiler {

  /** One error, mirroring Error.pm's `(path, details[0..2], message)`. */
  final case class Err(path: String, rule_id: String, category: String, message: String, observed: String)

  val errStructType: StructType = StructType(Seq(
    StructField("path", StringType), StructField("rule_id", StringType),
    StructField("category", StringType), StructField("message", StringType),
    StructField("observed", StringType)))
  val errArrayType: ArrayType = ArrayType(errStructType)

  /** The empty error list: one literal, built once. */
  val noErrors: Column = typedlit(Seq.empty[Err])

  /** A compiled rule: `pass` is a non-NULL boolean, TRUE exactly when
    * `errs` is empty. `errs` is built on its first read, so a caller that
    * reads only `pass` never builds an error expression. */
  final class Tiers(val pass: Column, errors: => Column) {
    lazy val errs: Column = errors
  }

  private val passes = new Tiers(lit(true), noErrors)

  /** The value a rule applies to. At the root of a row the value is the row
    * itself: it is never NULL, and its fields are the DataFrame's columns. */
  private final case class Target(value: Column, root: Boolean = false) {
    def field(name: String): Column = if (root) column(name) else value.getField(name)
    def isNull: Column = if (root) lit(false) else value.isNull
    /** The conjunction of `subs`, with no error on a NULL (absent) value. */
    def skipNull(subs: Seq[Tiers]): Tiers =
      if (subs.isEmpty) passes else if (root) conj(subs) else RuleCompiler.skipNull(value, conj(subs))
  }

  private def mkErr(path: Column, ruleId: String, category: Column, message: Column, observed: Column): Column =
    struct(
      path.as("path"), lit(ruleId).as("rule_id"), category.as("category"),
      message.as("message"), coalesce(observed, lit("null")).as("observed"))

  private def one(e: Column): Column = array(e)

  /** `errs` when `pass` is not TRUE. */
  private def unless(pass: Column, errs: => Column): Tiers =
    new Tiers(pass, when(pass, noErrors).otherwise(errs))

  /** `when(ok) pass else [err]` with null-skip: JSON-Schema value keywords
    * don't apply to null/missing values (the `type` keyword reports those).
    * `ok` may be NULL (a NULL enum constant, a custom predicate), which
    * fails, as the error branch of `when` does. */
  private def check(ok: Column, e: => Column, t: Target): Tiers = {
    val skip = t.isNull || ok
    new Tiers(coalesce(skip, lit(false)), when(skip, noErrors).otherwise(one(e)))
  }

  /** No error where `value` is NULL, else those of `t`. */
  private def skipNull(value: Column, t: Tiers): Tiers =
    new Tiers(value.isNull || t.pass, when(value.isNull, noErrors).otherwise(t.errs))

  /** Conjunction: passes when every part passes; errors in part order. */
  private def conj(ts: Seq[Tiers]): Tiers = ts match {
    case Seq()  => passes
    case Seq(t) => t
    case _      => new Tiers(ts.map(_.pass).reduce(_ && _), concat(ts.map(_.errs): _*))
  }

  final case class Ctx(
      formats: Formats.Registry = Formats.Registry(),
      coerce: Set[String] = Set.empty,
      direction: Rule.Direction = Rule.Both)

  /** JSON type name of a Spark DataType (compile-time `data_type`). */
  def jsonTypeOf(dt: DataType): String = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType => "integer"
    case _: FloatType | _: DoubleType | _: DecimalType             => "number"
    case _: StringType | _: DateType | _: TimestampType | _: VarcharType | _: CharType => "string"
    case _: BooleanType                                            => "boolean"
    case _: ArrayType                                              => "array"
    case _: StructType | _: MapType                                => "object"
    case _: NullType                                               => "null"
    case other                                                     => other.typeName
  }

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _              => false
  }
  private def isFractional(dt: DataType): Boolean = dt match {
    case _: FloatType | _: DoubleType | _: DecimalType => true
    case _                                             => false
  }
  private def isStringy(dt: DataType): Boolean = dt match {
    case _: StringType | _: VarcharType | _: CharType => true
    case _                                            => false
  }

  private def observedOf(target: Column, dt: DataType): Column = dt match {
    case _: StringType => target
    case _             => target.cast(StringType)
  }

  /** Literal of a rule-pack JSON constant, coerced to the column type when
    * the families are compatible; None when the constant can never equal a
    * value of `dt` (e.g. string constant vs int column). */
  def litOf(v: JValue, dt: DataType): Option[Column] = (v, dt) match {
    case (JNull, _)                       => Some(lit(null).cast(dt))
    case (JBool(b), BooleanType)          => Some(lit(b))
    case (JInt(i), d) if isNumeric(d)     => Some(lit(i).cast(d))
    case (JNum(n), d) if isFractional(d)  => Some(lit(n).cast(d))
    case (JNum(n), d) if isNumeric(d) && n == n.floor => Some(lit(n.toLong).cast(d))
    case (JStr(s), d) if isStringy(d)     => Some(lit(s))
    case (JArr(items), ArrayType(et, _))  =>
      val lits = items.map(litOf(_, et))
      if (lits.forall(_.isDefined))
        Some(if (lits.isEmpty) array().cast(ArrayType(et)) else array(lits.map(_.get): _*))
      else None
    case _                                => None
  }

  /** Entry point: error-array column for `rule` applied to `target`. */
  def compile(rule: Rule, dt: DataType, target: Column, path: Column, ctx: Ctx = Ctx()): Column =
    tiers(rule, dt, target, path, ctx).errs

  /** Both tiers of `rule` applied to `target`. */
  def tiers(rule: Rule, dt: DataType, target: Column, path: Column, ctx: Ctx = Ctx()): Tiers =
    compileAt(rule, dt, Target(target), path, ctx)

  /** Both tiers of `rule` applied to a whole row of `schema`: the instance is
    * the row, and each of its fields is the column of that name. */
  def compileRow(rule: Rule, schema: StructType, ctx: Ctx = Ctx()): Tiers = {
    val row = struct(schema.fieldNames.toIndexedSeq.map(column): _*)
    compileAt(rule, schema, Target(row, root = true), lit(""), ctx)
  }

  /** The column named `name`, quoted so that dots and backticks are literal. */
  private[core] def column(name: String): Column = col("`" + name.replace("`", "``") + "`")

  private def compileAt(rule: Rule, dt: DataType, t: Target, path: Column, ctx: Ctx): Tiers = {
    import Rule._
    val target = t.value
    def at(r: Rule, rdt: DataType, v: Column, p: Column): Tiers = compileAt(r, rdt, Target(v), p, ctx)
    def elemPath(i: Column): Column = concat(path, lit("/"), i.cast(StringType))
    rule match {
      case Always => passes
      case Never  =>
        // boolean schema `false` → the reference reports it as not/not
        // (Schema.pm:369 converts to {not=>{}}).
        new Tiers(lit(false),
          one(mkErr(path, "not", lit("not"), lit(Messages.render("not.not")), observedOf(target, dt))))

      case All(rules) => compileAll(rules, dt, t, path, ctx)

      case TypeIs(types) => compileType(types, dt, t, path)

      case Enum(values) =>
        val lits = values.flatMap(litOf(_, dt))
        val okC  = lits.map(target === _).reduceOption(_ || _).getOrElse(lit(false))
        val listed = values.map(_.plain).mkString(", ")
        check(okC, mkErr(path, "enum", lit("enum"),
          lit(Messages.render("enum.enum", listed)), observedOf(target, dt)), t)

      case Const(value) =>
        val okC = litOf(value, dt).map(l => target <=> l).getOrElse(lit(value == JNull) && t.isNull)
        val e = mkErr(path, "const", lit("const"),
          lit(Messages.render("const.const", value.render)), observedOf(target, dt))
        if (value == JNull) unless(okC, one(e)) else check(okC, e, t)

      case Minimum(v, excl) if isNumeric(dt) =>
        val cat = jsonTypeOf(dt)
        val (kw, ok) = if (excl) ("ex_minimum", target > lit(v).cast(dt)) else ("minimum", target >= lit(v).cast(dt))
        val tmpl = if (excl) " <= minimum(" else " < minimum("
        check(ok, mkErr(path, kw, lit(cat),
          concat(observedOf(target, dt), lit(tmpl + num(v) + ")")), observedOf(target, dt)), t)
      case Maximum(v, excl) if isNumeric(dt) =>
        val cat = jsonTypeOf(dt)
        val (kw, ok) = if (excl) ("ex_maximum", target < lit(v).cast(dt)) else ("maximum", target <= lit(v).cast(dt))
        val tmpl = if (excl) " >= maximum(" else " > maximum("
        check(ok, mkErr(path, kw, lit(cat),
          concat(observedOf(target, dt), lit(tmpl + num(v) + ")")), observedOf(target, dt)), t)

      case MultipleOf(v) if isNumeric(dt) =>
        val ok =
          if (!isFractional(dt) && v == v.floor) pmod(target, lit(v.toLong).cast(dt)) === lit(0)
          else {
            val div = target.cast(DoubleType) / lit(v)
            // reference uses decimal-string inspection of the quotient
            // (Schema.pm:720-721); epsilon-compare is the columnar analog.
            abs(div - round(div, 0)) < lit(1e-9) * greatest(abs(div), lit(1.0))
          }
        check(ok, mkErr(path, "multipleOf", lit(jsonTypeOf(dt)),
          lit(Messages.render("number.multipleOf", num(v))), observedOf(target, dt)), t)

      case MinLength(n) if isStringy(dt) =>
        check(length(target) >= n, mkErr(path, "minLength", lit("string"),
          concat(lit("String is too short: "), length(target).cast(StringType), lit(s"/$n.")),
          target), t)
      case MaxLength(n) if isStringy(dt) =>
        check(length(target) <= n, mkErr(path, "maxLength", lit("string"),
          concat(lit("String is too long: "), length(target).cast(StringType), lit(s"/$n.")),
          target), t)

      case Pattern(regex) if isStringy(dt) =>
        check(target.rlike(regex), mkErr(path, "pattern", lit("string"),
          lit(Messages.render("string.pattern", regex)), target), t)

      case Format(name) if isStringy(dt) =>
        val okC = ctx.formats.check(name, target)
        check(okC, mkErr(path, "format", lit("format"),
          lit(s"Does not match $name format."), target), t)

      case MinItems(n) => arrayRule(dt, target) { (et, arr) =>
        check(size(arr) >= n, mkErr(path, "minItems", lit("array"),
          concat(lit("Not enough items: "), size(arr).cast(StringType), lit(s"/$n.")),
          observedOf(arr, dt)), t)
      }
      case MaxItems(n) => arrayRule(dt, target) { (et, arr) =>
        check(size(arr) <= n, mkErr(path, "maxItems", lit("array"),
          concat(lit("Too many items: "), size(arr).cast(StringType), lit(s"/$n.")),
          observedOf(arr, dt)), t)
      }
      case UniqueItems => arrayRule(dt, target) { (et, arr) =>
        check(size(array_distinct(arr)) === size(arr),
          mkErr(path, "uniqueItems", lit("array"),
            lit(Messages.render("array.uniqueItems")), observedOf(arr, dt)), t)
      }

      case Items(sub) => arrayRule(dt, target) { (et, arr) =>
        sub match {
          // distribute items over a keyword conjunction: items({min,max}) ≡
          // concat(items(min), items(max)). Each leaf then uses the
          // null-struct path below — per-element `concat` of error arrays
          // allocates even for passing elements and is GC-bound at scale
          // (measured: 2.6× not 4× scaling on a 4× core step).
          // Distribution is ONLY semantics-preserving when the conjunction
          // has no dispatcher gating: a TypeIs must suppress sibling errors
          // per element (Schema.pm:410 — items:{type:integer,maximum:5} on
          // element 6.5 reports only the type error) and const/enum fire
          // only after the other keywords pass (Schema.pm:401-419); those
          // mixes fall through to the per-element conjunction below.
          case All(parts) if !parts.exists(_.isInstanceOf[TypeIs]) &&
              !(parts.exists(p => p.isInstanceOf[Const] || p.isInstanceOf[Enum]) &&
                parts.exists(p => !p.isInstanceOf[Const] && !p.isInstanceOf[Enum])) =>
            conj(parts.map(p => compileAt(Items(p), dt, t, path, ctx)))
          case leaf if emitsSingleError(leaf) =>
            // passing element → NULL (no allocation); failing → its struct
            def exact = filter(transform(arr, (x, i) =>
              try_element_at(at(leaf, et, x, elemPath(i)).errs, lit(1))), e => e.isNotNull)
            // aggregate pre-check for numeric bounds: errors can exist only
            // if the array's min/max crosses the bound, so the per-element
            // transform+filter machinery (higher-order functions — no
            // codegen) runs ONLY on rows that provably contain a violation.
            // On a 99.x%-passing corpus this removes the dominant
            // per-element cost of the validate leg. Sound because `check`
            // null-skips (null elements pass bound keywords, and
            // array_min/array_max skip nulls the same way); a NULL guard
            // (empty / all-null array) falls through to the exact path,
            // which emits nothing for those. So the guard is also the exact
            // pass tier, with NULL read as a pass.
            itemsBoundGuard(leaf, et, arr) match {
              case Some(allPass) =>
                new Tiers(arr.isNull || coalesce(allPass, lit(true)),
                  when(arr.isNull, noErrors).otherwise(when(allPass, noErrors).otherwise(exact)))
              case None =>
                new Tiers(arr.isNull || forall(arr, x => at(leaf, et, x, path).pass),
                  when(arr.isNull, noErrors).otherwise(exact))
            }
          case _ =>
            new Tiers(arr.isNull || forall(arr, x => at(sub, et, x, path).pass),
              when(arr.isNull, noErrors).otherwise(
                flatten(transform(arr, (x, i) => at(sub, et, x, elemPath(i)).errs))))
        }
      }

      case TupleItems(rules, additional) => arrayRule(dt, target) { (et, arr) =>
        val positional = rules.zipWithIndex.map { case (r, i) =>
          // the guard keeps `element_at` from reading past the end (ANSI)
          val absent = arr.isNull || size(arr) <= i
          val sub = at(r, et, element_at(arr, i + 1), concat(path, lit(s"/$i")))
          new Tiers(when(absent, lit(true)).otherwise(sub.pass),
            when(absent, noErrors).otherwise(sub.errs))
        }
        val n = rules.length
        val extra = additional match {
          case None =>
            // additionalItems:false caps length (Schema.pm:645-661)
            unless(arr.isNull || size(arr) <= n,
              one(mkErr(path, "additionalItems", lit("array"),
                concat(lit("Invalid number of items: "), size(arr).cast(StringType), lit(s"/$n.")),
                observedOf(arr, dt))))
          case Some(r) =>
            new Tiers(
              arr.isNull || forall(transform(arr, (x, i) => i < n || at(r, et, x, path).pass), b => b),
              when(arr.isNull, noErrors).otherwise(
                flatten(transform(arr, (x, i) =>
                  when(i < n, noErrors).otherwise(at(r, et, x, elemPath(i)).errs)))))
        }
        conj(positional :+ extra)
      }

      case Contains(sub, minC, maxC) => arrayRule(dt, target) { (et, arr) =>
        val matches = size(filter(arr, x => at(sub, et, x, path).pass))
        val lo = minC.getOrElse(1)
        val containsT =
          unless(arr.isNull || matches >= lo,
            if (minC.isDefined)
              one(mkErr(path, "minContains", lit("array"),
                concat(lit("Contains not enough items: "), matches.cast(StringType), lit(s"/$lo.")),
                observedOf(arr, dt)))
            else
              one(mkErr(path, "contains", lit("array"),
                lit(Messages.render("array.contains")), observedOf(arr, dt))))
        val maxT = maxC.map { hi =>
          unless(arr.isNull || matches <= hi,
            one(mkErr(path, "maxContains", lit("array"),
              concat(lit("Contains too many items: "), matches.cast(StringType), lit(s"/$hi.")),
              observedOf(arr, dt))))
        }
        conj(containsT +: maxT.toSeq)
      }

      case Properties(props) => dt match {
        // relational mapping: NULL field = absent key, so a property sub-rule
        // is skipped on null (the reference skips rules for missing keys,
        // Draft4.pm:191-195) and `required` owns the null check.
        case st: StructType =>
          t.skipNull(props.flatMap { case (name, sub) =>
            st.fields.find(_.name == name).map { f =>
              val fieldCol = t.field(name)
              skipNull(fieldCol, at(sub, f.dataType, fieldCol, concat(path, lit(s"/$name"))))
            } // missing column: `required` reports it; properties on absent key pass
          })
        // dynamic objects (from_json to map<string,…>): keys are runtime
        // values — the reference's native hash regime (Draft4.pm:191-195)
        case MapType(_: StringType, vt, _) =>
          t.skipNull(props.map { case (name, sub) =>
            val v = try_element_at(target, lit(name))
            skipNull(v, at(sub, vt, v, concat(path, lit(s"/$name"))))
          })
        case _ => passes
      }

      case PatternProperties(props) => dt match {
        case st: StructType =>
          t.skipNull(for {
            (regex, sub) <- props
            f <- st.fields.toSeq if java.util.regex.Pattern.compile(regex).matcher(f.name).find()
          } yield {
            val fieldCol = t.field(f.name)
            skipNull(fieldCol, at(sub, f.dataType, fieldCol, concat(path, lit(s"/${f.name}"))))
          })
        case MapType(_: StringType, vt, _) =>
          // runtime key match: every key matching the regex applies the rule
          // to its value (rlike = partial match, like the reference)
          t.skipNull(props.map { case (regex, sub) =>
            val keys = filter(map_keys(target), k => k.rlike(regex))
            new Tiers(forall(keys, k => at(sub, vt, try_element_at(target, k), path).pass),
              flatten(transform(keys,
                k => at(sub, vt, try_element_at(target, k), concat(path, lit("/"), k)).errs)))
          })
        case _ => passes
      }

      case Required(fields) =>
        def missing(name: String) = one(mkErr(concat(path, lit(s"/$name")), "required", lit("object"),
          lit(Messages.render("object.required")), lit("null")))
        dt match {
          case st: StructType =>
            // relational mapping: NULL = absent (documented divergence from
            // pure key-presence semantics; see SURVEY.md §2.2 `required`)
            t.skipNull(fields.map { name =>
              val present = if (st.fieldNames.contains(name)) t.field(name).isNotNull else lit(false)
              unless(present, missing(name))
            })
          case MapType(_: StringType, _, _) =>
            t.skipNull(fields.map(name => unless(try_element_at(target, lit(name)).isNotNull, missing(name))))
          case _ => passes
        }

      case ClosedWorld(allowed, patterns, sub) => dt match {
        case st: StructType =>
          val compiled = patterns.map(java.util.regex.Pattern.compile)
          val extras = st.fields.toSeq.filterNot(f =>
            allowed.contains(f.name) || compiled.exists(_.matcher(f.name).find()))
          sub match {
            case None if extras.nonEmpty =>
              // static closed-world failure: every (non-null) row errs
              // (Schema.pm:762-770 lists the extras sorted)
              val names = extras.map(_.name).sorted.mkString(", ")
              unless(t.isNull,
                one(mkErr(path, "additionalProperties", lit("object"),
                  lit(Messages.render("object.additionalProperties", names)), observedOf(target, dt))))
            case None => passes
            case Some(r) =>
              t.skipNull(extras.map(f =>
                at(r, f.dataType, t.field(f.name), concat(path, lit(s"/${f.name}")))))
          }
        case MapType(_: StringType, vt, _) =>
          // dynamic keys: the extras set is computed per row
          val isExtra = (k: Column) =>
            !allowed.map(lit(_): Column).foldLeft(lit(false))((acc, a) => acc || k === a) &&
              !patterns.foldLeft(lit(false))((acc, re) => acc || k.rlike(re))
          val extras = filter(map_keys(target), isExtra)
          sub match {
            case None =>
              unless(target.isNull || size(extras) === 0,
                one(mkErr(path, "additionalProperties", lit("object"),
                  concat(lit("Properties not allowed: "),
                    array_join(array_sort(extras), ", "), lit(".")),
                  observedOf(target, dt))))
            case Some(r) =>
              t.skipNull(Seq(new Tiers(forall(extras, k => at(r, vt, try_element_at(target, k), path).pass),
                flatten(transform(extras,
                  k => at(r, vt, try_element_at(target, k), concat(path, lit("/"), k)).errs)))))
          }
        case _ => passes
      }

      case MinProperties(n) => objectCount(dt, t) { cnt =>
        check(cnt >= n, mkErr(path, "minProperties", lit("object"),
          concat(lit("Not enough properties: "), cnt.cast(StringType), lit(s"/$n.")),
          observedOf(target, dt)), t)
      }
      case MaxProperties(n) => objectCount(dt, t) { cnt =>
        check(cnt <= n, mkErr(path, "maxProperties", lit("object"),
          concat(lit("Too many properties: "), cnt.cast(StringType), lit(s"/$n.")),
          observedOf(target, dt)), t)
      }

      case PropertyNames(sub) => dt match {
        // struct keys are static: evaluate the sub-rule once per field name
        // at compile time (constant per row)
        case st: StructType =>
          val bad = st.fieldNames.filterNot { name =>
            evalStaticString(sub, name, ctx)
          }
          if (bad.isEmpty) passes
          else unless(t.isNull,
            concat(bad.toSeq.map(name => one(mkErr(concat(path, lit(s"/$name")), "propertyNames",
              lit("object"), lit("Does not match propertyNames."), lit(name)))): _*))
        case MapType(_: StringType, _, _) =>
          t.skipNull(Seq(new Tiers(forall(map_keys(target), k => at(sub, StringType, k, path).pass),
            filter(transform(map_keys(target), k =>
              try_element_at(at(sub, StringType, k, path).errs, lit(1))),
              e => e.isNotNull))))
        case _ => passes
      }

      case DependentRequired(deps) =>
        def err(dependee: String, dep: String) =
          one(mkErr(concat(path, lit(s"/$dep")), "dependencies", lit("object"),
            lit(Messages.render("object.dependencies", dependee)), lit("null")))
        dt match {
          case st: StructType =>
            t.skipNull(for {
              (dependee, dependents) <- deps if st.fieldNames.contains(dependee)
              dep <- dependents
            } yield {
              val depOk = if (st.fieldNames.contains(dep)) t.field(dep).isNotNull else lit(false)
              unless(t.field(dependee).isNull || depOk, err(dependee, dep))
            })
          case MapType(_: StringType, _, _) =>
            t.skipNull(for ((dependee, dependents) <- deps; dep <- dependents) yield
              unless(try_element_at(target, lit(dependee)).isNull ||
                try_element_at(target, lit(dep)).isNotNull, err(dependee, dep)))
          case _ => passes
        }

      case DependentSchemas(deps) => dt match {
        case st: StructType =>
          t.skipNull(for ((dependee, sub) <- deps if st.fieldNames.contains(dependee)) yield
            skipNull(t.field(dependee), compileAt(sub, dt, t, path, ctx)))
        case _ => passes
      }

      case Not(sub) =>
        val s = compileAt(sub, dt, t, path, ctx)
        new Tiers(!s.pass, when(s.pass,
          one(mkErr(path, "not", lit("not"), lit(Messages.render("not.not")), observedOf(target, dt))))
          .otherwise(noErrors))

      case AllOf(rules) => combinator("allOf", rules, dt, t, path, ctx, requireAll = true)
      case AnyOf(rules) => combinator("anyOf", rules, dt, t, path, ctx, requireAll = false)
      case OneOf(rules) => compileOneOf(rules, dt, t, path, ctx)

      case IfThenElse(condR, thenR, elseR) =>
        val cond = compileAt(condR, dt, t, path, ctx)
        val thenT = thenR.map(compileAt(_, dt, t, path, ctx)).getOrElse(passes)
        val elseT = elseR.map(compileAt(_, dt, t, path, ctx)).getOrElse(passes)
        new Tiers(when(cond.pass, thenT.pass).otherwise(elseT.pass),
          when(cond.pass, thenT.errs).otherwise(elseT.errs))

      case Nullable(sub) => t.skipNull(Seq(compileAt(sub, dt, t, path, ctx)))

      case Discriminator(field, mapping, default) => dt match {
        case st: StructType if st.fieldNames.contains(field) =>
          val disc = t.field(field)
          val fallback = default.map(compileAt(_, dt, t, path, ctx)).getOrElse(passes)
          mapping.foldRight(fallback) { case ((value, sub), acc) =>
            val s = compileAt(sub, dt, t, path, ctx)
            val hit = disc === lit(value)
            new Tiers(when(hit, s.pass).otherwise(acc.pass), when(hit, s.errs).otherwise(acc.errs))
          }
        case _ => passes
      }

      case Modal(sub, appliesTo) =>
        // readOnly fields don't constrain requests; writeOnly don't
        // constrain responses (OpenAPIv3.pm:356-396)
        if (appliesTo == Rule.Both || ctx.direction == Rule.Both || appliesTo == ctx.direction)
          compileAt(sub, dt, t, path, ctx)
        else passes

      case PresenceForbidden(dir, msg) =>
        // "Read-only."/"Write-only." on presence in the disallowed direction
        // (OpenAPIv3.pm:363, 384); Both = plain schema validation → inert
        if (ctx.direction == dir)
          unless(t.isNull, one(mkErr(path, "modality", lit("modality"), lit(msg), observedOf(target, dt))))
        else passes

      case Predicate(ruleId, message, pred) =>
        check(pred(target), mkErr(path, ruleId, lit("custom"), lit(message),
          observedOf(target, dt)), t)

      // keyword not applicable to this column type → passes (JSON-Schema
      // semantics: keywords constrain only their own type)
      case _ => passes
    }
  }

  /** Leaf rules that produce at most one error for a scalar target —
    * eligible for the allocation-free per-element path in `Items`. */
  private def emitsSingleError(r: Rule): Boolean = r match {
    case _: Rule.TypeIs | _: Rule.Enum | _: Rule.Const | _: Rule.Minimum |
         _: Rule.Maximum | _: Rule.MultipleOf | _: Rule.MinLength |
         _: Rule.MaxLength | _: Rule.Pattern | _: Rule.Format | Rule.Never => true
    case _ => false
  }

  private def num(v: Double): String =
    if (v == v.floor && math.abs(v) < 1e15) v.toLong.toString else v.toString

  /** "All elements pass" pre-check for a per-element bound keyword, when
    * one exists that is strictly sound: guard TRUE ⟹ the distributed
    * `Items(leaf)` emits no errors. Only numeric min/max qualify (their
    * pass condition is monotone in the element value, so the array
    * extremum decides the whole row); anything else returns None and takes
    * the exact per-element path. NaN behaves consistently: Spark's
    * comparison and array extremum use the same total order. */
  private def itemsBoundGuard(leaf: Rule, et: DataType, arr: Column): Option[Column] = leaf match {
    case Rule.Minimum(v, excl) if isNumeric(et) =>
      Some(if (excl) array_min(arr) > lit(v).cast(et) else array_min(arr) >= lit(v).cast(et))
    case Rule.Maximum(v, excl) if isNumeric(et) =>
      Some(if (excl) array_max(arr) < lit(v).cast(et) else array_max(arr) <= lit(v).cast(et))
    case _ => None
  }

  private def arrayRule(dt: DataType, target: Column)(f: (DataType, Column) => Tiers): Tiers = dt match {
    case ArrayType(et, _) => f(et, target)
    case _                => passes
  }

  /** Key count of an object: non-null fields for a (static) struct,
    * `size(map_keys(m))` for a dynamic map. */
  private def objectCount(dt: DataType, t: Target)(f: Column => Tiers): Tiers = dt match {
    case st: StructType => f(st.fields.map(fld => t.field(fld.name).isNotNull.cast(IntegerType): Column)
      .reduceOption(_ + _).getOrElse(lit(0)))
    case _: MapType     => f(size(map_keys(t.value)))
    case _              => passes
  }

  /** Driver-side evaluation of a string rule against a constant (struct
    * field names are static, so `propertyNames` resolves at compile time —
    * the mirror of the reference's runtime key loop, Draft6.pm:111-122). */
  private def evalStaticString(rule: Rule, s: String, ctx: Ctx): Boolean = {
    import Rule._
    rule match {
      case Always => true
      case Never => false
      case All(rs) => rs.forall(evalStaticString(_, s, ctx))
      case AllOf(rs) => rs.forall(evalStaticString(_, s, ctx))
      case AnyOf(rs) => rs.exists(evalStaticString(_, s, ctx))
      case OneOf(rs) => rs.count(evalStaticString(_, s, ctx)) == 1
      case Not(r) => !evalStaticString(r, s, ctx)
      case TypeIs(ts) => ts.contains("string")
      case Pattern(p) => java.util.regex.Pattern.compile(p).matcher(s).find()
      case MinLength(n) => s.codePointCount(0, s.length) >= n
      case MaxLength(n) => s.codePointCount(0, s.length) <= n
      case Enum(vs) => vs.contains(JStr(s))
      case Const(v) => v == JStr(s)
      case _ => true
    }
  }

  /** `type` keyword. Static DataType decides conformance; only null-ness and
    * integer-on-fractional remain runtime (reference Util.pm:58-72 +
    * Schema.pm:684-692 integer check). Union types use the reference's
    * combined message `Expected a/b - got c.` (Schema.pm:450-470). */
  private def compileType(types: Seq[String], dt: DataType, t: Target, path: Column): Tiers = {
    val target = t.value
    val staticT = jsonTypeOf(dt)
    val allowsNull = types.contains("null")
    val want = types.mkString("/")
    val direct = types.contains(staticT) || (staticT == "integer" && types.contains("number"))

    // the reference's data_type reports "integer" only when a candidate
    // schema asks for it; otherwise integral values are "number"
    // (Util.pm:66-69 — pinned by t/issue-22: "Expected string - got number.")
    val gotName = if (staticT == "integer" && !types.contains("integer")) "number" else staticT
    def gotCol: Column = when(t.isNull, lit("null")).otherwise(lit(gotName))

    val matchesNonNull: Column =
      if (direct) lit(true)
      else if (staticT == "number" && types.contains("integer"))
        target === floor(target) // fractional column holding a whole value
      else lit(false)

    val ok = if (t.root) matchesNonNull else when(target.isNull, lit(allowsNull)).otherwise(matchesNonNull)
    val category = if (types == Seq("null")) "null" else want
    def message =
      if (types == Seq("null")) lit(Messages.render("null.type"))
      else concat(lit(s"Expected $want - got "), gotCol, lit("."))
    // conformance decided at compile time: nothing to evaluate per row
    if (direct && (allowsNull || t.root)) passes
    else unless(ok, one(mkErr(path, "type", lit(category), message,
      when(t.isNull, lit("null")).otherwise(observedOf(target, dt)))))
  }

  /** Conjunction of keywords from one schema object: type errors suppress the
    * value-keyword errors (reference Schema.pm:410 `return @errors if
    * @errors` after type dispatch). */
  private def compileAll(rules: Seq[Rule], dt: DataType, t: Target, path: Column, ctx: Ctx): Tiers = {
    import Rule._
    val (typeRules, rest0)   = rules.partition(_.isInstanceOf[TypeIs])
    val (constEnum, rest)    = rest0.partition(r => r.isInstanceOf[Const] || r.isInstanceOf[Enum])
    // dispatcher order: type errors first; if none, value keywords;
    // const/enum only after everything else passed (Schema.pm:401-419).
    // Each gate reads the earlier group's pass tier, so no group's errors
    // are inlined twice.
    Seq(typeRules, rest, constEnum).filter(_.nonEmpty)
      .map(rs => conj(rs.map(compileAt(_, dt, t, path, ctx))))
      .reduceRightOption { (first, later) =>
        new Tiers(first.pass && later.pass, when(first.pass, later.errs).otherwise(first.errs))
      }
      .getOrElse(passes)
  }

  /** Shared allOf/anyOf machinery incl. message prefixing and the same-path
    * type-error collapse (Schema.pm:422-496, Util.pm:116-130). */
  private def combinator(kind: String, rules: Seq[Rule], dt: DataType, t: Target,
      path: Column, ctx: Ctx, requireAll: Boolean): Tiers = {
    val branches = rules.map(compileAt(_, dt, t, path, ctx))
    def failed = collapseTypeErrors(kind,
      concat(branches.zipWithIndex.map { case (b, i) => prefixErrors(kind, i, b.errs) }: _*),
      path, t, dt)
    if (branches.isEmpty) passes
    else if (requireAll) new Tiers(branches.map(_.pass).reduce(_ && _), failed)
    else unless(branches.map(_.pass).reduce(_ || _), failed)
  }

  private def compileOneOf(rules: Seq[Rule], dt: DataType, t: Target, path: Column, ctx: Ctx): Tiers =
    if (rules.isEmpty) passes
    else {
      val target = t.value
      val branches  = rules.map(compileAt(_, dt, t, path, ctx)).zipWithIndex
      val passCount = branches.map { case (b, _) => b.pass.cast(IntegerType) }.reduce(_ + _)
      def passedIdx = array_join(
        filter(array(branches.map { case (b, i) => when(b.pass, lit(i.toString)) }: _*),
          x => x.isNotNull), ", ")
      def failAll = collapseTypeErrors("oneOf",
        concat(branches.map { case (b, i) => prefixErrors("oneOf", i, b.errs) }: _*), path, t, dt)
      val pass = passCount === 1
      new Tiers(pass, when(pass, noErrors)
        .when(passCount === rules.length,
          one(mkErr(path, "all_rules_match", lit("oneOf"),
            lit(Messages.render("oneOf.all_rules_match")), observedOf(target, dt))))
        .when(passCount > 1,
          one(mkErr(path, "n_rules_match", lit("oneOf"),
            concat(lit("oneOf rules "), passedIdx, lit(" match.")), observedOf(target, dt))))
        .otherwise(failAll))
    }

  /** `/kind/<i> ` message prefix; a sub-message already starting with a path
    * gets joined without the space (the reference's `s!(\d+)\s/!$1/!g`
    * fix-up, Util.pm:123-124). */
  private def prefixErrors(kind: String, index: Int, errs: Column): Column =
    transform(errs, e => struct(
      e.getField("path").as("path"),
      e.getField("rule_id").as("rule_id"),
      e.getField("category").as("category"),
      concat(lit(s"/$kind/$index"),
        when(e.getField("message").startsWith("/"), e.getField("message"))
          .otherwise(concat(lit(" "), e.getField("message")))).as("message"),
      e.getField("observed").as("observed")))

  /** When a combinator fails with ≥2 errors that are all `type` errors at the
    * base path, collapse them into one combined error
    * `/allOf Expected a/b - got c.` (Schema.pm:438-447). */
  private def collapseTypeErrors(kind: String, errs: Column, path: Column, t: Target, dt: DataType): Column = {
    val nonType = exists(errs, e => e.getField("rule_id") =!= "type" || e.getField("path") =!= path)
    val wantTypes = array_join(array_distinct(transform(errs, e => e.getField("category"))), "/")
    val got = when(t.isNull, lit("null")).otherwise(lit(jsonTypeOf(dt)))
    when(size(errs) >= 2 && !nonType,
      one(mkErr(path, "type", lit(kind),
        concat(lit(s"/$kind Expected "), wantTypes, lit(" - got "), got, lit(".")),
        when(t.isNull, lit("null")).otherwise(observedOf(t.value, dt)))))
      .otherwise(errs)
  }
}
