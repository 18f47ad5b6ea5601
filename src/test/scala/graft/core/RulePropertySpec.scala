package graft.core

import graft.SparkSuite
import graft.core.Rule._
import org.apache.spark.sql.functions._
import org.scalacheck.{Arbitrary, Gen}


/** Property-based agreement between the Catalyst compiler and a slow
  * driver-side oracle interpreter (SURVEY.md §5 test plan): for random rule
  * trees and random values, the engine's pass/fail must equal the oracle's.
  * All rules for a batch are evaluated in ONE Spark job (one column per
  * rule) to keep the property test fast. */
class RulePropertySpec extends SparkSuite {
  import spark.implicits._

  // ---- oracle interpreter (pass = no errors), null-skip semantics ----
  private def passes(rule: Rule, v: Option[Long]): Boolean = rule match {
    case Always => true
    case Never  => false
    case TypeIs(types) =>
      v match {
        case None    => types.contains("null")
        case Some(_) => types.contains("integer") || types.contains("number")
      }
    case Enum(values) =>
      v.forall(x => values.exists { case JInt(i) => i == x; case JNum(d) => d == x; case _ => false })
    case Const(JNull) => v.isEmpty
    case Const(JInt(i)) => v.forall(_ == i)
    case Const(_) => v.isEmpty || false
    case Minimum(m, excl) => v.forall(x => if (excl) x > m else x >= m)
    case Maximum(m, excl) => v.forall(x => if (excl) x < m else x <= m)
    case MultipleOf(d) => v.forall(x => x % d.toLong == 0)
    case Not(r) => !passes(r, v)
    case All(rs) => rs.forall(passes(_, v))
    case AllOf(rs) => rs.forall(passes(_, v))
    case AnyOf(rs) => rs.exists(passes(_, v))
    case OneOf(rs) => rs.count(passes(_, v)) == 1
    case IfThenElse(c, t, e) =>
      if (passes(c, v)) t.forall(passes(_, v)) else e.forall(passes(_, v))
    case Nullable(r) => v.isEmpty || passes(r, v)
    // string/array/object keywords don't apply to an integer column
    case _ => true
  }

  // ---- rule generator over the integer domain ----
  private val genLeaf: Gen[Rule] = Gen.oneOf(
    Gen.const(Always),
    Gen.const(Never),
    Gen.oneOf(Seq("integer"), Seq("number"), Seq("integer", "null"), Seq("null")).map(TypeIs(_)),
    Gen.nonEmptyListOf(Gen.choose(-5L, 15L)).map(is => Enum(is.distinct.map(JInt(_)))),
    Gen.choose(-5L, 15L).map(i => Const(JInt(i))),
    Gen.const(Const(JNull)),
    Gen.zip(Gen.choose(-5.0, 15.0).map(math.floor), Arbitrary.arbBool.arbitrary).map { case (m, e) => Minimum(m, e) },
    Gen.zip(Gen.choose(-5.0, 15.0).map(math.floor), Arbitrary.arbBool.arbitrary).map { case (m, e) => Maximum(m, e) },
    Gen.choose(1L, 7L).map(d => MultipleOf(d.toDouble)))

  private def genRule(depth: Int): Gen[Rule] =
    if (depth <= 0) genLeaf
    else Gen.frequency(
      4 -> genLeaf,
      1 -> Gen.lzy(genRule(depth - 1)).map(Not(_)),
      1 -> Gen.lzy(Gen.listOfN(2, genRule(depth - 1))).map(AllOf(_)),
      1 -> Gen.lzy(Gen.listOfN(2, genRule(depth - 1))).map(AnyOf(_)),
      1 -> Gen.lzy(Gen.listOfN(3, genRule(depth - 1))).map(OneOf(_)),
      1 -> Gen.lzy(Gen.zip(genRule(depth - 1), genRule(depth - 1), genRule(depth - 1)))
        .map { case (c, t, e) => IfThenElse(c, Some(t), Some(e)) })

  // ---- string-domain oracle + generator ----
  private def passesStr(rule: Rule, v: Option[String]): Boolean = rule match {
    case Always => true
    case Never  => false
    case TypeIs(types) => v match {
      case None    => types.contains("null")
      case Some(_) => types.contains("string")
    }
    case Enum(values) => v.forall(x => values.contains(JStr(x)))
    case Const(JNull) => v.isEmpty
    case Const(JStr(s)) => v.forall(_ == s)
    case Const(_) => v.isEmpty
    case MinLength(n) => v.forall(_.length >= n)
    case MaxLength(n) => v.forall(_.length <= n)
    case Pattern(p) => v.forall(x => java.util.regex.Pattern.compile(p).matcher(x).find())
    case Not(r) => !passesStr(r, v)
    case All(rs) => rs.forall(passesStr(_, v))
    case AllOf(rs) => rs.forall(passesStr(_, v))
    case AnyOf(rs) => rs.exists(passesStr(_, v))
    case OneOf(rs) => rs.count(passesStr(_, v)) == 1
    case IfThenElse(c, t, e) =>
      if (passesStr(c, v)) t.forall(passesStr(_, v)) else e.forall(passesStr(_, v))
    case Nullable(r) => v.isEmpty || passesStr(r, v)
    case _ => true
  }

  private val genStrLeaf: Gen[Rule] = {
    val word = Gen.oneOf("a", "ab", "abc", "xyz", "hello", "", "Abc", "a1")
    Gen.oneOf(
      Gen.const(Always),
      Gen.const(Never),
      Gen.oneOf(Seq("string"), Seq("string", "null"), Seq("null"), Seq("number")).map(TypeIs(_)),
      Gen.nonEmptyListOf(word).map(ws => Enum(ws.distinct.map(JStr(_)))),
      word.map(w => Const(JStr(w))),
      Gen.choose(0, 6).map(MinLength(_)),
      Gen.choose(0, 6).map(MaxLength(_)),
      Gen.oneOf("^a", "b$", "[0-9]", "^$", "ab", "^[a-z]+$").map(Pattern(_)))
  }

  private def genStrRule(depth: Int): Gen[Rule] =
    if (depth <= 0) genStrLeaf
    else Gen.frequency(
      4 -> genStrLeaf,
      1 -> Gen.lzy(genStrRule(depth - 1)).map(Not(_)),
      1 -> Gen.lzy(Gen.listOfN(2, genStrRule(depth - 1))).map(AllOf(_)),
      1 -> Gen.lzy(Gen.listOfN(2, genStrRule(depth - 1))).map(AnyOf(_)),
      1 -> Gen.lzy(Gen.listOfN(3, genStrRule(depth - 1))).map(OneOf(_)))

  // ---- array-domain oracle + generator (elements are the integer domain) ----
  private def passesArr(rule: Rule, v: Option[Seq[Long]]): Boolean = rule match {
    case Always => true
    case Never  => false
    case TypeIs(types) => v match {
      case None    => types.contains("null")
      case Some(_) => types.contains("array")
    }
    case MinItems(n)  => v.forall(_.length >= n)
    case MaxItems(n)  => v.forall(_.length <= n)
    case UniqueItems  => v.forall(xs => xs.distinct.length == xs.length)
    case Items(sub)   => v.forall(_.forall(x => passes(sub, Some(x))))
    case TupleItems(rs, add) => v.forall { xs =>
      xs.zipWithIndex.forall { case (x, i) =>
        if (i < rs.length) passes(rs(i), Some(x))
        else add.exists(a => passes(a, Some(x))) // None = additionalItems:false
      }
    }
    // engine semantics (spec-shaped): n in [minContains getOrElse 1,
    // maxContains]; minContains=0 relaxes fully (the reference additionally
    // fails nonempty arrays where EVERY element fails even at minContains 0
    // — Draft201909.pm:82 pushes the element errors — a documented corner
    // where the engine follows the 2019-09 spec instead)
    case Contains(sub, minC, maxC) => v.forall { xs =>
      val n = xs.count(x => passes(sub, Some(x)))
      n >= minC.getOrElse(1) && maxC.forall(n <= _)
    }
    case Not(r)    => !passesArr(r, v)
    case All(rs)   => rs.forall(passesArr(_, v))
    case AllOf(rs) => rs.forall(passesArr(_, v))
    case AnyOf(rs) => rs.exists(passesArr(_, v))
    case OneOf(rs) => rs.count(passesArr(_, v)) == 1
    case IfThenElse(c, t, e) =>
      if (passesArr(c, v)) t.forall(passesArr(_, v)) else e.forall(passesArr(_, v))
    case Nullable(r) => v.isEmpty || passesArr(r, v)
    case _ => true // scalar/object keywords don't apply to an array column
  }

  private val genArrLeaf: Gen[Rule] = Gen.oneOf(
    Gen.const(Always),
    Gen.const(Never),
    Gen.oneOf(Seq("array"), Seq("array", "null"), Seq("null"), Seq("string")).map(TypeIs(_)),
    Gen.choose(0, 5).map(MinItems(_)),
    Gen.choose(0, 5).map(MaxItems(_)),
    Gen.const(UniqueItems),
    genLeaf.map(Items(_)),
    Gen.zip(Gen.listOfN(2, genLeaf), Gen.option(genLeaf)).map { case (rs, add) => TupleItems(rs, add) },
    Gen.zip(genLeaf, Gen.oneOf(None, Some(0), Some(1), Some(2)), Gen.oneOf(None, Some(1), Some(3)))
      .map { case (s, lo, hi) => Contains(s, lo, hi) })

  private def genArrRule(depth: Int): Gen[Rule] =
    if (depth <= 0) genArrLeaf
    else Gen.frequency(
      4 -> genArrLeaf,
      1 -> Gen.lzy(genArrRule(depth - 1)).map(Not(_)),
      1 -> Gen.lzy(Gen.listOfN(2, genArrRule(depth - 1))).map(AllOf(_)),
      1 -> Gen.lzy(Gen.listOfN(2, genArrRule(depth - 1))).map(AnyOf(_)),
      1 -> Gen.lzy(Gen.listOfN(3, genArrRule(depth - 1))).map(OneOf(_)))

  private val intValues: Seq[Option[Long]] = (-6L to 16L).map(Some(_)) :+ None
  private val strValues: Seq[Option[String]] =
    Seq("a", "ab", "abc", "xyz", "hello", "", "Abc", "a1", "b", "zb").map(Some(_)) :+ None
  private val arrValues: Seq[Option[Seq[Long]]] = Seq(
    Some(Seq.empty[Long]), Some(Seq(0L)), Some(Seq(2L)), Some(Seq(2L, 2L)),
    Some(Seq(1L, 2L, 3L)), Some(Seq(4L, 4L, 6L, 6L)), Some(Seq(-3L, 0L, 3L, 6L, 9L)),
    Some(Seq(7L, 7L, 7L, 7L, 7L, 7L)), None)

  /** Runs `f` with whole-stage codegen and expression codegen off, so every
    * expression takes its interpreted `eval` path. */
  private def interpreted[T](f: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      f
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** The pass tier of each rule in the same three batches as the oracle
    * test of its domain: non-NULL, equal to `size(errs) = 0` and equal to
    * the oracle, under generated code and under interpreted evaluation. */
  private def passTierAgrees[V](values: Seq[V], df: org.apache.spark.sql.DataFrame, seed: Long,
      gen: Gen[Rule], oracle: (Rule, V) => Boolean): Unit = {
    val dt = df.schema("value").dataType
    (1 to 3).foreach { batch =>
      val rules = Gen.listOfN(40, gen).apply(
        Gen.Parameters.default.withSize(10),
        org.scalacheck.rng.Seed(batch * seed)).get
      val cols = rules.zipWithIndex.flatMap { case (r, i) =>
        val t = RuleCompiler.tiers(r, dt, col("value"), lit(""))
        Seq(t.pass.as(s"p$i"), (size(t.errs) === 0).as(s"e$i"))
      }
      for ((mode, got) <- Seq("codegen" -> df.select(cols: _*).collect(),
          "interpreted" -> interpreted(df.select(cols: _*).collect()))) {
        values.zipWithIndex.foreach { case (v, vi) =>
          rules.zipWithIndex.foreach { case (r, ri) =>
            val row = got(vi)
            assert(!row.isNullAt(2 * ri), s"NULL pass tier ($mode) on value=$v rule=$r")
            val pass = row.getBoolean(2 * ri)
            assert(pass === row.getBoolean(2 * ri + 1),
              s"pass tier disagrees with size(errs) = 0 ($mode) on value=$v rule=$r")
            assert(pass === oracle(r, v), s"pass tier disagrees with the oracle ($mode) on value=$v rule=$r")
          }
        }
      }
    }
  }

  test("pass tier = size(errs) = 0 = oracle on random INTEGER rules, codegen and interpreted") {
    passTierAgrees(intValues, intValues.toDF("value").cache(), 7919L, genRule(2), passes)
  }

  test("pass tier = size(errs) = 0 = oracle on random STRING rules, codegen and interpreted") {
    passTierAgrees(strValues, strValues.toDF("value").cache(), 104729L, genStrRule(2), passesStr)
  }

  test("pass tier = size(errs) = 0 = oracle on random ARRAY rules, codegen and interpreted") {
    passTierAgrees(arrValues, arrValues.toDF("value").cache(), 15485863L, genArrRule(2), passesArr)
  }

  test("compiler agrees with the oracle on random ARRAY rules × values") {
    val values: Seq[Option[Seq[Long]]] = Seq(
      Some(Seq.empty[Long]), Some(Seq(0L)), Some(Seq(2L)), Some(Seq(2L, 2L)),
      Some(Seq(1L, 2L, 3L)), Some(Seq(4L, 4L, 6L, 6L)), Some(Seq(-3L, 0L, 3L, 6L, 9L)),
      Some(Seq(7L, 7L, 7L, 7L, 7L, 7L)), None)
    val df = values.toDF("value").cache()
    val dt = df.schema("value").dataType
    (1 to 3).foreach { batch =>
      val rules = Gen.listOfN(40, genArrRule(2)).apply(
        Gen.Parameters.default.withSize(10),
        org.scalacheck.rng.Seed(batch * 15485863L)).get
      val cols = rules.zipWithIndex.map { case (r, i) =>
        (size(RuleCompiler.compile(r, dt, col("value"), lit(""))) === 0).as(s"r$i")
      }
      val got = df.select(cols: _*).collect()
      values.zipWithIndex.foreach { case (v, vi) =>
        rules.zipWithIndex.foreach { case (r, ri) =>
          assert(got(vi).getBoolean(ri) === passesArr(r, v),
            s"disagreement on value=$v rule=$r")
        }
      }
    }
  }

  test("compiler agrees with the oracle on random STRING rules × values") {
    val values: Seq[Option[String]] =
      Seq("a", "ab", "abc", "xyz", "hello", "", "Abc", "a1", "b", "zb").map(Some(_)) :+ None
    val df = values.toDF("value").cache()
    val dt = df.schema("value").dataType
    (1 to 3).foreach { batch =>
      val rules = Gen.listOfN(40, genStrRule(2)).apply(
        Gen.Parameters.default.withSize(10),
        org.scalacheck.rng.Seed(batch * 104729L)).get
      val cols = rules.zipWithIndex.map { case (r, i) =>
        (size(RuleCompiler.compile(r, dt, col("value"), lit(""))) === 0).as(s"r$i")
      }
      val got = df.select(cols: _*).collect()
      values.zipWithIndex.foreach { case (v, vi) =>
        rules.zipWithIndex.foreach { case (r, ri) =>
          assert(got(vi).getBoolean(ri) === passesStr(r, v),
            s"disagreement on value=$v rule=$r")
        }
      }
    }
  }

  test("compiler agrees with the oracle interpreter on random rules × values") {
    val values: Seq[Option[Long]] = (-6L to 16L).map(Some(_)) :+ None
    val df = values.toDF("value").cache()
    val dt = df.schema("value").dataType

    // 3 batches × 40 rules — each batch is one Spark job
    (1 to 3).foreach { batch =>
      val rules = Gen.listOfN(40, genRule(2)).apply(
        Gen.Parameters.default.withSize(10),
        org.scalacheck.rng.Seed(batch * 7919L)).get
      val cols = rules.zipWithIndex.map { case (r, i) =>
        (size(RuleCompiler.compile(r, dt, col("value"), lit(""))) === 0).as(s"r$i")
      }
      val got = df.select(cols: _*).collect()
      values.zipWithIndex.foreach { case (v, vi) =>
        rules.zipWithIndex.foreach { case (r, ri) =>
          val engine = got(vi).getBoolean(ri)
          val oracle = passes(r, v)
          assert(engine === oracle,
            s"disagreement on value=$v rule=$r (engine=$engine oracle=$oracle)")
        }
      }
    }
  }
}
