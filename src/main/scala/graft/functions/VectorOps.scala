package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native dot product over two numeric arrays — the engine's hot-loop
  * Catalyst expression (SURVEY.md §4 "custom pieces": preference order puts
  * a codegen'd `Expression` above any UDF, and higher-order-function folds
  * are interpreted — a measured 5× tax on the pairwise-cosine paths, repo
  * pitfall list #5).
  *
  * Semantics are IDENTICAL to the HOF form it replaces
  * (`aggregate(zip_with(a, b, (x, y) => x.cast(double) * y.cast(double)),
  * 0.0, (acc, v) => acc + v)`), bit for bit:
  *
  *  - left-to-right summation in array order (same IEEE-754 fold, so every
  *    DuckDB oracle that replicates the fold stays hash-green);
  *  - NULL input, length mismatch (zip_with's null-pad poisons the fold) or
  *    NULL element → NULL result;
  *  - empty arrays → 0.0 (the fold's init).
  *
  * Whole-stage codegen emits a tight primitive loop (`getFloat`/`getDouble`
  * straight off the columnar `ArrayData`, no per-element lambda dispatch);
  * the interpreted `eval` matches it exactly for non-codegen contexts.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case other            => other // rejected by checkInputDataTypes
  }

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(a: NumericType, _), ArrayType(b: NumericType, _)) =>
      val _ = (a, b); TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_dot needs two numeric arrays, got ${l.sql} and ${r.sql}")
  }

  private def getter(et: DataType): (ArrayData, Int) => Double = et match {
    case FloatType   => (a, i) => a.getFloat(i).toDouble
    case DoubleType  => (a, i) => a.getDouble(i)
    case ByteType    => (a, i) => a.getByte(i).toDouble
    case ShortType   => (a, i) => a.getShort(i).toDouble
    case IntegerType => (a, i) => a.getInt(i).toDouble
    case LongType    => (a, i) => a.getLong(i).toDouble
    case other       => throw new IllegalStateException(s"unsupported element type $other")
  }

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    val ad = a.asInstanceOf[ArrayData]
    val bd = b.asInstanceOf[ArrayData]
    val n = ad.numElements()
    if (n != bd.numElements()) return null
    val ga = getter(elemType(left))
    val gb = getter(elemType(right))
    var s = 0.0
    var i = 0
    while (i < n) {
      if (ad.isNullAt(i) || bd.isNullAt(i)) return null
      s += ga(ad, i) * gb(bd, i)
      i += 1
    }
    s
  }

  private def genGet(et: DataType, arr: String, i: String): String = et match {
    case FloatType   => s"$arr.getFloat($i)"
    case DoubleType  => s"$arr.getDouble($i)"
    case ByteType    => s"$arr.getByte($i)"
    case ShortType   => s"$arr.getShort($i)"
    case IntegerType => s"$arr.getInt($i)"
    case LongType    => s"$arr.getLong($i)"
    case other       => throw new IllegalStateException(s"unsupported element type $other")
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lg = left.genCode(ctx)
    val rg = right.genCode(ctx)
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    val aGet = genGet(elemType(left), lg.value.toString, i)
    val bGet = genGet(elemType(right), rg.value.toString, i)
    ev.copy(code =
      code"""
        ${lg.code}
        ${rg.code}
        boolean ${ev.isNull} = ${lg.isNull} || ${rg.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          int $n = ${lg.value}.numElements();
          if ($n != ${rg.value}.numElements()) {
            ${ev.isNull} = true;
          } else {
            for (int $i = 0; $i < $n; $i++) {
              if (${lg.value}.isNullAt($i) || ${rg.value}.isNullAt($i)) { ${ev.isNull} = true; break; }
              ${ev.value} += ((double)(${aGet})) * ((double)(${bGet}));
            }
          }
        }""")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_dot"
}

object VectorOps {

  /** Expression-list constructor of the [[graft.GraftExtensions]]
    * injection. */
  def fromExpressions(exprs: Seq[Expression]): DotProduct =
    DotProduct(exprs(0), exprs(1))

  /** Column form of `graft_dot` (injected by [[graft.GraftExtensions]]). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)
}
