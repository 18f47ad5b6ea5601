package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Fused MinHash over the k-term shingle windows of one row:
  * `minhash_terms(terms, k, numHashes, family)` → `array<bigint>` of
  * `numHashes` per-seed minima, or NULL when the row has no shingle.
  *
  * `terms` is `array<int>` (token ids, rendered as decimal) or
  * `array<string>` (words, UTF-8). Shingle i is `"t_i t_{i+1} … t_{i+k-1}"`;
  * a window holding a NULL term is skipped. Per seed j, the hash is
  * bit-identical to the column-expression families it replaces:
  *
  *  - `xxhash64`: `xxhash64(lit(j), shingle)`;
  *  - `md5`: [[PortableHash.md5Window32]]`(shingle, j / 4, j % 4)` — one
  *    md5 of `"g:" ‖ shingle` per group of four seeds.
  *
  * A min over the shingle SET equals the min over its windows, so no
  * distinct pass is needed. The interpreted `eval` and the generated code
  * share one [[MinHashKernel]] (one per task), whose byte buffer is reused
  * across rows: no per-shingle string, array or lambda dispatch. */
case class MinHashTerms(child: Expression, k: Int, numHashes: Int, family: String)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  private def intTerms: Boolean = child.dataType match {
    case ArrayType(IntegerType, _) => true
    case _                         => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType | StringType, _) if k >= 1 && numHashes >= 1 &&
        MinHashTerms.Families.contains(family) =>
      TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(s"minhash_terms needs array<int> or array<string> terms, " +
        s"k >= 1, numHashes >= 1 and family in ${MinHashTerms.Families.mkString("/")}; " +
        s"got ${t.sql}, k=$k, numHashes=$numHashes, family=$family")
  }

  @transient private lazy val kernel = new MinHashKernel(k, numHashes, family == "md5", intTerms)

  override protected def nullSafeEval(input: Any): Any = kernel(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[MinHashKernel].getName
    val kv = ctx.addMutableState(cls, "minhashKernel",
      v => s"$v = new $cls($k, $numHashes, ${family == "md5"}, $intTerms);")
    nullSafeCodeGen(ctx, ev, arr =>
      s"""
        ${ev.value} = $kv.apply($arr);
        ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashTerms =
    copy(child = newChild)
  override def prettyName: String = "minhash_terms"
}

/** The per-task state of [[MinHashTerms]]: renders a row's terms once into
  * a reused buffer as `"t_0 t_1 … t_{n-1} "`, so every shingle window is a
  * contiguous byte range of it, then folds each window's hashes into the
  * per-seed minima. */
final class MinHashKernel(k: Int, numHashes: Int, md5: Boolean, intTerms: Boolean) {
  private var buf = new Array[Byte](256)
  private var starts = new Array[Int](64)
  private var ends = new Array[Int](64)
  private val mins = new Array[Long](numHashes)
  private val digits = new Array[Byte](11)

  // xxhash64(lit(j), s) first folds the int seed into Spark's default 42
  private val xxSeeds = Array.tabulate(numHashes)(j => XXH64.hashInt(j, 42L))
  private val groups = (numHashes + 3) / 4
  private val prefixes = Array.tabulate(groups)(PortableHash.groupPrefix)
  private val md = if (md5) MessageDigest.getInstance("MD5") else null
  private val digest = new Array[Byte](16)

  private def reserve(extra: Int, pos: Int): Unit =
    if (pos + extra > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, pos + extra))

  /** Writes `v` in decimal at `pos`; returns the end offset. */
  private def writeInt(v: Int, pos0: Int): Int = {
    reserve(12, pos0)
    var pos = pos0
    var x = v.toLong
    if (x < 0) { buf(pos) = '-'; pos += 1; x = -x }
    var n = 0
    while ({ digits(n) = ('0' + (x % 10)).toByte; n += 1; x /= 10; x != 0 }) ()
    while (n > 0) { n -= 1; buf(pos) = digits(n); pos += 1 }
    pos
  }

  def apply(terms: ArrayData): ArrayData = {
    val n = terms.numElements()
    if (n < k) return null
    if (n > starts.length) {
      starts = new Array[Int](n)
      ends = new Array[Int](n)
    }
    // render; a NULL term keeps start = -1 and poisons every window over it
    var pos = 0
    var i = 0
    while (i < n) {
      if (terms.isNullAt(i)) starts(i) = -1
      else {
        starts(i) = pos
        if (intTerms) pos = writeInt(terms.getInt(i), pos)
        else {
          val s = terms.getUTF8String(i)
          reserve(s.numBytes(), pos)
          s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
          pos += s.numBytes()
        }
      }
      ends(i) = pos
      reserve(1, pos)
      buf(pos) = ' '
      pos += 1
      i += 1
    }
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    var lastNull = -1 // latest NULL term at or before the window's end
    i = 0
    while (i < n) {
      if (starts(i) < 0) lastNull = i
      val first = i - k + 1
      if (first >= 0 && lastNull < first) {
        any = true
        fold(starts(first), ends(i) - starts(first))
      }
      i += 1
    }
    if (any) UnsafeArrayData.fromPrimitiveArray(mins) else null
  }

  private def fold(off: Int, len: Int): Unit = {
    var j = 0
    if (md5) {
      var g = 0
      while (g < groups) {
        PortableHash.md5Digest(md, prefixes(g), buf, off, len, digest)
        var w = 0
        while (w < 4 && j < numHashes) {
          val h = PortableHash.window32(digest, w)
          if (h < mins(j)) mins(j) = h
          w += 1
          j += 1
        }
        g += 1
      }
    } else {
      val base = Platform.BYTE_ARRAY_OFFSET + off.toLong
      while (j < numHashes) {
        val h = XXH64.hashUnsafeBytes(buf, base, len, xxSeeds(j))
        if (h < mins(j)) mins(j) = h
        j += 1
      }
    }
  }
}

object MinHashTerms {

  val Families: Seq[String] = Seq("xxhash64", "md5")

  private def literal(e: Expression, what: String): Any = {
    require(e.foldable, s"minhash_terms: $what must be a literal, got ${e.sql}")
    e.eval()
  }

  def fromExpressions(exprs: Seq[Expression]): MinHashTerms = {
    require(exprs.size == 4, s"minhash_terms takes (terms, k, numHashes, family), got ${exprs.size} args")
    MinHashTerms(exprs(0), literal(exprs(1), "k").asInstanceOf[Int],
      literal(exprs(2), "numHashes").asInstanceOf[Int], literal(exprs(3), "family").toString)
  }

  /** Column form of `minhash_terms` (injected by [[graft.GraftExtensions]]). */
  def minhashTerms(terms: Column, k: Int, numHashes: Int, family: String): Column =
    call_function("minhash_terms", terms, lit(k), lit(numHashes), lit(family))
}
