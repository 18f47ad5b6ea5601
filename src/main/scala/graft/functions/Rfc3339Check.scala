package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** RFC3339 format check: `rfc3339_check(s, kind)` → boolean (true = valid),
  * NULL on NULL, for `kind` in `date`, `time`, `date-time`.
  *
  * One pass over the string's UTF-8 bytes in [[Rfc3339Kernel]]: no
  * `toString`, no regex, no timestamp parser. The interpreted `eval` and the
  * generated code call the same kernel method. The accepted language is
  * spelled out on [[Formats]]. */
case class Rfc3339Check(child: Expression, kind: String) extends UnaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType if Rfc3339Kernel.Kinds.contains(kind) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"rfc3339_check needs a string and a kind in " +
      s"${Rfc3339Kernel.Kinds.keys.mkString("/")}; got ${t.sql}, kind=$kind")
  }

  @transient private lazy val test: UTF8String => Boolean = kind match {
    case "date" => Rfc3339Kernel.date
    case "time" => Rfc3339Kernel.time
    case _      => Rfc3339Kernel.dateTime
  }

  override protected def nullSafeEval(input: Any): Any = test(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = Rfc3339Kernel.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, s => s"$kernel.${Rfc3339Kernel.Kinds(kind)}($s)")
  }

  override protected def withNewChildInternal(newChild: Expression): Rfc3339Check =
    copy(child = newChild)
  override def prettyName: String = "rfc3339_check"
}

/** The byte-level checks behind [[Rfc3339Check]], one per kind, for the
  * language spelled out on [[Formats]]: `\d` is ASCII 0-9 only, and
  * `date-time` / `time` accept ONE final line terminator, as
  * java.util.regex's `$` does. */
object Rfc3339Kernel {

  /** kind → kernel method name, for the generated code. */
  val Kinds: Map[String, String] = Map("date" -> "date", "time" -> "time", "date-time" -> "dateTime")

  /** `yyyy-mm-dd`, a real proleptic-Gregorian date (year 0000 included);
    * a trailing line terminator is rejected. */
  def date(s: UTF8String): Boolean =
    s.numBytes == 10 && fullDate(s.getBaseObject, s.getBaseOffset)

  /** `hh:mm:ss(.f+)?` with hh ≤ 23, mm ≤ 59, ss ≤ 60, then an optional
    * `Z`/`z` or `[+-]\d+:\d+` offset whose digits are not range-checked. */
  def time(s: UTF8String): Boolean = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val end = bodyEnd(base, off, s.numBytes)
    end >= 8 && clock(base, off) && zone(base, off, 8, end, boundedOffset = false)
  }

  /** `full-date [Tt ] time`, whose offset must be `[+-]hh:mm` with
    * hh ≤ 23 and mm ≤ 59. */
  def dateTime(s: UTF8String): Boolean = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val end = bodyEnd(base, off, s.numBytes)
    end >= 19 && fullDate(base, off) && {
      val t = byte(base, off + 10)
      t == 'T' || t == 't' || t == ' '
    } && clock(base, off + 11) && zone(base, off, 19, end, boundedOffset = true)
  }

  @inline private def byte(base: AnyRef, at: Long): Int = Platform.getByte(base, at) & 0xff

  @inline private def isDigit(b: Int): Boolean = b >= '0' && b <= '9'

  /** Two ASCII digits at `at` as a number, or -1. */
  private def twoDigits(base: AnyRef, at: Long): Int = {
    val hi = byte(base, at)
    val lo = byte(base, at + 1)
    if (isDigit(hi) && isDigit(lo)) (hi - '0') * 10 + (lo - '0') else -1
  }

  /** Length of `n` bytes without ONE final line terminator: `\n`, `\r\n`,
    * `\r`, U+0085, U+2028 or U+2029. */
  private def bodyEnd(base: AnyRef, off: Long, n: Int): Int =
    if (n == 0) 0
    else byte(base, off + n - 1) match {
      case '\n' => if (n >= 2 && byte(base, off + n - 2) == '\r') n - 2 else n - 1
      case '\r' => n - 1
      case 0x85 if n >= 2 && byte(base, off + n - 2) == 0xc2 => n - 2
      case 0xa8 | 0xa9 if n >= 3 && byte(base, off + n - 3) == 0xe2 && byte(base, off + n - 2) == 0x80 =>
        n - 3
      case _ => n
    }

  /** `yyyy-mm-dd` at `at` (10 bytes, the caller checked the length). */
  private def fullDate(base: AnyRef, at: Long): Boolean = {
    val yHi = twoDigits(base, at)
    val yLo = twoDigits(base, at + 2)
    val m = twoDigits(base, at + 5)
    val d = twoDigits(base, at + 8)
    yHi >= 0 && yLo >= 0 && byte(base, at + 4) == '-' && byte(base, at + 7) == '-' &&
      m >= 1 && m <= 12 && d >= 1 && d <= daysInMonth(yHi * 100 + yLo, m)
  }

  private def daysInMonth(year: Int, month: Int): Int = month match {
    case 2              => if (year % 4 == 0 && (year % 100 != 0 || year % 400 == 0)) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _              => 31
  }

  /** `hh:mm:ss` at `at` (8 bytes, the caller checked the length); a leap
    * second (ss = 60) passes. */
  private def clock(base: AnyRef, at: Long): Boolean = {
    val h = twoDigits(base, at)
    val m = twoDigits(base, at + 3)
    val s = twoDigits(base, at + 6)
    byte(base, at + 2) == ':' && byte(base, at + 5) == ':' &&
      h >= 0 && h <= 23 && m >= 0 && m <= 59 && s >= 0 && s <= 60
  }

  /** Bytes `[from, end)` after the seconds: `(.\d+)?` then `Z`, `z`, an
    * offset or nothing. `boundedOffset` means `[+-]hh:mm` with hh ≤ 23 and
    * mm ≤ 59; otherwise `[+-]\d+:\d+`. */
  private def zone(base: AnyRef, off: Long, from: Int, end: Int, boundedOffset: Boolean): Boolean = {
    var p = from
    if (p < end && byte(base, off + p) == '.') {
      p = digits(base, off, p + 1, end)
      if (p < 0) return false
    }
    if (p == end) return true
    byte(base, off + p) match {
      case 'Z' | 'z' => p + 1 == end
      case '+' | '-' if boundedOffset =>
        end - p == 6 && byte(base, off + p + 3) == ':' && {
          val h = twoDigits(base, off + p + 1)
          val m = twoDigits(base, off + p + 4)
          h >= 0 && h <= 23 && m >= 0 && m <= 59
        }
      case '+' | '-' =>
        val colon = digits(base, off, p + 1, end)
        colon >= 0 && colon < end && byte(base, off + colon) == ':' &&
          digits(base, off, colon + 1, end) == end
      case _ => false
    }
  }

  /** End of the run of ≥ 1 ASCII digits starting at `from`, or -1. */
  private def digits(base: AnyRef, off: Long, from: Int, end: Int): Int = {
    var p = from
    while (p < end && isDigit(byte(base, off + p))) p += 1
    if (p == from) -1 else p
  }
}

object Rfc3339Check {

  def fromExpressions(exprs: Seq[Expression]): Rfc3339Check = {
    require(exprs.size == 2, s"rfc3339_check takes (s, kind), got ${exprs.size} args")
    require(exprs(1).foldable, s"rfc3339_check: kind must be a literal, got ${exprs(1).sql}")
    Rfc3339Check(exprs(0), String.valueOf(exprs(1).eval()))
  }

  /** Column form of `rfc3339_check` (injected by [[graft.GraftExtensions]]). */
  def rfc3339Check(s: Column, kind: String): Column =
    call_function("rfc3339_check", s, lit(kind))
}
