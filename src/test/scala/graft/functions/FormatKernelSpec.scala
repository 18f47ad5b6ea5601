package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference: the regex composites that `Formats.date`, `dateTime`
  * and `time` were before the kernel, verbatim. */
private object RegexFormats {
  private def re(c: Column, p: String): Column = c.rlike(p)

  def date(c: Column): Column =
    re(c, "^\\d{4}-\\d\\d-\\d\\d$") && try_to_timestamp(c, lit("yyyy-MM-dd")).isNotNull

  def dateTime(c: Column): Column = {
    val p = "^(\\d{4})-(\\d\\d)-(\\d\\d)[Tt ](\\d\\d):(\\d\\d):(\\d\\d)(\\.\\d+)?([Zz]|[+-]\\d\\d:\\d\\d)?$"
    val shape = re(c, p)
    val datePart  = regexp_extract(c, p, 1) |+| "-" |+| regexp_extract(c, p, 2) |+| "-" |+| regexp_extract(c, p, 3)
    val hh        = regexp_extract(c, p, 4)
    val mm        = regexp_extract(c, p, 5)
    val ss        = regexp_extract(c, p, 6)
    val offOk     = !re(c, "[+-](2[4-9]|[3-9]\\d):\\d\\d$") && !re(c, "[+-]\\d\\d:(6\\d|[7-9]\\d)$")
    shape && offOk &&
      try_to_timestamp(datePart, lit("yyyy-MM-dd")).isNotNull &&
      (hh < lit("24")) && (mm < lit("60")) && (ss <= lit("60")) // leap second allowed like timegm
  }

  private implicit class ConcatOps(val c: Column) extends AnyVal {
    def |+|(other: Column): Column = concat(c, other)
    def |+|(s: String): Column = concat(c, lit(s))
  }

  def time(c: Column): Column = {
    val p = "^(\\d\\d):(\\d\\d):(\\d\\d)(\\.\\d+)?([Zz]|[+-]\\d+:\\d+)?$"
    re(c, p) && regexp_extract(c, p, 1) < lit("24") &&
      regexp_extract(c, p, 2) < lit("60") && regexp_extract(c, p, 3) <= lit("60")
  }
}

/** The `rfc3339_check` kernel behind `Formats.date`, `time` and `dateTime`
  * must accept exactly what the regex composites it replaced accepted —
  * the line-terminator, non-ASCII-digit, calendar and bound quirks
  * included — on NULL, on a seeded corpus of mutated strings and on pinned
  * cases; and its interpreted eval must equal its generated code. */
class FormatKernelSpec extends SparkSuite {
  import spark.implicits._

  private val kinds: Seq[(String, Column => Column, Column => Column)] = Seq(
    ("date", RegexFormats.date, Formats.date),
    ("time", RegexFormats.time, Formats.time),
    ("date-time", RegexFormats.dateTime, Formats.dateTime))

  private val terminators = Seq("\n", "\r\n", "\r", "\u0085", "\u2028", "\u2029")
  private val alphabet: IndexedSeq[String] =
    ("0123456789".map(_.toString) ++ Seq("\u0663", "\uff13") ++ "-:.Tt Zz+ ".map(_.toString) ++
      terminators).toIndexedSeq

  private val templates = Seq(
    "2024-02-29T23:59:60.123+05:30", "0000-01-01t00:00:00Z", "1999-12-31 10:20:30-23:59",
    "1900-02-28T12:00:00.5z", "2023-06-15", "2000-02-29", "10:00:00.5Z", "23:59:60+99:99",
    "00:00:00-5:3", "12:34:56")

  /** ≥ 100k strings: templates with a quarter of their digits redrawn (calendar and bound
    * coverage), templates under 1-3 random edits from the alphabet, and
    * free strings over the alphabet. */
  private lazy val corpus: DataFrame = {
    val rng = new scala.util.Random(20181)
    def pick = alphabet(rng.nextInt(alphabet.size))
    def reDigit(t: String) =
      t.map(ch => if (ch.isDigit && rng.nextInt(4) == 0) ('0' + rng.nextInt(10)).toChar else ch)
    def edit(s: String): String = {
      val at = if (s.isEmpty) 0 else rng.nextInt(s.length + 1)
      rng.nextInt(5) match {
        case 0 => s.take(at) + pick + s.drop(at)                // insert
        case 1 => s.take(at) + pick + s.drop(at + 1)            // replace
        case 2 => s.take(at) + s.drop(at + 1)                   // delete
        case 3 => s + terminators(rng.nextInt(terminators.size)) // trailing terminator
        case _ => s.take(at)                                    // truncate
      }
    }
    val shaped = Seq.fill(60000)(reDigit(templates(rng.nextInt(templates.size))))
    val edited = Seq.fill(40000) {
      Iterator.iterate(templates(rng.nextInt(templates.size)))(edit).drop(1 + rng.nextInt(3)).next()
    }
    val free = Seq.fill(20000)(Seq.fill(rng.nextInt(32))(pick).mkString)
    val all = shaped ++ edited ++ free
    // parquet, not a local relation: the optimizer would fold a projection
    // over local rows in interpreted mode and the generated code never run
    val path = java.nio.file.Files.createTempDirectory("format-kernel").resolve("corpus").toString
    all.zipWithIndex.map(_.swap).toDF("id", "s").write.parquet(path)
    spark.read.parquet(path)
  }

  test("kernel equals the regex composites on a seeded 120k-string corpus") {
    val df = corpus
    assert(df.count() >= 100000L)
    for ((kind, ref, kernel) <- kinds) {
      val bad = df.where(!(ref(col("s")) <=> kernel(col("s"))))
        .select(col("s"), ref(col("s")).as("ref"), kernel(col("s")).as("kernel"))
      val examples = bad.limit(10).collect().map(r => (r.getString(0), r.get(1), r.get(2)))
      assert(examples.isEmpty, s"$kind mismatches (s, ref, kernel): ${examples.mkString("; ")}")
    }
    // the corpus really exercises both answers of every kind
    val accepted = df.select(kinds.map { case (k, _, kernel) =>
      sum(kernel(col("s")).cast("int")).as(k) }: _*).head()
    kinds.indices.foreach(i => assert(accepted.getLong(i) > 1000L, kinds(i)._1))
  }

  test("pinned cases: terminators, calendar, bounds, offsets, empty fraction, NULL") {
    val dt = "2024-01-01T10:00:00Z"
    val pinned: Seq[(String, String, Any)] =
      terminators.flatMap(t => Seq(
        (dt + t, "date-time", true), ("10:00:00" + t, "time", true), ("2024-01-01" + t, "date", false))) ++
      Seq(
        (dt + "\n\n", "date-time", false), ("10:00:00\n\n", "time", false), (dt + "\n\r", "date-time", false),
        (dt + "\r\r\n", "date-time", false),
        ("0000-01-01", "date", true), ("1900-02-29", "date", false), ("2000-02-29", "date", true),
        ("2024-02-29", "date", true), ("2023-02-29", "date", false), ("2024-04-31", "date", false),
        ("2024-00-10", "date", false), ("2024-13-10", "date", false), ("2024-01-00", "date", false),
        ("0000-02-29T00:00:00Z", "date-time", true), ("1900-02-29T00:00:00Z", "date-time", false),
        ("2024-01-01T24:00:00Z", "date-time", false), ("2024-01-01T23:59:60Z", "date-time", true),
        ("2024-01-01T23:60:00Z", "date-time", false), ("2024-01-01T23:59:61Z", "date-time", false),
        ("24:00:00", "time", false), ("23:59:60", "time", true), ("23:59:61", "time", false),
        ("2024-01-01T10:00:00+24:00", "date-time", false), ("2024-01-01T10:00:00-24:00", "date-time", false),
        ("2024-01-01T10:00:00+05:60", "date-time", false), ("2024-01-01T10:00:00-05:60", "date-time", false),
        ("2024-01-01T10:00:00+23:59", "date-time", true), ("2024-01-01t10:00:00.000001-00:00", "date-time", true),
        ("2024-01-01 10:00:00", "date-time", true), ("2024-01-01T10:00:00+5:30", "date-time", false),
        ("10:00:00+99:99", "time", true), ("10:00:00+5:3", "time", true), ("10:00:00+5:", "time", false),
        ("10:00:00.Z", "time", false), ("2024-01-01T10:00:00.Z", "date-time", false),
        ("10:00:00.", "time", false), ("10:00:00.123z", "time", true),
        ("\uff12\uff10\uff12\uff14-01-01", "date", false), ("2024-01-0\u0663", "date", false),
        ("1\u0663:00:00", "time", false), ("", "date", false), ("", "time", false), ("", "date-time", false),
        (" 2024-01-01", "date", false), ("2024-01-01T10:00:00", "date", false))
    val df = (pinned.map { case (s, kind, _) => (s, kind) } ++ kinds.map(k => (null, k._1)))
      .toDF("s", "kind").repartition(2)
    val got = df.select(col("s") +: col("kind") +: kinds.flatMap { case (k, ref, kernel) =>
      Seq(ref(col("s")).as(s"ref_$k"), kernel(col("s")).as(s"kernel_$k")) }: _*).collect()
    for ((s, kind, want) <- pinned) {
      val row = got.find(r => r.getString(0) == s && r.getString(1) == kind).get
      val (ref, kernel) = (row.getAs[Any](s"ref_$kind"), row.getAs[Any](s"kernel_$kind"))
      assert(ref === want, s"reference on ${String.valueOf(s).flatMap(escape)} as $kind")
      assert(kernel === want, s"kernel on ${String.valueOf(s).flatMap(escape)} as $kind")
    }
    // NULL gives NULL for every kind. The composites' `isNotNull` conjunct
    // made `date` and `date-time` answer false instead; no validation result
    // can differ, because the rule compiler passes a NULL value before it
    // consults the format
    val nulls = got.filter(_.isNullAt(0))
    assert(nulls.length === kinds.size)
    for (r <- nulls; (k, _, _) <- kinds) {
      assert(r.isNullAt(r.fieldIndex(s"kernel_$k")), s"kernel on NULL as $k")
      assert(r.getAs[Any](s"ref_$k") === (if (k == "time") null else false), s"reference on NULL as $k")
    }
  }

  private def escape(c: Char): String =
    if (c < 0x20 || c > 0x7e) f"\\u${c.toInt}%04x" else c.toString

  test("interpreted eval equals the generated code") {
    def verdicts(): Seq[(Int, Seq[Any])] = corpus.select(col("id") +: kinds.map {
      case (k, _, kernel) => kernel(col("s")).as(k) }: _*)
      .collect().map(r => (r.getInt(0), kinds.indices.map(i => r.get(i + 1)))).sortBy(_._1).toSeq
    val codegen = verdicts()
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      assert(verdicts() === codegen)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("SQL form: rfc3339_check(s, kind) and its argument checks") {
    val df = Seq("2024-02-29", "2023-02-29", "10:00:00Z").toDF("s").repartition(1)
    assert(df.selectExpr("rfc3339_check(s, 'date')").as[Boolean].collect().toSeq ===
      df.select(Formats.date(col("s"))).as[Boolean].collect().toSeq)
    for (bad <- Seq("rfc3339_check(s, 'datetime')", "rfc3339_check(s, s)", "rfc3339_check(s)"))
      intercept[Exception](df.selectExpr(bad).collect())
  }
}
