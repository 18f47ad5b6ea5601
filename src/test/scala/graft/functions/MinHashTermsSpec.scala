package graft.functions

import graft.SparkSuite
import graft.pipeline.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fused `minhash_terms` kernel must equal, bit for bit, the signature
  * built from the public pieces it fuses: exploded shingles
  * (`Dedup.shingles` / `tokenShingles`), the per-seed column hash
  * (`PortableHash.md5Window32` or `xxhash64(lit(seed), shingle)`) and a
  * `groupBy(id)` min — for both hash families, both term domains, and the
  * edge rows a corpus carries. */
class MinHashTermsSpec extends SparkSuite {
  import spark.implicits._

  private def reference(sh: DataFrame, numHashes: Int, family: Dedup.HashFamily): DataFrame = {
    val hashes = (0 until numHashes).map { j =>
      (family match {
        case Dedup.Md5Portable => PortableHash.md5Window32(col("shingle"), j / 4, j % 4)
        case Dedup.XxFast      => xxhash64(lit(j), col("shingle"))
      }).as(s"h_$j")
    }
    sh.select(col("id") +: hashes: _*).groupBy("id")
      .agg(min("h_0").as("sig_0"), (1 until numHashes).map(j => min(s"h_$j").as(s"sig_$j")): _*)
  }

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema.map(_.dataType) === want.schema.map(_.dataType), what)
    val (g, w) = (got.cache(), want.cache())
    try {
      assert(g.count() === w.count(), s"$what: row counts")
      assert(g.except(w).count() === 0, s"$what: rows only in the kernel result")
      assert(w.except(g).count() === 0, s"$what: rows only in the reference")
    } finally { g.unpersist(); w.unpersist() }
  }

  /** Token docs with every edge case the kernel must reproduce. */
  private val tokenDocs: DataFrame = {
    val rng = new scala.util.Random(11)
    val base = (0L until 300L).map { i =>
      (i, Option(Seq.fill(8 + rng.nextInt(40))(Integer.valueOf(rng.nextInt(60) - 20))))
    }
    val edges: Seq[(Long, Option[Seq[Integer]])] = Seq(
      (1000L, None),                                                 // NULL array
      (1001L, Some(Seq(5, null, 7, 8, 9, 10, null, 11, 12, 13))),    // NULL elements
      (1002L, Some(Seq(1, 2))),                                      // fewer than k terms
      (1003L, Some(Seq.empty)),                                      // empty
      (-1004L, Some(Seq(Int.MinValue, -1, 0, Int.MaxValue, -300, Int.MinValue))),
      (Long.MinValue, Some(Seq(-7, -7, -7, -7))),                    // repeated shingle
      (1005L, Some(Seq(1, 2, 3, 4, 5))),                             // one id over two rows
      (1005L, Some(Seq(9, 8, 7, 6))),
      (1006L, Some(Seq(null, null, null))))
    (base ++ edges).map { case (i, ts) => (i, ts.orNull) }.toDF("doc_id", "tokens")
  }

  private val textDocs: DataFrame = Seq(
    (1L, "The quick brown fox jumps over the lazy dog"),
    (2L, "the QUICK brown fox   jumps over the lazy cat"),
    (3L, "Ünïcödé straße grüße naïve café résumé"),
    (4L, "日本語 の テキスト を 分割 する 😀 emoji ☃ snow"),
    (5L, null),
    (6L, "two words"),
    (7L, "   "),
    (-8L, "negative id with enough words here"),
    (9L, "first row of one id"),
    (9L, "and a second row of the same id")).toDF("doc_id", "text")

  for (family <- Seq(Dedup.XxFast, Dedup.Md5Portable); k <- Seq(1, 3, 5); n <- Seq(7, 16)) {
    test(s"kernel equals the explode reference: $family, k=$k, $n hashes") {
      assertSameRows(
        Dedup.minhashSignaturesTokens(tokenDocs, "doc_id", "tokens", k, n, family),
        reference(Dedup.tokenShingles(tokenDocs, "doc_id", "tokens", k), n, family),
        s"tokens $family k=$k n=$n")
      assertSameRows(
        Dedup.minhashSignatures(textDocs, "doc_id", "text", k, n, family),
        reference(Dedup.shingles(textDocs, "doc_id", "text", k), n, family),
        s"text $family k=$k n=$n")
    }
  }

  test("interpreted eval equals the generated code") {
    def sigs(df: DataFrame, fam: String) = df.select(col("doc_id"),
      MinHashTerms.minhashTerms(col("tokens"), 3, 6, fam).as("s"))
    val codegen = Seq("xxhash64", "md5").map(f => sigs(tokenDocs, f).collect().toSeq)
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = Seq("xxhash64", "md5").map(f => sigs(tokenDocs, f).collect().toSeq)
      assert(interpreted === codegen)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    // NULL on every row with no shingle, numHashes slots otherwise
    val byId = sigs(tokenDocs, "md5").as[(Long, Option[Seq[Long]])].collect()
    assert(byId.filter(_._1 >= 1000L).map(r => r._1 -> r._2.map(_.size)).toMap ===
      Map(1000L -> None, 1001L -> Some(6), 1002L -> None, 1003L -> None, 1005L -> Some(6),
        1006L -> None))
  }

  test("GraftExtensions injects minhash_terms") {
    // the suite's session is built by GraftSession, which installs the
    // extensions: SQL resolves the function with no registration call (the
    // `--conf spark.sql.extensions=…` path of a session built elsewhere is
    // exercised via spark-submit: tools/submit.sh + ExtensionsCheck)
    assert(spark.sql(
      "SELECT minhash_terms(array(1, 2, 3), 3, 2, 'xxhash64')[1] = xxhash64(1, '1 2 3')")
      .head().getBoolean(0))
  }

  test("SQL form: minhash_terms(terms, k, numHashes, family) and its argument checks") {
    val viaSql = tokenDocs.selectExpr("doc_id", "minhash_terms(tokens, 3, 4, 'xxhash64') AS s")
    val viaCol = tokenDocs.select(col("doc_id"),
      MinHashTerms.minhashTerms(col("tokens"), 3, 4, "xxhash64").as("s"))
    assert(viaSql.collect().toSeq === viaCol.collect().toSeq)
    for (bad <- Seq("minhash_terms(tokens, 0, 4, 'md5')", "minhash_terms(tokens, 3, 4, 'sha1')",
        "minhash_terms(array(1.5), 3, 4, 'md5')")) {
      intercept[org.apache.spark.sql.AnalysisException](tokenDocs.selectExpr(bad).collect())
    }
  }
}
