package graft.pipeline

import graft.SparkSuite
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("explode-based simhash64 equals the per-row expression and uses all 64 bits") {
    val perRow = docs.select(col("doc_id").as("id"), Dedup.simhash64(col("text")).as("simhash"))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val agg = Dedup.simhashSignatures64(docs, "doc_id", "text")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(perRow === agg)
    // the high 32 bits are live (a 32-bit-wide bug would leave them zero);
    // on 500 real docs some fingerprint must set the sign bit region
    assert(perRow.exists { case (_, fp) => (fp >>> 32) != 0L })
    assert(perRow.exists { case (_, fp) => fp < 0L })
  }

  test("banding capacity lint warns when expected bucket occupancy blows up") {
    // 10^9 docs over 8-bit bands (byte bands of a 32-bit fingerprint):
    // ~4M docs per bucket — must warn, and the message must carry the
    // numbers a user needs to resize
    val w = Dedup.lintBanding(1000000000L, bandBits = 8, bands = 4)
    assert(w.nonEmpty && w.head.contains("8 bits"))
    assert(w.head.contains("widen the bands"))
    // the 64-bit family's 16-bit bands at the same corpus still warn
    // (10^9/65536 ≈ 15k > 1024) — the lint is about sizing, not family
    assert(Dedup.lintBanding(1000000000L, bandBits = 16, bands = 4).nonEmpty)
    // …but a 10^7 corpus over 16-bit bands is fine (occupancy ~153)
    assert(Dedup.lintBanding(10000000L, bandBits = 16, bands = 4).isEmpty)
    // and minhash-style 32-bit-per-band spaces never trip at any real size
    assert(Dedup.lintBanding(10000000000L, bandBits = 32, bands = 8).isEmpty)
  }

  test("bandKeys rejects non-dividing or zero rows-per-band configurations") {
    val e = intercept[IllegalArgumentException] { Dedup.bandKeys(numHashes = 4, bands = 8) }
    assert(e.getMessage.contains("rowsPerBand"))
    intercept[IllegalArgumentException] { Dedup.bandKeys(numHashes = 16, bands = 5) }
    assert(Dedup.bandKeys(numHashes = 16, bands = 4).size === 4)
  }

  test("vocabulary application: ordered ids, both OOV policies, empty docs survive") {
    val df = Seq((1L, "a b c a unknownword"), (2L, ""), (3L, "b b")).toDF("doc_id", "text")
    val vocab = Seq(("a", 0L), ("b", 1L), ("c", 2L)).toDF("token", "tid")
    // substitute policy: OOV → -1, position order preserved
    val sub = Vocab.applyVocabulary(df, "doc_id", "text", vocab, oovId = Some(-1L))
      .orderBy("id").as[(Long, Seq[Long], Long, Long)].collect().toSeq
    assert(sub === Seq((1L, Seq(0L, 1L, 2L, 0L, -1L), 5L, 1L),
      (2L, Seq.empty[Long], 0L, 0L), (3L, Seq(1L, 1L), 2L, 0L)))
    // drop policy: OOV removed from the array but still counted
    val drop = Vocab.applyVocabulary(df, "doc_id", "text", vocab, oovId = None)
      .orderBy("id").as[(Long, Seq[Long], Long, Long)].collect().toSeq
    assert(drop === Seq((1L, Seq(0L, 1L, 2L, 0L), 5L, 1L),
      (2L, Seq.empty[Long], 0L, 0L), (3L, Seq(1L, 1L), 2L, 0L)))
    // corpus-derived vocab ranks by (count desc, token asc): b=3, a=2, then
    // the c/unknownword tie at 1 breaks lexicographically
    val built = Vocab.buildVocabulary(df, "text", topN = 3)
      .orderBy("tid").as[(String, Long)].collect().toSeq
    assert(built === Seq(("b", 0L), ("a", 1L), ("c", 2L)))
    // checksum is position-weighted (order-sensitive): [3,1] ≠ [1,3]
    val cs = Seq((Seq(3L, 1L), Seq(1L, 3L))).toDF("x", "y")
      .select(Vocab.idChecksum(col("x")), Vocab.idChecksum(col("y")))
      .as[(Long, Long)].head()
    assert(cs === (3L + 2L, 1L + 6L))
  }

  test("block dedup: copies fully duplicate, first occurrence wins, short docs drop") {
    val df = Seq(
      (1L, ("alpha " * 10 + "beta " * 10).trim),     // blocks: [alpha×10], [beta×10]
      (2L, ("alpha " * 10).trim + " tail words"),    // block 1 dups doc1's; tail < 10 ignored
      (3L, "too short")                              // < 10 words → no blocks
    ).toDF("doc_id", "text")
    val got = Dedup.blockDedupStats(df, "doc_id", "text", w = 10)
      .orderBy("id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq((1L, 2L, 0L, 0.0), (2L, 1L, 1L, 1.0)))
    // wordBlocks keeps order and drops the partial tail
    val blocks = df.where(col("doc_id") === 2)
      .select(Dedup.wordBlocks(col("text"), 10)).as[Seq[String]].head()
    assert(blocks === Seq(("alpha " * 10).trim))
  }

  test("bpeMerges reproduces the hand-computed greedy merge sequence") {
    // Sennrich-style fixture: low×5, lower×2, newest×6, widest×3.
    // Hand-derived: (e,s)9 → (es,t)9 → (est,</w>)9 → (l,o)7 → (lo,w)7,
    // with ties broken (freq desc, lhs asc, rhs asc).
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val got = Vocab.bpeMerges(df, "text", nMerges = 5)
      .as[(Int, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got === Seq(
      (1, "e", "s", "es", 9L),
      (2, "es", "t", "est", 9L),
      (3, "est", "</w>", "est</w>", 9L),
      (4, "l", "o", "lo", 7L),
      (5, "lo", "w", "low", 7L)))
  }

  test("bpeSegment applies the trained merges in rank order (greedy inference)") {
    val train = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val corpus = Seq((1L, train)).toDF("doc_id", "text")
    val merges = Vocab.bpeMerges(corpus, "text", nMerges = 5)
    val doc = Seq((7L, "low lower newest")).toDF("doc_id", "text")
    val got = Vocab.bpeSegment(doc, "doc_id", "text", merges)
      .as[(Long, Long, Seq[String])].collect().head
    assert(got === ((7L, 10L,
      Seq("low", "</w>", "low", "e", "r", "</w>", "n", "e", "w", "est</w>"))))
  }

  test("bpeMerges self-pair merge is leftmost non-overlapping") {
    // "aaa" = a a a </w>: (a,a) counts 2 (both adjacent positions), and the
    // rewrite yields aa·a·</w> — so merge 2 is the tie-broken (a,</w>)
    val df = Seq((1L, "aaa")).toDF("doc_id", "text")
    val got = Vocab.bpeMerges(df, "text", nMerges = 2)
      .as[(Int, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got === Seq((1, "a", "a", "aa", 2L), (2, "a", "</w>", "a</w>", 1L)))
  }

  test("urlNormalize canonicalizes scheme/www/port/query/fragment/trailing slash") {
    val cases = Seq(
      "https://WWW.Example.com:443/a/b/?utm=1#frag" -> "example.com/a/b",
      "http://example.com/a/b" -> "example.com/a/b",
      "ftp://Example.COM/a/b/" -> "example.com/a/b",
      "http://other.org" -> "other.org",
      "HTTP://www.other.org/" -> "other.org",
      "example.com/x" -> "example.com/x") // scheme-less input passes through
    val got = cases.map(_._1).toDF("u")
      .select(TextAnalysis.urlNormalize(col("u"))).as[String].collect().toSeq
    assert(got === cases.map(_._2))
    val nul = Seq(Tuple1(null.asInstanceOf[String])).toDF("u")
      .select(TextAnalysis.urlNormalize(col("u"))).as[String].head()
    assert(nul === null)
  }

  test("dedupBlocksAcrossCorpus removes later occurrences and reassembles losslessly") {
    val df = Seq(
      (1L, ("alpha " * 10 + "beta " * 10).trim),  // keeps both blocks
      (2L, ("alpha " * 10).trim + " tail words"), // alpha block dups doc1 → only the tail survives
      (3L, ("beta " * 10 + "alpha " * 10).trim),  // both blocks seen → emptied
      (4L, "short unique doc")                    // tail-only doc survives whole
    ).toDF("doc_id", "text")
    val got = Dedup.dedupBlocksAcrossCorpus(df, "doc_id", "text", w = 10)
      .orderBy("id").as[(Long, String, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, ("alpha " * 10 + "beta " * 10).trim, 2L, 2L),
      (2L, "tail words", 2L, 1L),
      (3L, "", 2L, 0L),
      (4L, "short unique doc", 1L, 1L)))
  }

  test("token-domain dedup family agrees exactly with the text family on the same terms") {
    // LAW: tokens rendered as decimal strings and space-joined into text
    // must produce bit-identical shingles, minhash signatures, simhash
    // fingerprints, and block stats through BOTH families — the token path
    // is a strict simplification (no regex split), never a reimplementation
    val rng = new scala.util.Random(7)
    val rows = (0L until 60L).map { i =>
      val base = Vector.fill(25 + rng.nextInt(20))(rng.nextInt(500))
      val toks = if (i % 3 == 0) Vector.fill(30)(rng.nextInt(8)) else base // force some near-dups
      (i, toks)
    }
    val tokDf = rows.toDF("doc_id", "tokens")
    val txtDf = rows.map { case (i, ts) => (i, ts.mkString(" ")) }.toDF("doc_id", "text")
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().toSeq
    assert(sortedRows(Dedup.minhashSignaturesTokens(tokDf, "doc_id", "tokens", 3, 8)) ===
      sortedRows(Dedup.minhashSignatures(txtDf, "doc_id", "text", 3, 8)))
    assert(sortedRows(Dedup.minhashCandidatePairsTokens(tokDf, "doc_id", "tokens",
        shingleK = 3, numHashes = 16, bands = 8, family = Dedup.Md5Portable)) ===
      sortedRows(Dedup.minhashCandidatePairs(txtDf, "doc_id", "text",
        shingleK = 3, numHashes = 16, bands = 8, family = Dedup.Md5Portable)))
    assert(sortedRows(Dedup.simhashSignatures64Tokens(tokDf, "doc_id", "tokens")) ===
      sortedRows(Dedup.simhashSignatures64(txtDf, "doc_id", "text")))
    assert(sortedRows(Dedup.blockDedupStatsTokens(tokDf, "doc_id", "tokens", w = 5)) ===
      sortedRows(Dedup.blockDedupStats(txtDf, "doc_id", "text", w = 5)))
    assert(sortedRows(Dedup.jaccardPairsTokens(tokDf, "doc_id", "tokens", 3, 0.2)) ===
      sortedRows(Dedup.jaccardPairs(txtDf, "doc_id", "text", 3, 0.2)))
    assert(sortedRows(Dedup.jaccardPairsTokens(tokDf, "doc_id", "tokens", 3, 0.2, maxDocFreq = 10)) ===
      sortedRows(Dedup.jaccardPairs(txtDf, "doc_id", "text", 3, 0.2, maxDocFreq = 10)))
    assert(sortedRows(Dedup.exactDupGroupsTokens(
        tokDf.unionByName(tokDf.withColumn("doc_id", col("doc_id") + 100)), "doc_id", "tokens")) ===
      sortedRows(Dedup.exactDupGroups(
        txtDf.unionByName(txtDf.withColumn("doc_id", col("doc_id") + 100)), "doc_id", "text")))
    assert(sortedRows(Dedup.contaminationPairsTokens(tokDf, tokDf.limit(10), "doc_id", "tokens", 3, 2L)) ===
      sortedRows(Dedup.contaminationPairs(txtDf, txtDf.limit(10), "doc_id", "text", 3, 2L)))
  }

  test("block dedup: corpus-wide boilerplate block (in EVERY doc) — no window, skew-safe") {
    // the adversarial case for the old row_number-over-Window plan: ONE
    // block hash carries every document's occurrence; the two-phase min
    // collapses it in partial aggregation instead of sorting it in one task
    val boiler = "all rights reserved by the site owner please contact us"
    val df = (0L until 200L).map(i => (i, s"$boiler unique$i " * 2 + boiler))
      .toDF("doc_id", "text")
    val out = Dedup.blockDedupStats(df, "doc_id", "text", w = 10)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Window"), "block dedup sorts hot-hash occurrences in a window")
    val got = out.orderBy("id").as[(Long, Long, Long, Double)].collect().toSeq
    // each doc: 3 full blocks — the shared boilerplate block plus 2 blocks
    // made unique by the interleaved unique$i token. Doc 0 wins the
    // boilerplate hash; every other doc's copy is the corpus-wide dup.
    assert(got.size === 200)
    assert(got.head === ((0L, 3L, 0L, 0.0)))
    assert(got.tail.forall(r => r._2 === 3L && r._3 === 1L), "non-first docs dup exactly the boilerplate block")
  }

  test("sequence packing: contiguous concat-and-cut layout, bucket-invariant, empty docs") {
    val df = Seq((0L, 100L), (1L, 924L), (2L, 0L), (3L, 2000L), (4L, 50L))
      .toDF("doc_id", "n_tok")
    val got = Packing.packSequences(df, "doc_id", "n_tok", budget = 1024L, bucketSize = 2L)
      .orderBy("id").as[(Long, Long, Long, Long, Long)].collect().toSeq
    // cum_before: 0, 100, 1024, 1024, 3024
    assert(got === Seq(
      (0L, 100L, 0L, 0L, 1L),     // fits in bin 0
      (1L, 924L, 0L, 100L, 1L),   // exactly fills bin 0 (100+924 = 1024)
      (2L, 0L, 1L, 0L, 0L),       // empty doc spans nothing
      (3L, 2000L, 1L, 0L, 2L),    // 2000 tokens from a bin boundary → 2 bins
      (4L, 50L, 2L, 976L, 2L)))   // starts near the end of bin 2, straddles
    // bucketSize is an implementation knob, never a semantic one
    for (bs <- Seq(1L, 3L, 1000L)) {
      val alt = Packing.packSequences(df, "doc_id", "n_tok", 1024L, bs)
        .orderBy("id").as[(Long, Long, Long, Long, Long)].collect().toSeq
      assert(alt === got, s"bucketSize=$bs changed the packing")
    }
    // bin report: 3074 tokens → 4 bins (ceil), fill = 3074/4096
    val rep = Packing.binReport(df.withColumnRenamed("doc_id", "id"), 1024L)
      .as[(Long, Long, Double)].head()
    assert(rep._1 === 3074L && rep._2 === 4L)
    assert(math.abs(rep._3 - 3074.0 / 4096.0) < 1e-12)
  }

  test("group representatives: highest score wins, exact ties break to the smallest id") {
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "component")
    val scored = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (10L, 0.1), (11L, 0.1))
      .toDF("doc_id", "q")
    val got = Dedup.groupRepresentatives(comps, scored, "doc_id", "q")
      .orderBy("component").as[(Long, Long, Double, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 0.9, 3L), (10L, 10L, 0.1, 2L)))
    // string ids order natively (the old -id trick null-cast them); ties
    // still break to the lexicographically smallest id
    val sComps = Seq(("a", "a"), ("b", "a"), ("c", "a")).toDF("id", "component")
    val sScored = Seq(("a", 0.3), ("b", 0.7), ("c", 0.7)).toDF("doc_id", "q")
    val sGot = Dedup.groupRepresentatives(sComps, sScored, "doc_id", "q")
      .as[(String, String, Double, Long)].head()
    assert(sGot === (("a", "b", 0.7, 3L)))
    // non-numeric score is rejected loudly, not null-cast
    val badScore = Seq(("a", "hi")).toDF("doc_id", "q")
    val e = intercept[IllegalArgumentException] {
      Dedup.groupRepresentatives(sComps, badScore, "doc_id", "q")
    }
    assert(e.getMessage.contains("must be numeric"))
  }

  test("domain filter: subdomains reduce to the registered domain, ports stripped, no-URL docs pass") {
    val df = Seq(
      (1L, "x https://spam.example/p y"),
      (2L, "x http://a.b.spam.example:9090/q y"), // deep subdomain + port → blocked
      (3L, "x https://ok.org/r http://spam.example/s"),
      (4L, "plain text"),
      (5L, "spam.example mentioned but not linked")).toDF("doc_id", "text")
    val blocked = Seq("spam.example").toDF("domain")
    val got = TextAnalysis.domainFilter(df, "doc_id", "text", blocked)
      .orderBy("id").as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(got === Seq(
      (1L, 1L, 1L, true), (2L, 1L, 1L, true), (3L, 2L, 1L, true),
      (4L, 0L, 0L, false), (5L, 0L, 0L, false)))
  }

  test("bigram LM nll: hand-computed add-one smoothing on a toy corpus") {
    // corpus: "a b a", "a b", "solo" → c("a b")=2, c("b a")=1, c1(a)=2,
    // c1(b)=1, V=3 (a,b,solo) ⇒ p(a b)=3/5, p(b a)=2/4;
    // doc1 mean nll = (-log2(0.6) + 1)/2 = 0.868483, doc2 = 0.736966
    val df = Seq((1L, "a b a"), (2L, "a b"), (3L, "solo")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramNll(df, "doc_id", "text")
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    assert(got.map(_._1) === Seq(1L, 2L)) // <2-word docs emit nothing
    assert(got(0)._2 === 2L && math.abs(got(0)._3 - 0.868483) < 1e-6)
    assert(got(1)._2 === 1L && math.abs(got(1)._3 - 0.736966) < 1e-6)
  }

  test("temperature mixture: alpha<1 upweights the tail, rates cap at 1, budget ~honored") {
    // two groups 900 vs 100: uniform (alpha=1) keeps 50% of each; alpha=0.5
    // shifts budget toward the small group
    val counts = Seq("big" -> 900L, "small" -> 100L)
    val r1 = Sampling.temperatureRates(counts, alpha = 1.0, totalBudget = 500L).toMap
    assert(math.abs(r1("big") - 0.5) < 1e-6 && math.abs(r1("small") - 0.5) < 1e-6)
    val r05 = Sampling.temperatureRates(counts, alpha = 0.5, totalBudget = 360L).toMap
    assert(r05("small") > r05("big"), "alpha=0.5 must upweight the tail group")
    // expected kept = budget exactly while the min(1,·) cap is slack
    // (w = (30,10), z = 40 → rates 0.3 and 0.9 → 270 + 90 = 360)
    val kept = counts.map { case (g, c) => r05(g) * c }.sum
    assert(math.abs(kept - 360.0) < 1.0)
    // cap: a tiny group under a huge budget keeps everything, never > 1
    val capped = Sampling.temperatureRates(Seq("a" -> 10L, "b" -> 1000L), 0.5, 100000L).toMap
    assert(capped("a") === 1.0 && capped("b") === 1.0)
    // end-to-end: deterministic, repartition-invariant application
    val df = docs.select("doc_id", "lang")
    val a = Sampling.temperatureSample(df, "lang", "doc_id", 0.5, 300L)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    val b = Sampling.temperatureSample(df.repartition(7), "lang", "doc_id", 0.5, 300L)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(a === b && a.nonEmpty)
  }

  test("in-doc repeated-block removal keeps the first occurrence and reassembles in order") {
    val df = Seq(
      (1L, ("x " * 10 + "x " * 10 + "y " * 10).trim), // [x×10],[x×10],[y×10]
      (2L, "a b c"),                                  // one partial block
      (3L, "")                                        // no words → absent
    ).toDF("doc_id", "text")
    val got = Dedup.dropRepeatedBlocksInDoc(df, "doc_id", "text", w = 10)
      .orderBy("id").as[(Long, String, Long, Long)].collect().toSeq
    assert(got.map(_._1) === Seq(1L, 2L))
    assert(got(0)._3 === 3L && got(0)._4 === 2L)
    assert(got(0)._2 === ("x " * 10).trim + " " + ("y " * 10).trim)
    assert(got(1)._2 === "a b c" && got(1)._3 === 1L && got(1)._4 === 1L)
  }

  test("packing matches a sequential reference on random workloads (property)") {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 300L).map(i => (i, rnd.nextInt(2000).toLong))
    val budget = 777L
    var cum = 0L
    val want = rows.map { case (id, n) =>
      val start = cum / budget; val off = cum % budget
      val spans = if (n == 0) 0L else (cum + n - 1) / budget - start + 1
      cum += n
      (id, n, start, off, spans)
    }
    for (bs <- Seq(7L, 64L, 100000L)) {
      val got = Packing.packSequences(rows.toDF("doc_id", "n_tok"),
          "doc_id", "n_tok", budget, bs)
        .orderBy("id").as[(Long, Long, Long, Long, Long)].collect().toSeq
      assert(got === want, s"bucketSize=$bs diverged from the sequential fold")
    }
  }

  test("pigeonhole property: any <=3-bit perturbation of a 64-bit fingerprint shares a 16-bit band") {
    // the recall theorem simhashNearDupPairs64 relies on, checked over
    // random fingerprints and adversarial bit-flip sets (incl. flips
    // concentrated in one band and spread across three)
    val rnd = new scala.util.Random(42)
    def bands(x: Long): Seq[Long] = (0 until 4).map(b => (x >>> (16 * b)) & 0xffffL)
    for (_ <- 1 to 5000) {
      val x = rnd.nextLong()
      val flips = rnd.shuffle((0 until 64).toList).take(rnd.nextInt(4))
      val y = flips.foldLeft(x)((v, b) => v ^ (1L << b))
      assert(bands(x).zip(bands(y)).exists { case (a, b) => a == b },
        s"x=$x flips=$flips lost every band")
    }
    // and 4 flips, one per band, CAN lose every band (the bound is tight)
    val x = 0L
    val y = (1L << 0) ^ (1L << 16) ^ (1L << 32) ^ (1L << 48)
    assert(!bands(x).zip(bands(y)).exists { case (a, b) => a == b })
  }

  test("near-duplicate text lands in the same minhash band bucket") {
    val base = docs.select("doc_id", "text")
    // duplicate the first 10 docs with shifted ids: identical text must share
    // every signature, hence every band
    val dups = base.where(col("doc_id") < 10)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val candidates = Dedup.minhashCandidatePairs(base.unionByName(dups), "doc_id", "text")
      .where(col("id_b") >= 100000 && col("id_a") === col("id_b") - 100000)
    assert(candidates.count() === 10)
  }

  test("jaccard of identical docs is 1.0 and pairs are canonical (id_a < id_b)") {
    val base = docs.where(col("doc_id") < 20).select("doc_id", "text")
    val dups = base.select((col("doc_id") + 1000).as("doc_id"), col("text"))
    val pairs = Dedup.jaccardPairs(base.unionByName(dups), "doc_id", "text", k = 3, minJaccard = 0.999)
      .where(col("id_b") === col("id_a") + 1000)
    assert(pairs.count() === 20)
    assert(pairs.agg(min("jaccard")).head().getDouble(0) === 1.0)
    val all = Dedup.jaccardPairs(base.unionByName(dups), "doc_id", "text", 3, 0.0)
    assert(all.where(col("id_a") >= col("id_b")).count() === 0)
  }

  test("ANN: a vector's nearest neighbor under brute force is its duplicate") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.select(col("vec_id"), col("embedding"))
    val dup = base.where(col("vec_id") === 0)
      .select(lit(9999L).as("vec_id"), col("embedding"))
    val corpus = base.unionByName(dup)
    val top = Similarity.topKBruteForce(
      corpus.where(col("vec_id") === 9999), corpus, "vec_id", "embedding", k = 1)
    val row = top.head()
    assert(row.getAs[Long]("neighbor_id") === 0L)
    assert(math.abs(row.getAs[Double]("cosine") - 1.0) < 1e-9)
  }

  test("jaccard maxDocFreq drops boilerplate shingles from the sets") {
    // every doc gets the same boilerplate prefix; with the cap the shared
    // shingles vanish (df = 40 > 20), so cross-doc pairs lose their only
    // common shingles while exact-dup pairs stay at jaccard 1.0
    val base = docs.where(col("doc_id") < 20)
      .select(col("doc_id"), concat(lit("common header boilerplate line "), col("text")).as("text"))
    val dups = base.select((col("doc_id") + 1000).as("doc_id"), col("text"))
    val all = base.unionByName(dups)
    val uncapped = Dedup.jaccardPairs(all, "doc_id", "text", k = 3, minJaccard = 0.01)
    val capped = Dedup.jaccardPairs(all, "doc_id", "text", k = 3, minJaccard = 0.01, maxDocFreq = 20)
    // boilerplate-only pairs exist without the cap, disappear with it
    assert(uncapped.count() > capped.count())
    // true duplicate pairs keep jaccard 1.0 under the cap
    val dupPairs = capped.where(col("id_b") === col("id_a") + 1000)
    assert(dupPairs.count() === 20)
    assert(dupPairs.agg(min("jaccard")).head().getDouble(0) === 1.0)
    // and the dropped set is exactly the shared shingles
    assert(Dedup.frequentShingles(all, "doc_id", "text", 3, 20).count() > 0)
  }

  private lazy val emb001 = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("amplified LSH: exact duplicates collide in every table; candidates stay bucket-bounded") {
    val base = emb001.select(col("vec_id"), col("embedding"))
    val dup = base.select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val corpus = base.unionByName(dup)
    val cand = Similarity.lshCandidatePairs(corpus, "vec_id", "embedding", tables = 3, bitsPerTable = 6)
    // identical vectors have identical signatures in all tables → always candidates
    val dupCand = cand.where(col("id_b") === col("id_a") + 100000).count()
    assert(dupCand === base.count())
    // candidate volume equals Σ_buckets n·(n−1)/2 at most (pre-distinct), and
    // is far below the N²/2 cartesian
    val n = corpus.count()
    assert(cand.count() < n * (n - 1) / 4)
  }

  test("amplified LSH: maxBucketSize drops oversized buckets from the index") {
    // 50 identical vectors form one 50-deep bucket in every table; a cap of
    // 10 removes them entirely → no candidate pairs among them
    val one = emb001.where(col("vec_id") === 0).select(col("embedding")).head().getSeq[Float](0)
    val clones = spark.range(50).select(col("id").as("vec_id"),
      typedLit(one).as("embedding"))
    val capped = Similarity.lshCandidatePairs(clones, "vec_id", "embedding",
      tables = 2, bitsPerTable = 4, maxBucketSize = Some(10))
    assert(capped.count() === 0)
    val uncapped = Similarity.lshCandidatePairs(clones, "vec_id", "embedding",
      tables = 2, bitsPerTable = 4)
    assert(uncapped.count() === 50L * 49 / 2)
  }

  test("nearDupPairsLsh recalls injected exact duplicates with their cosine") {
    val base = emb001.select(col("vec_id"), col("embedding"))
    val dup = base.select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val found = Similarity.nearDupPairsLsh(base.unionByName(dup), "vec_id", "embedding",
        minCosine = 0.99, tables = 4, bitsPerTable = 6)
      .where(col("id_b") === col("id_a") + 100000)
    assert(found.count() === base.count())
    assert(found.agg(min("cosine")).head().getDouble(0) > 0.999999)
  }

  test("topKLsh ranks candidates by exact cosine within each query") {
    val top = Similarity.topKLsh(emb001, "vec_id", "embedding", k = 3,
      tables = 3, bitsPerTable = 4)
    val bad = top.as("x").join(top.as("y"),
        col("x.query_id") === col("y.query_id") && col("x.rank") === col("y.rank") - 1)
      .where(col("x.cosine") < col("y.cosine")).count()
    assert(bad === 0)
    assert(top.where(col("rank") > 3).count() === 0)
  }

  test("connected components: chains collapse to min-id groups, propagation crosses rounds") {
    // a 5-node path (diameter 4 → needs >1 propagation round) + a separate pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponentsStar(pairs).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(cc === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("SQ8 ANN search recalls the exact brute-force top-k (quantize → shortlist → float re-rank)") {
    val queries = emb001.where(col("vec_id") < 8)
    val exact = Similarity.topKBruteForce(queries, emb001, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val sq8 = Similarity.topKSq8(queries, emb001, "vec_id", "embedding", k = 5, shortlist = 20)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect sq8).size.toDouble / exact.size
    assert(recall >= 0.9, s"SQ8 recall@5 = $recall")
    // the codes artifact really is int8: 1 byte per dim
    val codes = Similarity.sq8Codes(emb001, "vec_id", "embedding")
    assert(codes.schema("codes").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType === org.apache.spark.sql.types.ByteType)
    assert(codes.count() === emb001.count())
  }

  test("range join: [start, end) boundaries, overlaps, empty intervals, bucket straddles") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val points = Seq(
      (1L, ts("2024-01-01 00:00:00")),  // == start of A → in
      (2L, ts("2024-01-02 00:00:00")),  // == end of A → out; == start of B → in
      (3L, ts("2024-01-01 23:59:59")),  // last second of A
      (4L, ts("2024-03-01 00:00:00"))   // in nothing
    ).toDF("pid", "t")
    val ivs = Seq(
      ("A", ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00")),
      ("B", ts("2024-01-02 00:00:00"), ts("2024-01-05 00:00:00")),  // overlaps nothing of A
      ("C", ts("2024-01-01 12:00:00"), ts("2024-01-03 00:00:00")),  // straddles buckets, overlaps A+B
      ("E", ts("2024-02-01 00:00:00"), ts("2024-02-01 00:00:00"))   // empty
    ).toDF("iv", "s", "e")
    val got = RangeJoin.joinPointInInterval(points, "t", ivs, "s", "e", 86400L)
      .select("pid", "iv").as[(Long, String)].collect().toSet
    assert(got === Set(1L -> "A", 3L -> "A", 2L -> "B", 3L -> "C", 2L -> "C"))
    // bucket size must not change the answer (only the replication factor)
    val small = RangeJoin.joinPointInInterval(points, "t", ivs, "s", "e", 3600L)
      .select("pid", "iv").as[(Long, String)].collect().toSet
    assert(small === got)
  }

  test("range join equals the naive non-equi join on random data") {
    val rnd = new scala.util.Random(7)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(off: Long) = new java.sql.Timestamp(base + off * 1000)
    val points = (0 until 300).map(i => (i.toLong, ts(rnd.nextInt(400000).toLong)))
      .toDF("pid", "t")
    val ivs = (0 until 40).map { i =>
      val s = rnd.nextInt(350000).toLong
      (i.toLong, ts(s), ts(s + 1 + rnd.nextInt(90000)))
    }.toDF("iv", "s", "e")
    val got = RangeJoin.joinPointInInterval(points, "t", ivs, "s", "e", 3600L)
      .select("pid", "iv").as[(Long, Long)].collect().toSet
    val naive = points.join(ivs, col("t") >= col("s") && col("t") < col("e"))
      .select("pid", "iv").as[(Long, Long)].collect().toSet
    assert(got === naive)
    assert(naive.nonEmpty)
  }

  test("incrementalDedup classifies batch docs against corpus, batch, or as new") {
    val existing = Seq((1L, "old doc one"), (2L, "old doc two")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "old doc one"),   // dup_existing (even though 10 < nothing in batch shares it)
      (11L, "fresh thing"),   // new
      (12L, "fresh thing"),   // dup_incoming (11 is first)
      (13L, "OLD   DOC TWO"), // dup_existing via normalization
      (14L, "another")        // new
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(existing, batch, "doc_id", "text")
      .select("id", "status").as[(Long, String)].collect().toMap
    assert(out === Map(10L -> "dup_existing", 11L -> "new", 12L -> "dup_incoming",
      13L -> "dup_existing", 14L -> "new"))
    // only `new` rows are kept, and every batch row is classified
    val kept = Dedup.incrementalDedup(existing, batch, "doc_id", "text")
      .where(col("keep")).select("id").as[Long].collect().toSet
    assert(kept === Set(11L, 14L))
  }

  test("PQ/ADC search: codes are m ints in [0,ksub), shortlist recall tracks brute force") {
    val queries = emb001.where(col("vec_id") < 8)
    val exact = Similarity.topKBruteForce(queries, emb001, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.topKPq(queries, emb001, "vec_id", "embedding",
        dims = 64, k = 5, shortlist = 20)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    info(s"PQ recall@5 (shortlist 20) = $recall")
    // seeded (untrained) 16-codeword books are coarse; the re-rank floor
    // still has to clear chance by a wide margin
    assert(recall >= 0.5, s"PQ recall@5 = $recall")
    // widening the shortlist must not lose recall (monotone contract)
    val pq60 = Similarity.topKPq(queries, emb001, "vec_id", "embedding",
        dims = 64, k = 5, shortlist = 60)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall60 = (exact intersect pq60).size.toDouble / exact.size
    info(s"PQ recall@5 (shortlist 60) = $recall60")
    assert(recall60 >= recall)
    // the artifact really is m small codes per vector
    val cb = Similarity.pqCodebook(emb001, "vec_id", "embedding", dims = 64, m = 8, ksub = 16)
    assert(cb.count() === 8L * 16L)
    val codes = Similarity.pqEncode(emb001, "vec_id", "embedding", cb, m = 8, dsub = 8)
    assert(codes.count() === emb001.count())
    val arrs = codes.select("codes").as[Seq[Int]].collect()
    assert(arrs.forall(a => a.length == 8 && a.forall(c => c >= 0 && c < 16)))
  }

  test("IVF-PQ: recall within probed cells tracks IVF-flat; residual book is non-degenerate") {
    val queries = emb001.where(col("vec_id") < 8)
    // IVF-flat with the same quantizer/probes = the recall CEILING for
    // IVF-PQ (same candidate cells, exact scoring); the PQ+re-rank path
    // must stay close to it
    val flat = Similarity.topKIvf(queries, emb001, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfpq = Similarity.topKIvfPq(queries, emb001, "vec_id", "embedding",
        dims = 64, k = 5, nlist = 16, nprobe = 4, shortlist = 20)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (flat intersect ivfpq).size.toDouble / flat.size
    info(s"IVF-PQ recall@5 vs IVF-flat = $recall")
    assert(recall >= 0.5, s"IVF-PQ recall vs IVF-flat = $recall")
    assert(ivfpq.size === flat.size)
  }

  test("trained IVF centroids (Lloyd's) keep recall@5 >= 0.9 at nprobe=4 and assign every vector") {
    val queries = emb001.where(col("vec_id") < 8)
    val exact = Similarity.topKBruteForce(queries, emb001, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val cents = Similarity.ivfCentroidsTrained(emb001, "vec_id", "embedding", nlist = 8, iters = 3)
    val trained = Similarity.topKIvf(queries, emb001, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 4, centroids = Some(cents))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect trained).size.toDouble / exact.size
    assert(recall >= 0.9, s"trained-IVF recall@5 = $recall")
    // occupancy probe: every vector lands in exactly one surviving cell
    val stats = Similarity.ivfCellStats(emb001, "vec_id", "embedding", cents)
      .as[(Long, Long)].collect()
    assert(stats.map(_._2).sum === emb001.count())
    assert(stats.length <= 8 && stats.length >= 2)
  }

  test("native graft_dot is bit-identical to the HOF fold, with its exact NULL semantics") {
    val hofDot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) => acc + v)
    // bit-identity over the real embedding corpus (same IEEE fold order)
    val cmp = emb001.select(
      Similarity.dot(col("embedding"), col("embedding")).as("native"),
      hofDot(col("embedding"), col("embedding")).as("hof"))
    assert(cmp.where(col("native") =!= col("hof") ||
      col("native").isNull =!= col("hof").isNull).count() === 0)
    // NULL semantics: null input, length mismatch, null element → NULL; empty → 0.0
    val df = Seq(
      (Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)),   // 11.0
      (Seq.empty[Float], Seq.empty[Float])  // 0.0
    ).toDF("a", "b")
    val got = df.select(Similarity.dot(col("a"), col("b"))).as[Option[Double]].collect().toSeq
    assert(got === Seq(Some(11.0), Some(0.0)))
    val mismatch = Seq((Seq(1.0f, 2.0f), Seq(3.0f))).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b"))).as[Option[Double]].head()
    assert(mismatch.isEmpty)
    val nullSide = Seq((Some(Seq(1.0f)), Option.empty[Seq[Float]])).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b"))).as[Option[Double]].head()
    assert(nullSide.isEmpty)
    // int8 codes × float queries (the asymmetric SQ8 pairing) work natively
    val mixed = Seq((Seq(2.toByte, -3.toByte), Seq(0.5f, 1.0f))).toDF("c", "q")
      .select(Similarity.dot(col("c"), col("q"))).as[Double].head()
    assert(mixed === -2.0)
  }

  test("round-3 ops are partition-invariant (sq8 search, star components, repetition signals)") {
    // determinism under physical layout — the property every md5-derived /
    // tie-broken operator in this engine guarantees
    val sq8 = (d: org.apache.spark.sql.DataFrame) =>
      Similarity.topKSq8(d.where(col("vec_id") < 4), d, "vec_id", "embedding", k = 5, shortlist = 20)
        .select("query_id", "neighbor_id", "rank").orderBy("query_id", "rank")
        .as[(Long, Long, Int)].collect().toSeq
    assert(sq8(emb001) === sq8(emb001.repartition(7)))

    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val star = (d: org.apache.spark.sql.DataFrame) =>
      Dedup.connectedComponentsStar(d).orderBy("id").as[(Long, Long)].collect().toSeq
    assert(star(chain) === star(chain.repartition(5)))

    val rep = (d: org.apache.spark.sql.DataFrame) =>
      TextAnalysis.repetitionSignals(d, "doc_id", "text")
        .orderBy("id").as[(Long, Long, Double, Long, Long, Double)].collect().toSeq
    assert(rep(docs) === rep(docs.repartition(9)))
  }

  test("connected components FAIL LOUDLY when maxIter exits before convergence") {
    // bipartite min-label propagation: three identical docs share every
    // bucket, so the first round relabels two of them and a second, quiet
    // round is needed; maxIter=1 exits with labels still changing —
    // returning them would silently split the group
    val copies = (1L to 3L).map(i => (i, "the same five words here")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashComponents(copies, "doc_id", "text", maxIter = 1).collect()
    }
    assert(e.getMessage.contains("minhashComponents did not converge after 1 rounds"))
  }

  test("lshSignature with mismatched dims falls back to the md5 path (no bucket-0 collapse)") {
    // 3-dim vectors declared as dims=Some(64): zip_with would null-pad and
    // zero every sign bit; the guard must route them through the md5 form
    val vecs = Seq((1L, Seq(0.5f, -0.3f, 0.9f)), (2L, Seq(-1.0f, 0.2f, 0.1f)),
      (3L, Seq(0.7f, 0.7f, -0.7f))).toDF("vec_id", "embedding")
    val got = vecs.select(col("vec_id"),
        Similarity.lshSignature(col("embedding"), bits = 6, dims = Some(64)).as("sig"))
      .orderBy("vec_id").as[(Long, Long)].collect().toSeq
    val want = vecs.select(col("vec_id"),
        Similarity.lshSignature(col("embedding"), bits = 6, dims = None).as("sig"))
      .orderBy("vec_id").as[(Long, Long)].collect().toSeq
    assert(got === want)
    // and matching-dims vectors still take the precomputed-plane fast path
    // with identical values (the guard's condition side)
    val ok3 = vecs.select(col("vec_id"),
        Similarity.lshSignature(col("embedding"), bits = 6, dims = Some(3)).as("sig"))
      .orderBy("vec_id").as[(Long, Long)].collect().toSeq
    assert(ok3 === want)
  }

  test("large-star/small-star components converge on adversarial chains") {
    // a 120-hop chain: min-label propagation needs 120 rounds (throws at 20);
    // the star algorithm needs O(log 120) ≈ 7
    val chain = (1L until 120L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val star = Dedup.connectedComponentsStar(chain).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(star === (1L to 120L).map(_ -> 1L))
  }

  test("bipartite minhash components agree exactly with pairs → connected components") {
    val viaPairs = Dedup.connectedComponentsStar(
        Dedup.minhashCandidatePairs(docs, "doc_id", "text",
          shingleK = 3, numHashes = 16, bands = 8, family = Dedup.Md5Portable))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val bipartite = Dedup.minhashComponents(docs, "doc_id", "text",
        shingleK = 3, numHashes = 16, bands = 8, family = Dedup.Md5Portable)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(bipartite === viaPairs)
    assert(bipartite.nonEmpty)
  }

  test("IVF maxCellSize drops a degenerate hot cell; other cells still serve") {
    // 60 identical vectors (ids 1000+) all collapse into ONE cell — the
    // skew that pins one reducer at |cell|·|queries| rows; 20 diverse
    // low-id vectors form the centroids and the healthy cells
    val one = emb001.where(col("vec_id") === 0).select(col("embedding")).head().getSeq[Float](0)
    val clones = spark.range(60).select((col("id") + 1000L).as("vec_id"),
      typedLit(one).as("embedding"))
    val rest = emb001.where(col("vec_id") >= 100 && col("vec_id") < 120)
      .select(col("vec_id"), col("embedding"))
    val corpus = clones.unionByName(rest)
    val queries = clones.where(col("vec_id") === 1000L)
    val uncapped = Similarity.topKIvf(queries, corpus, "vec_id", "embedding",
      k = 5, nlist = 4, nprobe = 4)
    val capped = Similarity.topKIvf(queries, corpus, "vec_id", "embedding",
      k = 5, nlist = 4, nprobe = 4, maxCellSize = Some(30))
    // uncapped: the clone cell serves 59 cosine-1.0 neighbors
    assert(uncapped.where(col("cosine") > 0.999).count() > 0)
    // capped: the 60-deep cell is dropped (bounded tasks) …
    assert(capped.where(col("cosine") > 0.999).count() === 0)
    // … but healthy cells still answer (results survive, from `rest`)
    assert(capped.count() > 0)
    assert(capped.where(col("neighbor_id") >= 1000L).count() === 0)
    // the dropped cell is observable via the stats probe
    val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 4)
    val stats = Similarity.ivfCellStats(corpus, "vec_id", "embedding", cents)
    assert(stats.where(col("n") > 30).count() === 1)
  }

  test("IVF-PQ maxCellSize drops a degenerate hot cell; other cells still serve") {
    // the r5 VERDICT gap: topKIvfPq had no hot-cell fence, so a clustered
    // corpus concentrated codes.join(broadcast(dts), "cell") on one key.
    // Same fixture as the IVF fence test: 60 identical vectors collapse
    // into ONE cell; 20 diverse low-id vectors form centroids + healthy
    // cells.
    val one = emb001.where(col("vec_id") === 0).select(col("embedding")).head().getSeq[Float](0)
    val clones = spark.range(60).select((col("id") + 1000L).as("vec_id"),
      typedLit(one).as("embedding"))
    val rest = emb001.where(col("vec_id") >= 100 && col("vec_id") < 120)
      .select(col("vec_id"), col("embedding"))
    val corpus = clones.unionByName(rest)
    val queries = clones.where(col("vec_id") === 1000L)
    val uncapped = Similarity.topKIvfPq(queries, corpus, "vec_id", "embedding",
      dims = 64, k = 5, nlist = 4, nprobe = 4, shortlist = 20)
    val capped = Similarity.topKIvfPq(queries, corpus, "vec_id", "embedding",
      dims = 64, k = 5, nlist = 4, nprobe = 4, shortlist = 20,
      maxCellSize = Some(30))
    // uncapped: the clone cell serves cosine-1.0 neighbors
    assert(uncapped.where(col("cosine") > 0.999).count() > 0)
    // capped: the 60-deep cell is dropped from the code index entirely …
    assert(capped.where(col("neighbor_id") >= 1000L).count() === 0)
    // … but healthy cells still answer
    assert(capped.count() > 0)
    // the fence is the broadcast anti-join, not a new full-data exchange
    assert(capped.queryExecution.optimizedPlan.toString.contains("LeftAnti"))
  }

  test("IVF: a duplicated vector is found at rank 1 through its probed cell") {
    val base = emb001.select(col("vec_id"), col("embedding"))
    val dup = base.where(col("vec_id") === 0)
      .select(lit(9999L).as("vec_id"), col("embedding"))
    val corpus = base.unionByName(dup)
    val top = Similarity.topKIvf(corpus.where(col("vec_id") === 9999), corpus,
      "vec_id", "embedding", k = 1, nlist = 8, nprobe = 2)
    val row = top.head()
    assert(row.getAs[Long]("neighbor_id") === 0L)
    assert(math.abs(row.getAs[Double]("cosine") - 1.0) < 1e-9)
    // every corpus vector lands in exactly one cell
    val assigned = Similarity.ivfAssign(corpus, "vec_id", "embedding",
      Similarity.ivfCentroids(corpus, "vec_id", "embedding", 8))
    assert(assigned.count() === corpus.count())
    assert(assigned.select("cell").distinct().count() <= 8)
  }

  test("int8 quantization: codes bounded, reconstruction error ≤ scale/2, ANN recall survives") {
    val q = emb001.select(col("vec_id"), col("embedding"),
        Similarity.sqScale(col("embedding")).as("scale"))
      .withColumn("q", Similarity.sqQuantize(col("embedding"), col("scale")))
      .withColumn("deq", Similarity.sqDequantize(col("q"), col("scale")))
    // codes in [-127, 127]
    assert(q.where(array_max(col("q")) > 127 || array_min(col("q")) < -127).count() === 0)
    // max reconstruction error bounded by scale/2 (+ float slack)
    val bad = q.where(array_max(zip_with(col("embedding"), col("deq"),
      (x, d) => abs(x.cast("double") - d))) > col("scale") / 2 + lit(1e-9)).count()
    assert(bad === 0)
    // quantized cosine ranks the exact duplicate first (recall sanity)
    val dup = emb001.where(col("vec_id") === 0)
      .select(lit(9999L).as("vec_id"), col("embedding"))
    val corpus = emb001.select("vec_id", "embedding").unionByName(dup)
      .select(col("vec_id"),
        Similarity.sqDequantize(
          Similarity.sqQuantize(col("embedding"), Similarity.sqScale(col("embedding"))),
          Similarity.sqScale(col("embedding"))).as("embedding"))
    val top = Similarity.topKBruteForce(
      corpus.where(col("vec_id") === 9999), corpus, "vec_id", "embedding", k = 1)
    assert(top.head().getAs[Long]("neighbor_id") === 0L)
  }

  test("pipeline operators are partition-invariant (same results at 2 and 13 partitions)") {
    // the property that makes results reproducible on ANY cluster layout:
    // no hash/agg/join in these paths depends on physical partitioning
    def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val d2 = docs.repartition(2)
    val d13 = docs.repartition(13)
    assert(sortedRows(Dedup.minhashCandidatePairs(d2, "doc_id", "text", family = Dedup.Md5Portable)) ===
      sortedRows(Dedup.minhashCandidatePairs(d13, "doc_id", "text", family = Dedup.Md5Portable)))
    assert(sortedRows(Dedup.jaccardPairs(d2, "doc_id", "text", 3, 0.3, maxDocFreq = 50)) ===
      sortedRows(Dedup.jaccardPairs(d13, "doc_id", "text", 3, 0.3, maxDocFreq = 50)))
    val e3 = emb001.repartition(3)
    val e11 = emb001.repartition(11)
    assert(sortedRows(Similarity.lshCandidatePairs(e3, "vec_id", "embedding", 3, 6, dims = Some(64))) ===
      sortedRows(Similarity.lshCandidatePairs(e11, "vec_id", "embedding", 3, 6, dims = Some(64))))
  }

  test("deterministic splits: stable assignment, monotone sampling, stratified rates") {
    val withSplit = docs.withColumn("split",
      Sampling.splitLabel(col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
    // same row → same split, always (rerun gives identical assignment)
    val a = withSplit.select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = docs.repartition(7).withColumn("split",
        Sampling.splitLabel(col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b)
    // fractions roughly honored on 500 docs
    val counts = withSplit.groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("train") > 350 && counts("val") > 20 && counts("test") > 20)
    // hash-threshold sampling is monotone in rate: sample(0.2) ⊆ sample(0.5)
    val s02 = Sampling.sample(docs, "doc_id", 0.2).select("doc_id").collect().map(_.getLong(0)).toSet
    val s05 = Sampling.sample(docs, "doc_id", 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s02.subsetOf(s05))
    // stratified: zero-rate stratum vanishes, others keep the default
    val strat = Sampling.stratifiedSample(docs, "lang", "doc_id", Map("en" -> 0.0))
    assert(strat.where(col("lang") === "en").count() === 0)
    assert(strat.count() === docs.where(col("lang") =!= "en").count())
  }

  test("contamination pairs: duplicated benchmark text is flagged, clean text is not") {
    val bench = docs.where(col("doc_id") < 5).select("doc_id", "text")
    val train = docs.where(col("doc_id") >= 5).select("doc_id", "text")
      .unionByName(bench.select((col("doc_id") + 5000).as("doc_id"), col("text"))) // contaminated copies
    val hits = Dedup.contaminationPairs(train, bench, "doc_id", "text", k = 3, minCommon = 5)
    // every injected copy is caught against its source
    assert(hits.where(col("train_id") === col("bench_id") + 5000).count() === 5)
  }

  test("PII: counts find emails/ips/phones, redaction strips them all") {
    val df = Seq(
      (1L, "mail alice@example.com from 10.0.0.1 then call +1 555 123 4567"),
      (2L, "no pii here")).toDF("doc_id", "text")
    val out = df.select(Seq(col("doc_id")) ++ TextAnalysis.piiCounts(col("text")) :+
      TextAnalysis.redactPii(col("text")).as("r"): _*).orderBy("doc_id").collect()
    assert(out(0).getLong(1) === 1 && out(0).getLong(2) === 1 && out(0).getLong(3) === 1)
    assert(out(0).getString(4) === "mail <EMAIL> from <IP> then call <PHONE>")
    assert(out(1).getString(4) === "no pii here")
    // redacted text has zero remaining hits
    val rehits = df.select(TextAnalysis.piiCounts(TextAnalysis.redactPii(col("text"))): _*)
      .agg(sum(col("n_email") + col("n_ipv4") + col("n_phone"))).head().getLong(0)
    assert(rehits === 0)
  }

  test("image metadata decode is REAL: ImageIO round-trip, corrupt marker, stub only for non-image") {
    val rows = Seq(
      Multimodal.MediaRow(1L, Multimodal.syntheticImage(40, 25, 3L, "png"), "image/png"),
      Multimodal.MediaRow(2L, Multimodal.syntheticImage(17, 63, 5L, "bmp"), "image/bmp"),
      Multimodal.MediaRow(3L, Array[Byte](9, 9, 9), "image/png"),
      Multimodal.MediaRow(4L, "not an image".getBytes("UTF-8"), "audio/wav"))
    val got = Multimodal.extractMeta(spark.createDataset(rows)).collect().sortBy(_.doc_id)
    // dimensions come from decoding the actual encoded bytes
    assert(got(0).width === 40 && got(0).height === 25)
    assert(got(1).width === 17 && got(1).height === 63)
    // unparseable image bytes → explicit failure marker, never fake numbers
    assert(got(2).width === -1 && got(2).height === -1)
    // audio/video mimes keep the declared stub
    assert(got(3) === Multimodal.decodeStub(rows(3)))
  }

  test("audio metadata decode is REAL: WAV round-trip through javax.sound.sampled") {
    val rows = Seq(
      Multimodal.MediaRow(1L, Multimodal.syntheticWav(16000, 1, 320, 3L), "audio/wav"),
      Multimodal.MediaRow(2L, Multimodal.syntheticWav(44100, 2, 555, 5L), "audio/wav"),
      Multimodal.MediaRow(3L, Array[Byte](9, 9, 9), "audio/wav"))
    val got = Multimodal.extractAudioMeta(spark.createDataset(rows)).collect().sortBy(_.doc_id)
    // header values come from parsing the actual encoded bytes
    assert(got(0).sample_rate === 16000 && got(0).channels === 1 && got(0).n_frames === 320L)
    assert(got(1).sample_rate === 44100 && got(1).channels === 2 && got(1).n_frames === 555L)
    // n_bytes covers the full container (header + data), not just frames
    assert(got(1).n_bytes > 555 * 2 * 2)
    // unparseable audio bytes → explicit failure marker, never fake numbers
    assert(got(2).sample_rate === -1 && got(2).channels === -1 && got(2).n_frames === -1L)
  }

  test("video metadata decode is REAL: MP4 box walk reads mvhd/tkhd back") {
    val rows = Seq(
      Multimodal.MediaRow(1L, Multimodal.syntheticMp4(320, 240, 90000, 1350, 3L), "video/mp4"),
      Multimodal.MediaRow(2L, Multimodal.syntheticMp4(176, 144, 600, 601, 5L), "video/mp4"),
      // a box-shaped but moov-less payload and raw garbage both → marker
      Multimodal.MediaRow(3L, Array[Byte](0, 0, 0, 8, 'f', 'r', 'e', 'e'), "video/mp4"),
      Multimodal.MediaRow(4L, Array[Byte](9, 9, 9), "video/mp4"))
    val got = Multimodal.extractVideoMeta(spark.createDataset(rows)).collect().sortBy(_.doc_id)
    assert(got(0).width === 320 && got(0).height === 240 && got(0).duration_ms === 15L)
    assert(got(1).width === 176 && got(1).height === 144 && got(1).duration_ms === 1001L)
    assert(got(2).duration_ms === -1L && got(3).width === -1)
    // checksum is the md5 of the raw container bytes either way
    assert(got(0).checksum.length === 32)
  }

  test("mp4 parser handles 64-bit largesize and version-1 mvhd/tkhd layouts") {
    // structural variants a real muxer may emit: moov as a size==1
    // largesize box, mvhd/tkhd in their version-1 (64-bit time) forms
    def be32(v: Int): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be64(v: Long): Array[Byte] = be32((v >> 32).toInt) ++ be32(v.toInt)
    def box(t: String, body: Array[Byte]): Array[Byte] =
      be32(8 + body.length) ++ t.getBytes("US-ASCII") ++ body
    def boxLarge(t: String, body: Array[Byte]): Array[Byte] =
      be32(1) ++ t.getBytes("US-ASCII") ++ be64(16L + body.length) ++ body
    val mvhd1 = box("mvhd", be32(0x01000000) ++ be64(0) ++ be64(0) ++
      be32(48000) ++ be64(96000) ++ Array.fill[Byte](80)(0))
    val tkhd1 = box("tkhd", be32(0x01000007) ++ be64(0) ++ be64(0) ++
      be32(1) ++ be32(0) ++ be64(96000) ++ Array.fill[Byte](52)(0) ++
      be32(1280 << 16) ++ be32(720 << 16))
    val bytes = box("ftyp", "isom".getBytes("US-ASCII") ++ be32(0)) ++
      boxLarge("moov", mvhd1 ++ box("trak", tkhd1))
    assert(Multimodal.parseMp4Meta(bytes) === ((1280, 720, 2000L)))
    // truncations at every prefix length must fail cleanly, never throw
    val base = Multimodal.syntheticMp4(640, 480, 1000, 2500, 1L)
    assert(Multimodal.parseMp4Meta(base) === ((640, 480, 2500L)))
    (0 until base.length by 7).foreach { n =>
      Multimodal.parseMp4Meta(base.take(n))
    }
  }

  test("multimodal: frame sampling keeps every stride-th frame") {
    import spark.implicits._
    val media = Multimodal.fromText(docs.limit(5), "doc_id", "text")
    val frames = Multimodal.sampleFrames(media, frameBytes = 16, stride = 2)
    assert(frames.where(col("frame_idx") % 2 =!= 0).count() === 0)
    assert(frames.count() > 0)
  }
}
