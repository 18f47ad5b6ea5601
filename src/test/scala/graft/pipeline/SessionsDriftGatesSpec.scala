package graft.pipeline

import graft.SparkSuite
import graft.stats.Drift
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Round-3 additions: gap sessionization, per-group (windowed) drift PSI,
  * the composite quality-gate verdict, and embedding near-dup components. */
class SessionsDriftGatesSpec extends SparkSuite {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = new Timestamp(minute * 60000L)

  test("sessionize splits on the idle gap and numbers sessions per user") {
    // user 1: events at minutes 0, 10, 20 | 90, 95 | 200 (gap = 30 min)
    // user 2: events at minutes 0 | 1000
    val df = Seq(
      (1L, ts(0), 1L), (1L, ts(10), 2L), (1L, ts(20), 3L),
      (1L, ts(90), 4L), (1L, ts(95), 5L), (1L, ts(200), 6L),
      (2L, ts(0), 7L), (2L, ts(1000), 8L)
    ).toDF("user_id", "ts", "event_id")
    val got = Sessions.sessionize(df, "user_id", "ts", "event_id", gapSeconds = 1800)
      .select("user_id", "event_id", "session_idx")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 1L),
      (1L, 4L, 2L), (1L, 5L, 2L), (1L, 6L, 3L),
      (2L, 7L, 1L), (2L, 8L, 2L)))
  }

  test("sessionize boundary: a gap of exactly gapSeconds stays in-session") {
    val df = Seq((1L, ts(0), 1L), (1L, ts(30), 2L), (1L, ts(61), 3L))
      .toDF("user_id", "ts", "event_id")
    val got = Sessions.sessionize(df, "user_id", "ts", "event_id", gapSeconds = 1800)
      .select("event_id", "session_idx").as[(Long, Long)].collect().toSet
    // 0→30 min = exactly 1800 s (not >), 30→61 min = 1860 s (> 1800)
    assert(got === Set((1L, 1L), (2L, 1L), (3L, 2L)))
  }

  test("sessionize is partition-invariant (total order via the tie column)") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    def run(parts: Int) =
      Sessions.sessionize(events.repartition(parts), "user_id", "ts", "event_id", 1800L)
        .select("event_id", "session_idx").as[(Long, Long)].collect().toSeq.sorted
    assert(run(1) === run(13))
  }

  test("psiByGroup: identical halves score ~0, a shifted group scores high") {
    // the baseline is the WHOLE corpus, so keep the drifted group small
    // (5% of mass) — the healthy groups then sit near the global shape
    val base = (1 to 2000).map(i => ("a", (i % 100).toDouble)) ++
      (1 to 2000).map(i => ("b", (i % 100).toDouble)) ++
      (1 to 200).map(i => ("c", 80.0 + (i % 20))) // mass shifted into the top bins
    val df = base.toDF("grp", "v")
    val psi = Drift.psiByGroup(df, "grp", "v", lo = 0.0, hi = 100.0, bins = 10)
      .as[(String, Double)].collect().toMap
    assert(psi("a") === psi("b")) // identical distributions → identical psi
    assert(math.abs(psi("a")) < 0.05, s"uniform group drifted: ${psi("a")}")
    assert(psi("c") > 1.0, s"shifted group should alert: ${psi("c")}")
  }

  test("psiByGroup agrees with the two-histogram Drift.psi for each group") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("grp", (col("user_id") % 3).cast("long"))
    val byGroup = Drift.psiByGroup(events, "grp", "value", 0.0, 500.0, 10)
      .as[(Long, Double)].collect().toMap
    val global = Drift.histogram(events, "value", 0.0, 500.0, 10)
    for (g <- byGroup.keys) {
      val gh = Drift.histogram(events.where(col("grp") === g), "value", 0.0, 500.0, 10)
      // (p−q)·ln(p/q) is symmetric in (p,q): same number both routes as long
      // as every globally-occupied bin enters the grid
      val direct = Drift.psi(gh, global).as[Double].head()
      assert(math.abs(byGroup(g) - direct) < 1e-9, s"group $g: ${byGroup(g)} vs $direct")
    }
  }

  test("gateVerdict applies gates in fixed order, first failure wins") {
    val docs = Seq(
      1L -> "too short",                                           // < 5 words
      2L -> "spam spam spam spam spam spam spam spam",             // repetitive (and short-ish but ≥5)
      3L -> "zzz qqq www rrr ttt yyy uuu iii",                     // no stopword profile → no_lang
      4L -> "the 111 222 333 444 555 666 777 888 999 000 111",     // en stopword, digits → low_alpha
      5L -> "the quick brown fox jumps over the lazy dog and runs for it")
      .toDF("doc_id", "text")
    val got = docs.select(col("doc_id"), TextAnalysis.gateVerdict(col("text")).as("v"))
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "too_short", 2L -> "repetitive", 3L -> "no_lang",
      4L -> "low_alpha", 5L -> "keep"))
  }

  test("gateVerdict: degenerate inputs fail closed (empty/null → too_short)") {
    val docs = Seq((1L, ""), (2L, "   "), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = docs.select(col("doc_id"), TextAnalysis.gateVerdict(col("text")).as("v"))
      .as[(Long, String)].collect().toMap
    assert(got.values.toSet === Set("too_short"))
  }

  test("sessionize agrees with a driver-side fold on random event logs") {
    // property-style agreement with the obvious sequential oracle: sort a
    // user's events, start a new session whenever the gap exceeds the
    // threshold — the distributed window computation must match exactly
    val rnd = new scala.util.Random(42)
    val events = (1 to 2000).map { i =>
      val user = rnd.nextInt(17).toLong
      val t = rnd.nextInt(500000).toLong * 1000L // ms, duplicates likely
      (user, new Timestamp(t), i.toLong)
    }
    val df = events.toDF("user_id", "ts", "event_id")
    val gap = 30000L // 30 s
    val got = Sessions.sessionize(df, "user_id", "ts", "event_id", gapSeconds = gap / 1000)
      .select("user_id", "event_id", "session_idx")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap

    val want = events.groupBy(_._1).flatMap { case (user, evs) =>
      val ordered = evs.sortBy(e => (e._2.getTime, e._3))
      var idx = 0L; var prev = Long.MinValue
      ordered.map { case (_, ts, id) =>
        if (prev == Long.MinValue || ts.getTime - prev > gap) idx += 1
        prev = ts.getTime
        (user, id) -> idx
      }
    }.toMap
    assert(got === want)
  }

  test("charEntropy matches closed forms on degenerate and uniform docs") {
    val docs = Seq((1L, "aaaa"), (2L, "abab"), (3L, "abcd")).toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(docs, "doc_id", "text")
      .select("id", "n_distinct_chars", "entropy")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got(1L)._1 === 1L && math.abs(got(1L)._2 - 0.0) < 1e-12)
    assert(got(2L)._1 === 2L && math.abs(got(2L)._2 - math.log(2)) < 1e-12)
    assert(got(3L)._1 === 4L && math.abs(got(3L)._2 - math.log(4)) < 1e-12)
  }

  test("asOf join: latest at-or-before match, inclusive boundary, null when none") {
    val left = Seq(
      (1L, ts(10), 101L), // between r@5 and r@20 → matches r@5
      (1L, ts(20), 102L), // exactly at r@20 → inclusive
      (1L, ts(3), 103L),  // before any right row → null
      (2L, ts(50), 104L)  // key with no right rows at all → null
    ).toDF("k", "t", "left_id")
    val right = Seq((1L, ts(5), 900L), (1L, ts(20), 901L), (3L, ts(1), 902L))
      .toDF("k", "rt", "payload")
    val got = AsOf.joinAsOf(left, "k", "t", right, "k", "rt", Seq("payload"))
      .select("left_id", "asof_payload")
      .as[(Long, Option[Long])].collect().toMap
    assert(got === Map(101L -> Some(900L), 102L -> Some(901L),
      103L -> None, 104L -> None))
  }

  test("asOf join: NULL-key/NULL-time right rows never match (ASOF semantics)") {
    val left = Seq((1L, ts(10), 1L), (2L, ts(10), 2L)).toDF("k", "t", "left_id")
    val right = Seq(
      (Option(1L), Option(ts(5)), 900L),
      (Option(1L), Option.empty[Timestamp], 901L), // null time: never matches
      (Option.empty[Long], Option(ts(1)), 902L)    // null key: never matches
    ).toDF("k", "rt", "payload")
    val got = AsOf.joinAsOf(left, "k", "t", right, "k", "rt", Seq("payload"))
      .select("left_id", "asof_payload")
      .as[(Long, Option[Long])].collect().toMap
    assert(got === Map(1L -> Some(900L), 2L -> None))
  }

  test("asOf join plans a single hash shuffle (union + window, no join node)") {
    val spark0 = spark
    val ev = spark0.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select("event_id", "user_id", "ts")
    val ord = spark0.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    val df = AsOf.joinAsOf(ev, "user_id", "ts", ord, "o_custkey", "o_orderdate", Seq("o_orderkey"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Join"), "asOf must not plan a join node")
    // the right-side dedup agg shuffles once; the window shuffles once
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 2, s"expected union+window shape, got $shuffles hash exchanges")
  }

  test("simhashNearDupPairs64: exact recall on injected dups") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 50)
    val dup = docs.withColumn("doc_id", col("doc_id") + lit(100000L))
    // docs with at least one word get a fingerprint; identical text MUST
    // collide in every band and land at hamming 0 — none may be missed
    val expected = docs.where(size(TextAnalysis.words(col("text"))) > 0)
      .select("doc_id").as[Long].collect().toSet
    // (pigeonhole: identical fingerprints share all four 16-bit bands)
    val pairs = Dedup.simhashNearDupPairs64(docs.unionByName(dup), "doc_id", "text")
      .as[(Long, Long, Int)].collect()
    val found = pairs.collect { case (a, b, 0) if b == a + 100000L => a }.toSet
    assert(found === expected)
  }

  test("simhashNearDupPairs64: pigeonhole recall at hamming exactly 3 (adversarial bit flips)") {
    // hand-built corpus: doc 2 = doc 1's fingerprint with 3 bits flipped is
    // not constructible from text directly, so instead verify on REPEATED
    // words: near-identical docs (one word appended) stay within hamming 3
    // of each other often enough to exercise nonzero-hamming pairs, and
    // every reported pair's hamming is consistent with its fingerprints
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 80)
    val near = docs.select((col("doc_id") + 100000L).as("doc_id"),
      concat(col("text"), lit(" suffixtokenx")).as("text"))
    val all = docs.unionByName(near)
    val sigs = Dedup.simhashSignatures64(all, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val got = Dedup.simhashNearDupPairs64(all, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    // exhaustive check: EVERY cross-pair within hamming ≤ 3 must be found
    val want = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h)).toSet
    assert(got.toSet === want)
    assert(got.forall { case (a, b, h) =>
      java.lang.Long.bitCount(sigs(a) ^ sigs(b)) == h })
  }

  test("connectedComponentsStar: empty and single-pair edge sets") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponentsStar(empty).count() === 0)
    val one = Seq((7L, 3L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponentsStar(one).as[(Long, Long)].collect().toMap
    assert(comp === Map(7L -> 3L, 3L -> 3L))
  }

  test("nearDupComponents groups transitive near-dups under the min id") {
    // cluster A: 1,2,3 share the same direction; cluster B: 10,11; 20 alone
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(8)(r.nextFloat() - 0.5f)
    }
    val a = vec(7); val b = vec(8); val c = vec(9)
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.zipWithIndex.map { case (x, i) => x + eps * (if (i % 2 == 0) 1 else -1) * 0.001f }
    val df = Seq(
      (1L, a), (2L, jitter(a, 1)), (3L, jitter(a, 2)),
      (10L, b), (11L, jitter(b, 1)),
      (20L, c)
    ).toDF("vec_id", "embedding")
    val comp = Similarity.nearDupComponents(df, "vec_id", "embedding",
        minCosine = 0.99, tables = 4, bitsPerTable = 4, dims = Some(8))
      .as[(Long, Long)].collect().toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("semanticDedupGroups: planted groups collapse, keeper = min id, loners drop out") {
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(8)(r.nextFloat() - 0.5f)
    }
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.zipWithIndex.map { case (x, i) => x + eps * (if (i % 2 == 0) 1 else -1) * 0.001f }
    val a = vec(7); val b = vec(8); val c = vec(9)
    val df = Seq(
      (1L, a), (2L, jitter(a, 1)), (3L, jitter(a, 2)), // semantic triplet
      (10L, b), (11L, jitter(b, 1)),                   // pair
      (20L, c)                                          // loner
    ).toDF("vec_id", "embedding")
    // diverse quantizer: one centroid per direction (the default lowest-id
    // pick would seed three near-identical centroids and shatter the
    // triplet across cells — the quantizer-granularity recall loss the
    // scaladoc warns about)
    val cents = Similarity.ivfCentroids(
      df.where(col("vec_id").isin(1L, 10L, 20L)), "vec_id", "embedding", nlist = 3)
    val got = Similarity.semanticDedupGroups(df, "vec_id", "embedding",
        nlist = 3, tau = 0.99, centroids = Some(cents))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got === Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false)))
  }

  test("semanticDedupGroups maxCellSize drops over-full cells from the quadratic join") {
    // 30 copies of one direction saturate a cell; the cap excises it
    val base = Array.fill(8)(0.5f)
    val df = (1L to 30L).map(i => (i, base.clone())).toDF("vec_id", "embedding")
    val capped = Similarity.semanticDedupGroups(df, "vec_id", "embedding",
      nlist = 2, tau = 0.9, maxCellSize = Some(10))
    assert(capped.count() === 0) // the single hot cell was dropped entirely
    val uncapped = Similarity.semanticDedupGroups(df, "vec_id", "embedding",
      nlist = 2, tau = 0.9)
    assert(uncapped.count() === 30)
  }
}
