package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact (hash groupBy), n-gram Jaccard (inverted-index join),
  * MinHash+LSH (fused per-row shingle-hash kernel → signature → band
  * buckets → candidate join),
  * SimHash (bitwise fingerprint).
  *
  * Scale design:
  *  - exact dedup is one `groupBy(md5)` — partial agg + tiny shuffle;
  *  - pairwise Jaccard never does a cartesian product: the self-join is on
  *    the *shingle* (inverted index), so cost ∝ Σ posting-list²; at 100 TB
  *    you cap it with the MinHash path, whose band join only touches
  *    colliding buckets (banding theory: P(collide) = 1-(1-j^r)^b);
  *  - all hashing is md5-derived, so results are engine-portable (the
  *    DuckDB oracle reproduces signatures exactly) and partition-invariant.
  */
object Dedup {

  /** md5-derived 32-bit hash of a string expression, seeded. Portable:
    * `('0x' || substr(md5(seed||':'||s),1,8))::BIGINT` in DuckDB. The one
    * definition lives in [[graft.functions.PortableHash]] (shared with the
    * violation samplers). */
  def md5Hash32(s: Column, seed: Int): Column =
    graft.functions.PortableHash.md5Window32(s, seed)

  /** One md5 yields FOUR independent 32-bit values (hex windows 0..3) —
    * k MinHash signatures cost ⌈k/4⌉ md5s instead of k (md5 dominates the
    * portable family's wall; measured ~2.8× on the signature stage).
    * Portable: `('0x' || substr(md5(g||':'||s), 1+8w, 8))::BIGINT`. */
  def md5Hash32Window(s: Column, group: Int, window: Int): Column =
    graft.functions.PortableHash.md5Window32(s, group, window)

  /** Exact-duplicate groups by content hash: `(fingerprint, n, min_id)`. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exactDupGroupsBy(df, idCol, TextAnalysis.fingerprint(col(textCol)))

  /** [[exactDupGroups]] over a pre-tokenized `array<int>` corpus: the
    * fingerprint hashes the space-joined decimal ids (same hash domain as
    * the text family, oracle-portable). */
  def exactDupGroupsTokens(df: DataFrame, idCol: String, tokensCol: String): DataFrame =
    exactDupGroupsBy(df, idCol,
      TextAnalysis.fingerprint(array_join(tokenTerms(col(tokensCol)), " ")))

  private def exactDupGroupsBy(df: DataFrame, idCol: String, fp: Column): DataFrame =
    df.groupBy(fp.as("fp"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keep_id"))
      .where(col("n") > 1)

  /** Incremental (snapshot-to-snapshot) exact dedup — the form a daily
    * ingestion pipeline actually runs: only the NEW batch is classified,
    * against (a) the accumulated corpus and (b) itself. Output one row per
    * incoming document: `(id, fp, status, keep)` with status
    * `dup_existing` (fingerprint already in the corpus — always dropped),
    * `dup_incoming` (first seen in this batch, but not the batch's
    * lowest-id holder), or `new` (the kept representative).
    *
    * Scale: at 10¹² docs the `existing` side is the persisted fingerprint
    * INDEX (one 16-byte hash per retained doc — the [[exactDupGroups]]
    * artifact's key column, hash-bucketed on disk), not a corpus rescan;
    * both joins and the first-occurrence `min` key on the md5 fingerprint,
    * which is uniform BY CONSTRUCTION (a 128-bit hash has no Zipf mass —
    * occurrence skew lands in the partial-aggregated min, where the map
    * side collapses it before the shuffle). Only the incoming batch — the
    * small side — flows through the pipeline. */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val exFp = existing
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp")).distinct()
    val inc = incoming.select(col(idCol).as("id"),
      TextAnalysis.fingerprint(col(textCol)).as("fp"))
    val firstIn = inc.groupBy("fp").agg(min("id").as("first_id"))
    inc.join(exFp.withColumn("__ex", lit(1)), Seq("fp"), "left")
      .join(firstIn, "fp")
      .select(col("id"), col("fp"),
        when(col("__ex").isNotNull, lit("dup_existing"))
          .when(col("id") =!= col("first_id"), lit("dup_incoming"))
          .otherwise(lit("new")).as("status"))
      .withColumn("keep", col("status") === "new")
  }

  /** Distinct k-word shingles per document (lower-cased, whitespace
    * tokenized). `(id, shingle)` exploded — the inverted-index input. */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    df.select(col(idCol).as("id"), explode(shingleArray(col(textCol), k)).as("shingle"))
  }

  /** Distinct k-word shingle array, built by zipping the word array with its
    * own k−1 shifted copies. CRITICAL: the higher-order-function lambda must
    * NOT reference the word-array expression — a lambda-captured expression
    * re-evaluates per ELEMENT, turning shingling into O(len²) per document
    * (measured 5× slower via `element_at(ws, …)` inside `transform`).
    * `zip_with` pads the shorter side with null and `concat(a, null)` is
    * null, so positions past len−k drop out in the filter. */
  def shingleArray(text: Column, k: Int): Column =
    shingleArrayOf(TextAnalysis.words(text), k)

  /** The shingle fold over an arbitrary string-array column (the step that
    * was text-coupled in rounds 1-4): words from text, or stringified ids
    * from a pre-tokenized `array<int>` corpus — the north-rule table's
    * native domain. */
  private def shingleArrayOf(ws: Column, k: Int): Column = {
    val joined = (1 until k).foldLeft(ws) { (acc, j) =>
      zip_with(acc, slice(ws, lit(j + 1), greatest(size(ws) - j, lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    array_distinct(filter(joined, x => x.isNotNull))
  }

  /** Token-id terms as strings — the `array<int>` twin of
    * [[TextAnalysis.words]]. Cast, not format: "17" is the exact decimal
    * rendering in both engines, so the md5-window hash family matches the
    * DuckDB oracle on the same derivation. */
  def tokenTerms(tokens: Column): Column = transform(tokens, t => t.cast("string"))

  /** Distinct k-token shingles over a PRE-TOKENIZED corpus (`array<int>`
    * tokens — the north-rule table's shape): a strict simplification of
    * the text path (no regex split, no lower/trim), same downstream
    * machinery. */
  def tokenShingleArray(tokens: Column, k: Int): Column =
    shingleArrayOf(tokenTerms(tokens), k)

  /** `(id, shingle)` exploded over token-id shingles — the inverted-index
    * input for the token-domain dedup family. */
  def tokenShingles(df: DataFrame, idCol: String, tokensCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("id"), explode(tokenShingleArray(col(tokensCol), k)).as("shingle"))

  /** Shingles whose document frequency exceeds `maxDocFreq` — the
    * "boilerplate" set. Tiny in practice (a handful of headers/footers), so
    * it broadcasts; exposed for observability (log/report its count before
    * a big run). */
  def frequentShingles(df: DataFrame, idCol: String, textCol: String, k: Int,
      maxDocFreq: Int): DataFrame =
    shingles(df, idCol, textCol, k)
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDocFreq)

  /** Document pairs with n-gram Jaccard ≥ `minJaccard`, via inverted-index
    * self-join on the shingle (no cartesian). Output
    * `(id_a, id_b, n_common, n_a, n_b, jaccard)` with id_a < id_b.
    *
    * `maxDocFreq` caps posting-list length: the join cost is
    * Σ posting-list², so ONE boilerplate shingle shared by 1 M docs would
    * alone contribute 10¹² join rows. Shingles above the cap carry ~no
    * Jaccard signal (they match everything) and are removed from the
    * shingle SETS (numerator and denominator — self-consistent semantics);
    * the dropped set is tiny and rides a broadcast anti-join. Default = no
    * cap (exact textbook Jaccard). */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, k: Int,
      minJaccard: Double, maxDocFreq: Int = Int.MaxValue): DataFrame =
    jaccardFromShingles(df, idCol, shingleArray(col(textCol), k), minJaccard, maxDocFreq)

  /** [[jaccardPairs]] over a pre-tokenized `array<int>` corpus — identical
    * inverted-index/df-cap machinery over token-id shingles. */
  def jaccardPairsTokens(df: DataFrame, idCol: String, tokensCol: String, k: Int,
      minJaccard: Double, maxDocFreq: Int = Int.MaxValue): DataFrame =
    jaccardFromShingles(df, idCol, tokenShingleArray(col(tokensCol), k), minJaccard, maxDocFreq)

  private def jaccardFromShingles(df: DataFrame, idCol: String, shArr: Column,
      minJaccard: Double, maxDocFreq: Int): DataFrame = {
    def finish(withSizes: DataFrame): DataFrame = withSizes
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")

    if (maxDocFreq == Int.MaxValue) {
      // set sizes ride along with the exploded shingles, so the pair counts
      // and the jaccard denominator come out of ONE inverted-index join +
      // ONE aggregation — no cache, no size-lookup joins (scale: the only
      // shuffle partitions by shingle, then by pair)
      val sh = df.select(col(idCol).as("id"), shArr.as("sh"))
        .select(col("id"), size(col("sh")).cast("long").as("n"), explode(col("sh")).as("shingle"))
      finish(sh.as("a").join(sh.as("b"), Seq("shingle"))
        .where(col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.n").as("n_a"), col("b.n").as("n_b"))
        .agg(count(lit(1)).as("n_common")))
    } else {
      // ONE shingle explosion, materialized: the df counts and the kept
      // posting rows both read the same checkpointed set. (Deriving the
      // frequent set via a second shingles() call re-explodes — and
      // re-tokenizes — the whole corpus; the explode is the expensive
      // part at scale, and exchange reuse cannot dedup it because the
      // anti-join's stream side has no exchange.)
      val ex = df.select(col(idCol).as("id"), explode(shArr).as("shingle"))
        .localCheckpoint()
      val freq = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
        .where(col("df") > maxDocFreq).select("shingle")
      val kept = ex.join(broadcast(freq), Seq("shingle"), "left_anti")
      // surviving set sizes via ONE partial-aggregated counter shuffle;
      // they re-attach to the PAIR table after aggregation (rows already
      // collapsed to one per candidate pair). The former `count over
      // Window.partitionBy(id)` pushed every surviving posting through a
      // second full exchange before the self-join exchanged them again —
      // at cluster scale the posting bytes dominate the counter/pair-side
      // joins added here (measured A/B; an array-domain
      // `array_except` variant avoids all extra exchanges but re-builds
      // the frequent-set hash per row — 40% slower even locally)
      val sizes = kept.groupBy("id").agg(count(lit(1)).as("n"))
      val pairs = kept.as("a").join(kept.as("b"), Seq("shingle"))
        .where(col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(count(lit(1)).as("n_common"))
      finish(pairs
        .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
        .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), "id_b"))
    }
  }

  /** Hash family selector: md5-derived (engine-portable, oracle-checkable)
    * vs xxhash64 (native codegen'd hash — the fast scale path; ~10× cheaper
    * per hash than md5). */
  sealed trait HashFamily
  case object Md5Portable extends HashFamily
  case object XxFast extends HashFamily

  /** MinHash signatures `(id, sig_0 … sig_{k-1})`: min over the document's
    * distinct shingle set of k independent seeded hash functions.
    *
    * Shape: one fused native kernel per row
    * ([[graft.functions.MinHashTerms]], `minhash_terms`) walks the term
    * windows, writes each shingle's bytes into a reused buffer and keeps the
    * per-seed minima — no shingle strings, no explode, no per-element
    * lambdas. Then ONE `groupBy(id)` with k `min` aggregates (Catalyst's
    * partial aggregation leaves one k-vector per doc per partition, so the
    * shuffle carries |docs|·k longs regardless of document length) unions
    * the shingle sets of rows sharing an id. The kernel's array is read k
    * times but never inlined per slot: CollapseProject keeps a non-cheap
    * producer referenced more than once in its own projection. Docs with no
    * shingle are dropped AFTER the aggregate: a `where` over the kernel's
    * alias would be pushed below the projection as a second kernel call. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int, family: HashFamily = Md5Portable): DataFrame =
    signaturesOf(df.select(col(idCol).as("id"), TextAnalysis.words(col(textCol)).as("terms")),
      shingleK, numHashes, family)

  /** [[minhashSignatures]] over a pre-tokenized `array<int>` corpus —
    * identical signature math over token-id shingles. */
  def minhashSignaturesTokens(df: DataFrame, idCol: String, tokensCol: String,
      shingleK: Int, numHashes: Int, family: HashFamily = Md5Portable): DataFrame =
    signaturesOf(df.select(col(idCol).as("id"), col(tokensCol).as("terms")),
      shingleK, numHashes, family)

  private def signaturesOf(terms: DataFrame, shingleK: Int, numHashes: Int,
      family: HashFamily): DataFrame = {
    val fam = family match {
      case Md5Portable => "md5"
      case XxFast      => "xxhash64"
    }
    terms.select(col("id"),
        graft.functions.MinHashTerms.minhashTerms(col("terms"), shingleK, numHashes, fam).as("sig"))
      .groupBy("id")
      .agg(min(col("sig")(0)).as("sig_0"),
        (1 until numHashes).map(j => min(col("sig")(j)).as(s"sig_$j")): _*)
      .where(col("sig_0").isNotNull)
  }

  /** LSH band keys from a signature: `bands` bands of `rowsPerBand` hashes,
    * each band hashed to one bucket string. */
  def bandKeys(numHashes: Int, bands: Int): Seq[Column] = {
    val rowsPerBand = numHashes / bands
    // rowsPerBand = 0 would hash the EMPTY signature slice — every doc in
    // one bucket per band, an N² candidate bomb; a non-dividing bands count
    // silently ignores the trailing signatures (recall math goes wrong)
    require(rowsPerBand >= 1 && numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes with rowsPerBand >= 1")
    (0 until bands).map { b =>
      val sigCols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(j => col(s"sig_$j").cast("string"))
      md5(concat_ws(",", sigCols: _*).cast("binary")).as(s"band_$b")
    }
  }

  /** Near-duplicate candidate pairs: documents sharing at least one LSH band
    * bucket. The join is per-band on the bucket hash — only colliding
    * buckets meet, which is what makes this the 100 TB path. Returns
    * distinct `(id_a, id_b)` with id_a < id_b. */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 16, bands: Int = 4,
      family: HashFamily = XxFast, expectedDocs: Option[Long] = None): DataFrame =
    candidatePairsFromSignatures(
      minhashSignatures(df, idCol, textCol, shingleK, numHashes, family),
      numHashes, bands, expectedDocs)

  /** [[minhashCandidatePairs]] over a pre-tokenized `array<int>` corpus. */
  def minhashCandidatePairsTokens(df: DataFrame, idCol: String, tokensCol: String,
      shingleK: Int = 3, numHashes: Int = 16, bands: Int = 4,
      family: HashFamily = XxFast, expectedDocs: Option[Long] = None): DataFrame =
    candidatePairsFromSignatures(
      minhashSignaturesTokens(df, idCol, tokensCol, shingleK, numHashes, family),
      numHashes, bands, expectedDocs)

  /** Shared LSH band-bucket self-join over a `(id, sig_0..sig_{k-1})`
    * signature frame — only colliding buckets meet. */
  private def candidatePairsFromSignatures(sigs: DataFrame, numHashes: Int,
      bands: Int, expectedDocs: Option[Long]): DataFrame = {
    // effective bucket space per band = the signature-slice space,
    // 2^(32·rowsPerBand) for 32-bit hashes (the md5 of the slice does not
    // shrink it below 63 usable bits)
    expectedDocs.foreach(n =>
      lintBanding(n, bandBits = math.min(63, 32 * (numHashes / bands)), bands = bands)
        .foreach(warn))
    val signed = sigs.select(col("id") +: bandKeys(numHashes, bands): _*)
    val stacked = signed.select(col("id"),
      explode(array((0 until bands).map(b => col(s"band_$b")): _*)).as("bucket"))
    stacked.as("a").join(stacked.as("b"), Seq("bucket"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Benchmark decontamination: training documents sharing ≥ `minCommon`
    * distinct k-shingles with any benchmark document — the overlap check a
    * training pipeline runs against eval sets before training. Same
    * inverted-index shape as [[jaccardPairs]] but ACROSS corpora: the join
    * key is the shingle, so cost ∝ Σ |train posting| · |bench posting| —
    * bench sets are small, so posting products stay tiny. Output
    * `(train_id, bench_id, n_common)`. */
  def contaminationPairs(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, k: Int, minCommon: Long): DataFrame =
    contaminationFromShingles(
      shingles(train, idCol, textCol, k), shingles(bench, idCol, textCol, k), minCommon)

  /** [[contaminationPairs]] over pre-tokenized `array<int>` corpora (e.g.
    * a tokenized training set vs tokenized benchmarks). */
  def contaminationPairsTokens(train: DataFrame, bench: DataFrame, idCol: String,
      tokensCol: String, k: Int, minCommon: Long): DataFrame =
    contaminationFromShingles(
      tokenShingles(train, idCol, tokensCol, k),
      tokenShingles(bench, idCol, tokensCol, k), minCommon)

  private def contaminationFromShingles(st0: DataFrame, sb0: DataFrame,
      minCommon: Long): DataFrame = {
    val st = st0.withColumnRenamed("id", "train_id")
    val sb = sb0.withColumnRenamed("id", "bench_id")
    st.join(sb, Seq("shingle"))
      .groupBy("train_id", "bench_id")
      .agg(count(lit(1)).as("n_common"))
      .where(col("n_common") >= minCommon)
  }

  /** FUZZY benchmark decontamination — MinHash-LSH across corpora: train
    * docs whose estimated Jaccard against any benchmark doc clears
    * `minAgree`/`numHashes`. Catches paraphrase-level leakage the exact
    * shingle-overlap check ([[contaminationPairsTokens]]) prices linearly;
    * this one touches only band-bucket collisions, then scores candidates
    * by signature agreement (the standard unbiased Jaccard estimator:
    * P(min-hash match) = J).
    *
    * Scale shape: benchmark sets are small by nature (k–M docs), so BOTH
    * bench-side tables broadcast explicitly — the band probe and the
    * signature re-join are map-side; the train side is touched once for
    * signatures (one partial-aggregated groupBy) and once for the probe.
    * No train×train work at all. Output
    * `(train_id, bench_id, n_agree, est_jaccard)`. */
  def fuzzyContaminationTokens(train: DataFrame, bench: DataFrame,
      idCol: String, tokensCol: String, shingleK: Int, numHashes: Int,
      bands: Int, minAgree: Int,
      family: HashFamily = Md5Portable): DataFrame = {
    require(minAgree >= 1 && minAgree <= numHashes,
      s"minAgree must be in [1, $numHashes], got $minAgree")
    val ts = minhashSignaturesTokens(train, idCol, tokensCol, shingleK, numHashes, family)
    val bs = minhashSignaturesTokens(bench, idCol, tokensCol, shingleK, numHashes, family)
    def bandTable(sigs: DataFrame, outId: String): DataFrame =
      sigs.select(col("id").as(outId) +: bandKeys(numHashes, bands): _*)
        .select(col(outId),
          explode(array((0 until bands).map(b => col(s"band_$b")): _*)).as("bucket"))
    val cand = bandTable(ts, "train_id")
      .join(broadcast(bandTable(bs, "bench_id")), Seq("bucket"))
      .select("train_id", "bench_id").distinct()
    val agree = (0 until numHashes)
      .map(j => when(col(s"t.sig_$j") === col(s"b.sig_$j"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(ts.as("t"), col("train_id") === col("t.id"))
      .join(broadcast(bs.as("b")), col("bench_id") === col("b.id"))
      .select(col("train_id"), col("bench_id"), agree.cast("long").as("n_agree"),
        round(agree.cast("double") / lit(numHashes.toDouble), 6).as("est_jaccard"))
      .where(col("n_agree") >= minAgree)
  }

  /** The min-label propagation loop of [[minhashComponents]]: every node
    * starts as its own label; each round takes `least(label, nmin)` with
    * `neighborMin(labels)` giving `(id, nmin)`, until no label changes.
    * Rounds = graph diameter. Each round is ONE job: the
    * changed-label count is observed on the round's `localCheckpoint`
    * (`Dataset.observe`) instead of a separate `count()` pass over it.
    * Returns `(id, label)`. */
  private def minLabelLoop(nodes: DataFrame, maxIter: Int, op: String)(
      neighborMin: DataFrame => DataFrame): DataFrame = {
    var labels = nodes.withColumn("label", col("id")).localCheckpoint()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val obs = Observation()
      labels = labels.join(neighborMin(labels), Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .observe(obs, count_if(col("label") =!= col("old")).as("changed"))
        .localCheckpoint()
        .select("id", "label")
      changed = observed(obs, "changed")
      iter += 1
    }
    requireConverged(changed, iter, op)
    labels
  }

  /** A long metric observed on a finished action. */
  private def observed(obs: Observation, name: String): Long =
    obs.get(name).asInstanceOf[Long]

  /** A propagation loop that exits on `maxIter` with updates still flowing
    * has NOT converged — the labels would silently split one duplicate
    * group into several. Fail loudly instead: the caller either raises
    * `maxIter` (rounds needed = graph diameter) or switches to the
    * large-star/small-star variant for adversarial chain graphs. */
  private def requireConverged(changed: Long, iter: Int, op: String): Unit =
    require(changed == 0,
      s"$op did not converge after $iter rounds ($changed labels still changing); " +
        "raise maxIter (rounds needed = graph diameter) — returning partial labels would " +
        "split duplicate groups silently")

  /** Connected components over candidate pairs — turns near-duplicate PAIRS
    * into duplicate GROUPS (component id = min doc id in the group, the
    * canonical "keeper") — via alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"): a
    * chain of length L needs L min-label rounds but only O(log L) star
    * rounds.
    *
    *  - large-star: every edge (u,v) with v > u re-points v at
    *    m(u) = min(Γ(u) ∪ {u}) — big nodes hook onto their neighborhood min;
    *  - small-star: every node points itself and its smaller neighbors at
    *    min(Γ⁻(u) ∪ {u}) — flattens the remaining short trees.
    *
    * A round ([[starRound]]) reads its checkpointed edge set once and runs
    * three exchanges: each star step is a `min … over Window.partitionBy(src)`
    * followed by one `inline` that emits the step's edges, and the round ends
    * in one `distinct`. No frame is referenced twice, so no step is planned
    * twice and no self-join exists.
    *
    * Hub note: all of a node's edges meet in one sort-based Window task
    * (which spills when it outgrows memory); AQE's skew-join split does not
    * apply to a Window, so a hub of degree d costs one task of d rows.
    *
    * Converges when the edge set is a union of stars (each node → its
    * component min). Output `(id, component)`. A node whose only edge is a
    * self-loop is in no component and not in the output. */
  def connectedComponentsStar(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 30): DataFrame = {
    // Order-independent set signature (count, XOR of per-edge hashes),
    // observed on the round's own localCheckpoint — no separate job. A
    // different signature PROVES the edge set changed, so the exact
    // symmetric difference runs only at the signature fixed point, once per
    // run. XOR never overflows (ANSI-safe) and a colliding signature merely
    // falls through to the exact check.
    def checkpointSigned(e: DataFrame): (DataFrame, (Long, Long)) = {
      val obs = Observation()
      val cp = e.observe(obs, count(lit(1)).as("n"),
          coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L)).as("x"))
        .localCheckpoint()
      (cp, (observed(obs, "n"), observed(obs, "x")))
    }
    // exact |next △ edges| in one job: tag each side, OR the tags per edge
    // (both sides are distinct), count the edges not tagged by both
    def symmetricDifference(a: DataFrame, b: DataFrame): Long =
      a.withColumn("__t", lit(1)).unionByName(b.withColumn("__t", lit(2)))
        .groupBy("src", "dst").agg(bit_or(col("__t")).as("__t"))
        .where(col("__t") =!= 3).count()

    var (edges, sigNow) = checkpointSigned(
      edgeRows(pairs, col(idA) -> col(idB), col(idB) -> col(idA)).distinct())
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val (next, sigNext) = checkpointSigned(starRound(edges))
      changed = if (sigNext == sigNow) symmetricDifference(edges, next) else 1L
      edges = next
      sigNow = sigNext
      iter += 1
    }
    requireConverged(changed, iter, "connectedComponentsStar")
    // at convergence every non-root points straight at its component min:
    // each lower edge labels its source and its root
    edgeRows(edges.where(col("dst") < col("src")),
        col("src") -> col("dst"), col("dst") -> col("dst"))
      .distinct().toDF("id", "component")
  }

  /** One large-star + small-star round over a symmetric, distinct edge set
    * `(src, dst)`; returns the next symmetric, distinct edge set. The input
    * is read once, and the plan is linear: two Window exchanges on `src`,
    * then the `distinct`'s. */
  private[graft] def starRound(edges: DataFrame): DataFrame = {
    val bySrc = Window.partitionBy("src")
    // large-star: each upper edge (u, v) re-points v at m(u). Only its lower
    // half (v, m(u)) is emitted — v > u ≥ m(u), so it is never a self-loop —
    // because small-star reads lower edges only; the round's last step adds
    // every reversal.
    val large = edges
      .select(col("src"), col("dst"), least(min(col("dst")).over(bySrc), col("src")).as("m"))
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
    // small-star: every lower edge (v, w) is already w < v, so
    // min(Γ⁻(v) ∪ {v}) = min(Γ⁻(v)); both directions of (w, m) and (v, m)
    // come out of one Generate, self-loops (w = m) dropped
    val m = col("m")
    edgeRows(large.withColumn("m", min(col("dst")).over(bySrc)),
        col("dst") -> m, m -> col("dst"), col("src") -> m, m -> col("src"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** `(src, dst)` rows, one per column pair per input row, from one
    * Generate (`inline` over an array of structs). */
  private def edgeRows(e: DataFrame, out: (Column, Column)*): DataFrame =
    e.select(inline(array(out.map { case (s, d) => struct(s.as("src"), d.as("dst")) }: _*)))

  /** MinHash dedup GROUPS without ever materializing candidate pairs:
    * min-label propagation on the doc–bucket BIPARTITE graph. Each round is
    * two partial-aggregated groupBys over the `(doc, bucket)` index (size =
    * docs × bands), so a degenerate hot bucket costs |bucket| rows — the
    * pair-based route pays |bucket|² before it can even start grouping.
    * Connectivity is identical to [[connectedComponentsStar]] over
    * [[minhashCandidatePairs]] (docs are connected iff they share a
    * bucket), so the two agree exactly; this is the form that survives
    * 10⁹-doc corpora. Output `(id, component)` restricted to groups of ≥ 2
    * (the pair graph's node set). */
  def minhashComponents(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 16, bands: Int = 4,
      family: HashFamily = XxFast, maxIter: Int = 20): DataFrame = {
    val signed = minhashSignatures(df, idCol, textCol, shingleK, numHashes, family)
      .select(col("id") +: bandKeys(numHashes, bands): _*)
    // NOTE (measured, round 4): pre-partitioning TWO checkpointed copies of
    // the index (by id and by bucket) to feed each join pre-shuffled is
    // SLOWER at bench scale (7.1 vs 5.1 s) — the double materialization
    // plus two build-time repartition exchanges cost more than the 2–3
    // propagation rounds save. Single unpartitioned checkpoint retained.
    val index = signed.select(col("id"),
        explode(array((0 until bands).map(b => col(s"band_$b")): _*)).as("bucket"))
      .localCheckpoint()
    val labels = minLabelLoop(index.select("id").distinct(), maxIter, "minhashComponents") {
      labels =>
        val bucketMin = index.join(labels, "id")
          .groupBy("bucket").agg(min("label").as("bmin"))
        index.join(bucketMin, "bucket").groupBy("id").agg(min("bmin").as("nmin"))
    }
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("__n"))
    labels.join(sizes.where(col("__n") >= 2), Seq("label"))
      .select(col("id"), col("label").as("component"))
  }

  /** 64-bit word hash. Md5Portable packs BOTH 32-bit hex windows of ONE md5
    * into (window0 << 32) | window1 — codegen subexpression elimination
    * dedups the digest, so the 64-bit hash costs the same one md5 as
    * [[md5Hash32]]. Portable: DuckDB reads the same two windows
    * (`('0x'||substr(md5(s),1,8))::BIGINT` and `…,9,8…`) and addresses bits
    * 0-31 in the low window, 32-63 in the high one (a single 16-hex-char
    * cast overflows DuckDB's signed BIGINT, so the halves stay separate
    * there). XxFast is one native codegen'd xxhash64. */
  private def seededHash64(s: Column, fam: HashFamily): Column = fam match {
    case Md5Portable =>
      shiftleft(md5Hash32Window(s, 0, 0), 32).bitwiseOR(md5Hash32Window(s, 0, 1))
    case XxFast => xxhash64(lit(0), s)
  }

  /** Fingerprint bit value for a vote column: bit 63 is Long.MinValue (the
    * sign bit — writable as a literal, never as 1L << 63 arithmetic), all
    * others 1L << b; combined with bitwiseOR so no ANSI overflow path
    * exists at all. */
  private def fingerprintBit(vote: Column, b: Int): Column =
    when(vote > 0, lit(if (b == 63) Long.MinValue else 1L << b)).otherwise(lit(0L))

  /** Hamming distance between two 64-bit simhash fingerprints: XOR +
    * popcount (`bit_count` counts over the full two's-complement long). */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** 64-bit SimHash, per-row expression form (narrow selections only — the
    * token-hash array re-evaluates once per bit; use
    * [[simhashSignatures64]] over a corpus). One md5 per word feeds all 64
    * bits. Portable twin of the reference's content-fingerprint idea at the
    * width Manku et al. (WWW'07) showed a web corpus needs. */
  def simhash64(text: Column): Column = {
    val ws = TextAnalysis.words(text)
    val hashes = transform(ws, w => seededHash64(w, Md5Portable))
    val bits = (0 until 64).map { b =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      fingerprintBit(vote, b)
    }
    bits.reduce(_ bitwiseOR _)
  }

  /** Explode-based 64-bit SimHash `(id, simhash)` — the corpus-scale path:
    * each word hashes once (one md5 for Md5Portable, one xxhash64 for
    * XxFast), 64 conditional sums ride one partial aggregation, and the
    * fingerprint assembles bitwise (no overflow path). */
  def simhashSignatures64(df: DataFrame, idCol: String, textCol: String,
      family: HashFamily = Md5Portable): DataFrame =
    simhash64FromTerms(df.select(col(idCol).as("id"),
      explode(TextAnalysis.words(col(textCol))).as("word")), family)

  /** [[simhashSignatures64]] over a pre-tokenized `array<int>` corpus:
    * each token id is one SimHash term (its decimal string feeds the same
    * portable hash family). */
  def simhashSignatures64Tokens(df: DataFrame, idCol: String, tokensCol: String,
      family: HashFamily = Md5Portable): DataFrame =
    simhash64FromTerms(df.select(col(idCol).as("id"),
      explode(tokenTerms(col(tokensCol))).as("word")), family)

  private def simhash64FromTerms(h0: DataFrame, family: HashFamily): DataFrame = {
    val h = h0.select(col("id"), seededHash64(col("word"), family).as("hv"))
    val votes = (0 until 64).map(b =>
      sum(when(shiftright(col("hv"), b).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"v_$b"))
    h.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until 64).map(b => fingerprintBit(col(s"v_$b"), b))
          .reduce(_ bitwiseOR _).as("simhash"))
  }

  /** SimHash near-dup PAIRS over the 64-bit fingerprint with 4×16-bit
    * bands — the corpus-scale form (Manku et al., WWW'07). Pigeonhole makes
    * recall EXACT for `maxHamming ≤ 3` (3 differing bits touch ≤ 3 of the
    * 4 bands), and each band has 65,536 bucket values, so a uniform corpus
    * pays Σ|bucket|² ≈ N²/65,536 per band — 256× less than byte bands
    * over a 32-bit fingerprint, with birthday-safe fingerprints on top.
    *
    * `expectedDocs`: pass the (approximate) corpus size to run the
    * [[lintBanding]] capacity check at plan-build time — warnings land on
    * stderr before the job spends a single task. */
  def simhashNearDupPairs64(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, family: HashFamily = Md5Portable,
      expectedDocs: Option[Long] = None): DataFrame = {
    require(maxHamming <= 3, "4-band pigeonhole guarantees recall only for maxHamming <= 3")
    expectedDocs.foreach(n => lintBanding(n, bandBits = 16, bands = 4).foreach(warn))
    val sigs = simhashSignatures64(df, idCol, textCol, family)
    val bands = sigs.select(col("id"), col("simhash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("b"),
            shiftright(col("simhash"), 16 * b).bitwiseAND(0xffffL).as("v"))): _*)).as("e"))
      .select(col("id"), col("simhash"), col("e.b").as("b"), col("e.v").as("v"))
    val x = bands.select(col("id").as("id_a"), col("simhash").as("sa"), col("b"), col("v"))
    val y = bands.select(col("id").as("id_b"), col("simhash").as("sb"), col("b"), col("v"))
    x.join(y, Seq("b", "v")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming64(col("sa"), col("sb")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Non-overlapping w-word blocks of a document, in order (FULL blocks
    * only — a trailing partial block is ignored, mirrored by the oracle).
    * Built like [[shingleArray]] (zip-with-shifted-slices, no lambda
    * capture of the word array) then filtered to every w-th position —
    * array-domain, zero shuffle, rides the scan. */
  def wordBlocks(text: Column, w: Int): Column = {
    val ws = TextAnalysis.words(text)
    val joined = (1 until w).foldLeft(ws) { (acc, j) =>
      zip_with(acc, slice(ws, lit(j + 1), greatest(size(ws) - j, lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    filter(joined, (x, i) => x.isNotNull && pmod(i, lit(w)) === 0)
  }

  /** [[wordBlocks]] including the trailing PARTIAL block — the lossless
    * form a reassembling transformation needs (`slice` clamps at the array
    * end, so the tail block simply comes out shorter). */
  private def wordBlocksWithTail(ws: Column, w: Int): Column =
    when(size(ws) === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), floor((size(ws) - lit(1)) / w).cast("int")),
        i => array_join(slice(ws, i * w + 1, lit(w)), " ")))

  /** Block-level exact dedup (the RefinedWeb/CCNet "line dedup" family at
    * block granularity): every w-word block is hashed and the corpus keeps
    * its FIRST occurrence under the total order (doc_id, block_idx); later
    * occurrences are duplicates. Output per doc:
    * `(id, n_blocks, n_dup_blocks, dup_frac)` — docs with fewer than w
    * words emit nothing (no full block).
    *
    * Scale — the key observation is that first-occurrence COUNTING needs
    * neither a window nor a join keyed by the block hash. The block-hash
    * occurrence distribution is exactly the boilerplate skew this operator
    * targets ("all rights reserved…" can occur 10⁸–10⁹ times), so any plan
    * that sorts or probe-shuffles occurrences per hash puts a corpus-wide
    * hot block in ONE task. Instead:
    *   1. winner per distinct hash: `groupBy(h).agg(min(struct(id,
    *      block_idx)))` — PARTIAL aggregation, so a 10⁹-occurrence block
    *      collapses to one row per map task before the shuffle;
    *   2. non-dup count per doc: re-aggregate the winners table (one row
    *      per DISTINCT block — skew is gone by construction) by winner id;
    *   3. per-doc totals ride the scan (`size(blocks)` — no explode), and
    *      `n_dup = n_blocks − n_keep` via one uniform doc-id join.
    * No window, no hash-keyed join, both shuffles partial-aggregated. */
  def blockDedupStats(df: DataFrame, idCol: String, textCol: String,
      w: Int = 10): DataFrame =
    blockStats(df.select(col(idCol).as("id"),
      wordBlocks(col(textCol), w).as("__blocks")))

  /** Non-overlapping w-token blocks of a pre-tokenized document (FULL
    * blocks only), each rendered as the space-joined decimal ids — same
    * hash domain as [[wordBlocks]], no regex split. */
  def tokenBlocks(tokens: Column, w: Int): Column = {
    val ws = tokenTerms(tokens)
    val joined = (1 until w).foldLeft(ws) { (acc, j) =>
      zip_with(acc, slice(ws, lit(j + 1), greatest(size(ws) - j, lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    filter(joined, (x, i) => x.isNotNull && pmod(i, lit(w)) === 0)
  }

  /** [[blockDedupStats]] over a pre-tokenized `array<int>` corpus — the
    * north-rule table's native block dedup (no text reconstruction). */
  def blockDedupStatsTokens(df: DataFrame, idCol: String, tokensCol: String,
      w: Int = 10): DataFrame =
    blockStats(df.select(col(idCol).as("id"),
      tokenBlocks(col(tokensCol), w).as("__blocks")))

  /** Shared two-phase first-occurrence stats over `(id, __blocks)`.
    * The hashed `(id, block_idx, h)` triples are materialized ONCE
    * (`localCheckpoint`, same pattern as the capped jaccard index): both
    * the per-doc totals and the winners aggregation read them, so the
    * block construction (tokenize + fold + hash — the expensive part)
    * never runs twice. The triples are hash-width rows, far narrower than
    * the text they summarize. */
  private def blockStats(withBlocks: DataFrame): DataFrame = {
    val blocks = withBlocks
      .select(col("id"), posexplode(col("__blocks")).as(Seq("block_idx", "block")))
      .select(col("id"), col("block_idx"),
        TextAnalysis.fingerprint(col("block")).as("h"))
      .localCheckpoint()
    val keeps = blocks
      .groupBy("h").agg(min(struct(col("id"), col("block_idx"))).as("f"))
      .groupBy(col("f.id").as("id")).agg(count(lit(1)).as("n_keep"))
    val perDoc = blocks.groupBy("id").agg(count(lit(1)).as("n_blocks"))
    perDoc.join(keeps, Seq("id"), "left")
      .select(col("id"), col("n_blocks"),
        (col("n_blocks") - coalesce(col("n_keep"), lit(0L))).as("n_dup_blocks"))
      .withColumn("dup_frac",
        col("n_dup_blocks").cast("double") / col("n_blocks").cast("double"))
  }

  /** CORPUS-WIDE first-occurrence block dedup, APPLIED — the
    * transformation leg of [[blockDedupStats]] (RefinedWeb/CCNet line
    * dedup actually removing the duplicates, not just measuring them):
    * every w-word block (tail partial included — reassembly must be
    * lossless for unique text) keeps only its corpus-wide first occurrence
    * under the total order (doc id, block idx); the survivors reassemble
    * in original order. Output `(id, clean_text, n_blocks, n_blocks_kept)`
    * — a doc whose every block occurred earlier comes back with
    * `clean_text = ''` (the drop decision belongs to the caller);
    * word-free docs emit nothing, like [[dropRepeatedBlocksInDoc]].
    *
    * Scale shape: the winner per distinct block is ONE partial-aggregated
    * `groupBy(hash)` whose min-struct PAYLOAD carries the block text, so
    * there is NO join against the occurrence stream and NO window — a
    * boilerplate block occurring 10⁹ times collapses map-side exactly as
    * in [[blockDedupStats]]' two-phase min, and reassembly reads the
    * winners table only (one row per DISTINCT block). The only
    * per-occurrence shuffle is the per-doc totals counter; the hashed
    * occurrence triples materialize once (`localCheckpoint`, the shared
    * [[blockStats]] pattern). */
  def dedupBlocksAcrossCorpus(df: DataFrame, idCol: String, textCol: String,
      w: Int = 10): DataFrame = {
    val blocks = df
      .select(col(idCol).as("id"), TextAnalysis.words(col(textCol)).as("__ws"))
      .select(col("id"),
        posexplode(wordBlocksWithTail(col("__ws"), w)).as(Seq("block_idx", "block")))
      .withColumn("h", TextAnalysis.fingerprint(col("block")))
      .localCheckpoint()
    val perDoc = blocks.groupBy("id").agg(count(lit(1)).as("n_blocks"))
    val winners = blocks
      .groupBy("h")
      .agg(min(struct(col("id"), col("block_idx"), col("block"))).as("f"))
      .select(col("f.id").as("id"), col("f.block_idx").as("block_idx"),
        col("f.block").as("block"))
    val rebuilt = winners.groupBy("id")
      .agg(sort_array(collect_list(struct(col("block_idx"), col("block")))).as("kb"))
      .select(col("id"),
        array_join(transform(col("kb"), b => b.getField("block")), " ").as("clean_text"),
        size(col("kb")).cast("long").as("n_blocks_kept"))
    perDoc.join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_blocks"), coalesce(col("n_blocks_kept"), lit(0L)).as("n_blocks_kept"))
  }

  /** IN-DOCUMENT repeated-block removal — the TRANSFORMATION leg of
    * repetition cleaning ([[TextAnalysis.repetitionSignals]] is the
    * detection leg): the document's w-word blocks (tail partial block
    * included) deduplicate WITHIN the doc, first occurrence kept in
    * original order, text reassembled. Output
    * `(id, clean_text, n_blocks, n_blocks_kept)`; word-free docs emit
    * nothing.
    *
    * Scale: explode words → ONE `groupBy(id, block_idx)` reassembles
    * blocks (the corpus' only data shuffle, keyed fine-grained), the
    * within-doc first-occurrence window shuffles one row per BLOCK, and
    * the final per-doc rollup one row per kept block. Linear, no joins. */
  def dropRepeatedBlocksInDoc(df: DataFrame, idCol: String, textCol: String,
      w: Int = 10): DataFrame = {
    val words = df.select(col(idCol).as("id"),
      posexplode(TextAnalysis.words(col(textCol))).as(Seq("pos", "word")))
    val blocks = words
      .withColumn("bidx", floor(col("pos") / w).cast("long"))
      .groupBy("id", "bidx")
      .agg(collect_list(struct(col("pos"), col("word"))).as("pw"))
      .select(col("id"), col("bidx"),
        array_join(transform(array_sort(col("pw")), p => p.getField("word")), " ").as("block"))
    val firstWin = Window.partitionBy("id", "block").orderBy("bidx")
    val marked = blocks.withColumn("rn", row_number().over(firstWin))
    marked.groupBy("id").agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_blocks_kept"),
        array_join(transform(array_sort(
            collect_list(when(col("rn") === 1, struct(col("bidx"), col("block"))))),
          b => b.getField("block")), " ").as("clean_text"))
      .select(col("id"), col("clean_text"), col("n_blocks"), col("n_blocks_kept"))
  }

  /** One representative per duplicate group — the keep-best policy a
    * cleaning pipeline applies after grouping: the member with the highest
    * `scoreCol` wins, ties break to the smallest id (total order →
    * deterministic and engine-portable). One join + one partial-aggregated
    * groupBy; the min rides a (−score, id) struct — score descending then
    * id ascending — so no window over the full membership is needed, and
    * the id is never negated (string and other non-numeric id types order
    * natively; the old `−id` trick silently null-cast them). The score
    * must be numeric (it is negated), checked up front. Output
    * `(component, keep_id, keep_score, group_size)`. */
  def groupRepresentatives(components: DataFrame, scored: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    require(scored.schema(scoreCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"scoreCol '$scoreCol' must be numeric, got ${scored.schema(scoreCol).dataType.sql}")
    components
      .join(scored.select(col(idCol).as("id"), col(scoreCol).as("__s")), "id")
      .groupBy("component")
      .agg(min(struct((-col("__s")).as("negs"), col("id"))).as("m"),
        count(lit(1)).as("group_size"))
      .select(col("component"), col("m.id").as("keep_id"),
        (-col("m.negs")).as("keep_score"), col("group_size"))
  }

  // ---- exact substring dedup (duplicated L-token spans) ----------------

  /** Sliding L-token gram array of a pre-tokenized document, POSITIONAL:
    * element i (0-based) is the space-joined decimal ids of tokens
    * [i, i+L). Built by the [[shingleArrayOf]] zip-with-shifted-slices
    * fold (no lambda capture — O(len·L), not O(len²·L)), but order- and
    * position-preserving: `filter` keeps the non-null prefix in place, so
    * the array index IS the gram's start offset. Docs shorter than L
    * yield an empty array. */
  def tokenGramArray(tokens: Column, L: Int): Column = {
    val ws = tokenTerms(tokens)
    val joined = (1 until L).foldLeft(ws) { (acc, j) =>
      zip_with(acc, slice(ws, lit(j + 1), greatest(size(ws) - j, lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    filter(joined, x => x.isNotNull)
  }

  /** Exact-substring dedup in the token domain — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better") family,
    * re-expressed relationally: any L-token window that occurs more than
    * once ANYWHERE in the corpus is a duplicated span; every occurrence
    * except the global first (total order: doc id, then offset) is marked
    * for removal; overlapping marks merge per document. The paper builds a
    * suffix array — a pointer-chasing single-machine structure; the
    * relational form is a sliding-gram inverted index, which distributes
    * and costs O(corpus tokens · L) hash work (a Rabin-Karp rolling hash
    * would cut the L factor; md5 keeps the hash engine-portable so the
    * DuckDB oracle replays it bit-exactly).
    *
    * Output, one row per input doc:
    * `(id, n_tok, n_dup_tokens, n_spans, dup_frac, clean_checksum)` —
    * `n_dup_tokens` = tokens covered by merged duplicate spans, `n_spans`
    * = merged span count, `clean_checksum` = md5 of the surviving token
    * stream (space-joined decimal ids; '' hashes for a fully-duplicated
    * doc), pinning the exact transformation, not just counts.
    *
    * Scale shape (the p22 lesson applied from the start):
    *  - occurrences `(id, pos, h)` materialize ONCE (`localCheckpoint`)
    *    — hash-width rows, far narrower than the grams they summarize;
    *  - the winner per duplicated gram is a partial-aggregated
    *    `groupBy(h).agg(min(struct(id,pos)), count)` — a boilerplate gram
    *    occurring 10⁹ times collapses map-side; NO window over occurrence
    *    partitions;
    *  - the occurrence⋈winner join keys on the gram hash: Zipf-skewed on
    *    the probe side, but it is a shuffle JOIN, which AQE's
    *    OptimizeSkewedJoin splits (unlike window partitions) — and the
    *    build side is one row per DISTINCT duplicated gram;
    *  - span merge + clean-stream reassembly are array expressions over
    *    the per-doc covered set — no per-doc window, rides the join. The
    *    per-token membership probe is O(|covered|) per token (worst
    *    O(n_tok²) for a fully-duplicated doc); at 100 TB cap span density
    *    upstream (a doc past ~50% coverage is dropped whole by policy
    *    before reassembly matters). */
  def exactSubstringDedup(df: DataFrame, idCol: String, tokensCol: String,
      L: Int): DataFrame = {
    require(L >= 2, s"gram length must be >= 2, got $L")
    val occ = df
      .select(col(idCol).as("id"),
        posexplode(tokenGramArray(col(tokensCol), L)).as(Seq("pos", "gram")))
      .select(col("id"), col("pos"), md5(col("gram").cast("binary")).as("h"))
      .localCheckpoint()
    val dupWinners = occ.groupBy("h")
      .agg(min(struct(col("id"), col("pos"))).as("w"), count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)
      .select(col("h"), col("w.id").as("w_id"), col("w.pos").as("w_pos"))
    val dupOcc = occ.join(dupWinners, "h")
      .where(!(col("id") === col("w_id") && col("pos") === col("w_pos")))
      .select(col("id"), explode(sequence(col("pos"), col("pos") + lit(L - 1))).as("cp"))
    val covered = dupOcc.groupBy("id")
      .agg(sort_array(collect_set(col("cp"))).as("covered"))
    df.select(col(idCol).as("id"), col(tokensCol).as("__toks"))
      .join(covered, Seq("id"), "left")
      .withColumn("covered",
        coalesce(col("covered"), array().cast("array<int>")))
      .select(col("id"), size(col("__toks")).as("n_tok"),
        size(col("covered")).as("n_dup_tokens"),
        when(size(col("covered")) === 0, 0).otherwise(
          size(filter(zip_with(
              slice(col("covered"), lit(2), greatest(size(col("covered")) - 1, lit(0))),
              col("covered"), (nxt, cur) => nxt > cur + 1),
            x => x)) + 1).as("n_spans"),
        round(size(col("covered")).cast("double") /
          size(col("__toks")).cast("double"), 6).as("dup_frac"),
        md5(array_join(
          filter(tokenTerms(col("__toks")),
            (_, i) => !array_contains(col("covered"), i)),
          " ").cast("binary")).as("clean_checksum"))
  }

  /** Banding-capacity lint (why byte bands over a 32-bit SimHash fail at
    * scale, generalized): with N docs hashed into 2^bandBits buckets per
    * band, expected occupancy is N/2^bandBits and the candidate join pays
    * ≥ N²/2^bandBits pairs per band even on a perfectly uniform corpus.
    * Returns warnings when the expected occupancy exceeds
    * `maxExpectedOccupancy` (default 1024 — a 1024-doc bucket costs ~½M
    * candidate pairs); empty = sized fine.
    * Pure function so callers (and tests) can gate on it; the banded
    * operators invoke it via their `expectedDocs` parameter. */
  def lintBanding(nDocs: Long, bandBits: Int, bands: Int,
      maxExpectedOccupancy: Double = 1024.0): Seq[String] = {
    require(bandBits >= 1 && bandBits <= 63, s"bandBits out of range: $bandBits")
    val buckets = math.pow(2.0, bandBits.toDouble)
    val occ = nDocs.toDouble / buckets
    if (occ > maxExpectedOccupancy)
      Seq(f"banding capacity: $nDocs%,d docs over $bands band(s) of $bandBits bits " +
        f"(${buckets.toLong}%,d buckets/band) gives expected bucket occupancy $occ%.1f " +
        f"> $maxExpectedOccupancy%.0f; the candidate join pays ~${occ * nDocs.toDouble}%.3g " +
        "pairs per band on a UNIFORM corpus — widen the bands (fewer, wider) or switch " +
        "to a wider-fingerprint family before running at this size")
    else Seq.empty
  }

  private def warn(msg: String): Unit = Console.err.println(s"[graft.Dedup] WARN $msg")
}
