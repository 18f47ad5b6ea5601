package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

/** Plan regression guards: the properties that make the checked queries
  * 100 TB-shaped are asserted on the PLAN, not just observed once in an
  * `.explain` session — a rewrite that silently reintroduces a cartesian
  * or widens a scan fails here. */
class PlanAuditSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    // AdaptiveSparkPlanExec and query stages are LEAF nodes to collectLeaves
    // — recurse through them or every scan assertion silently goes vacuous
    // once a plan carries an exchange (e.g. the scan-parallelism floor)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def leaves(p: SparkPlan): Seq[FileSourceScanExec] = p.collectLeaves().flatMap {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec => leaves(q.plan)
      case _ => Nil
    }
    leaves(df.queryExecution.executedPlan)
  }

  /** [[scans]] with a non-emptiness guard — for tests whose assertion
    * would otherwise pass vacuously when the scan is hidden. */
  private def scansNonEmpty(df: DataFrame): Seq[FileSourceScanExec] = {
    val out = scans(df)
    assert(out.nonEmpty, "no FileSourceScanExec found — scan assertion would be vacuous")
    out
  }

  test("q02 pushes filters and prunes columns into the parquet scan") {
    val df = SparkEntry.queries("q02_filter_topn")(spark, dir)
    val scan = scans(df).head
    // projection pruning: only the 4 selected + filtered columns are read
    assert(scan.requiredSchema.fieldNames.toSet ===
      Set("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"))
    // predicate pushdown reached the scan
    assert(scan.metadata("PushedFilters").contains("GreaterThanOrEqual(l_quantity"))
  }

  test("uniqueness scan reads only the key column") {
    val df = SparkEntry.queries("v03_unique_dup_keys")(spark, dir)
    assert(scansNonEmpty(df).forall(_.requiredSchema.fieldNames.toSet == Set("l_orderkey")))
  }

  test("bucketed similarity/dedup paths never plan a cartesian product") {
    for (q <- Seq("s02_ann_lsh", "s03_embedding_neardup", "p06_ngram_jaccard",
        "p08_minhash_candidates", "p12_contamination", "p19_simhash_neardup",
        "p29_token_minhash", "p33_token_jaccard")) {
      val plan = planString(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
    }
    // s04 (IVF) deliberately fans out N×nlist against the BROADCAST
    // centroid set — a bounded nested-loop (nlist rows), not a hidden
    // cartesian; assert only that no unbroadcast cartesian sneaks in
    assert(!planString(SparkEntry.queries("s04_ann_ivf")(spark, dir))
      .contains("CartesianProduct"))
  }

  test("capped jaccardPairs tokenizes the corpus exactly once (checkpointed arrays)") {
    // the df-cap path materializes ONE shingle explosion via localCheckpoint
    // (both the frequent-shingle counts and the surviving postings read it),
    // derives set sizes by a partial-aggregated counter groupBy, and
    // re-attaches them to the PAIR table — so the executed plan must carry
    // no Generate (re-explosion), no parquet re-scan, and critically no
    // Window (the former `count over Window.partitionBy(id)` pushed every
    // surviving posting through a second full network exchange)
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(100)
    val pairs = graft.pipeline.Dedup.jaccardPairs(docs, "doc_id", "text",
      k = 3, minJaccard = 0.5, maxDocFreq = 50)
    pairs.collect()
    val plan = planString(pairs).split("== Initial Plan ==")(0)
    assert(!plan.contains("Generate"), "capped jaccard re-explodes the corpus")
    assert(scans(pairs).isEmpty, "capped jaccard re-scans the parquet source")
    assert(!plan.contains("Window"), "full-posting window exchange is back")
  }

  test("SQ8 search shortlist stage carries no unbroadcast cartesian") {
    val plan = planString(SparkEntry.queries("s06_ann_sq8")(spark, dir))
    assert(!plan.contains("CartesianProduct"))
    // the only nested-loop allowed is against the broadcast query side
    assert(!plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"))
  }

  test("s05 stays a shuffle-free per-row projection; sq8Codes is the explode-agg shape") {
    // measured trade (see the query's comment): the profile query avoids the
    // explode's per-element shuffle; the materialized codes artifact takes it
    val df = SparkEntry.queries("s05_embedding_quantize")(spark, dir)
    df.collect()
    val plan = planString(df).split("== Initial Plan ==")(0)
    assert(!plan.contains("Generate"))
    // the only exchange is the final orderBy's range partitioning
    assert(!plan.contains("hashpartitioning"), "s05 gained an aggregation shuffle")
    // and the codes artifact builder is the explode-agg (partial aggregate)
    val codes = graft.pipeline.Similarity.sq8Codes(
      spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding")
    codes.collect()
    val cplan = planString(codes).split("== Initial Plan ==")(0)
    assert(cplan.contains("Generate") && cplan.contains("HashAggregate"))
  }

  test("audit legs other than validation never decode the tokens array") {
    // the parquet array decode is the audit's bandwidth wall — only the
    // validation leg (whose rules READ tokens) may pay it
    val tmp = java.nio.file.Files.createTempDirectory("audit-prune").toString
    graft.sources.TokenGen.tokenSequences(spark, 2000, numPartitions = 2, maxLen = 16)
      .write.mode("overwrite").parquet(tmp)
    val facts = spark.read.parquet(tmp)
    val dim = graft.sources.TokenGen.allowedSources(spark)

    val ref = graft.global.Referential.violations(facts, "source", dim, "source")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
    ref.collect() // AQE hides scan subtrees inside query stages until run
    // pruned correctly, the count-over-anti-join plan references no tokens
    // attribute anywhere — ReadSchema included
    val refPlan = planString(ref).split("== Initial Plan ==")(0)
    assert(refPlan.contains("ReadSchema"), "no parquet scan in the referential plan?")
    assert(!refPlan.contains("tokens"), s"referential count decodes tokens:\n$refPlan")

    val stats = graft.stats.ColumnStats.profile(facts, Seq("doc_id", "n_tok", "source"))
    assert(scansNonEmpty(stats).forall(!_.requiredSchema.fieldNames.contains("tokens")))

    val uniq = graft.global.Uniqueness.duplicateKeysHashed(facts, Seq("doc_id"))
    assert(scansNonEmpty(uniq).forall(_.requiredSchema.fieldNames.toSet == Set("doc_id")))
  }

  test("q03 no longer hardcodes a broadcast of the growing customer table") {
    // nation (25 rows, true dim) may broadcast; customer must be left to
    // the size-gated planner — the logical plan must carry no user hint on it
    val logical = SparkEntry.queries("q03_revenue_by_nation")(spark, dir)
      .queryExecution.analyzed.toString
    val hints = logical.linesIterator.filter(_.contains("UnresolvedHint")).size +
      logical.linesIterator.filter(_.contains("ResolvedHint")).size
    assert(hints <= 1, "only the nation dim may carry a broadcast hint")
  }

  test("q11 sessionization shuffles ONCE on the entity key (agg reuses the window partitioning)") {
    // window partitionBy(user_id) hash-partitions; the (user_id, session_idx)
    // groupBy is satisfied by that same partitioning (subset-key clustering),
    // so no second data shuffle may appear — at 10^12 events that second
    // exchange would double the job's network cost
    val df = SparkEntry.queries("q11_sessionize")(spark, dir)
    df.collect()
    val plan = planString(df).split("== Initial Plan ==")(0) // final plan only
    val dataShuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(dataShuffles === 1, s"expected exactly one hash exchange, got $dataShuffles")
  }

  test("p16 gate verdict rides the scan: no shuffle, pruned to (doc_id, text)") {
    val df = SparkEntry.queries("p16_quality_gates")(spark, dir)
    df.collect()
    val plan = planString(df).split("== Initial Plan ==")(0)
    assert(!plan.contains("hashpartitioning"), "gate verdict gained a shuffle")
    assert(scansNonEmpty(df).forall(_.requiredSchema.fieldNames.toSet == Set("doc_id", "text")))
  }

  test("st02 windowed drift shuffles counters only, scan pruned to (ts, value)") {
    val df = SparkEntry.queries("st02_stream_drift")(spark, dir)
    df.collect()
    // every leg reads at most (ts, value) — the global-histogram leg prunes
    // further, to value alone
    assert(scansNonEmpty(df).forall(_.requiredSchema.fieldNames.toSet.subsetOf(Set("ts", "value"))))
    // the only joins are against the broadcast global histogram (≤ bins rows)
    val plan = planString(df)
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("SortMergeJoin"), "histogram join must not sort-merge data rows")
  }

  test("s07 embedding dedup groups never plans a cartesian") {
    val plan = planString(SparkEntry.queries("s07_neardup_groups")(spark, dir))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("p35 corpus block-dedup transform: no window, no join keyed on the block hash") {
    // the winner struct carries the block text, so the only join is the
    // id-keyed totals attach — a boilerplate block's 10⁹ occurrences
    // collapse map-side in the partial agg
    val df = SparkEntry.queries("p35_block_dedup_apply")(spark, dir)
    val plan = planString(df)
    assert(!plan.contains("Window"), "p35 must not plan a window")
    assert(!"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[h#".r
      .findFirstIn(plan).isDefined, "no join may key on the block hash")
  }

  test("s08 semantic dedup: cell-keyed pair join, no unbroadcast cartesian") {
    // the only nested-loop is the N×nlist assignment against the BROADCAST
    // centroid set (s04's pattern); the quadratic pair stage must ride the
    // cell-keyed equi-join
    val plan = planString(SparkEntry.queries("s08_semantic_dedup")(spark, dir))
    assert(!plan.contains("CartesianProduct"))
  }

  test("v26 verdict-by-partition scan reads only the pack's columns + the partition key") {
    // the pack references (lang, n_chars) and partitions by source — the
    // documents scan must NOT decode text/tokens (the bandwidth wall); this
    // is the same pruning `validate` has, asserted rather than assumed
    val df = SparkEntry.queries("v26_verdict_by_source")(spark, dir)
    df.collect() // AQE hides the scan inside query stages until run
    val plan = planString(df).split("== Initial Plan ==")(0)
    val read = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(read.nonEmpty, "no parquet scan in the verdict plan?")
    val fields = read.flatMap(_.split(",")).map(_.split(":")(0).trim).toSet
    assert(fields === Set("lang", "n_chars", "source"), s"scan reads $fields")
  }

  test("p21 vocab application joins the vocab by BROADCAST (corpus never sort-merges)") {
    // the mapping join is the per-token hot path: a sort-merge there would
    // shuffle the whole exploded corpus on the token — the vocab side is
    // bounded (topN) and must broadcast
    val df = SparkEntry.queries("p21_vocab_apply")(spark, dir)
    df.collect()
    val plan = planString(df)
    assert(plan.contains("BroadcastHashJoin"), "vocab join lost its broadcast")
    assert(!plan.contains("SortMergeJoin"), "corpus-side sort-merge join on token")
    assert(!plan.contains("CartesianProduct"))
  }

  test("p22 block dedup plans no window and no block-hash join (boilerplate skew)") {
    // block-hash occurrence counts are Zipf (a boilerplate block can occur
    // 10^9 times); the plan must carry no Window (one-task sort of the hot
    // hash) and no sort-merge join at all — the only join is doc-id-keyed
    // between two partial-aggregated per-doc tables, and at sf-test size
    // AQE turns that into a broadcast
    val df = SparkEntry.queries("p22_block_dedup")(spark, dir)
    df.collect()
    val plan = planString(df).split("== Initial Plan ==")(0)
    assert(!plan.contains("Window"), "first-occurrence window is back")
    assert(!plan.contains("CartesianProduct"))
  }

  test("p24 bigram-nll never joins the doc stream on the Zipf first-word key") {
    // the w1 key is Zipf ("the" is ~5% of English first-word positions):
    // the first-word counts must attach to the bigram COUNTER table
    // (counter×counter join), so the doc-bigram stream joins exactly once,
    // on the bigram (AQE skew-split is that join's guard at scale). A
    // sort-merge keyed on w1 anywhere near the stream means the
    // counter-side attach regressed into a stream-side join.
    val df = SparkEntry.queries("p24_bigram_nll")(spark, dir)
    df.collect()
    val plan = planString(df).split("== Initial Plan ==")(0)
    assert(!plan.contains("SortMergeJoin [w1"), "doc stream is sort-merging on the first word")
    assert(!plan.contains("CartesianProduct"))
  }

  test("items bound guard is present in the token-audit validate plan") {
    // the round-4 2.2x lever: per-element Items(Minimum/Maximum) work must
    // hide behind the codegen'd array_min/array_max pre-check — a compiler
    // refactor that drops the guard reverts the audit to interpreted
    // per-element HOFs on every row
    val facts = graft.sources.TokenGen.tokenSequences(spark, 1000, numPartitions = 2, maxLen = 16)
    val pack = graft.tools.AuditCli.tokenRulePack(maxLen = 16)
    val plan = graft.core.Violations.validate(facts, pack, Seq("doc_id"))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("array_min") && plan.contains("array_max"),
      "items bound guard dropped from the compiled validation expression")
  }

  test("p42 DSIR broadcasts its fixed-size model; p40 NB never hints the vocab join") {
    // DSIR's λ table is 64 rows BY CONSTRUCTION → the scoring join must be
    // an explicit broadcast (not AQE luck: the hint is in the code)
    val dsir = SparkEntry.queries("p42_dsir_weights")(spark, dir)
    dsir.collect()
    val dplan = planString(dsir).split("== Initial Plan ==")(0)
    assert(dplan.contains("BroadcastHashJoin"), "DSIR λ join is not broadcast")
    assert(!dplan.contains("CartesianProduct"))
    // NB's model is word-keyed — UNBOUNDED vocabulary (10⁸⁺ terms on web
    // text). An explicit broadcast hint there would collect the model to
    // the driver at scale; the logical plan must carry NO hint on any
    // word-keyed join (AQE may still broadcast at sf0.001 — that's fine,
    // it's a runtime decision made from measured sizes)
    val nb = SparkEntry.queries("p40_nb_classifier")(spark, dir)
    val wordJoins = nb.queryExecution.optimizedPlan.toString.linesIterator
      .filter(l => l.contains("Join") && l.contains("(w#")).toSeq
    assert(wordJoins.nonEmpty, "expected a word-keyed scoring join in the NB plan")
    assert(wordJoins.forall(!_.contains("broadcast")),
      "NB vocabulary join is broadcast-hinted — unbounded at scale")
  }

  test("p41 tfidf plans exactly one per-doc window and no cartesian") {
    val df = SparkEntry.queries("p41_tfidf_keywords")(spark, dir)
    df.collect()
    val plan = planString(df).split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"))
    // one Window node (the per-doc top-k); a second one would mean the
    // rank is recomputed over a re-shuffled stream
    assert("\\bWindow\\b".r.findAllIn(plan).size === 1, "expected exactly one Window")
  }

  test("p43 pagerank round: no broadcast hint on the vocab-keyed join, partial-agg message step") {
    // the scores table is vocab-sized — UNBOUNDED on web text — so the
    // iteration join must carry no broadcast hint (same contract as p40's
    // NB vocabulary join); the contribution groupBy must partial-aggregate
    // (HashAggregate with a partial mode, map-side combine). Audited on
    // the checkpoint-free round, where the plan is visible.
    import org.apache.spark.sql.functions.{col, lit}
    val edges = spark.range(1000).selectExpr("concat('w', id % 97) AS src",
      "concat('w', (id * 7) % 97) AS dst", "1L AS w")
    val strength = edges.groupBy("src").agg(org.apache.spark.sql.functions.sum("w").as("st"))
    val ew = edges.join(strength, "src")
    val nodes = edges.select(col("src").as("id")).distinct()
    val scores = nodes.withColumn("score_fp", lit(1000000L))
    val round = graft.pipeline.Graph.pagerankRound(ew, nodes, scores, 10L, 85)
    assert(!round.queryExecution.optimizedPlan.toString.contains("broadcast"),
      "pagerank iteration join is broadcast-hinted")
    round.collect()
    val phys = planString(round).split("== Initial Plan ==")(0)
    assert(!phys.contains("CartesianProduct"))
    assert(phys.contains("HashAggregate"), "expected partial-aggregated contribution step")
    // and the end-to-end query stays cartesian-free
    val df = SparkEntry.queries("p43_textrank")(spark, dir)
    df.collect()
    assert(!planString(df).contains("CartesianProduct"))
  }

  test("s09 PQ: codebook and distance tables broadcast; scan side joins nothing big") {
    val df = SparkEntry.queries("s09_ann_pq")(spark, dir)
    df.collect()
    val plan = planString(df).split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"),
      "PQ ADC scan must be a broadcast nested loop over the tiny query side, not a cartesian")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      "codebook/distance-table sides are not broadcast")
    assert(!plan.contains("SortMergeJoin"), "PQ path should never sort-merge at this shape")
  }

  test("ANN top-k rides the K-bounded heap aggregate, not a per-query window sort") {
    // the r5 scale-killer (VERDICT "What's wrong #1"): row_number over
    // Window.partitionBy(query_id) sorts EVERY scored candidate of a query
    // in one task — for s09's exhaustive ADC scan that is the whole corpus
    // per query. The shortlist stage must be the TopKByScore aggregate
    // (partial phase keeps <= K rows per query per map task); the only
    // windows left are provably bounded inputs (codebook seeds = ksub rows,
    // probe ranking = |queries| x nlist, re-rank = shortlist per query).
    for ((q, maxWindows) <- Seq(
        "s01_ann_bruteforce" -> 0, "s02_ann_lsh" -> 1 /* bucket-cap only */,
        "s04_ann_ivf" -> 1 /* probe */, "s06_ann_sq8" -> 1 /* re-rank */,
        // the codebook's ksub-row seed window appears twice (its subtree is
        // referenced by both the encode and the distance-table legs)
        "s09_ann_pq" -> 3 /* codebook x2 + re-rank */,
        "s10_ann_ivfpq" -> 4 /* codebook x2 + probe + re-rank */)) {
      val plan = planString(SparkEntry.queries(q)(spark, dir))
      assert(plan.contains("topk_by_score"), s"$q lost the heap-aggregate top-k")
      val windows = "\\bWindow\\b".r.findAllIn(plan).size
      assert(windows <= maxWindows,
        s"$q plans $windows Window nodes (max $maxWindows) — a corpus-wide sort is back")
    }
  }

  test("p44/p45: zipf top-ranks is a TakeOrdered (no vocab-wide window); incremental dedup is window-free") {
    val zipf = SparkEntry.queries("p44_zipf_fit")(spark, dir)
    zipf.collect()
    val zplan = planString(zipf).split("== Initial Plan ==")(0)
    assert(zplan.contains("TakeOrderedAndProject"),
      "top-R cut must be a distributed TakeOrdered, not a global sort")
    // exactly one Window is allowed: ranks over the <= topRanks survivors
    assert("\\bWindow\\b".r.findAllIn(zplan).size <= 1)
    val inc = SparkEntry.queries("p45_incremental_dedup")(spark, dir)
    inc.collect()
    val iplan = planString(inc).split("== Initial Plan ==")(0)
    assert(!iplan.contains("Window"), "first-occurrence must be the partial-agg min, not a window")
    assert(!iplan.contains("CartesianProduct"))
  }

  test("q14 range join plans an equi-join on the bucket — never a nested loop") {
    // a raw `ts >= start AND ts < end` predicate becomes
    // BroadcastNestedLoopJoin (O(points × intervals) compares); the
    // bucketized form must keep the join equi (hash or sort-merge or
    // broadcast-HASH — all fine), with the range predicate as a
    // post-filter
    val df = SparkEntry.queries("q14_range_join")(spark, dir)
    df.collect()
    val plan = planString(df).split("== Initial Plan ==")(0)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "range join degenerated to a nested loop")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"), "expected an equi join on the bucket")
  }

  test("parquet-backed validation runs inside whole-stage codegen (no UDFs to break it)") {
    // `*(n)` node prefixes in the plan string = WholeStageCodegenExec spans;
    // AQE only inserts them into the FINAL plan, so execute first
    val df = SparkEntry.queries("v02_violation_rows_orders")(spark, dir)
    df.collect()
    val plan = planString(df)
    assert(plan.contains("isFinalPlan=true"))
    assert(plan.contains("*("), "no whole-stage-codegen span in the validation plan")
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("udf"))
  }

  test("minhash signatures evaluate the fused kernel once per row, not once per sig_j") {
    // the kernel's array feeds 16 min(sig[j]) slots: inlining the producer
    // into each slot (CollapseProject) or re-evaluating it under a pushed
    // filter would multiply the per-row hashing; and no shingle explode
    import graft.functions.MinHashTerms
    import graft.pipeline.Dedup
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.functions.{col, length, split, transform}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect { case n => n }.flatMap {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case n => Seq(n)
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    for (sigs <- Seq(
        Dedup.minhashSignatures(docs, "doc_id", "text", 3, 16, Dedup.Md5Portable),
        Dedup.minhashSignaturesTokens(docs.select(col("doc_id"),
          transform(split(col("text"), " "), w => length(w)).as("tokens")),
          "doc_id", "tokens", 3, 16, Dedup.XxFast))) {
      sigs.collect()
      val kernels = sigs.queryExecution.optimizedPlan
        .flatMap(_.expressions.flatMap(_.collect { case m: MinHashTerms => m }))
      assert(kernels.size === 1, sigs.queryExecution.optimizedPlan)
      val physical = nodes(sigs.queryExecution.executedPlan)
      assert(physical.flatMap(_.expressions.flatMap(_.collect { case m: MinHashTerms => m }))
        .size === 1, sigs.queryExecution.executedPlan)
      assert(!physical.exists(_.nodeName == "Generate"), "signatures explode shingles again")
    }
  }

  test("date, time and date-time formats run one rfc3339_check per row each, no regex or timestamp parse") {
    import graft.core.{JValue, Violations}
    import graft.functions.Rfc3339Check
    import graft.rulepack.RulePack
    import org.apache.spark.sql.catalyst.expressions.{ParseToTimestamp, RLike, RegExpExtract, ToTimestamp}
    import org.apache.spark.sql.functions.{col, concat, format_string, lit}
    val pack = RulePack.fromJson(JValue.parseAny(
      """{"type": "object", "properties": {"d": {"format": "date"}, "t": {"format": "time"},
        |"dt": {"format": "date-time"}}}""".stripMargin))
    // a range, not local rows: the optimizer folds projections over those
    val rows = spark.range(100).select(col("id"),
      format_string("2024-02-%02d", col("id") % 31).as("d"),
      format_string("%02d:00:00Z", col("id") % 25).as("t"),
      concat(format_string("2024-02-%02d", col("id") % 31), lit("T10:00:00+05:30")).as("dt"))
    for (df <- Seq(Violations.validate(rows, pack, Seq("id")),
        Violations.verdictByPartition(rows, pack, None))) {
      val plan = df.queryExecution.optimizedPlan
      val exprs = plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))
      assert(exprs.collect { case r: Rfc3339Check => r.kind }.sorted === Seq("date", "date-time", "time"),
        plan)
      assert(!exprs.exists {
        case _: RLike | _: RegExpExtract | _: ToTimestamp | _: ParseToTimestamp => true
        case _ => false
      }, plan)
    }
  }

  /** A pack with the keywords of perfbench/packs/records.json, over a
    * parquet table of that shape. */
  private lazy val records = {
    import graft.core.JValue
    import graft.rulepack.RulePack
    val pack = RulePack.fromJson(JValue.parseAny(
      """{"type": "object", "required": ["rec_id", "email", "created_at", "status", "address"],
        |"properties": {
        |  "rec_id": {"type": "string", "pattern": "^rec-[0-9]{10}$"},
        |  "email": {"type": "string", "format": "email"},
        |  "created_at": {"type": "string", "format": "date-time"},
        |  "status": {"enum": ["active", "pending", "closed"]},
        |  "score": {"type": "integer", "minimum": 0, "maximum": 1000},
        |  "tags": {"type": "array", "maxItems": 8, "uniqueItems": true,
        |           "items": {"type": "string", "pattern": "^[a-z]{2,12}$"}},
        |  "address": {"type": "object", "required": ["city", "zip"], "properties": {
        |    "city": {"type": "string", "minLength": 1},
        |    "zip": {"type": "string", "pattern": "^[0-9]{5}$"}}}}}""".stripMargin))
    val path = java.nio.file.Files.createTempDirectory("records").resolve("records.parquet").toString
    spark.sql("""SELECT format_string('rec-%010d', id) AS rec_id,
      |concat('user', id, '@example.com') AS email, '2024-01-02T03:04:05Z' AS created_at,
      |element_at(array('active', 'pending', 'closed'), cast(id % 3 + 1 AS int)) AS status,
      |cast(id * 7 % 1100 AS int) AS score, slice(array('ab', 'cd', 'ef'), 1, cast(id % 4 AS int)) AS tags,
      |named_struct('city', concat('city', id % 97), 'zip', format_string('%05d', id)) AS address
      |FROM range(200)""".stripMargin).write.parquet(path)
    (pack, spark.read.parquet(path))
  }

  private def expressions(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    plan.collect { case n => n }.flatMap(_.expressions.flatMap(_.collect { case e => e }))

  test("records-like pack: the analyzed validate plan stays small and reads root fields as columns") {
    // a root field compiled as getField over a struct of every column put a
    // full copy of that struct into the analyzed tree per field read
    // (~3,370 nodes for this pack); the optimizer folded every copy away
    import graft.core.Violations
    import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, GetStructField}
    val (pack, df) = records
    val analyzed = Violations.sorted(Violations.validate(df, pack, Seq("rec_id")), Seq("rec_id"))
      .queryExecution.analyzed
    val exprs = expressions(analyzed)
    assert(exprs.size <= 1650, s"${exprs.size} analyzed expression nodes")
    assert(!exprs.exists {
      case GetStructField(_: CreateNamedStruct, _, _) => true
      case _ => false
    }, analyzed)
  }

  test("records-like pack: the verdict's optimized plan builds no error struct and no concat") {
    import graft.core.Violations
    import org.apache.spark.sql.catalyst.expressions.{Concat, CreateNamedStruct}
    val (pack, df) = records
    val verdict = Violations.verdictByPartition(df, pack, None)
    val plan = verdict.queryExecution.optimizedPlan
    val exprs = expressions(plan)
    assert(exprs.nonEmpty && !exprs.exists {
      case _: CreateNamedStruct | _: Concat => true
      case _ => false
    }, plan)
    // the pass tier fails exactly the rows the error tier reports (scores
    // over the maximum of 1000)
    import org.apache.spark.sql.functions.sum
    val failing = Violations.validate(df, pack, Seq("rec_id")).select("rec_id").distinct().count()
    assert(failing > 0)
    assert(verdict.agg(sum("n_rows"), sum("n_failed")).head().toSeq === Seq(200L, failing))
  }

  test("sketched drift aggregates each snapshot once: two KLL sketches, unused sums pruned") {
    // sketchedDistances feeds PSI, KL and JS from one sketch per snapshot;
    // psiSketched selects one column of it, so ColumnPruning must leave the
    // same two sketches and drop the KL and JS sums
    import graft.stats.Drift
    import org.apache.spark.sql.catalyst.expressions.aggregate.{KllSketchAggDouble, Sum}
    import org.apache.spark.sql.functions.col
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val (ref, cur) = (li.where(col("l_linenumber") < 4), li.where(col("l_linenumber") >= 4))
    for ((df, sums) <- Seq(
        Drift.sketchedDistances(ref, cur, "l_extendedprice", 900.0, 105000.0, 20) -> 3,
        Drift.psiSketched(ref, cur, "l_extendedprice", 900.0, 105000.0, 20) -> 1)) {
      val plan = df.queryExecution.optimizedPlan
      val exprs = plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))
      assert(exprs.count(_.isInstanceOf[KllSketchAggDouble]) === 2, plan)
      assert(exprs.count(_.isInstanceOf[Sum]) === sums, plan)
    }
  }

  test("a star round reads its checkpointed edge set once and plans three exchanges") {
    // each star step is a Window over src feeding one Generate, and the
    // round ends in one distinct: no self-join re-plans the round's input
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    val path = (1L until 6L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    val round = graft.pipeline.Dedup.starRound(path.toDF("src", "dst").localCheckpoint())
    val leaves = round.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size === 1 && leaves.head.isInstanceOf[LogicalRDD], leaves)
    val physical = round.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    assert(physical.collect { case e: ShuffleExchangeExec => e }.size === 3, physical)
    // large-star hooks v onto the min of v-1's neighbourhood (2→1, 3→1,
    // 4→2, 5→3, 6→4); each of those is already its node's only lower edge,
    // so small-star keeps them, and the round returns them both ways
    val hooks = Seq((2L, 1L), (3L, 1L), (4L, 2L), (5L, 3L), (6L, 4L))
    assert(round.as[(Long, Long)].collect().toSet === (hooks ++ hooks.map(_.swap)).toSet)
  }
}
