package graft

import graft.core.{Rule, Violations}
import graft.core.Rule._
import graft.global.{Referential, Uniqueness}
import graft.pipeline.{Classifier, Dedup, Multimodal, Packing, RangeJoin, Sampling, Similarity, TextAnalysis, Vocab}
import graft.stats.{ColumnStats, Drift, PackInference, QuantileSketch}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator family
  * (SURVEY.md §2 + the training-data pipeline ops), each with an ANSI-SQL
  * oracle the driver runs in DuckDB over the same parquet tables.
  *
  * Determinism rules used throughout (so Spark and DuckDB hash-match):
  *  - money/double sums go through DECIMAL (exact, order-independent), then
  *    `round(...,2)` and a final cast to DOUBLE;
  *  - per-row double arithmetic (ratios of exact ints, IEEE ops in fixed
  *    order) is emitted raw — bit-identical across engines;
  *  - every result has a total ORDER BY;
  *  - counts are BIGINT in both engines; `size()`/`length()` are cast to
  *    LONG to match DuckDB's BIGINT.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    scanFloor(s, s.read.parquet(s"$dir/$name.parquet"), s"$dir/$name.parquet")

  /** [[t]] WITHOUT the scan-parallelism floor — for queries that are pure
    * sketch/counter aggregations over the scan (count_distinct, HLL,
    * percentile, histogram counters): there the partial aggregation ships
    * only AGGREGATION BUFFERS across the exchange, while a pre-repartition
    * would ship the raw rows themselves — rows ≫ buffers, so the floor is
    * pure shuffle loss (guide §2.3 "aggregate before you shuffle";
    * measured: v44 2.3 s vs 4.6 s with the floor). Expression-heavy scans
    * (validation packs, tokenization, hashing) keep the floor — their
    * per-row CPU dwarfs the one extra row shuffle. */
  private def tNoFloor(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Scan-parallelism floor (guide §2.5, "input skew: one huge unsplittable
    * file … repartition immediately after the read"): the test tables are
    * single-row-group parquet files, so a bare scan plans ONE effective
    * task and every expression that rides it (regex tokenization, md5
    * fingerprints, compiled rule packs) runs on one core regardless of
    * cluster width. When the file layout yields fewer scan tasks than the
    * session's parallelism, round-robin repartition right after the read:
    * the exchange moves each byte once (cheap filters still push BELOW it,
    * pruning/pushdown verified by PlanAuditSpec) and every downstream
    * stage runs at full width. REPARTITION_BY_NUM is exempt from AQE
    * coalescing, so the width sticks. On a production many-file table the
    * scan already splits past the floor and this adds NO exchange — the
    * condition is derived from the file layout, not tuned to local mode. */
  private[graft] def scanFloor(s: SparkSession, df: DataFrame, path: String): DataFrame = {
    if (!ScanFloorEnabled) return df
    val target = s.sparkContext.defaultParallelism
    // width the scan could reach at the most generous split size — pure
    // file-metadata arithmetic (planning an RDD here costs ~0.1 s per
    // call); Hadoop FS API so hdfs:/s3a: inputs size correctly too, and
    // any metadata failure falls safe to "wide enough" (no extra exchange)
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
      } catch { case _: Exception => Long.MaxValue }
    if (reachableScanTasks(bytes, s.sessionState.conf.filesMaxPartitionBytes) < target)
      df.repartition(target)
    else df
  }

  /** ⌈bytes / maxSplit⌉ without the overflow of `(bytes + maxSplit − 1) /
    * maxSplit`: the metadata-failure sentinel `Long.MaxValue` must read as
    * the widest possible scan (no floor), not wrap negative (floor). */
  private[graft] def reachableScanTasks(bytes: Long, maxSplit: Long): Long =
    if (bytes <= 0) 0L else 1L + (bytes - 1) / math.max(1L, maxSplit)

  /** A/B switch for [[scanFloor]] (`GRAFT_SCAN_FLOOR=0` disables) — used to
    * record the floor's effect in OPTIMIZATION_r06.md and as the opt-out
    * for inputs whose layout is known-good. */
  private val ScanFloorEnabled = sys.env.getOrElse("GRAFT_SCAN_FLOOR", "1") != "0"

  /** decimal-exact sum of a double expression, rounded and emitted as
    * double: `round(sum(CAST(x AS DECIMAL(20,4))),2)::DOUBLE`. */
  private def dsum(c: Column, scale: Int = 2): Column =
    round(sum(c.cast("decimal(20,4)")), scale).cast("double")

  /** Pre-tokenized twin of the documents table — the north-rule input
    * shape `(doc_id, tokens array<int>, n_tok, source)` — derived
    * DETERMINISTICALLY from documents.text (md5-window token ids mod
    * 50,000), so Spark and the DuckDB oracle materialize the identical
    * token corpus; the token-domain dedup family (p29-p31) runs on it
    * natively, no text reconstruction. */
  private def tokenizedDocs(s: SparkSession, dir: String,
      floor: Boolean = true): DataFrame =
    (if (floor) t(s, dir, "documents") else tNoFloor(s, dir, "documents"))
      .select(col("doc_id"),
        transform(graft.pipeline.TextAnalysis.words(col("text")),
          w => pmod(Dedup.md5Hash32(w, 0), lit(50000L)).cast("int")).as("tokens"),
        col("source"))
      .withColumn("n_tok", size(col("tokens")))

  /** DuckDB twin of [[tokenizedDocs]] (CTE named `tokd`). */
  private val tokenizedDocsCte: String =
    """tokd AS (SELECT doc_id, list_transform(
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0),
      |  w -> ((('0x' || substr(md5('0:' || w), 1, 8))::BIGINT % 50000))::INT) AS tokens,
      |  source FROM documents)""".stripMargin

  // ---------------------------------------------------------------- rules

  /** Numeric/enum rule pack over lineitem — violation *counts* per rule
    * (numbers stay internal; only exact BIGINT counts are emitted). */
  private val lineitemPack: Rule = All(Seq(
    Properties(Seq(
      "l_quantity" -> All(Seq(Minimum(1), Maximum(45))),
      "l_discount" -> Maximum(0.05),
      "l_tax" -> Maximum(0.1),                        // never fires (max 0.08)
      "l_returnflag" -> Enum(Seq(core.JStr("A"), core.JStr("N"))),
      "l_linestatus" -> Enum(Seq(core.JStr("O"), core.JStr("F"))))), // never fires
    Required(Seq("l_orderkey", "l_partkey"))))        // never fires

  /** String-only rule pack over orders — violation *rows* with observed
    * values (strings are format-stable across engines). */
  private val ordersPack: Rule = Properties(Seq(
    "o_orderstatus" -> Enum(Seq(core.JStr("O"), core.JStr("F"))),
    "o_orderpriority" -> Pattern("^[1-3]-")))

  /** Combinator rule pack over orders (§2.5 made oracle-checkable): every
    * oneOf outcome fires on real data — priorities 1-/2- match BOTH branches
    * (`all_rules_match`), 3- exactly one (pass), 4-/5- none (two prefixed
    * branch errors); if/then/else selects the bound by order size; `not`
    * fires on status P. Messages include the reference's templated text
    * (Error.pm:6-53), so the oracle pins prefixing + specials exactly. */
  private val combinatorPack: Rule = Properties(Seq(
    "o_totalprice" -> IfThenElse(Minimum(300000), Some(Maximum(450000)), Some(Minimum(50000))),
    "o_orderpriority" -> OneOf(Seq(Pattern("^[1-2]-"), Pattern("^[1-3]-"))),
    "o_orderstatus" -> Not(Enum(Seq(core.JStr("P"))))))

  /** Flagship: the lineitem rule-pack verdict on sf0.001 (driver smoke
    * checks rows > 0 — quantities above 45 exist at every sf). */
  def entry(spark: SparkSession): DataFrame =
    Violations.ruleCounts(
      Violations.validate(t(spark, "/root/testdata/sf0.001", "lineitem"), lineitemPack, Seq("l_orderkey")))
      .orderBy("path", "rule_id")

  // -------------------------------------------------------------- queries

  /** Shared replay harness for the streaming oracle entries: stage the
    * events parquet into a fresh temp DIRECTORY (the file source watches a
    * directory — exactly a streaming ingest drop-zone), open it as a
    * file-source stream with a timestamp-typed `ts` (cast BEFORE any
    * watermark so the event-time tag survives). */
  private def stagedEventStream(s: SparkSession, dir: String, prefix: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory(prefix)
    stage.toFile.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events.parquet"))
    stage.resolve("events.parquet").toFile.deleteOnExit()
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    s.readStream.schema(schema).parquet(stage.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Run a streaming query to completion into a uniquely-named memory sink
    * (AvailableNow + trailing watermark batch) and return the sink table.
    *
    * Stateful-streaming sizing: shuffle partitions fix the STATE STORE
    * count for the query's lifetime, and each store instance carries fixed
    * per-batch overhead (delta file + commit per partition per
    * micro-batch). The replayed windows/keys here hold kilobytes of state,
    * so the session's CPU-width default (32) provisions 32 stores per
    * stateful operator to shuffle a few hundred counter rows — measured
    * 2.1 s vs 1.0 s per run at 8. `GRAFT_STREAM_SHUFFLE` (default 8)
    * parameterises it; size it to state volume / throughput in
    * production. Results are partition-count-independent (exact counters
    * and per-key state; the st06 digest's merge order shifts but its
    * oracle pins only rank-tolerance claims). */
  private def runToMemorySink(s: SparkSession, out: DataFrame, prefix: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val sink = s"${prefix}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("GRAFT_STREAM_SHUFFLE", "8"))
    try {
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(sink)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- relational core (Catalyst-native: pushdown, joins, windows) ----

    "q01_pricing_summary" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").where(col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          round(round(sum(col("l_quantity").cast("decimal(20,4)")), 2).cast("double") / count(lit(1)), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q02_filter_topn" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_quantity") >= 49 && col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100)),

    "q03_revenue_by_nation" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      // customer grows with sf (1.5 M rows at sf10) — no explicit broadcast;
      // AQE's size gate picks the strategy. Nation is a true 25-row dim.
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy("n_name")
    }),

    "q04_window_latest_order" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      tNoFloor(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .orderBy("o_custkey")
    }),

    "q05_customers_no_recent_orders" -> ((s, dir) => {
      val recent = tNoFloor(s, dir, "orders").where(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      tNoFloor(s, dir, "customer")
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    "q06_orders_with_max_qty_item" -> ((s, dir) => {
      val big = tNoFloor(s, dir, "lineitem").where(col("l_quantity") >= 50)
      tNoFloor(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    "q07_setop_parts" -> ((s, dir) => {
      val li = tNoFloor(s, dir, "lineitem")
      val a = li.where(col("l_quantity") >= 49).select("l_partkey").distinct()
      val b = li.where(col("l_discount") === 0.0).select("l_partkey").distinct()
      a.except(b).orderBy("l_partkey")
    }),

    "q08_rollup_orders" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)),

    "q09_nation_customer_stats" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_acctbal"))
        .orderBy("n_name")),

    "q10_events_hourly" -> ((s, dir) =>
      tNoFloor(s, dir, "events")
        .groupBy((floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("bucket_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value").cast("decimal(20,6)")), 4).cast("double").as("sum_value"))
        .orderBy("bucket_start", "event_type")),

    // ---- validation engine (row-local packs, uniqueness, referential,
    //      stats, drift, formats) ----

    "v01_rule_counts_lineitem" -> ((s, dir) =>
      Violations.ruleCounts(
        Violations.validate(tNoFloor(s, dir, "lineitem"), lineitemPack, Seq("l_orderkey")))
        .orderBy("path", "rule_id")),

    "v02_violation_rows_orders" -> ((s, dir) =>
      Violations.validate(tNoFloor(s, dir, "orders"), ordersPack, Seq("o_orderkey"))
        .select("o_orderkey", "path", "rule_id", "observed")
        .orderBy("o_orderkey", "path")),

    "v50_delta_validate" -> ((s, dir) => {
      // the resume contract as an oracle LAW: validate(committed snapshot)
      // + validate(delta), merged by counter ADDITION, must equal
      // validate(full) — the oracle computes the full-corpus counts
      // directly, so a double-counted partition or a missed delta row
      // hash-mismatches. Only the delta flows through rule evaluation at
      // resume time (at scale the split is SnapshotStore's partition
      // manifest, and the committed side's counts come from its metrics
      // table, not a rescan); the merge is a per-rule counter union.
      val li = tNoFloor(s, dir, "lineitem")
      val committed = li.where(pmod(col("l_orderkey"), lit(5)) =!= 4)
      val delta = li.where(pmod(col("l_orderkey"), lit(5)) === 4)
      val oldC = Violations.ruleCounts(
        Violations.validate(committed, lineitemPack, Seq("l_orderkey")))
      val deltaC = Violations.ruleCounts(
        Violations.validate(delta, lineitemPack, Seq("l_orderkey")))
      oldC.unionByName(deltaC).groupBy("path", "rule_id")
        .agg(sum(col("n_violations")).as("n_violations"))
        .orderBy("path", "rule_id")
    }),

    "v03_unique_dup_keys" -> ((s, dir) =>
      // hash-first scale path; result identical to the direct groupBy (and
      // to the oracle's GROUP BY … HAVING)
      Uniqueness.duplicateKeysHashed(tNoFloor(s, dir, "lineitem"), Seq("l_orderkey"))
        .orderBy("l_orderkey")),

    "v35_string_battery" -> ((s, dir) => {
      // string-keyword battery through the PARSE front door: the pack
      // arrives as JSON text (const + minLength/maxLength — the §2 rows
      // previously covered by tests only), compiles, and the violation
      // rows (message-exact) hash-match the closed-form SQL
      val pack = graft.rulepack.RulePack.parse(
        """{"type":"object","properties":{
          |  "p_brand":{"const":"Brand#13"},
          |  "p_name":{"minLength":20,"maxLength":30}
          |}}""".stripMargin)
      Violations.validate(tNoFloor(s, dir, "part"), pack, Seq("p_partkey"))
        .select("p_partkey", "path", "rule_id", "message", "observed")
        .orderBy("p_partkey", "path", "rule_id")
    }),

    "v36_dependencies_draft4" -> ((s, dir) => {
      import s.implicits._
      // the draft-4 `dependencies` keyword through the PARSE front door:
      // array form (presence -> required) AND hash form (presence ->
      // sub-schema with its own properties/required), over a struct-parsed
      // dynamic instance; fixtures cover every branch
      val pack = graft.rulepack.RulePack.parse(
        """{"type":"object","dependencies":{
          |  "k":["k2"],
          |  "b":{"properties":{"q":{"minimum":10}},"required":["q"]}
          |}}""".stripMargin)
      val fixtures = Seq(
        (910001L, """{"k": 5, "k2": 9}"""),
        (910002L, """{"k": 7}"""),
        (910003L, """{"b": 1, "q": 5}"""),
        (910004L, """{"b": 1}"""),
        (910005L, """{"z": 1}"""))
        .toDF("event_id", "props")
      val ev = t(s, dir, "events").select("event_id", "props").unionByName(fixtures)
        .withColumn("p", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT, k2 INT, b INT, q INT")))
      Violations.validateColumn(ev, pack, "p", Seq("event_id"))
        .select("event_id", "path", "rule_id", "message", "observed")
        .orderBy("event_id", "path", "rule_id")
    }),

    "v37_combinator_battery" -> ((s, dir) => {
      // anyOf (fails only when every branch fails — both branch errors
      // emitted with /anyOf/<i> prefixes) and allOf (every failing branch
      // reports, /allOf/<i>-prefixed), parsed from JSON — the two
      // combinator rows v16's oneOf battery left test-only
      val pack = graft.rulepack.RulePack.parse(
        """{"type":"object","properties":{
          |  "l_quantity":{"anyOf":[{"maximum":10},{"minimum":45}]},
          |  "l_discount":{"allOf":[{"minimum":0.02},{"maximum":0.08}]}
          |}}""".stripMargin)
      Violations.validate(
          t(s, dir, "lineitem").where(col("l_linenumber") === 1), pack,
          Seq("l_orderkey", "l_linenumber"))
        .select("l_orderkey", "l_linenumber", "path", "rule_id", "message", "observed")
        .orderBy("l_orderkey", "l_linenumber", "path", "rule_id")
    }),

    "v38_coerce_battery" -> ((s, dir) => {
      import s.implicits._
      // the coercion rows v12's number leg left test-only: boolean
      // coercion truth table ("true"/"1"/"false"/"0"/""/junk), number →
      // string, and OpenAPI v2 collectionFormat ssv splitting over a real
      // space-delimited column
      val fx = Seq("true", "1", "false", "0", "", "junk").zipWithIndex
        .map { case (b, i) => (i + 1L, b) }.toDF("id", "b")
      val legA = fx.select(col("id"), lit("bool").as("kind"),
        core.Coerce.booleans(col("b")).cast("string").as("v1"),
        lit(null).cast("string").as("v2"))
      val p = t(s, dir, "part")
      val ssv = core.Coerce.splitCollection(col("p_type"), "ssv")
      val legB = p.select((col("p_partkey") + 1000L).as("id"), lit("ssv").as("kind"),
        element_at(ssv, 1).as("v1"), size(ssv).cast("string").as("v2"))
      val legC = p.select((col("p_partkey") + 200000L).as("id"), lit("str").as("kind"),
        core.Coerce.strings(col("p_size")).as("v1"), lit(null).cast("string").as("v2"))
      legA.unionByName(legB).unionByName(legC).orderBy("id", "kind")
    }),

    "v39_anchor_refs" -> ((s, dir) => {
      // $anchor + relative-$id resolution IN the oracle gate: the pack
      // reaches the same enum/pattern rules as v02 only through a
      // fragment anchor and a relative embedded $id (base-URI rebase) —
      // identical violation rows prove the resolution path end-to-end
      val pack = graft.rulepack.RulePack.parse(
        """{"$id": "https://graft.example/root.json",
          | "type": "object",
          | "properties": {
          |   "o_orderstatus": {"$ref": "#status"},
          |   "o_orderpriority": {"$ref": "sub/prio.json"}},
          | "$defs": {
          |   "st": {"$anchor": "status", "enum": ["O", "F"]},
          |   "pr": {"$id": "sub/prio.json", "pattern": "^[1-3]-"}}
          |}""".stripMargin)
      Violations.validate(tNoFloor(s, dir, "orders"), pack, Seq("o_orderkey"))
        .select("o_orderkey", "path", "rule_id", "observed")
        .orderBy("o_orderkey", "path")
    }),

    "v40_recursive_tree" -> ((s, _) => {
      // 2019-09 $recursiveRef/$recursiveAnchor IN the gate: the tree pack
      // is reached through a cross-document $ref and its children recurse
      // via "$recursiveRef": "#" against the tree's own $id scope; planted
      // NULL `data` at depth 1 (id%7) and depth 2 (id%5) must surface at
      // the exact nested /children/... paths
      val tree = graft.core.JValue.parse(
        """{"$schema": "https://json-schema.org/draft/2019-09/schema",
          | "$id": "urn:x-graft:tree",
          | "type": "object",
          | "properties": {
          |   "data": {"type": "integer"},
          |   "children": {"type": "array", "items": {"$recursiveRef": "#"}}},
          | "required": ["data"]}""".stripMargin)
      val pack = graft.rulepack.RulePack.parse(
        """{"$id": "urn:x-graft:entry", "$ref": "urn:x-graft:tree"}""",
        graft.rulepack.RulePack.Store(Map("urn:x-graft:tree" -> tree)))
      val df = s.range(0, 200).select(col("id"),
        struct(col("id").cast("int").as("data"),
          array(struct(
            when(col("id") % 7 === 0, lit(null).cast("int"))
              .otherwise(col("id").cast("int") + 1).as("data"),
            array(struct(
              when(col("id") % 5 === 0, lit(null).cast("int"))
                .otherwise(col("id").cast("int") + 2).as("data"))).as("children")
          )).as("children")).as("doc"))
      Violations.validateColumn(df, pack, "doc", Seq("id"))
        .select("id", "path", "rule_id")
        .orderBy("id", "path")
    }),

    "v41_custom_format" -> ((s, dir) => {
      // user-extensible format registry (reference Schema.pm:164-192
      // formats hash): a custom "sku" format plugs into the same Format
      // rule machinery, and an unknown format passes (permissive mode —
      // Schema.pm:601-608); planted bad skus at p_partkey%9
      val reg = graft.functions.Formats.Registry(extra = Map(
        "sku" -> ((c: Column) => c.rlike("^[A-Z]{2}-\\d{4}$"))))
      val df = tNoFloor(s, dir, "part").select(col("p_partkey"),
        when(col("p_partkey") % 9 === 0,
            concat(lit("bad_"), col("p_partkey").cast("string")))
          .otherwise(format_string("PT-%04d", pmod(col("p_partkey"), lit(10000)))).as("sku"),
        col("p_type").as("free"))
      val rule = Properties(Seq(
        "sku" -> Format("sku"),
        "free" -> Format("made-up-format")))
      Violations.validate(df, rule, Seq("p_partkey"),
          ctx = graft.core.RuleCompiler.Ctx(formats = reg))
        .select("p_partkey", "path", "rule_id", "message", "observed")
        .orderBy("p_partkey")
    }),

    "v42_modality" -> ((s, dir) => {
      // readOnly/writeOnly in the gate (reference OpenAPIv3.pm:356-396),
      // BOTH directions: in a request the readOnly property's presence is
      // a 'Read-only.' error (and per the dispatcher order,
      // Schema.pm:401-419, the presence error suppresses the enum — enum
      // runs only after everything else passes); in a response the
      // writeOnly property's presence is 'Write-only.' while the property
      // schemas (enum/pattern) validate normally in both directions
      val rule = Properties(Seq(
        "o_orderstatus" -> Rule.readOnly(Enum(Seq(core.JStr("O"), core.JStr("F")))),
        "o_orderpriority" -> Rule.writeOnly(Pattern("^[1-3]-"))))
      val orders = t(s, dir, "orders")
      def leg(d: Rule.Direction, name: String) =
        Violations.validate(orders, rule, Seq("o_orderkey"),
            ctx = graft.core.RuleCompiler.Ctx(direction = d))
          .withColumn("direction", lit(name))
      leg(Rule.Request, "request").unionByName(leg(Rule.Response, "response"))
        .select("o_orderkey", "direction", "path", "rule_id", "message", "observed")
        .orderBy("o_orderkey", "direction", "path", "rule_id")
    }),

    "v43_type_union_bool_schema" -> ((s, dir) => {
      // type UNION (static flat-table semantics: a string column against
      // ["integer","number"] fails with the combined want-list message,
      // Util.pm:66-69 "got" naming) and boolean schema `false` (presence
      // → not/not, Schema.pm:369); a union the static type satisfies
      // (o_custkey vs ["integer","string"]) emits nothing
      val pack = graft.rulepack.RulePack.parse(
        """{"type":"object","properties":{
          |  "o_orderpriority":{"type":["integer","number"]},
          |  "o_orderstatus":false,
          |  "o_custkey":{"type":["integer","string"]}
          |}}""".stripMargin)
      Violations.validate(t(s, dir, "orders"), pack, Seq("o_orderkey"))
        .select("o_orderkey", "path", "rule_id", "message", "observed")
        .orderBy("o_orderkey", "path")
    }),

    "v44_approx_distinct" -> ((s, dir) => {
      // HLL++ approx-distinct (the 10¹²-row cardinality path): the sketch
      // value is engine-specific, so the oracle pins what is portable —
      // the EXACT count plus the claim that the sketch landed within 5%
      // (HLL merge is order-insensitive, so the estimate is deterministic
      // for a given dataset; a drifting estimator fails the gate)
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey")
      // rsd 0.01 (not the 0.05 default): the 5% verdict needs headroom —
      // at small cardinalities the default sketch's realized error can
      // brush past its own rsd.
      // The exact and approx sides run as SEPARATE aggregations stitched
      // by a 1×1 crossJoin: mixing count_distinct with a non-distinct
      // aggregate makes the distinct-rewrite's first phase (keyed on the
      // distinct VALUES) carry the other aggregate's buffer per key group
      // — at rsd 0.01 that is a 2¹⁴-register HLL PER DISTINCT KEY
      // (measured 82 s vs 2.6 s at sf0.1). Split, each plan is clean:
      // Expand for the exact trio, three global HLL buffers for the
      // approx trio.
      // No scan floor here: both legs are global aggregations whose
      // partial buffers (distinct sets, HLL sketches) are what crosses the
      // exchange — a pre-repartition ships the raw key rows instead
      // (measured 2.3 s plain vs 4.6 s floored; a localCheckpoint variant
      // sharing one materialized scan between the legs was worse still in
      // the cold suite, 12.9 s).
      val li = tNoFloor(s, dir, "lineitem").select(cols.map(col): _*)
      val exactAggs = cols.map(c => count_distinct(col(c)).as(s"${c}__e"))
      val approxAggs = cols.map(c => approx_count_distinct(col(c), 0.01).as(s"${c}__a"))
      val row = li.agg(exactAggs.head, exactAggs.tail: _*)
        .crossJoin(li.agg(approxAggs.head, approxAggs.tail: _*))
      val perCol = cols.map(c => struct(lit(c).as("column"),
        col(s"${c}__e").as("n_exact"),
        (abs(col(s"${c}__a") - col(s"${c}__e")).cast("double")
          / col(s"${c}__e").cast("double") <= 0.05).as("within_5pct")))
      row.select(explode(array(perCol: _*)).as("p")).select("p.*")
        .orderBy("column")
    }),

    "v48_route_match" -> ((s, dir) => {
      // OpenAPI route dispatch as a TABLE op (OpenAPIv2.pm:120-145): each
      // request row matches the most-specific template in the reference's
      // weight order (static segments beat {placeholders} — '/orders/
      // search' must hit searchOrders, not getOrder) and yields the
      // extracted path params. One codegen'd coalesce(when(rlike)) chain,
      // no joins; DuckDB rebuilds the expected dispatch from the request
      // generator's formula, so a precedence or extraction slip breaks
      // the hash.
      import graft.pipeline.Routes
      val routes = Seq(
        Routes.Route("get", "/orders/{orderId}", "getOrder"),
        Routes.Route("get", "/orders/{orderId}/items/{lineNumber}", "getItem"),
        Routes.Route("get", "/orders/search", "searchOrders"),
        Routes.Route("post", "/orders", "createOrder"),
        Routes.Route("get", "/customers/{custId}", "getCustomer"))
      val o = t(s, dir, "orders").where(col("o_orderkey") <= 2000)
      val k = col("o_orderkey")
      val req = o.select(k,
        when(k % 6 === 0, lit("POST")).otherwise(lit("GET")).as("method"),
        when(k % 6 === 0, lit("/orders"))
          .when(k % 6 === 1, concat(lit("/orders/"), k.cast("string")))
          .when(k % 6 === 2, concat(lit("/orders/"), k.cast("string"),
            lit("/items/"), (k % 7).cast("string")))
          .when(k % 6 === 3, lit("/orders/search"))
          .when(k % 6 === 4, concat(lit("/customers/"), col("o_custkey").cast("string")))
          .otherwise(concat(lit("/unknown/"), k.cast("string"))).as("req_path"))
      Routes.matchRoutes(req, "method", "req_path", routes)
        .select(k, col("method"), col("req_path"), col("route_path"),
          col("operation_id"), Routes.paramsCanonical(col("params")).as("params"))
        .orderBy("o_orderkey")
    }),

    "v49_route_request_validate" -> ((s, dir) => {
      // validate_request's data half COMPOSED: route dispatch (v48) →
      // path-param coercion (string → strict JSON number, Coerce/v12
      // semantics) → rule validation of the coerced params, emitting the
      // reference-shaped violation rows. The chain is where an off-by-one
      // would hide: a wrong capture group or a lax coercion changes the
      // violation set.
      import graft.pipeline.Routes
      val routes = Seq(
        Routes.Route("get", "/orders/{orderId}", "getOrder"),
        Routes.Route("get", "/orders/{orderId}/items/{lineNumber}", "getItem"))
      val o = t(s, dir, "orders").where(col("o_orderkey") <= 4000)
      val k = col("o_orderkey")
      val req = o.select(k, lit("GET").as("method"),
        when(k % 3 === 0, concat(lit("/orders/"), k.cast("string"),
            lit("/items/"), (k % 10).cast("string")))
          .otherwise(concat(lit("/orders/"), k.cast("string"))).as("req_path"))
      val matched = Routes.matchRoutes(req, "method", "req_path", routes)
      // extracted params are STRINGS (path segments); coerce to numbers
      // the v12 way, then rule them: orderId ≤ 3000 everywhere; on the
      // item route lineNumber ∈ [1, 7] (k % 10 generates 0 and 8/9, so
      // both bounds fire)
      val params = core.Coerce(
        matched.where(col("route_path").isNotNull)
          .select(k, col("params")("orderId").as("orderId"),
            col("params")("lineNumber").as("lineNumber")),
        Map("orderId" -> core.Coerce.ToNumber, "lineNumber" -> core.Coerce.ToNumber))
      val rule = Properties(Seq(
        "orderId" -> Maximum(3000),
        "lineNumber" -> All(Seq(Minimum(1), Maximum(7)))))
      Violations.validate(params, rule, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("path"), col("rule_id"), col("observed"))
        .orderBy("o_orderkey", "path")
    }),

    "v47_drift_sketched" -> ((s, dir) => {
      // north_star composed end to end: the KLL sketch as the STORED
      // snapshot artifact for distribution-drift checks — PSI/KL/JS
      // computed from two sketches via their exclusive ranks at the bin
      // edges (Drift.sketchedDistances) and judged against
      // the exact histogram distances over the same binning. The sketch is
      // randomized, so the oracle pins the portable pair: the EXACT
      // distances plus the claim that the sketched ones landed within 0.01
      // absolute (QuantileSketch.K is sized so the 20-run worst gap stays
      // at most half of that; TDigestSpec pins the tracking law on a
      // strongly-drifted fixture where PSI > 0.2)
      val li = tNoFloor(s, dir, "lineitem")
      val ref = li.where(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      val cur = li.where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
      val (c, lo, hi, bins) = ("l_extendedprice", 900.0, 105000.0, 20)
      def hist(d: DataFrame) = Drift.histogram(d, c, lo, hi, bins)
      // two 1-row kernels (2 histograms, 2 sketches); the crossJoin is 1×1
      // result stitching
      Drift.distances(hist(ref), hist(cur)).select(round(col("psi"), 6).as("psi_exact"),
          round(col("kl"), 6).as("kl_exact"), round(col("js"), 6).as("js_exact"))
        .crossJoin(Drift.sketchedDistances(ref, cur, c, lo, hi, bins)
          .select(col("psi").as("psi_sk"), col("kl").as("kl_sk"), col("js").as("js_sk")))
        .select(col("psi_exact"), col("kl_exact"), col("js_exact"),
          (abs(col("psi_sk") - col("psi_exact")) <= 0.01).as("psi_within_tol"),
          (abs(col("kl_sk") - col("kl_exact")) <= 0.01).as("kl_within_tol"),
          (abs(col("js_sk") - col("js_exact")) <= 0.01).as("js_within_tol"))
    }),

    "v45_tdigest_quantiles" -> ((s, dir) => {
      // KLL quantile sketch (the engine's at-scale quantile path,
      // QuantileSketch). The sketch is randomized, so the oracle pins what
      // is portable: the EXACT R-7 quantile (v24 parity) plus the claim
      // that the sketch landed within 0.02 RANK error. The rank check is
      // interval-form — P(X < est) − eps ≤ q ≤ P(X ≤ est) + eps — so a
      // discrete column whose atoms carry 9% mass each (l_discount) is
      // judged fairly: an atom contributes its whole mass to the pass
      // interval. QuantileSketch.K keeps the 20-run worst case at most
      // half of the gate.
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val qs = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
      val li = t(s, dir, "lineitem")
      // pass 1: ONE sketch aggregation; the collect touches |cols|×|qs|
      // scalar estimates (tiny), mirroring the PackInference pattern
      val ests: Map[(String, Double), Double] =
        ColumnStats.quantileDigest(li, cols, qs)
          .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      // pass 2: ONE exact aggregation — R-7 quantiles + the rank interval
      // of each estimate via counter sums against literal estimates
      val aggs = cols.flatMap { c =>
        expr(s"percentile($c, array(${qs.map(q => s"${q}D").mkString(",")}))").as(s"${c}__p") +:
          qs.zipWithIndex.flatMap { case (q, i) =>
            val e = ests((c, q))
            Seq(sum((col(c) < e).cast("long")).as(s"${c}__lt_$i"),
              sum((col(c) <= e).cast("long")).as(s"${c}__le_$i"))
          }
      } :+ count(lit(1)).as("__n")
      val row = li.agg(aggs.head, aggs.tail: _*)
      val out = cols.flatMap { c => qs.zipWithIndex.map { case (q, i) =>
        struct(lit(c).as("column"), lit(q).as("q"),
          round(element_at(col(s"${c}__p"), i + 1), 6).as("p_exact"),
          (col(s"${c}__lt_$i").cast("double") / col("__n") - lit(0.02) <= lit(q) &&
            lit(q) <= col(s"${c}__le_$i").cast("double") / col("__n") + lit(0.02))
            .as("within_rank_tol"))
      }}
      row.select(explode(array(out: _*)).as("s")).select("s.*").orderBy("column", "q")
    }),

    "v46_param_styles" -> ((s, dir) => {
      // OpenAPI v3 style/explode parameter DECODE as column ops
      // (OpenAPIv3.pm:148-253 semantics; t/openapiv3-style-explode.t
      // fixtures pinned in ParamStylesSpec). Encoded strings are built
      // from p_name's words, decoded by every style, and exploded to
      // (row, case, position/key, item) — DuckDB independently rebuilds
      // the expected decode from the same words, so a delimiter slip in
      // any style family breaks the hash
      import graft.functions.ParamStyles._
      val p = tNoFloor(s, dir, "part").where(col("p_partkey") <= 200)
        .select(col("p_partkey"), split(col("p_name"), " ").as("ws"), col("p_name"))
      def arrCase(kase: String, enc: Column, dec: Column => Column): DataFrame =
        p.select(col("p_partkey"), lit(kase).as("kase"), posexplode(dec(enc)))
          .select(col("p_partkey"), col("kase"),
            (col("pos") + 1).cast("string").as("k"), col("col").as("v"))
      def objCase(kase: String, enc: Column, dec: Column => Column): DataFrame =
        p.select(col("p_partkey"), lit(kase).as("kase"), explode(dec(enc)))
          .select(col("p_partkey"), col("kase"), col("key").as("k"), col("value").as("v"))
      def joinWs(sep: String) = array_join(col("ws"), sep)
      // alternating k{i},w{i} pair list (object non-explode form)
      def interWs(sep: String) = array_join(flatten(transform(col("ws"),
        (w, i) => array(concat(lit("k"), i.cast("string")), w))), sep)
      // k{i}=w{i} pieces (object explode forms)
      def kvWs(sep: String) = array_join(transform(col("ws"),
        (w, i) => concat(lit("k"), i.cast("string"), lit("="), w)), sep)
      // p[k{i}]=w{i} query pairs (deepObject)
      val deepWs = array_join(transform(col("ws"),
        (w, i) => concat(lit("p[k"), i.cast("string"), lit("]="), w)), "&")
      val cases = Seq(
        arrCase("arr_form", joinWs(","), decodeStyleArray(_, "form", explode = false)),
        arrCase("arr_space", col("p_name"), decodeStyleArray(_, "spaceDelimited", explode = false)),
        arrCase("arr_pipe", joinWs("|"), decodeStyleArray(_, "pipeDelimited", explode = false)),
        arrCase("arr_single", element_at(col("ws"), 1), decodeStyleArray(_, "simple", explode = false)),
        arrCase("arr_label", concat(lit("."), joinWs(",")), decodeStyleArray(_, "label", explode = false)),
        arrCase("arr_label_x", concat(lit("."), joinWs(".")), decodeStyleArray(_, "label", explode = true)),
        arrCase("arr_matrix", concat(lit(";p="), joinWs(",")), decodeStyleArray(_, "matrix", explode = false, "p")),
        arrCase("arr_matrix_x", concat(lit(";p="), joinWs(";p=")), decodeStyleArray(_, "matrix", explode = true, "p")),
        // missing matrix prefix: the un-switched separator never matches →
        // the raw value survives as a single item (reference split parity)
        arrCase("arr_matrix_raw", col("p_name"), decodeStyleArray(_, "matrix", explode = false, "p")),
        objCase("obj_form", interWs(","), decodeStyleObject(_, "form", explode = false)),
        objCase("obj_simple_x", kvWs(","), decodeStyleObject(_, "simple", explode = true)),
        objCase("obj_label", concat(lit("."), interWs(".")), decodeStyleObject(_, "label", explode = false)),
        objCase("obj_matrix_x", concat(lit(";"), kvWs(";")), decodeStyleObject(_, "matrix", explode = true)),
        objCase("obj_deep", concat(deepWs, lit("&zz=1")), decodeDeepObject(_, "p")))
      cases.reduce(_ unionByName _).orderBy("p_partkey", "kase", "k")
    }),

    "v34_violation_samples" -> ((s, dir) =>
      // bounded violation sink: exact per-rule counts + deterministic
      // hash-ordered ≤5 exemplar ids via the K-bounded TopKSketch
      // aggregate (no window, no per-rule sort — the shuffle carries at
      // most K rows per rule per map task); keyed on observed (not the
      // engine-rendered message) so the oracle replays the identical hash
      Violations.sampleViolations(
          Violations.validate(tNoFloor(s, dir, "orders"), ordersPack, Seq("o_orderkey")),
          Seq("o_orderkey"), perRuleK = 5,
          keyCols = Seq("path", "rule_id", "observed"))
        .select(col("path"), col("rule_id"), col("n_violations"),
          array_join(col("sample_ids"), ",").as("sample_ids"))
        .orderBy("path", "rule_id")),

    "v04_referential_missing" -> ((s, dir) => {
      val dim = tNoFloor(s, dir, "customer").where(col("c_custkey") < 100)
      Referential.violations(tNoFloor(s, dir, "events"), "user_id", dim, "c_custkey")
        .select("user_id").distinct().orderBy("user_id")
    }),

    "v05_referential_salted" -> ((s, dir) => {
      val dim = tNoFloor(s, dir, "customer").where(col("c_custkey") < 100)
      Referential.violationsSalted(tNoFloor(s, dir, "events"), "user_id", dim, "c_custkey",
          saltBy = "event_id", saltBuckets = 8)
        .select("user_id").distinct().orderBy("user_id")
    }),

    "v06_profile_lineitem" -> ((s, dir) =>
      ColumnStats.profile(tNoFloor(s, dir, "lineitem"),
          Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_returnflag", "l_linestatus"))
        .withColumnRenamed("column", "col_name")
        .orderBy("col_name")),

    "v07_drift_hist_quantity" -> ((s, dir) => {
      val li = tNoFloor(s, dir, "lineitem")
      val first = Drift.histogram(li.where(col("l_shipdate") < lit("1998-01-01").cast("timestamp")), "l_quantity", 1, 51, 10)
      val second = Drift.histogram(li.where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")), "l_quantity", 1, 51, 10)
      first.withColumnRenamed("n", "n_ref")
        .join(second.withColumnRenamed("n", "n_cur"), Seq("bin"), "full_outer")
        .select(col("bin"), coalesce(col("n_ref"), lit(0L)).as("n_ref"), coalesce(col("n_cur"), lit(0L)).as("n_cur"))
        .orderBy("bin")
    }),

    "v08_drift_psi_quantity" -> ((s, dir) => {
      val li = tNoFloor(s, dir, "lineitem")
      val first = Drift.histogram(li.where(col("l_shipdate") < lit("1998-01-01").cast("timestamp")), "l_quantity", 1, 51, 10)
      val second = Drift.histogram(li.where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")), "l_quantity", 1, 51, 10)
      Drift.psi(first, second).select(round(col("psi"), 6).as("psi"))
    }),

    "v13_drift_kl" -> ((s, dir) => {
      val li = tNoFloor(s, dir, "lineitem")
      val first = Drift.histogram(li.where(col("l_shipdate") < lit("1998-01-01").cast("timestamp")), "l_quantity", 1, 51, 10)
      val second = Drift.histogram(li.where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")), "l_quantity", 1, 51, 10)
      Drift.kl(first, second).select(round(col("kl"), 6).as("kl"))
    }),

    "v15_drift_js" -> ((s, dir) => {
      // Jensen–Shannon over the same split as v13 — the bounded symmetric
      // member of the drift family (PSI v08, KL v13, JS here)
      val li = tNoFloor(s, dir, "lineitem")
      val first = Drift.histogram(li.where(col("l_shipdate") < lit("1998-01-01").cast("timestamp")), "l_quantity", 1, 51, 10)
      val second = Drift.histogram(li.where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")), "l_quantity", 1, 51, 10)
      Drift.js(first, second).select(round(col("js"), 6).as("js"))
    }),

    "v14_map_rules" -> ((s, dir) => {
      // the same nested-JSON rule as v11 but through the MAP path: dynamic
      // keys via from_json to map<string,int> (the reference's hash regime)
      val ev = t(s, dir, "events")
        .withColumn("p", from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType)))
      val rule = All(Seq(Required(Seq("k")),
        Properties(Seq("k" -> All(Seq(Minimum(10), Maximum(80)))))))
      Violations.validateColumn(ev, rule, "p", Seq("event_id"))
        .select("event_id", "path", "rule_id", "observed")
        .orderBy("event_id", "path")
    }),

    "v09_format_battery" -> ((s, _) => {
      import s.implicits._
      val fixtures = Seq(
        (1, "2024-02-29"), (2, "2023-02-29"), (3, "user@example.com"), (4, "not an email"),
        (5, "10.0.0.1"), (6, "999.1.1.1"), (7, "01.2.3.4"), (8, "A1b2+/=="), (9, "spa ce"),
        (10, "123e4567-e89b-12d3-a456-426614174000"), (11, "123e4567-e89b-x2d3-a456-426614174000"),
        (12, "/foo/bar"), (13, "foo"), (14, "23:59:59"), (15, "24:00:00"))
      import graft.functions.Formats
      fixtures.toDF("id", "s").select(col("id"), col("s"),
          Formats.date(col("s")).as("is_date"),
          Formats.email(col("s")).as("is_email"),
          Formats.ipv4(col("s")).as("is_ipv4"),
          Formats.byte(col("s")).as("is_byte"),
          Formats.uuid(col("s")).as("is_uuid"),
          Formats.jsonPointer(col("s")).as("is_jsonptr"),
          Formats.time(col("s")).as("is_time"))
        .orderBy("id")
    }),

    "v10_discriminator" -> ((s, dir) => {
      val rule = Discriminator("o_orderstatus", Seq(
        "O" -> Properties(Seq("o_totalprice" -> Maximum(400000))),
        "F" -> Properties(Seq("o_totalprice" -> Maximum(450000))),
        "P" -> Properties(Seq("o_totalprice" -> Maximum(300000)))))
      Violations.validate(tNoFloor(s, dir, "orders"), rule, Seq("o_orderkey"))
        .select("o_orderkey", "path", "rule_id")
        .orderBy("o_orderkey")
    }),

    "v11_nested_json" -> ((s, dir) => {
      // semi-structured: parse the JSON props column, validate the nested
      // struct field with the same compiler (struct targets are native)
      val ev = t(s, dir, "events")
        .withColumn("p", from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType)))))
      val rule = Properties(Seq("k" -> All(Seq(Minimum(10), Maximum(80)))))
      Violations.validateColumn(ev, rule, "p", Seq("event_id"))
        .select("event_id", "path", "rule_id", "observed")
        .orderBy("event_id", "path")
    }),

    "v12_coerce_numbers" -> ((s, dir) => {
      // coercion projection (reference coerce('numbers')): the JSON props
      // value arrives as a string; the strict JSON-number regex admits it
      // into a typed column, junk becomes NULL — non-mutating repair
      val ev = tNoFloor(s, dir, "events")
        .withColumn("k_str", regexp_extract(col("props"), "\"k\"\\s*:\\s*(-?\\d+)", 1))
      val coerced = core.Coerce(ev.select(col("event_id"), col("k_str").as("k_num")),
        Map("k_num" -> core.Coerce.ToNumber))
      coerced.groupBy((col("k_num") >= 50).as("k_ge_50"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("k_num").cast("decimal(20,4)")), 2).cast("double").as("sum_k"))
        .orderBy(col("k_ge_50").asc_nulls_first)
    }),

    // ---- training-data pipeline: dedup / text / similarity / multimodal ----

    "p01_dedup_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val withDups = docs.unionByName(docs.orderBy("doc_id").limit(50))
      Dedup.exactDupGroups(withDups, "doc_id", "text").orderBy("fp")
    }),

    "p02_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    "p03_token_counts" -> ((s, dir) =>
      t(s, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_ws"),
          TextAnalysis.tokenCountBpe(col("text")).cast("long").as("n_bpe"),
          TextAnalysis.charCount(col("text")).cast("long").as("n_chars_m"))
        .orderBy("doc_id")),

    "p04_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.stopwordCount(col("text")).cast("long").as("n_stop"),
          TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
          TextAnalysis.alphaRatio(col("text")).as("alpha_ratio"),
          TextAnalysis.meanWordLen(col("text")).as("mean_word_len"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),

    "p05_langid" -> ((s, dir) =>
      t(s, dir, "documents").select(
          col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("predicted"))
        .orderBy("doc_id")),

    "p06_ngram_jaccard" -> ((s, dir) =>
      // maxDocFreq caps posting-list blowup (cost ∝ Σ list²) — the oracle
      // applies the identical cap, so the checked path IS the scale path
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", k = 3,
          minJaccard = 0.3, maxDocFreq = 50)
        .orderBy("id_a", "id_b")),

    "p07_minhash_sigs" -> ((s, dir) =>
      Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text", shingleK = 3, numHashes = 4)
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", "sig_0", "sig_1", "sig_2", "sig_3")
        .orderBy("doc_id")),

    "p08_minhash_candidates" -> ((s, dir) =>
      // Md5Portable so the DuckDB oracle reproduces signatures exactly;
      // XxFast (native codegen'd hash) is the benched production family
      Dedup.minhashCandidatePairs(t(s, dir, "documents"), "doc_id", "text",
          shingleK = 3, numHashes = 16, bands = 8, family = Dedup.Md5Portable)
        .orderBy("id_a", "id_b")),

    "p09_simhash" -> ((s, dir) =>
      // 64-bit fingerprint (Manku-style width — birthday-safe at 10⁹ docs);
      // per-row expression form, documented narrow-selection use
      t(s, dir, "documents").where(col("doc_id") < 100)
        .select(col("doc_id"), Dedup.simhash64(col("text")).as("simhash"))
        .orderBy("doc_id")),

    "p10_dedup_groups" -> ((s, dir) =>
      // LSH dedup GROUPS via bipartite min-label propagation — NO candidate
      // pairs materialized (cost ∝ docs×bands, never Σ bucket²). The oracle
      // still computes the pair graph + recursive closure: identical
      // connectivity proves the algorithms agree.
      Dedup.minhashComponents(t(s, dir, "documents"), "doc_id", "text",
          shingleK = 3, numHashes = 16, bands = 8, family = Dedup.Md5Portable)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    "p11_split_stats" -> ((s, dir) =>
      // deterministic train/val/test assignment: per-(split, lang) counts —
      // reproducible across engines, runs and corpus growth
      t(s, dir, "documents")
        .withColumn("split", Sampling.splitLabel(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
        .groupBy("split", "lang").agg(count(lit(1)).as("n"))
        .orderBy("split", "lang")),

    "p14_token_budget" -> ((s, dir) =>
      // training-run planning: token budget per (split, lang) — BPE-proxy
      // token counts summed under the deterministic split assignment
      t(s, dir, "documents")
        .withColumn("split", Sampling.splitLabel(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCountBpe(col("text")).cast("long")).as("n_tokens"))
        .orderBy("split", "lang")),

    "p12_contamination" -> ((s, dir) => {
      // decontamination: docs ≥ 20 checked against the 'benchmark' docs < 20
      val docs = t(s, dir, "documents")
      Dedup.contaminationPairs(
          docs.where(col("doc_id") >= 20), docs.where(col("doc_id") < 20),
          "doc_id", "text", k = 3, minCommon = 5)
        .orderBy("train_id", "bench_id")
    }),

    "p13_pii_redaction" -> ((s, dir) => {
      import s.implicits._
      // PII-bearing fixtures ride along with the corpus so the scrub is
      // demonstrably end-to-end (the synthetic docs are PII-free)
      val fixtures = Seq(
        (900001L, "contact me at alice@example.com or bob.smith+spam@mail.co.uk thanks"),
        (900002L, "server at 10.0.0.1 and 192.168.1.254 responded"),
        (900003L, "call +1 555 123 4567 today"),
        (900004L, "clean text, nothing to redact"))
      val corpus = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(fixtures.toDF("doc_id", "text"))
      corpus.select(Seq(col("doc_id")) ++ TextAnalysis.piiCounts(col("text")) :+
          TextAnalysis.redactPii(col("text")).as("redacted"): _*)
        .where(col("n_email") + col("n_ipv4") + col("n_phone") > 0)
        .orderBy("doc_id")
    }),

    "s01_ann_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 8).select(col("vec_id").as("query_id"),
        col("embedding").as("qv"), Similarity.norm(col("embedding")).as("qn"))
      val c = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"), Similarity.norm(col("embedding")).as("cn"))
      val scored = c.crossJoin(broadcast(q))
        .where(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(Similarity.dot(col("qv"), col("cv")) /
            nullif(col("qn") * col("cn"), lit(0.0)), 6).as("sim6"))
      // K-bounded heap top-k (no per-query window sort of the scored corpus)
      Similarity.topKPerQuery(scored, "query_id", "sim6", "neighbor_id", 5, asc = false)
        .select(col("query_id"), col("neighbor_id"), col("sim6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "s02_ann_lsh" -> ((s, dir) =>
      // AND-OR amplified: 3 tables × 6 bits (64 buckets/table) — candidate
      // volume governed by bucket occupancy, never N²
      Similarity.topKLsh(tNoFloor(s, dir, "embeddings"), "vec_id", "embedding", k = 5,
          tables = 3, bitsPerTable = 6, dims = Some(64))
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("sim6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")),

    "s03_embedding_neardup" -> ((s, dir) => {
      // corpus-scale near-dup: LSH bucket pre-filter → exact cosine. True
      // near-dups are injected (each vector unioned with an exact copy at
      // id+100000) so the query demonstrates recall on genuine duplicates;
      // the oracle replicates the union and the identical bucket filter.
      val emb = t(s, dir, "embeddings")
      val dup = emb.withColumn("vec_id", col("vec_id") + lit(100000L))
      Similarity.nearDupPairsLsh(emb.unionByName(dup), "vec_id", "embedding",
          minCosine = 0.45, tables = 4, bitsPerTable = 6, dims = Some(64))
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("sim6"))
        .orderBy("id_a", "id_b")
    }),

    "s04_ann_ivf" -> ((s, dir) => {
      // IVF-flat: data-adaptive cells (vs topKLsh's oblivious planes);
      // deterministic coarse quantizer = 16 lowest-id vectors, 4 probes
      val emb = t(s, dir, "embeddings")
      Similarity.topKIvf(emb.where(col("vec_id") < 8), emb, "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("sim6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "s05_embedding_quantize" -> ((s, dir) => {
      // int8 scalar quantization profile: per-vector scale, code stats and
      // max reconstruction error (≤ scale/2 by construction). Shape choice,
      // MEASURED at sf0.1/64-dim: this per-row projection runs the derived
      // stats as in-row array passes (0.63 s); the explode-agg alternative
      // (quantize once per element, partial-agg back per vector) pays a
      // 1.6 M-row shuffle and measured 1.78× slower. At high dimension /
      // 100 TB the explode shape wins — that is exactly what
      // Similarity.sq8Codes does for the MATERIALIZED codes artifact (used
      // by s06); this profiling query stays shuffle-free.
      val emb = t(s, dir, "embeddings")
      emb.select(col("vec_id"), col("embedding"),
          Similarity.sqScale(col("embedding")).as("scale"))
        .withColumn("q", Similarity.sqQuantize(col("embedding"), col("scale")))
        .select(
          col("vec_id"),
          round(coalesce(col("scale"), lit(0.0)), 9).as("scale9"),
          aggregate(col("q"), lit(0L), (a, v) => a + v.cast("long")).as("qsum"),
          array_min(col("q")).cast("long").as("qmin"),
          array_max(col("q")).cast("long").as("qmax"),
          round(array_max(zip_with(col("embedding"), col("q"),
            (x, v) => abs(x.cast("double") - v.cast("double") * coalesce(col("scale"), lit(0.0))))), 9).as("err9"))
        .orderBy("vec_id")
    }),

    "p15_repetition" -> ((s, dir) => {
      // Gopher-style repetition gates: duplicate-word fraction (per-row) +
      // most-frequent-bigram fraction (explode-agg over the bigram multiset)
      pipeline.TextAnalysis.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_words"), col("dup_word_frac"),
          col("top_bigram_n"), col("n_bigrams"), col("top_bigram_frac"))
        .orderBy("doc_id")
    }),

    "s06_ann_sq8" -> ((s, dir) => {
      // asymmetric SQ8 ANN (FAISS-style ADC): the shortlist scan reads only
      // the int8 codes + per-vector scale (4× less bandwidth than floats at
      // 100 TB), then the top-20 candidates per query re-rank exactly with
      // the float vectors — composing s05's quantizer into a search query
      val emb = t(s, dir, "embeddings")
      Similarity.topKSq8(emb.where(col("vec_id") < 8), emb, "vec_id", "embedding",
          k = 5, shortlist = 20)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("sim6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "s09_ann_pq" -> ((s, dir) => {
      // product-quantization ANN (FAISS IndexPQ + ADC): 8 subspaces × 16
      // codewords (codebook = first-16 subvectors — the deterministic
      // k-means stand-in, same pattern as ivfCentroids); the shortlist
      // scan reads ONLY the 8-code arrays (32× less bandwidth than the
      // float column at 100 TB), each point costs 8 table lookups, and
      // the top-20 re-rank exactly on the floats. adc6 pins the PQ
      // approximation itself, sim6 the re-rank.
      val emb = t(s, dir, "embeddings")
      Similarity.topKPq(emb.where(col("vec_id") < 8), emb, "vec_id", "embedding",
          dims = 64, k = 5, shortlist = 20)
        .select(col("query_id"), col("neighbor_id"),
          round(col("adc"), 6).as("adc6"), round(col("cosine"), 6).as("sim6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "s10_ann_ivfpq" -> ((s, dir) => {
      // IVF-PQ composed (FAISS IndexIVFPQ): coarse quantizer = 16 lowest-id
      // vectors, 4 probes; RESIDUALS are PQ-encoded (8×16 book seeded from
      // the first non-centroid ids); per-(query,cell) ADC tables on the
      // query residual; top-20 re-rank exactly. The production 100 TB ANN
      // shape: scan cost ≈ N·nprobe/nlist over a 32×-smaller artifact.
      val emb = tNoFloor(s, dir, "embeddings")
      Similarity.topKIvfPq(emb.where(col("vec_id") < 8), emb, "vec_id", "embedding",
          dims = 64, k = 5, nlist = 16, nprobe = 4, shortlist = 20)
        .select(col("query_id"), col("neighbor_id"),
          round(col("adc"), 6).as("adc6"), round(col("cosine"), 6).as("sim6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "m01_media_meta" -> ((s, dir) => {
      import s.implicits._
      Multimodal.extractMeta(Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text"))
        .toDF()
        .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("checksum"))
        .orderBy("doc_id")
    }),

    "m03_image_meta" -> ((s, _) => {
      import s.implicits._
      // REAL codec leg: deterministic PNG/BMP fixtures are ENCODED with
      // ImageIO and the metadata must come back through ImageIO.read — the
      // oracle pins the known generated dimensions, so a stubbed or
      // byte-sniffed decoder cannot pass. One corrupt payload pins the
      // explicit (-1,-1) failure marker.
      val rows = (0L until 64L).map { i =>
        val w = 16 + (i % 21).toInt
        val h = 16 + ((i * 7) % 13).toInt
        val fmt = if (i % 2 == 0) "png" else "bmp"
        Multimodal.MediaRow(i, Multimodal.syntheticImage(w, h, seed = i, fmt), s"image/$fmt")
      } :+ Multimodal.MediaRow(999L, Array[Byte](1, 2, 3, 4), "image/png")
      Multimodal.extractMeta(s.createDataset(rows)).toDF()
        .select(col("doc_id"), col("mime"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"))
        .orderBy("doc_id")
    }),

    "m06_image_resize" -> ((s, _) => {
      import s.implicits._
      // REAL pixel decode + nearest-neighbor resize: the 4×4 subsample's
      // per-channel sums are exact integer functions of the generator
      // (pixel(x,y) = (31x + 7y + seed) mod 2^24), so the oracle computes
      // them from first principles — a decoder that fakes pixels cannot
      // match 64 images × 3 channels. Corrupt bytes pin the -1 marker.
      val rows = (0L until 64L).map { i =>
        val w = 16 + (i % 21).toInt
        val h = 16 + ((i * 7) % 13).toInt
        val fmt = if (i % 2 == 0) "png" else "bmp"
        Multimodal.MediaRow(i, Multimodal.syntheticImage(w, h, seed = i, fmt), s"image/$fmt")
      } :+ Multimodal.MediaRow(999L, Array[Byte](1, 2, 3), "image/png")
      Multimodal.resizeStats(s.createDataset(rows), outW = 4, outH = 4).toDF()
        .select(col("doc_id"), col("w_in").cast("long").as("w_in"),
          col("h_in").cast("long").as("h_in"),
          col("r_sum"), col("g_sum"), col("b_sum"))
        .orderBy("doc_id")
    }),

    "m04_audio_meta" -> ((s, _) => {
      import s.implicits._
      // REAL audio codec leg (the m03 move applied to the audio stub):
      // deterministic 16-bit PCM WAVs are ENCODED with javax.sound.sampled
      // and the header metadata must come back through the same parser —
      // the oracle pins the generated rate/channels/frames, so a stub or
      // byte-sniffer cannot pass. One corrupt payload pins the explicit
      // (-1,-1,-1) failure marker.
      val rates = Array(8000, 11025, 16000, 22050, 44100)
      val rows = (0L until 50L).map { i =>
        val sr = rates((i % 5).toInt)
        val ch = 1 + (i % 2).toInt
        val nf = 100 + (i * 13 % 400).toInt
        Multimodal.MediaRow(i, Multimodal.syntheticWav(sr, ch, nf, seed = i), "audio/wav")
      } :+ Multimodal.MediaRow(999L, Array[Byte](9, 9, 9, 9), "audio/wav")
      Multimodal.extractAudioMeta(s.createDataset(rows)).toDF()
        .select(col("doc_id"), col("mime"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"), col("n_frames"))
        .orderBy("doc_id")
    }),

    "m05_video_meta" -> ((s, _) => {
      import s.implicits._
      // REAL video CONTAINER leg (the m03/m04 move applied to the last
      // stubbed modality): deterministic MP4s are written box-by-box by
      // syntheticMp4 and the metadata must come back through the ISO-BMFF
      // box walk (moov/mvhd timescale+duration, moov/trak/tkhd 16.16
      // width/height) — the oracle pins the generated values, so a stub
      // or byte-sniffer cannot pass. One corrupt payload pins the
      // explicit (-1,-1,-1) failure marker.
      val scales = Array(600, 1000, 12288, 90000)
      val rows = (0L until 40L).map { i =>
        val w = 160 + (i % 8).toInt * 16
        val h = 96 + (i % 5).toInt * 16
        val ts = scales((i % 4).toInt)
        val dur = (600 + (i * 37) % 1200).toInt
        Multimodal.MediaRow(i, Multimodal.syntheticMp4(w, h, ts, dur, seed = i), "video/mp4")
      } :+ Multimodal.MediaRow(999L, Array[Byte](0, 0, 0, 8, 'f', 'r', 'e', 'e'), "video/mp4")
      Multimodal.extractVideoMeta(s.createDataset(rows)).toDF()
        .select(col("doc_id"), col("mime"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("duration_ms"))
        .orderBy("doc_id")
    }),

    "st03_stream_verdicts" -> ((s, dir) => {
      // ACTUAL streaming execution in the oracle gate: the events parquet is
      // replayed as a file-source stream (Trigger.AvailableNow, memory
      // sink); append mode emits exactly the watermark-CLOSED hourly
      // windows — final watermark = max(ts) − 30 min (the trailing no-data
      // micro-batch applies it), so the emitted set is deterministic and
      // the DuckDB oracle reproduces it with the same closed-window
      // predicate. Row values are bit-identical to the batch twin (pinned
      // by the streaming==batch e2e spec); this entry gates the STREAM.
      val stream = stagedEventStream(s, dir, "st03_events")
      val rule = Properties(Seq("value" -> Maximum(450)))
      runToMemorySink(s, graft.streaming.StreamingValidate
          .windowedVerdicts(stream, rule, "ts", "1 hour", "30 minutes"), "st03_sink")
        .select(col("window_start").cast("long").as("window_start"),
          col("n_rows"), col("n_failed"), col("verdict"))
        .orderBy("window_start")
    }),

    "st04_stream_histogram" -> ((s, dir) => {
      // the drift monitor's sketch emitter gated as a REAL stream (same
      // harness as st03): hourly fixed-bin histogram counters, append mode
      // emits the watermark-closed windows; counts are exact integers so
      // the streamed sketch is bit-identical to the batch histogram
      val stream = stagedEventStream(s, dir, "st04_events")
      runToMemorySink(s, graft.streaming.StreamingValidate
          .windowedHistogram(stream, "ts", "value", "1 hour", "30 minutes",
            lo = 0.0, hi = 500.0, bins = 10), "st04_sink")
        .select(col("window_start").cast("long").as("window_start"),
          col("bin").cast("long").as("bin"), col("n"))
        .orderBy("window_start", "bin")
    }),

    "st05_stream_violation_samples" -> ((s, dir) => {
      // the bounded violation sampler as a REAL stream (same replay
      // harness as st03/st04): per closed hourly window, exact per-rule
      // counts + the deterministic hash-ranked <=5 exemplar ids — state
      // is one K-bounded heap per (window, rule), never the stream
      val stream = stagedEventStream(s, dir, "st05_events")
      runToMemorySink(s, graft.streaming.StreamingValidate
          .windowedViolationSamples(stream,
            Properties(Seq("value" -> Maximum(450))), "ts", "event_id",
            "1 hour", "30 minutes", perRuleK = 5), "st05_sink")
        .select(col("window_start").cast("long").as("window_start"),
          col("path"), col("rule_id"), col("n_violations"),
          array_join(col("sample_ids"), ",").as("sample_ids"))
        .orderBy("window_start")
    }),

    "st07_stream_refjoin" -> ((s, dir) => {
      // stream-static referential check as a REAL stream (same replay
      // harness as st03-st06): events stream left-joins the broadcast
      // customer-key dimension (keys % 7 == 0 withheld to force missing
      // refs), watermark-closed hourly windows emit exact counters
      val stream = stagedEventStream(s, dir, "st07_events")
      val dim = tNoFloor(s, dir, "customer").where(pmod(col("c_custkey"), lit(7)) =!= 0)
      runToMemorySink(s, graft.streaming.StreamingValidate
          .windowedReferential(stream, dim, "user_id", "c_custkey",
            "ts", "1 hour", "30 minutes"), "st07_sink")
        .select(col("window_start").cast("long").as("window_start"),
          col("n_rows"), col("n_missing"), col("verdict"))
        .orderBy("window_start")
    }),

    "st09_stream_sessionize" -> ((s, dir) => {
      // gap sessionization as CUSTOM STREAM STATE (flatMapGroupsWithState +
      // event-time timeout, O(1) state per key): sessions closed by later
      // events emit in-batch; each key's open tail emits via timeout iff
      // the final watermark passed end+gap — the oracle replays the exact
      // same predicate over the batch sessionization. gap 1777 s is chosen
      // off the 1800 s watermark delay so no timeout ever ties the
      // watermark at ms precision.
      val stream = stagedEventStream(s, dir, "st09_events")
      runToMemorySink(s, graft.streaming.StreamingValidate
          .sessionizeStream(stream, "user_id", "ts", "event_id",
            gapSeconds = 1777L, watermark = "30 minutes").toDF(), "st09_sink")
        .select(col("key").as("user_id"), col("start_us"), col("end_us"),
          col("n_events"))
        .orderBy("user_id", "start_us")
    }),

    "st08_stream_interval_join" -> ((s, dir) => {
      // stream-stream event-time interval join as a REAL stream (same
      // replay harness): view → purchase attribution within 1 hour per
      // user; both sides watermarked so join state is horizon-bounded.
      // Inner-join pairs emit exactly the batch self-join set.
      val stream = stagedEventStream(s, dir, "st08_events")
      runToMemorySink(s, graft.streaming.StreamingValidate
          .intervalJoinPairs(stream, "ts", "user_id", "event_type",
            "event_id", "view", "purchase", horizonSeconds = 3600L,
            watermark = "30 minutes"), "st08_sink")
        .select(col("key").as("user_id"), col("a_id").as("view_id"),
          col("a_ts").cast("long").as("view_ts"),
          col("b_id").as("purchase_id"), col("b_ts").cast("long").as("purchase_ts"))
        .orderBy("user_id", "view_id", "purchase_id")
    }),

    "st06_stream_quantile_digest" -> ((s, dir) => {
      // the KLL sketch as a STREAMING sketch (same replay harness as
      // st03-st05): one sketch row per closed 4-hour window. The sketch is
      // randomized, so the oracle pins the portable pair — the EXACT
      // non-null row count per window and the claim that the windowed
      // median estimate landed within rank tolerance of the window's own
      // distribution (v45's interval form: lt/n − tol ≤ 0.5 ≤ le/n + tol,
      // so discrete atoms are judged fairly). tol = max(0.02, 2/n): the
      // n-term keeps a tiny window's one-sample rank step from deciding
      // the verdict. The rank counters come from a batch pass over the
      // same events joined to the BROADCAST window table.
      val stream = stagedEventStream(s, dir, "st06_events")
      val digests = runToMemorySink(s, graft.streaming.StreamingValidate
          .windowedQuantileDigest(stream, "ts", "value", "4 hours", "30 minutes"),
          "st06_sink")
        .select(col("window_start").cast("long").as("window_start"),
          QuantileSketch.quantile(col("digest"), 0.5).as("med"))
      val ev = t(s, dir, "events").where(col("value").isNotNull)
        .select((floor(unix_timestamp(col("ts")) / 14400) * 14400).cast("long")
          .as("window_start"), col("value"))
      val tol = greatest(lit(0.02), lit(2.0) / col("n_rows"))
      ev.join(broadcast(digests), "window_start")
        .groupBy("window_start")
        .agg(count(lit(1)).as("n_rows"),
          sum((col("value") < col("med")).cast("long")).as("lt"),
          sum((col("value") <= col("med")).cast("long")).as("le"))
        .select(col("window_start"), col("n_rows"),
          (col("lt").cast("double") / col("n_rows") - tol <= 0.5 &&
            lit(0.5) <= col("le").cast("double") / col("n_rows") + tol)
            .as("median_within_rank_tol"))
        .orderBy("window_start")
    }),

    "st01_stream_window_batch" -> ((s, dir) =>
      // batch-equivalent of the Structured Streaming tumbling-window query
      // (the streaming path itself is exercised in StreamingSpec)
      t(s, dir, "events")
        .groupBy((floor(unix_timestamp(col("ts")) / 300) * 300).cast("long").as("bucket_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(20,6)")), 4).cast("double").as("sum_value"))
        .orderBy("bucket_start", "event_type")),

    "q11_sessionize" -> ((s, dir) =>
      // gap-based sessionization (30-min idle gap): one shuffle on the
      // entity key, two ordered window passes, microsecond-exact boundaries
      pipeline.Sessions.sessionize(tNoFloor(s, dir, "events"), "user_id", "ts", "event_id",
          gapSeconds = 1800)
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(unix_micros(col("ts").cast("timestamp"))).as("start_us"),
          max(unix_micros(col("ts").cast("timestamp"))).as("end_us"),
          round(sum(col("value").cast("decimal(20,6)")), 4).cast("double").as("sum_value"))
        .withColumn("duration_us", col("end_us") - col("start_us"))
        .orderBy("user_id", "session_idx")),

    "v16_combinators" -> ((s, dir) =>
      Violations.validate(t(s, dir, "orders"), combinatorPack, Seq("o_orderkey"))
        .select("o_orderkey", "path", "rule_id", "message", "observed")
        .orderBy("o_orderkey", "path", "rule_id", "message")),

    "p16_quality_gates" -> ((s, dir) =>
      // corpus-cleaning decision column: first failing gate in fixed order
      // (too_short → repetitive → no_lang → low_alpha), else keep — the
      // composition of the p04/p05/p15-pinned signals a pipeline filters on
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.gateVerdict(col("text")).as("verdict"))
        .orderBy("doc_id")),

    "s07_neardup_groups" -> ((s, dir) => {
      // embedding near-dup GROUPS: LSH-bounded pairs (s03's exact query) →
      // large-star/small-star connected components; component = min vec_id.
      // The oracle closes the same thresholded pair graph recursively.
      val emb = t(s, dir, "embeddings")
      val dup = emb.withColumn("vec_id", col("vec_id") + lit(100000L))
      Similarity.nearDupComponents(emb.unionByName(dup), "vec_id", "embedding",
          minCosine = 0.45, tables = 4, bitsPerTable = 6, dims = Some(64))
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    }),

    "s08_semantic_dedup" -> ((s, dir) => {
      // SemDeDup: 16 deterministic cells bound the pairwise comparison;
      // injected duplicate copies (+100000, +200000) plant known 3-member
      // semantic groups whose keeper must be the original id
      val emb = t(s, dir, "embeddings")
      val tri = emb
        .unionByName(emb.withColumn("vec_id", col("vec_id") + lit(100000L)))
        .unionByName(emb.withColumn("vec_id", col("vec_id") + lit(200000L)))
      Similarity.semanticDedupGroups(tri, "vec_id", "embedding",
          nlist = 16, tau = 0.6)
        .select(col("id").as("vec_id"), col("component"), col("keep"))
        .orderBy("vec_id")
    }),

    "st02_stream_drift" -> ((s, dir) =>
      // windowed drift monitor (batch twin of the streaming histogram path):
      // PSI of each hourly window's value distribution vs the whole corpus
      Drift.psiByGroup(
          t(s, dir, "events").withColumn("bucket_start",
            (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long")),
          "bucket_start", "value", lo = 0.0, hi = 500.0, bins = 10)
        .select(col("grp").as("bucket_start"), round(col("psi"), 6).as("psi6"))
        .orderBy("bucket_start")),

    "v17_map_closed_world" -> ((s, dir) => {
      import s.implicits._
      // dynamic-object keyword battery over MapType (the reference's native
      // hash regime): closed-world additionalProperties, propertyNames and
      // maxProperties with RUNTIME keys. Key-violating fixtures ride along
      // (the synthetic props only ever carry key "k").
      val fixtures = Seq(
        (900001L, """{"k": 42, "extra": 1}"""),
        (900002L, """{"k": 42, "Bad-Key": 2, "zz9": 3}"""),
        (900003L, """{"kk": 5, "k": 1}"""),
        (900004L, """{"k": 12, "x_opt": 7}"""))
        .toDF("event_id", "props")
      val ev = t(s, dir, "events").select("event_id", "props").unionByName(fixtures)
        .withColumn("p", from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType)))
      val rule = All(Seq(
        ClosedWorld(Seq("k"), Seq("^x_"), None),   // additionalProperties: false, patternProperties ^x_
        PropertyNames(Pattern("^[a-z][a-z0-9_]*$")),
        MaxProperties(2)))
      // observed is omitted: it renders the whole map (engine-specific text)
      Violations.validateColumn(ev, rule, "p", Seq("event_id"))
        .select("event_id", "path", "rule_id", "message")
        .orderBy("event_id", "path", "rule_id", "message")
    }),

    "q12_cube_orders" -> ((s, dir) =>
      // full grouping-set lattice with grouping_id — the multi-dimensional
      // metrics rollup a per-(source, partition, …) audit report uses
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    "p20_stratified_sample" -> ((s, dir) =>
      // per-stratum deterministic downsampling (boilerplate-heavy strata
      // sampled harder): pure id-hash projection, stable under corpus
      // growth; per-lang kept counts as evidence
      Sampling.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id",
          rates = Map("en" -> 0.5, "zh" -> 0.1), defaultRate = 0.9)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")),

    "p19_simhash_neardup" -> ((s, dir) => {
      // 64-bit SimHash fingerprint → 4×16-bit-band candidates → exact
      // Hamming ≤ 3: pigeonhole (4 bands, ≤3 differing bits) makes recall
      // exact, and 65,536 buckets/band keeps Σ|bucket|² ≈ N²/65,536 — the
      // corpus-scale form (Manku et al., WWW'07). True dups injected for a
      // slice (text copied at id+100000 → hamming 0).
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val dup = docs.where(col("doc_id") < 200)
        .withColumn("doc_id", col("doc_id") + lit(100000L))
      Dedup.simhashNearDupPairs64(docs.unionByName(dup), "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    "p21_vocab_apply" -> ((s, dir) => {
      // tokenize against a corpus-derived top-200 vocab (broadcast join,
      // one reassembly shuffle), OOV → -1; the position-weighted checksum
      // pins the exact id SEQUENCE in a scalar the oracle reproduces
      val docs = t(s, dir, "documents")
      val vocab = Vocab.buildVocabulary(docs, "text", topN = 200)
      Vocab.applyVocabulary(docs, "doc_id", "text", vocab, oovId = Some(-1L))
        .select(col("id").as("doc_id"), col("n_tok"), col("n_oov"),
          when(col("n_tok") === 0, lit(0.0))
            .otherwise(round(col("n_oov").cast("double") / col("n_tok").cast("double"), 6))
            .as("oov_rate6"),
          Vocab.idChecksum(col("token_ids")).as("checksum"))
        .orderBy("doc_id")
    }),

    "p28_dedup_keepers" -> ((s, dir) => {
      // keep-best-per-group: dedup GROUPS (bipartite min-label) × quality
      // score → one representative per group (highest quality, ties to the
      // smallest id) — the decision a cleaning pipeline actually ships
      val docs = t(s, dir, "documents")
      val comps = Dedup.minhashComponents(docs, "doc_id", "text",
        shingleK = 3, numHashes = 16, bands = 8, family = Dedup.Md5Portable)
      val scored = docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      Dedup.groupRepresentatives(comps, scored, "doc_id", "quality")
        .orderBy("component")
    }),

    "p32_vocab_packing" -> ((s, dir) => {
      // END-TO-END pretraining layout: corpus vocab (p21's build) →
      // token-id sequences (p21's apply, OOV=-1) → concat-and-cut packing
      // (p23's distributed prefix sum) — composed in ONE query so the
      // stage JOINS are oracle-pinned (an off-by-one between n_tok and the
      // packed layout cannot hide); checksum pins each doc's exact id
      // sequence through the chain
      val docs = tNoFloor(s, dir, "documents")
      val vocab = Vocab.buildVocabulary(docs, "text", topN = 200)
      val ids = Vocab.applyVocabulary(docs, "doc_id", "text", vocab, oovId = Some(-1L))
      Packing.packSequences(ids, "id", "n_tok", budget = 1024L)
        .join(ids.select(col("id"), Vocab.idChecksum(col("token_ids")).as("checksum")), "id")
        .select(col("id").as("doc_id"), col("n_tok"), col("start_bin"),
          col("bin_offset"), col("bins_spanned"), col("checksum"))
        .orderBy("doc_id")
    }),

    "p29_token_minhash" -> ((s, dir) => {
      // MinHash LSH candidates over the PRE-TOKENIZED corpus (array<int>
      // tokens — the north-rule table's native shape): token-id shingles
      // feed the same k-min/band machinery, no text reconstruction. True
      // dups injected (token arrays copied at id+100000).
      val toks = tokenizedDocs(s, dir).select("doc_id", "tokens")
      val dup = toks.where(col("doc_id") < 100)
        .withColumn("doc_id", col("doc_id") + lit(100000L))
      Dedup.minhashCandidatePairsTokens(toks.unionByName(dup), "doc_id", "tokens",
          shingleK = 3, numHashes = 16, bands = 8, family = Dedup.Md5Portable)
        .orderBy("id_a", "id_b")
    }),

    "p33_token_jaccard" -> ((s, dir) =>
      // n-gram Jaccard in the token domain (df cap exercised, same shape
      // as p06): the inverted-index/cap machinery shared with the text
      // family, terms = token-id shingles
      Dedup.jaccardPairsTokens(tokenizedDocs(s, dir), "doc_id", "tokens", k = 3,
          minJaccard = 0.3, maxDocFreq = 50)
        .orderBy("id_a", "id_b")),

    "p30_token_block_dedup" -> ((s, dir) =>
      // corpus-wide block dedup in the token domain: 10-token blocks,
      // first-occurrence-wins, same skew-immune two-phase plan as p22
      Dedup.blockDedupStatsTokens(tokenizedDocs(s, dir), "doc_id", "tokens", w = 10)
        .select(col("id").as("doc_id"), col("n_blocks"), col("n_dup_blocks"),
          round(col("dup_frac"), 6).as("dup_frac6"))
        .orderBy("doc_id")),

    "p31_token_simhash" -> ((s, dir) =>
      // 64-bit SimHash fingerprints with token ids as terms — the
      // explode-agg corpus path over the pre-tokenized table
      Dedup.simhashSignatures64Tokens(
          tokenizedDocs(s, dir).where(col("doc_id") < 100), "doc_id", "tokens")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    "p27_domain_filter" -> ((s, _) => {
      import s.implicits._
      // C4-style URL/domain blocklist filtering on inline fixtures (the
      // corpus tables carry no URLs): host extraction with port stripping,
      // registered-domain reduction, broadcast blocklist semi-count
      val docs = Seq(
        (1L, "see https://spam.example/page and http://ok.org/x"),
        (2L, "links http://sub.spam.example:8080/y https://news.ok.org"),
        (3L, "no urls at all"),
        (4L, "HTTPS://OK.ORG mixed case http://a.b.spam.example/z"),
        (5L, "bare host spam.example without scheme")).toDF("doc_id", "text")
      val blocked = Seq("spam.example").toDF("domain")
      TextAnalysis.domainFilter(docs, "doc_id", "text", blocked)
        .select(col("id").as("doc_id"), col("n_urls"), col("n_blocked_urls"), col("blocked"))
        .orderBy("doc_id")
    }),

    "p34_url_dedup" -> ((s, _) => {
      import s.implicits._
      // C4-style URL-keyed dedup on inline fixtures (the corpus carries no
      // URL column): scheme-agnostic canonicalization (www./port/query/
      // fragment/trailing-slash stripped, host lowercased), lowest-id
      // keeper per canonical URL, NULL urls keep themselves
      val urls = Seq(
        (1L, "https://WWW.Example.com:443/a/b/?utm=1#frag"),
        (2L, "http://example.com/a/b"),
        (3L, "https://example.com/a/b/"),
        (4L, "http://other.org"),
        (5L, "HTTP://www.other.org/"),
        (6L, null.asInstanceOf[String]),
        (7L, "ftp://example.com/a/b"),
        (8L, "http://example.com/a/b?x=1&y=2")).toDF("doc_id", "url")
      TextAnalysis.urlDedup(urls, "doc_id", "url")
        .select(col("id").as("doc_id"), col("url_norm"), col("keep_id"), col("keep"))
        .orderBy("doc_id")
    }),

    "p26_temperature_mixture" -> ((s, dir) =>
      // multinomial source rebalancing: keep-rates ∝ c^α·budget/c at
      // α = 0.5 (IEEE sqrt — bit-reproducible in both engines), rounded to
      // 6 decimals, applied as the deterministic id-hash threshold
      Sampling.temperatureSample(t(s, dir, "documents"), "lang", "doc_id",
          alpha = 0.5, totalBudget = 300L)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")),

    "p25_drop_repeated_blocks" -> ((s, dir) => {
      // transformation leg of repetition cleaning: each doc is prefixed
      // with THREE copies of its own first-10-word block (guaranteed
      // aligned repeats), then in-doc block dedup reassembles the text —
      // the oracle pins the exact reconstructed string via md5
      val ws = TextAnalysis.words(col("text"))
      val f10 = array_join(slice(ws, 1, 10), " ")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          concat_ws(" ", f10, f10, f10, array_join(ws, " ")).as("text"))
      Dedup.dropRepeatedBlocksInDoc(docs, "doc_id", "text", w = 10)
        .select(col("id").as("doc_id"), col("n_blocks"), col("n_blocks_kept"),
          md5(col("clean_text").cast("binary")).as("clean_fp"))
        .orderBy("doc_id")
    }),

    "p24_bigram_nll" -> ((s, dir) =>
      // corpus-trained bigram-LM quality score (CCNet-style perplexity
      // proxy): add-one smoothed p(w2|w1), mean neg-log2 per doc
      TextAnalysis.bigramNll(t(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"), col("nll6"))
        .orderBy("doc_id")),

    "v51_profile_diff" -> ((s, dir) => {
      // schema drift caught at profile time, BEFORE validation: the new
      // snapshot plants a new enum value (lang 'xx' on doc_id % 97), nulls
      // in source (% 50), and one widened n_chars outlier (doc 0); the
      // report's enum deltas / null counts / bounds flag exactly those
      val docs = tNoFloor(s, dir, "documents")
      val newSnap = docs
        .withColumn("lang",
          when(pmod(col("doc_id"), lit(97)) === 0, lit("xx")).otherwise(col("lang")))
        .withColumn("source",
          when(pmod(col("doc_id"), lit(50)) === 0, lit(null).cast("string"))
            .otherwise(col("source")))
        .withColumn("n_chars",
          when(col("doc_id") === 0, lit(100000L)).otherwise(col("n_chars")))
      PackInference.profileDiff(docs, newSnap, Seq("lang", "source", "n_chars"))
        .orderBy("column")
    }),

    "v33_pack_inference" -> ((s, dir) =>
      // rule-pack INFERENCE: the one-pass profile artifact a new corpus's
      // first pack derives from (types from schema, bounds from data,
      // enums for low-cardinality strings); the infer() law — the pack
      // validates its own corpus violation-free — is spec-pinned
      PackInference.inferredProfile(tNoFloor(s, dir, "documents"),
          Seq("doc_id", "lang", "source", "n_chars"), enumThreshold = 16)
        .orderBy("column")),

    "p22_block_dedup" -> ((s, dir) => {
      // block-level exact dedup (RefinedWeb/CCNet line-dedup family):
      // 10-word blocks, corpus-wide first-occurrence-wins; injected copies
      // (ids +100000) make every copied block a duplicate
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val dup = docs.where(col("doc_id") < 100)
        .withColumn("doc_id", col("doc_id") + lit(100000L))
      Dedup.blockDedupStats(docs.unionByName(dup), "doc_id", "text", w = 10)
        .select(col("id").as("doc_id"), col("n_blocks"), col("n_dup_blocks"),
          round(col("dup_frac"), 6).as("dup_frac6"))
        .orderBy("doc_id")
    }),

    "p38_substring_dedup" -> ((s, dir) => {
      // Lee-et-al-style exact SUBSTRING dedup over the pre-tokenized
      // corpus: any 15-token window seen earlier (total order: doc id,
      // offset) is erased; planted full copies (+100000) must come back
      // fully covered, planted 36-token excerpts (+200000) mostly covered,
      // originals untouched (they hold every winner); merged-span counts
      // and the md5 of each surviving token stream pin the transformation
      val toks = tokenizedDocs(s, dir, floor = false).select("doc_id", "tokens")
      val base = toks.where(col("doc_id") < 50)
      val copies = base.withColumn("doc_id", col("doc_id") + lit(100000L))
      val excerpts = toks
        .where(col("doc_id") < 20 && size(col("tokens")) >= 41)
        .select((col("doc_id") + lit(200000L)).as("doc_id"),
          slice(col("tokens"), 6, 36).as("tokens"))
      // two copied 20-token regions around a 10-token UNIQUE spacer
      // (ids +50000 — outside the mod-50000 vocab, so unique by
      // construction): partial coverage and the 2-span merge
      val franken = toks
        .where(col("doc_id") < 20 && size(col("tokens")) >= 50)
        .select((col("doc_id") + lit(300000L)).as("doc_id"),
          concat(slice(col("tokens"), 1, 20),
            transform(slice(col("tokens"), 21, 10), tk => tk + lit(50000)),
            slice(col("tokens"), 31, 20)).as("tokens"))
      Dedup.exactSubstringDedup(
          base.unionByName(copies).unionByName(excerpts).unionByName(franken),
          "doc_id", "tokens", L = 15)
        .select(col("id").as("doc_id"), col("n_tok").cast("long").as("n_tok"),
          col("n_dup_tokens").cast("long").as("n_dup_tokens"),
          col("n_spans").cast("long").as("n_spans"),
          col("dup_frac"), col("clean_checksum"))
        .orderBy("doc_id")
    }),

    "p39_fuzzy_decontamination" -> ((s, dir) => {
      // MinHash-LSH decontamination ACROSS corpora: planted bench docs are
      // exact copies (ids <10), near-copies with the first two tokens
      // dropped (10..19 — paraphrase-level leakage the exact check would
      // still catch but a lexical diff would miss), and token-shifted
      // CLEAN docs (20..29, +50000 ids — zero shared shingles, must NOT
      // pair); signature-agreement estimator gated at 8/16
      val toks = tokenizedDocs(s, dir).select("doc_id", "tokens")
      val train = toks.where(col("doc_id") < 300)
      val bench = toks.where(col("doc_id") < 10)
        .unionByName(toks.where(col("doc_id") >= 10 && col("doc_id") < 20)
          .select(col("doc_id"),
            slice(col("tokens"), lit(3), size(col("tokens"))).as("tokens")))
        .unionByName(toks.where(col("doc_id") >= 20 && col("doc_id") < 30)
          .select(col("doc_id"),
            transform(col("tokens"), tk => tk + lit(50000)).as("tokens")))
      Dedup.fuzzyContaminationTokens(train, bench, "doc_id", "tokens",
          shingleK = 3, numHashes = 16, bands = 8, minAgree = 8)
        .orderBy("train_id", "bench_id")
    }),

    "p40_nb_classifier" -> ((s, dir) => {
      // fastText-shaped corpus filter in closed form: multinomial Naive
      // Bayes (Laplace α=1) trained on a text-derived label (docs
      // mentioning 'spark'), every doc then scored against its own model
      // — the model is a counter TABLE (one row per distinct word, never
      // collected); the Zipf-skewed word-scoring join is AQE skew-join
      // territory; NB recovers the label at ~0.90 train accuracy
      val docs = t(s, dir, "documents")
      val train = docs.select(col("doc_id"), col("text"),
        col("text").like("%spark%").as("y"))
      Classifier.nbClassify(train, docs, "doc_id", "text", "y")
        .select(col("id").as("doc_id"), col("n_tok"), col("score6"),
          col("predicted"))
        .orderBy("doc_id")
    }),

    "p46_classifier_pr" -> ((s, dir) => {
      // classifier calibration sweep: exact confusion counts per threshold
      // over the p40 NB scores vs their own training labels — the
      // standard quality-filter tuning table (pick the threshold, read off
      // precision/recall). One scan + a 9-way literal explode + a counter
      // groupBy; ratios are single-row divisions of exact ints.
      val docs = t(s, dir, "documents")
      val train = docs.select(col("doc_id"), col("text"),
        col("text").like("%spark%").as("y"))
      val scored = Classifier.nbClassify(train, docs, "doc_id", "text", "y")
        .join(train.select(col("doc_id").as("id"), col("y")), "id")
      scored.select(col("score6"), col("y"),
          explode(typedLit((-20L to 20L by 5L).toSeq)).as("thr"))
        .groupBy("thr").agg(
          sum(when(col("score6") >= col("thr") && col("y"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("score6") >= col("thr") && !col("y"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("score6") < col("thr") && col("y"), 1L).otherwise(0L)).as("fn"))
        .select(col("thr"), col("tp"), col("fp"), col("fn"),
          round(col("tp").cast("double") /
            nullif((col("tp") + col("fp")).cast("double"), lit(0.0)), 6).as("precision6"),
          round(col("tp").cast("double") /
            nullif((col("tp") + col("fn")).cast("double"), lit(0.0)), 6).as("recall6"))
        .orderBy("thr")
    }),

    "p41_tfidf_keywords" -> ((s, dir) =>
      // textbook tf·ln(N/df) keyword extraction, top-3 per doc with the
      // (score desc, term asc) tie-break both engines replay bit-identically;
      // tf/df are counter shuffles, the term join is Zipf/AQE, top-k is a
      // per-doc window
      TextAnalysis.tfidfKeywords(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("df"),
          col("score6"), col("rank"))
        .orderBy("doc_id", "rank")),

    "p42_dsir_weights" -> ((s, dir) => {
      // DSIR importance resampling: hashed-unigram bucket model (64 buckets,
      // add-one smoothed), target = docs mentioning 'vector', raw = whole
      // corpus; the λ table is FIXED-SIZE → broadcast scorer, zero shuffle
      // beyond the per-doc counter rollup
      val docs = t(s, dir, "documents")
      Classifier.dsirWeights(docs.where(col("text").like("%vector%")), docs,
          docs, "doc_id", "text", nBuckets = 64)
        .select(col("id").as("doc_id"), col("n_tok"), col("log_weight6"))
        .orderBy("doc_id")
    }),

    "p43_textrank" -> ((s, dir) =>
      // TextRank corpus keywords: 5 damped PageRank rounds over the
      // symmetrized word-adjacency graph in exact BIGINT fixed-point
      // (10^12 mass units) — integer mult/div/sum only, so the iterative
      // scores are bit-identical on any shuffle order and the oracle
      // replays the identical rounds as chained CTEs
      graft.pipeline.Graph.textRank(t(s, dir, "documents"), "text",
        iters = 5, topK = 20)
        .orderBy("rank")),

    "p44_zipf_fit" -> ((s, dir) =>
      // corpus-health Zipf diagnostic: ln-ln least squares over the top-100
      // word frequencies — per-row lns rounded to 9 (libm-ulp immunity),
      // regression sums in exact DECIMAL, final divisions mirrored
      // expression-for-expression by the oracle
      TextAnalysis.zipfFit(t(s, dir, "documents"), "text", topRanks = 100)),

    "p45_incremental_dedup" -> ((s, dir) => {
      // snapshot-to-snapshot dedup (the daily-ingestion form): corpus =
      // doc_id % 3 != 0, batch = the rest, plus planted existing-copies
      // (+200000 → dup_existing) and batch-internal copies (+300000 →
      // dup_incoming); only the batch flows through the pipeline, the
      // corpus contributes its fingerprint index
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val existing = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
      val batch0 = docs.where(pmod(col("doc_id"), lit(3)) === 0)
      val batch = batch0
        .unionByName(existing.where(col("doc_id") < 10)
          .withColumn("doc_id", col("doc_id") + lit(200000L)))
        .unionByName(batch0.where(col("doc_id") < 10)
          .withColumn("doc_id", col("doc_id") + lit(300000L)))
      Dedup.incrementalDedup(existing, batch, "doc_id", "text")
        .select(col("id").as("doc_id"), col("fp"), col("status"), col("keep"))
        .orderBy("doc_id")
    }),

    "p36_bpe_merges" -> ((s, dir) =>
      // distributed BPE tokenizer TRAINING (Sennrich-style, word-type
      // weighted): 6 greedy merges; the oracle replays the identical
      // rounds as chained CTEs — same pair counting, (freq desc, lhs,
      // rhs) tie-break, and bracketed exact-replace rewrite
      Vocab.bpeMerges(t(s, dir, "documents"), "text", nMerges = 6)
        .orderBy("merge_rank")),

    "p37_bpe_segment" -> ((s, dir) => {
      // train → segment composed: the corpus trains its own 6 merges,
      // then every document becomes its subword stream (scan-riding
      // replace chain, one reassembly groupBy); md5 pins each stream
      val docs = t(s, dir, "documents")
      val merges = Vocab.bpeMerges(docs, "text", nMerges = 6)
      Vocab.bpeSegment(docs, "doc_id", "text", merges)
        .select(col("id").as("doc_id"), col("n_subtok"),
          md5(array_join(col("subwords"), " ")).as("sub_md5"))
        .orderBy("doc_id")
    }),

    "p35_block_dedup_apply" -> ((s, dir) => {
      // corpus-wide block dedup APPLIED (tail partial block included so
      // unique text reassembles losslessly); injected full copies (ids
      // +100000) must come back fully emptied; md5 pins every cleaned text
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val dup = docs.where(col("doc_id") < 100)
        .withColumn("doc_id", col("doc_id") + lit(100000L))
      Dedup.dedupBlocksAcrossCorpus(docs.unionByName(dup), "doc_id", "text", w = 10)
        .select(col("id").as("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_blocks"), col("n_blocks_kept"))
        .orderBy("doc_id")
    }),

    "p23_seq_packing" -> ((s, dir) => {
      // GPT-style concat-and-cut packing via the distributed prefix sum
      // (per-id-range bucket subtotals → tiny prefix window → parallel
      // per-bucket running sums); oracle = one global DuckDB window
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCountWs(col("text")).as("n_tok"))
      Packing.packSequences(docs, "doc_id", "n_tok", budget = 1024L, bucketSize = 500L)
        .select(col("id").as("doc_id"), col("n_tok"),
          col("start_bin"), col("bin_offset"), col("bins_spanned"))
        .orderBy("doc_id")
    }),

    "p17_char_entropy" -> ((s, dir) =>
      // CCNet-style character-entropy gibberish gate; (doc, char) counter
      // shuffle with partial agg — the same scale shape as p15's bigrams
      TextAnalysis.charEntropy(t(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_distinct_chars"),
          round(col("entropy"), 6).as("entropy6"))
        .orderBy("doc_id")),

    "q14_range_join" -> ((s, dir) => {
      import s.implicits._
      // bucketized interval join (1-day buckets): events fall into
      // promotional windows of wildly different lengths — overlapping,
      // sub-bucket, multi-day, and empty. The equi-join on the bucket is
      // plan-guarded (no nested loop); counts + id extremes + id sum pin
      // the full match set without emitting every pair.
      val windows = Seq(
        (1L, "2024-01-01 00:00:00", "2024-01-02 00:00:00"),
        (2L, "2024-01-01 12:00:00", "2024-01-03 06:00:00"),
        (3L, "2024-01-05 00:00:00", "2024-01-05 00:30:00"),
        (4L, "2024-01-10 00:00:00", "2024-01-17 00:00:00"),
        (5L, "2024-02-01 00:00:00", "2024-02-01 00:00:00")
      ).toDF("window_id", "ws", "we")
        .select(col("window_id"), col("ws").cast("timestamp").as("w_start"),
          col("we").cast("timestamp").as("w_end"))
      RangeJoin.joinPointInInterval(t(s, dir, "events"), "ts",
          windows, "w_start", "w_end", bucketSeconds = 86400L)
        .groupBy("window_id")
        .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_event"),
          max(col("event_id")).as("last_event"), sum(col("event_id")).as("sum_event_ids"))
        .orderBy("window_id")
    }),

    "q13_asof_join" -> ((s, dir) => {
      // point-in-time join: each event picks the customer's latest order at
      // or before the event timestamp — union + carry-forward window (ONE
      // shuffle, |L|+|R| rows, no range-join explosion); DuckDB's native
      // ASOF JOIN is the oracle. Right side deduped per (customer, date).
      val ev = tNoFloor(s, dir, "events").select("event_id", "user_id", "ts")
      val ord = tNoFloor(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      pipeline.AsOf.joinAsOf(ev, "user_id", "ts", ord, "o_custkey", "o_orderdate",
          payload = Seq("o_orderkey"))
        .select(col("event_id"), col("user_id"), col("asof_o_orderkey"))
        .orderBy("event_id")
    }),

    "v29_rulepack_yaml" -> ((s, dir) => {
      // YAML front door (str2data sniffing, reference Util.pm:163-167):
      // the v01 lineitem pack expressed as YAML must produce identical
      // rule counts
      val pack = rulepack.RulePack.parseYaml(
        """type: object
          |properties:
          |  l_quantity:
          |    minimum: 1
          |    maximum: 45
          |  l_discount:
          |    maximum: 0.05
          |  l_tax:
          |    maximum: 0.1
          |  l_returnflag:
          |    enum: ["A", "N"]
          |  l_linestatus:
          |    enum: ["O", "F"]
          |required: ["l_orderkey", "l_partkey"]""".stripMargin)
      Violations.ruleCounts(
        Violations.validate(tNoFloor(s, dir, "lineitem"), pack, Seq("l_orderkey")))
        .orderBy("path", "rule_id")
    }),

    "v30_rulepack_bundle" -> ((s, dir) => {
      // bundle round-trip in the gate: encode the resolved pack to a
      // self-contained JSON document (Schema.pm:44-65 bundle semantics),
      // re-parse it, and the violations must still hash-match
      val bundled = rulepack.RulePackEncoder.encodeToJson(ordersPack)
      Violations.validate(tNoFloor(s, dir, "orders"), rulepack.RulePack.parse(bundled), Seq("o_orderkey"))
        .select("o_orderkey", "path", "rule_id", "observed")
        .orderBy("o_orderkey", "path")
    }),

    "v31_coerce_defaults" -> ((s, dir) => {
      import s.implicits._
      // defaults coercion (non-mutating repair projection): a missing map
      // key takes the schema default; fixtures supply the missing-key rows
      val fixtures = Seq((900001L, """{}"""), (900002L, """{"z": 9}"""))
        .toDF("event_id", "props")
      val ev = t(s, dir, "events").select("event_id", "props").unionByName(fixtures)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      ev.select(col("event_id"),
          core.Coerce.defaults(col("k"), core.JInt(50), org.apache.spark.sql.types.IntegerType)
            .as("k_coerced"))
        .orderBy("event_id")
    }),

    "v32_joi_pack" -> ((s, dir) => {
      // the Joi fluent builder front door: lowers to the same Rule ADT and
      // through the same compiler (reference Joi.pm:29-40 compile)
      import graft.joi.joi
      val pack = joi.obj.props(
        "c_acctbal" -> joi.number.positive,
        "c_name" -> joi.string.pattern("^Customer#")).rule
      Violations.validate(tNoFloor(s, dir, "customer"), pack, Seq("c_custkey"))
        .select("c_custkey", "path", "rule_id", "message", "observed")
        .orderBy("c_custkey", "path")
    }),

    "v28_skew_report" -> ((s, dir) =>
      // the measurement behind the broadcast/shuffle/SALT ladder: heaviest
      // join keys and their row share (v05's salting is the remedy)
      Referential.keySkewReport(tNoFloor(s, dir, "events"), "user_id", k = 10)
        .select(col("user_id"), col("n"), round(col("share"), 6).as("share6"))
        .orderBy(col("n").desc, col("user_id"))),

    "v27_rulepack_e2e" -> ((s, dir) => {
      // the full front door in the oracle gate: a JSON rule pack with a
      // $ref through $defs is PARSED + RESOLVED (driver-side, reference
      // Schema.pm:102-147 semantics) and must compile to exactly the rules
      // the v02 oracle describes — same violations, different entry path
      val pack = rulepack.RulePack.parse(
        """{"type": "object",
          |  "$defs": {"status": {"enum": ["O", "F"]}},
          |  "properties": {
          |    "o_orderstatus": {"$ref": "#/$defs/status"},
          |    "o_orderpriority": {"pattern": "^[1-3]-"}}}""".stripMargin)
      Violations.validate(tNoFloor(s, dir, "orders"), pack, Seq("o_orderkey"))
        .select("o_orderkey", "path", "rule_id", "observed")
        .orderBy("o_orderkey", "path")
    }),

    "v26_verdict_by_source" -> ((s, dir) =>
      // the north rule's headline output: per-data-partition pass/fail
      // verdicts — one partial-aggregated job, counters-only shuffle
      Violations.verdictByPartition(tNoFloor(s, dir, "documents"),
          Properties(Seq(
            "lang" -> Enum(Seq(core.JStr("en"), core.JStr("de"))),
            "n_chars" -> Maximum(500))), Some("source"))
        .withColumnRenamed("partition", "source")
        .orderBy("source")),

    "m02_frame_sample" -> ((s, dir) => {
      import s.implicits._
      // frame-sampling plumbing: fixed-size byte frames, every stride-th
      // kept (codec stubbed to byte slicing; the partition/index math is
      // the real, oracle-checked part)
      Multimodal.sampleFrames(
          Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text"),
          frameBytes = 16, stride = 4)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("frame_bytes").cast("long").as("frame_bytes"))
        .orderBy("doc_id", "frame_idx")
    }),

    "p18_vocab_topk" -> ((s, dir) =>
      // corpus vocabulary: classic map-side-combine word count, top-k with
      // a total order for determinism
      t(s, dir, "documents")
        .select(explode(TextAnalysis.words(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word")).limit(100)),

    "v25_uri_battery" -> ((s, _) => {
      import s.implicits._
      // the URI family + IDN fallbacks: RFC3986 structural checks (scheme
      // shape, authority/path interaction, %-escape hex validity, fragment
      // rules) replicated conjunct-for-conjunct in the oracle
      val fixtures = Seq(
        (1, "http://example.com/a/b?x=1#frag"), (2, "/relative/path"),
        (3, "//host/path"), (4, "http://ex%zzample.com"), (5, "ht tp://x"),
        (6, "mailto:user@example.com"), (7, "pré/vu"), (8, "x:"),
        (9, "#frag"), (10, ""), (11, "http://ex.com/{id}"),
        (12, "ünchen.example"), (13, "example.com"),
        (14, "üser@example.com"), (15, "user@@double.at"))
      import graft.functions.Formats
      fixtures.toDF("id", "s").select(col("id"), col("s"),
          Formats.uri(col("s")).as("is_uri"),
          Formats.uriReference(col("s")).as("is_uriref"),
          Formats.iri(col("s")).as("is_iri"),
          Formats.uriTemplate(col("s")).as("is_uritmpl"),
          Formats.idnHostname(col("s")).as("is_idnhost"),
          Formats.idnEmail(col("s")).as("is_idnemail"))
        .orderBy("id")
    }),

    "v24_percentiles" -> ((s, dir) =>
      // EXACT per-group percentiles (R-7 interpolation in both engines) —
      // the oracle-checkable twin of the profile's percentile_approx KLL
      // sketch, which stays the at-scale path (mergeable, one-pass)
      tNoFloor(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D, 0.95D))").as("q"))
        .select(col("l_returnflag"),
          round(element_at(col("q"), 1), 6).as("p25"),
          round(element_at(col("q"), 2), 6).as("p50"),
          round(element_at(col("q"), 3), 6).as("p75"),
          round(element_at(col("q"), 4), 6).as("p95"))
        .orderBy("l_returnflag")),

    "v23_pattern_props" -> ((s, dir) => {
      import s.implicits._
      // patternProperties with RUNTIME keys: every map key matching the
      // regex applies the sub-schema to its value (partial match, like the
      // reference); ^x_ keys carry bounds via fixtures, k$ keys via the
      // real corpus (k ranges above 90 exist)
      val fixtures = Seq(
        (900001L, """{"k": 50, "x_a": 3, "x_b": 99}"""),
        (900002L, """{"x_ok": 42}"""),
        (900003L, """{"y": 1}"""))
        .toDF("event_id", "props")
      val ev = t(s, dir, "events").select("event_id", "props").unionByName(fixtures)
        .withColumn("p", from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType)))
      val rule = PatternProperties(Seq(
        "^x_" -> All(Seq(Minimum(10), Maximum(80))),
        "k$" -> Maximum(90)))
      Violations.validateColumn(ev, rule, "p", Seq("event_id"))
        .select("event_id", "path", "rule_id", "message", "observed")
        .orderBy("event_id", "path", "rule_id")
    }),

    "v21_tuple_items" -> ((s, dir) => {
      // positional (tuple) item schemas + additionalItems:false length cap
      // over each document's word list: /0 must be ≥2 chars, /1 must start
      // lowercase, anything past the tuple errs with the cap message
      val docs = t(s, dir, "documents")
        .withColumn("arr", TextAnalysis.words(col("text")))
      val rule = TupleItems(Seq(MinLength(2), Pattern("^[a-z]")), None)
      Violations.validateColumn(docs, rule, "arr", Seq("doc_id"))
        .select("doc_id", "path", "rule_id", "message")
        .orderBy("doc_id", "path", "rule_id")
    }),

    "v22_map_dependencies" -> ((s, dir) => {
      import s.implicits._
      // dependentRequired with RUNTIME map keys: key "k" present demands
      // "k2"; fixtures cover satisfied / absent-dependee / violating shapes
      val fixtures = Seq(
        (900001L, """{"k": 5, "k2": 9}"""),
        (900002L, """{"z": 1}"""),
        (900003L, """{"k": 7}"""))
        .toDF("event_id", "props")
      val ev = t(s, dir, "events").select("event_id", "props").unionByName(fixtures)
        .withColumn("p", from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType)))
      Violations.validateColumn(ev, DependentRequired(Seq("k" -> Seq("k2"))), "p", Seq("event_id"))
        .select("event_id", "path", "rule_id", "message", "observed")
        .orderBy("event_id")
    }),

    "v20_numeric_battery" -> ((s, dir) => {
      // the numeric keywords v01 left out: multipleOf (epsilon-compared on
      // doubles, replicated formula in the oracle) and draft-6 EXCLUSIVE
      // bounds with their distinct ex_minimum/ex_maximum messages
      val rule = Properties(Seq(
        "l_quantity" -> MultipleOf(7),
        "l_discount" -> Maximum(0.07, exclusive = true),
        "l_linenumber" -> Minimum(2, exclusive = true)))
      Violations.validate(t(s, dir, "lineitem").where(col("l_quantity") >= 40),
          rule, Seq("l_orderkey", "l_linenumber"))
        .select("l_orderkey", "l_linenumber", "path", "rule_id", "message", "observed")
        .orderBy("l_orderkey", "l_linenumber", "path")
    }),

    "v19_array_battery" -> ((s, dir) => {
      // array keywords over a REAL array column (the word list of each
      // document): min/maxItems, uniqueItems, contains with min/maxContains,
      // and per-element items (maxLength with /<index> paths) — §2.2's array
      // rows hash-compared against DuckDB list functions
      val docs = t(s, dir, "documents")
        .withColumn("arr", TextAnalysis.words(col("text")))
      val rule = All(Seq(
        MinItems(5), MaxItems(60), UniqueItems,
        Contains(Pattern("^the$"), Some(1), Some(10)),
        Items(MaxLength(12))))
      // observed dropped: min/maxItems render the whole array (engine text)
      Violations.validateColumn(docs, rule, "arr", Seq("doc_id"))
        .select("doc_id", "path", "rule_id", "message")
        .orderBy("doc_id", "path", "rule_id", "message")
    }),

    "v18_format_battery2" -> ((s, _) => {
      import s.implicits._
      // second format battery: the calendar/structural formats v09 left out
      // (duration, hostname, ipv6, int32/int64 exact ranges,
      // relative-json-pointer, RFC3339 date-time incl. leap second and
      // offset bounds) — same regexes evaluated in both engines
      val fixtures = Seq(
        (1, "P1Y2M3DT4H5M6S"), (2, "P"), (3, "PT0.5S"), (4, "P3W"),
        (5, "example.com"), (6, "-bad.example"), (7, ("a." * 130) + "a"),
        (8, "2001:db8::1"), (9, "1:2:3:4:5:6:7:8"), (10, ":::"), (11, "1::2::3"),
        (12, "2147483647"), (13, "2147483648"),
        (14, "9223372036854775807"), (15, "9223372036854775808"),
        (16, "0#"), (17, "1/foo"), (18, "#/x"),
        (19, "2024-02-29T23:59:60Z"), (20, "2024-02-29T24:00:00Z"),
        (21, "2024-06-01 12:30:00+05:30"), (22, "2024-06-01T12:30:00+24:00"))
      import graft.functions.Formats
      fixtures.toDF("id", "s").select(col("id"), col("s"),
          Formats.duration(col("s")).as("is_duration"),
          Formats.hostname(col("s")).as("is_hostname"),
          Formats.ipv6(col("s")).as("is_ipv6"),
          Formats.int32(col("s")).as("is_int32"),
          Formats.int64(col("s")).as("is_int64"),
          Formats.relativeJsonPointer(col("s")).as("is_relptr"),
          Formats.dateTime(col("s")).as("is_datetime"))
        .orderBy("id")
    })
  )

  // ---------------------------------------------------------------- oracle

  /** Shared DuckDB CTE block for the amplified-LSH oracles: given an
    * upstream `e0(vec_id, embedding)` CTE, emits `e` (projections on planes
    * 0..tables*bits−1), `b` (per-table sign buckets + norm) and `st` (the
    * stacked `(vec_id, tbl, bucket)` index) — the SQL twin of
    * [[graft.pipeline.Similarity.lshBucketIndex]]. */
  private def lshOracleCtes(tables: Int, bits: Int): String = {
    val projs = (0 until tables * bits).map { p =>
      s"""list_aggregate(list_transform(range(1, len(embedding) + 1),
         |   i -> embedding[i]::DOUBLE * (('0x' || substr(md5('plane$p:' || (i-1)::VARCHAR), 1, 8))::BIGINT::DOUBLE / 2147483648.0 - 1.0)), 'sum') AS p_$p""".stripMargin
    }.mkString(",\n ")
    val bucketCols = (0 until tables).map { t =>
      (0 until bits).map(j => s"(CASE WHEN p_${t * bits + j} >= 0 THEN ${1L << j} ELSE 0 END)")
        .mkString(" + ") + s" AS bucket_$t"
    }.mkString(",\n ")
    val stack = (0 until tables)
      .map(t => s"SELECT vec_id, $t AS tbl, bucket_$t AS bucket FROM b")
      .mkString("\n UNION ALL ")
    s"""e AS (SELECT vec_id, embedding,
       | sqrt(list_aggregate(list_transform(range(1, len(embedding) + 1), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), 'sum')) AS nrm,
       | $projs
       |FROM e0),
       |b AS (SELECT vec_id, embedding, nrm, $bucketCols FROM e),
       |st AS ($stack)""".stripMargin
  }

  /** Shared DuckDB CTE chain producing the MinHash-LSH candidate pairs as
    * `cand(id_a, id_b)` — 16 md5-window signatures, 8 bands × 2 rows; band
    * key = md5 of the comma-joined decimal signature pair (identical to
    * Spark's md5(concat_ws(",", sig::string…)) — sigs are in [0, 2^32) so
    * the decimal rendering is sign-free and engine-identical). Used by the
    * p08 (pairs) and p10 (connected components) oracles. */
  /** 64-bit SimHash SQL fragments shared by the p09/p19 oracles. DuckDB
    * rejects a 16-hex-char `'0x…'::BIGINT` (signed overflow), so the word
    * hash stays as two 32-bit md5 windows `hi`/`lo` — the same windows
    * Spark combines as `(hi << 32) | lo` — and the votes address bits 0-31
    * in `lo`, 32-63 in `hi`. Bit 63 of the fingerprint is written as the
    * min-long literal (never `1 << 63` arithmetic); the sum of distinct
    * powers of two can't overflow (positives ≤ 2^63−1, then + min-long
    * stays in range). */
  private def simhash64Votes: String =
    (0 until 64).map { b =>
      val src = if (b < 32) s"(lo >> $b)" else s"(hi >> ${b - 32})"
      s"sum(CASE WHEN $src & 1 = 1 THEN 1 ELSE -1 END) AS v_$b"
    }.mkString(", ")

  private def simhash64Fp: String =
    (0 until 64).map { b =>
      if (b == 63) "CASE WHEN v_63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END"
      else s"CASE WHEN v_$b > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")

  /** 3-shingle → 16-sig → 8-band → candidate CTEs, assuming a prior CTE
    * `w(doc_id, ws)` (ws = the term list: words, or stringified token
    * ids). */
  private def minhashBandCtes: String = {
    val sig = (0 until 16).map(j =>
      s"list_min(list_transform(sh, s -> ('0x' || substr(md5('${j / 4}:' || s), ${1 + 8 * (j % 4)}, 8))::BIGINT)) AS sig_$j")
      .mkString(",\n ")
    val bandList = (0 until 8).map(b =>
      s"md5(sig_${2 * b}::VARCHAR || ',' || sig_${2 * b + 1}::VARCHAR)").mkString(", ")
    s"""shl AS (SELECT doc_id, list_distinct(list_transform(
       |  range(1, greatest(len(ws) - 2, 0) + 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w),
       |sigs AS (SELECT doc_id, $sig FROM shl),
       |bands AS (SELECT doc_id, unnest([$bandList]) AS bucket FROM sigs),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bands a JOIN bands b ON a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin
  }

  private def minhashPairCtes: String =
    s"""w AS (SELECT doc_id,
       |  list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS ws FROM documents),
       |$minhashBandCtes""".stripMargin

  /** Token-domain twin: same band machinery over stringified token ids of
    * the derived pre-tokenized corpus, with dups injected at id+100000. */
  private def tokenMinhashPairCtes: String =
    s"""$tokenizedDocsCte,
       |alltok AS (SELECT doc_id, tokens FROM tokd
       |  UNION ALL SELECT doc_id + 100000, tokens FROM tokd WHERE doc_id < 100),
       |w AS (SELECT doc_id, list_transform(tokens, t -> t::VARCHAR) AS ws FROM alltok),
       |$minhashBandCtes""".stripMargin

  /** DuckDB regex note: RE2 syntax; '\\s' etc. are literal backslashes in
    * single-quoted SQL strings (DuckDB does not process escapes). */
  /** NB scoring oracle, shared by p40 (per-doc scores) and p46 (the
    * precision/recall sweep over the same scores). */
  private val nbClassifierOracle: String =
    """WITH d AS (SELECT doc_id, text, (text LIKE '%spark%') AS y FROM documents),
          |w0 AS (SELECT doc_id, y, list_filter(
          |         string_split_regex(lower(trim(text)), '\s+'),
          |         x -> len(x) > 0) AS ws FROM d),
          |tw AS (SELECT y, unnest(ws) AS w FROM w0),
          |cw AS (SELECT w, sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS c1,
          |              sum(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS c0
          |       FROM tw GROUP BY w),
          |tot AS (SELECT sum(c1) AS n1, sum(c0) AS n0, count(*) AS v FROM cw),
          |pri AS (SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) AS d1,
          |               sum(CASE WHEN y THEN 0 ELSE 1 END) AS d0 FROM d),
          |odds AS (SELECT w, ln((c1 + 1)::DOUBLE / (n1 + v)::DOUBLE)
          |                 - ln((c0 + 1)::DOUBLE / (n0 + v)::DOUBLE) AS o
          |         FROM cw CROSS JOIN tot),
          |sw AS (SELECT doc_id, unnest(ws) AS w FROM w0),
          |sc AS (SELECT sw.doc_id, count(*)::BIGINT AS n_tok,
          |         sum(coalesce(odds.o,
          |           ln((n0 + v)::DOUBLE) - ln((n1 + v)::DOUBLE))) AS s
          |       FROM sw CROSS JOIN tot LEFT JOIN odds USING (w)
          |       GROUP BY sw.doc_id)
          |SELECT d.doc_id, coalesce(sc.n_tok, 0)::BIGINT AS n_tok,
          |  round(ln(d1::DOUBLE) - ln(d0::DOUBLE) + coalesce(sc.s, 0.0), 6)
          |    AS score6,
          |  (round(ln(d1::DOUBLE) - ln(d0::DOUBLE) + coalesce(sc.s, 0.0), 6)
          |    > 0) AS predicted
          |FROM d CROSS JOIN pri LEFT JOIN sc USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(CAST(l_quantity AS DECIMAL(20,4))),2)::DOUBLE AS sum_qty,
        | round(sum(CAST(l_extendedprice AS DECIMAL(20,4))),2)::DOUBLE AS sum_base_price,
        | round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(20,4))),2)::DOUBLE AS sum_disc_price,
        | round(round(sum(CAST(l_quantity AS DECIMAL(20,4))),2)::DOUBLE / count(*), 6) AS avg_qty,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1999-01-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_topn" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity >= 49 AND l_shipdate >= TIMESTAMP '2000-01-01'
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin,

    "q03_revenue_by_nation" ->
      """SELECT n_name,
        | round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(20,4))),2)::DOUBLE AS revenue,
        | count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q04_window_latest_order" ->
      """SELECT o_custkey, o_orderkey, o_orderdate FROM (
        | SELECT o_custkey, o_orderkey, o_orderdate,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        | FROM orders) t WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q05_customers_no_recent_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01')
        |ORDER BY c_custkey""".stripMargin,

    "q06_orders_with_max_qty_item" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 50)
        |ORDER BY o_orderkey""".stripMargin,

    "q07_setop_parts" ->
      """(SELECT DISTINCT l_partkey FROM lineitem WHERE l_quantity >= 49)
        |EXCEPT
        |(SELECT DISTINCT l_partkey FROM lineitem WHERE l_discount = 0.0)
        |ORDER BY l_partkey""".stripMargin,

    "q08_rollup_orders" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | round(sum(CAST(o_totalprice AS DECIMAL(20,4))),2)::DOUBLE AS sum_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q09_nation_customer_stats" ->
      """SELECT n_name, count(*) AS n_customers,
        | round(sum(CAST(c_acctbal AS DECIMAL(20,4))),2)::DOUBLE AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q10_events_hourly" ->
      """SELECT CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS bucket_start, event_type,
        | count(*) AS n, round(sum(CAST(value AS DECIMAL(20,6))),4)::DOUBLE AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "v01_rule_counts_lineitem" ->
      """SELECT * FROM (
        | SELECT '/l_quantity' AS path, 'maximum' AS rule_id, count(*) AS n_violations FROM lineitem WHERE l_quantity > 45
        | UNION ALL SELECT '/l_quantity', 'minimum', count(*) FROM lineitem WHERE l_quantity < 1
        | UNION ALL SELECT '/l_discount', 'maximum', count(*) FROM lineitem WHERE l_discount > 0.05
        | UNION ALL SELECT '/l_tax', 'maximum', count(*) FROM lineitem WHERE l_tax > 0.1
        | UNION ALL SELECT '/l_returnflag', 'enum', count(*) FROM lineitem WHERE l_returnflag NOT IN ('A','N')
        | UNION ALL SELECT '/l_linestatus', 'enum', count(*) FROM lineitem WHERE l_linestatus NOT IN ('O','F')
        |) t WHERE n_violations > 0 ORDER BY path, rule_id""".stripMargin,

    "v50_delta_validate" ->
      // the FULL corpus counted directly — committed+delta merging must
      // reproduce this exactly (count additivity)
      """SELECT * FROM (
        | SELECT '/l_quantity' AS path, 'maximum' AS rule_id, count(*) AS n_violations FROM lineitem WHERE l_quantity > 45
        | UNION ALL SELECT '/l_quantity', 'minimum', count(*) FROM lineitem WHERE l_quantity < 1
        | UNION ALL SELECT '/l_discount', 'maximum', count(*) FROM lineitem WHERE l_discount > 0.05
        | UNION ALL SELECT '/l_tax', 'maximum', count(*) FROM lineitem WHERE l_tax > 0.1
        | UNION ALL SELECT '/l_returnflag', 'enum', count(*) FROM lineitem WHERE l_returnflag NOT IN ('A','N')
        | UNION ALL SELECT '/l_linestatus', 'enum', count(*) FROM lineitem WHERE l_linestatus NOT IN ('O','F')
        |) t WHERE n_violations > 0 ORDER BY path, rule_id""".stripMargin,

    "v02_violation_rows_orders" ->
      """SELECT * FROM (
        | SELECT o_orderkey, '/o_orderstatus' AS path, 'enum' AS rule_id, o_orderstatus AS observed
        |  FROM orders WHERE o_orderstatus NOT IN ('O','F')
        | UNION ALL
        | SELECT o_orderkey, '/o_orderpriority', 'pattern', o_orderpriority
        |  FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-')
        |) t ORDER BY o_orderkey, path""".stripMargin,

    "v03_unique_dup_keys" ->
      """SELECT l_orderkey, count(*) AS n_rows FROM lineitem
        |GROUP BY l_orderkey HAVING count(*) > 1 ORDER BY l_orderkey""".stripMargin,

    "v48_route_match" ->
      """SELECT o_orderkey,
        | CASE WHEN o_orderkey % 6 = 0 THEN 'POST' ELSE 'GET' END AS method,
        | CASE o_orderkey % 6
        |  WHEN 0 THEN '/orders'
        |  WHEN 1 THEN '/orders/' || o_orderkey::VARCHAR
        |  WHEN 2 THEN '/orders/' || o_orderkey::VARCHAR || '/items/' || (o_orderkey % 7)::VARCHAR
        |  WHEN 3 THEN '/orders/search'
        |  WHEN 4 THEN '/customers/' || o_custkey::VARCHAR
        |  ELSE '/unknown/' || o_orderkey::VARCHAR END AS req_path,
        | CASE o_orderkey % 6
        |  WHEN 0 THEN '/orders' WHEN 1 THEN '/orders/{orderId}'
        |  WHEN 2 THEN '/orders/{orderId}/items/{lineNumber}'
        |  WHEN 3 THEN '/orders/search' WHEN 4 THEN '/customers/{custId}' END AS route_path,
        | CASE o_orderkey % 6
        |  WHEN 0 THEN 'createOrder' WHEN 1 THEN 'getOrder' WHEN 2 THEN 'getItem'
        |  WHEN 3 THEN 'searchOrders' WHEN 4 THEN 'getCustomer' END AS operation_id,
        | CASE o_orderkey % 6
        |  WHEN 0 THEN '' WHEN 1 THEN 'orderId=' || o_orderkey::VARCHAR
        |  WHEN 2 THEN 'lineNumber=' || (o_orderkey % 7)::VARCHAR || ',orderId=' || o_orderkey::VARCHAR
        |  WHEN 3 THEN '' WHEN 4 THEN 'custId=' || o_custkey::VARCHAR END AS params
        |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin,

    "v49_route_request_validate" ->
      """WITH req AS (
        | SELECT o_orderkey, CAST(o_orderkey AS DOUBLE) AS order_id,
        |  CASE WHEN o_orderkey % 3 = 0 THEN CAST(o_orderkey % 10 AS DOUBLE) END AS line_number
        | FROM orders WHERE o_orderkey <= 4000)
        |SELECT * FROM (
        | SELECT o_orderkey, '/orderId' AS path, 'maximum' AS rule_id,
        |        CAST(order_id AS VARCHAR) AS observed FROM req WHERE order_id > 3000
        | UNION ALL SELECT o_orderkey, '/lineNumber', 'minimum',
        |        CAST(line_number AS VARCHAR) FROM req WHERE line_number < 1
        | UNION ALL SELECT o_orderkey, '/lineNumber', 'maximum',
        |        CAST(line_number AS VARCHAR) FROM req WHERE line_number > 7
        |) t ORDER BY o_orderkey, path""".stripMargin,

    "v47_drift_sketched" ->
      """WITH binned AS (
        | SELECT CAST(least(greatest(floor((l_extendedprice - 900)/5205.0), 0), 19) AS INT) AS bin,
        |        l_shipdate < TIMESTAMP '1998-01-01' AS is_ref
        | FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |r AS (SELECT bin, count(*) AS n FROM binned WHERE is_ref GROUP BY bin),
        |c AS (SELECT bin, count(*) AS n FROM binned WHERE NOT is_ref GROUP BY bin),
        |rt AS (SELECT sum(n) AS t FROM r), ct AS (SELECT sum(n) AS t FROM c),
        |j AS (SELECT COALESCE(r.bin, c.bin) AS bin,
        |       greatest(COALESCE(r.n, 0)::DOUBLE / (SELECT t FROM rt), 1e-6) AS p,
        |       greatest(COALESCE(c.n, 0)::DOUBLE / (SELECT t FROM ct), 1e-6) AS q
        |      FROM r FULL OUTER JOIN c ON r.bin = c.bin)
        |SELECT round(sum((p - q) * ln(p / q)), 6) AS psi_exact,
        |       round(sum(p * ln(p / q)), 6) AS kl_exact,
        |       round(sum(p * ln(p / ((p+q)/2)) * 0.5 + q * ln(q / ((p+q)/2)) * 0.5), 6) AS js_exact,
        |       TRUE AS psi_within_tol, TRUE AS kl_within_tol, TRUE AS js_within_tol FROM j""".stripMargin,

    "v45_tdigest_quantiles" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val qs = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
      // the digest's estimate is sketch-internal; the oracle pins the
      // exact R-7 quantile (quantile_cont parity, as v24) and the
      // engine-side rank-tolerance verdict, which must be TRUE
      "SELECT * FROM (" + cols.flatMap(c => qs.map(q =>
        s"""SELECT '$c' AS "column", CAST($q AS DOUBLE) AS q, """ +
          s"round(quantile_cont($c, $q), 6) AS p_exact, TRUE AS within_rank_tol FROM lineitem"))
        .mkString("\n UNION ALL ") + "\n) t ORDER BY \"column\", q"
    },

    "v46_param_styles" ->
      """WITH pw AS (
        |  SELECT p_partkey, string_split(p_name, ' ') AS ws, p_name
        |  FROM part WHERE p_partkey <= 200),
        |w AS (
        |  SELECT p_partkey, unnest(ws) AS v, unnest(range(1, len(ws)+1)) AS i FROM pw)
        |SELECT * FROM (
        |  SELECT p_partkey, c.kase, i::VARCHAR AS k, v
        |  FROM w CROSS JOIN (VALUES ('arr_form'),('arr_space'),('arr_pipe'),('arr_label'),
        |    ('arr_label_x'),('arr_matrix'),('arr_matrix_x')) c(kase)
        |  UNION ALL
        |  SELECT p_partkey, 'arr_single', '1', ws[1] FROM pw
        |  UNION ALL
        |  SELECT p_partkey, 'arr_matrix_raw', '1', p_name FROM pw
        |  UNION ALL
        |  SELECT p_partkey, c.kase, 'k' || (i-1)::VARCHAR, v
        |  FROM w CROSS JOIN (VALUES ('obj_form'),('obj_simple_x'),('obj_label'),
        |    ('obj_matrix_x'),('obj_deep')) c(kase)
        |) t ORDER BY p_partkey, kase, k""".stripMargin,

    "v44_approx_distinct" ->
      """SELECT * FROM (
        | SELECT 'l_orderkey' AS "column", count(DISTINCT l_orderkey)::BIGINT AS n_exact, TRUE AS within_5pct FROM lineitem
        | UNION ALL SELECT 'l_partkey', count(DISTINCT l_partkey)::BIGINT, TRUE FROM lineitem
        | UNION ALL SELECT 'l_suppkey', count(DISTINCT l_suppkey)::BIGINT, TRUE FROM lineitem
        |) t ORDER BY "column"""".stripMargin,

    "v43_type_union_bool_schema" ->
      """SELECT * FROM (
        | SELECT o_orderkey, '/o_orderpriority' AS path, 'type' AS rule_id,
        |   'Expected integer/number - got string.' AS message, o_orderpriority AS observed
        |  FROM orders
        | UNION ALL SELECT o_orderkey, '/o_orderstatus', 'not',
        |   'Should not match.', o_orderstatus
        |  FROM orders
        |) t ORDER BY o_orderkey, path""".stripMargin,

    "v42_modality" ->
      // request: Read-only. presence error suppresses the enum (dispatcher
      // order); response: enum fires on bad values, Write-only. presence
      // fires on the writeOnly property; pattern validates in both
      """SELECT * FROM (
        | SELECT o_orderkey, 'request' AS direction, '/o_orderstatus' AS path,
        |   'modality' AS rule_id, 'Read-only.' AS message, o_orderstatus AS observed
        |  FROM orders
        | UNION ALL SELECT o_orderkey, 'request', '/o_orderpriority', 'pattern',
        |   'String does not match ^[1-3]-.', o_orderpriority
        |  FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-')
        | UNION ALL SELECT o_orderkey, 'response', '/o_orderstatus', 'enum',
        |   'Not in enum list: O, F.', o_orderstatus
        |  FROM orders WHERE o_orderstatus NOT IN ('O','F')
        | UNION ALL SELECT o_orderkey, 'response', '/o_orderpriority', 'modality',
        |   'Write-only.', o_orderpriority
        |  FROM orders
        | UNION ALL SELECT o_orderkey, 'response', '/o_orderpriority', 'pattern',
        |   'String does not match ^[1-3]-.', o_orderpriority
        |  FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-')
        |) t ORDER BY o_orderkey, direction, path, rule_id""".stripMargin,

    "v41_custom_format" ->
      """SELECT p_partkey, '/sku' AS path, 'format' AS rule_id,
        | 'Does not match sku format.' AS message,
        | 'bad_' || p_partkey AS observed
        |FROM part WHERE p_partkey % 9 = 0 ORDER BY p_partkey""".stripMargin,

    "v40_recursive_tree" ->
      """SELECT * FROM (
        | SELECT i AS id, '/children/0/data' AS path, 'required' AS rule_id
        |  FROM range(200) t(i) WHERE i % 7 = 0
        | UNION ALL SELECT i, '/children/0/children/0/data', 'required'
        |  FROM range(200) t(i) WHERE i % 5 = 0
        |) t ORDER BY id, path""".stripMargin,

    "v38_coerce_battery" ->
      """SELECT * FROM (
        | SELECT * FROM (VALUES
        |  (1, 'bool', 'true', NULL), (2, 'bool', 'true', NULL),
        |  (3, 'bool', 'false', NULL), (4, 'bool', 'false', NULL),
        |  (5, 'bool', 'false', NULL), (6, 'bool', NULL, NULL))
        |  AS f(id, kind, v1, v2)
        | UNION ALL SELECT p_partkey + 1000, 'ssv', string_split(p_type, ' ')[1],
        |   CAST(len(string_split(p_type, ' ')) AS VARCHAR) FROM part
        | UNION ALL SELECT p_partkey + 200000, 'str', CAST(p_size AS VARCHAR), NULL FROM part
        |) t ORDER BY id, kind""".stripMargin,

    "v39_anchor_refs" ->
      // same behavior as v02 reached through $anchor + relative-$id refs
      """SELECT * FROM (
        | SELECT o_orderkey, '/o_orderstatus' AS path, 'enum' AS rule_id, o_orderstatus AS observed
        |  FROM orders WHERE o_orderstatus NOT IN ('O','F')
        | UNION ALL
        | SELECT o_orderkey, '/o_orderpriority', 'pattern', o_orderpriority
        |  FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-')
        |) t ORDER BY o_orderkey, path""".stripMargin,

    "v37_combinator_battery" ->
      """SELECT * FROM (
        | SELECT l_orderkey, l_linenumber, '/l_quantity' AS path, 'maximum' AS rule_id,
        |   '/anyOf/0 ' || CAST(l_quantity AS VARCHAR) || ' > maximum(10)' AS message,
        |   CAST(l_quantity AS VARCHAR) AS observed
        |  FROM lineitem WHERE l_linenumber = 1 AND l_quantity > 10 AND l_quantity < 45
        | UNION ALL SELECT l_orderkey, l_linenumber, '/l_quantity', 'minimum',
        |   '/anyOf/1 ' || CAST(l_quantity AS VARCHAR) || ' < minimum(45)', CAST(l_quantity AS VARCHAR)
        |  FROM lineitem WHERE l_linenumber = 1 AND l_quantity > 10 AND l_quantity < 45
        | UNION ALL SELECT l_orderkey, l_linenumber, '/l_discount', 'minimum',
        |   '/allOf/0 ' || CAST(l_discount AS VARCHAR) || ' < minimum(0.02)', CAST(l_discount AS VARCHAR)
        |  FROM lineitem WHERE l_linenumber = 1 AND l_discount < 0.02
        | UNION ALL SELECT l_orderkey, l_linenumber, '/l_discount', 'maximum',
        |   '/allOf/1 ' || CAST(l_discount AS VARCHAR) || ' > maximum(0.08)', CAST(l_discount AS VARCHAR)
        |  FROM lineitem WHERE l_linenumber = 1 AND l_discount > 0.08
        |) t ORDER BY l_orderkey, l_linenumber, path, rule_id""".stripMargin,

    "v36_dependencies_draft4" ->
      """WITH all_ev AS (
        | SELECT event_id, props FROM events
        | UNION ALL SELECT * FROM (VALUES
        |  (910001, '{"k": 5, "k2": 9}'),
        |  (910002, '{"k": 7}'),
        |  (910003, '{"b": 1, "q": 5}'),
        |  (910004, '{"b": 1}'),
        |  (910005, '{"z": 1}')) AS t(event_id, props)),
        |x AS (SELECT event_id,
        |  CAST(NULLIF(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1), '') AS INT) AS k,
        |  CAST(NULLIF(regexp_extract(props, '"k2"\s*:\s*(-?\d+)', 1), '') AS INT) AS k2,
        |  CAST(NULLIF(regexp_extract(props, '"b"\s*:\s*(-?\d+)', 1), '') AS INT) AS b,
        |  CAST(NULLIF(regexp_extract(props, '"q"\s*:\s*(-?\d+)', 1), '') AS INT) AS q
        | FROM all_ev)
        |SELECT * FROM (
        | SELECT event_id, '/k2' AS path, 'dependencies' AS rule_id,
        |   'Missing property. Dependee: k.' AS message, 'null' AS observed
        |  FROM x WHERE k IS NOT NULL AND k2 IS NULL
        | UNION ALL SELECT event_id, '/q', 'minimum',
        |   q || ' < minimum(10)', CAST(q AS VARCHAR)
        |  FROM x WHERE b IS NOT NULL AND q IS NOT NULL AND q < 10
        | UNION ALL SELECT event_id, '/q', 'required',
        |   'Missing property.', 'null'
        |  FROM x WHERE b IS NOT NULL AND q IS NULL
        |) t ORDER BY event_id, path, rule_id""".stripMargin,

    "v35_string_battery" ->
      """SELECT * FROM (
        | SELECT p_partkey, '/p_brand' AS path, 'const' AS rule_id,
        |   'Does not match const: "Brand#13".' AS message, p_brand AS observed
        |  FROM part WHERE p_brand IS DISTINCT FROM 'Brand#13'
        | UNION ALL SELECT p_partkey, '/p_name', 'minLength',
        |   'String is too short: ' || length(p_name) || '/20.', p_name
        |  FROM part WHERE length(p_name) < 20
        | UNION ALL SELECT p_partkey, '/p_name', 'maxLength',
        |   'String is too long: ' || length(p_name) || '/30.', p_name
        |  FROM part WHERE length(p_name) > 30
        |) t ORDER BY p_partkey, path, rule_id""".stripMargin,

    "v34_violation_samples" ->
      // v02's violation rows → the same portable md5-window rank hash →
      // K smallest payloads per rule via an ordered list aggregate
      """WITH v AS (
        | SELECT o_orderkey, '/o_orderstatus' AS path, 'enum' AS rule_id, o_orderstatus AS observed
        |  FROM orders WHERE o_orderstatus NOT IN ('O','F')
        | UNION ALL
        | SELECT o_orderkey, '/o_orderpriority', 'pattern', o_orderpriority
        |  FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-')
        |),
        |h AS (SELECT path, rule_id,
        |  ('0x' || substr(md5('0:' || concat_ws('|', o_orderkey::VARCHAR, path, rule_id, observed)), 1, 8))::BIGINT AS hk,
        |  o_orderkey::VARCHAR AS payload FROM v)
        |SELECT path, rule_id, count(*) AS n_violations,
        | array_to_string((list(payload ORDER BY hk, payload))[1:5], ',') AS sample_ids
        |FROM h GROUP BY path, rule_id ORDER BY path, rule_id""".stripMargin,

    "v04_referential_missing" ->
      """SELECT DISTINCT user_id FROM events
        |WHERE user_id IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = user_id AND c_custkey < 100)
        |ORDER BY user_id""".stripMargin,

    "v05_referential_salted" ->
      """SELECT DISTINCT user_id FROM events
        |WHERE user_id IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = user_id AND c_custkey < 100)
        |ORDER BY user_id""".stripMargin,

    "v06_profile_lineitem" -> {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_returnflag", "l_linestatus")
      cols.map(c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows, count($c) AS n_nonnull,
           | count(*) - count($c) AS n_null,
           | CAST(min($c) AS VARCHAR) AS min_str, CAST(max($c) AS VARCHAR) AS max_str FROM lineitem""".stripMargin)
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) t ORDER BY col_name")
    },

    "v07_drift_hist_quantity" ->
      """WITH binned AS (
        | SELECT CAST(least(greatest(floor((l_quantity - 1)/5.0), 0), 9) AS INT) AS bin,
        |        l_shipdate < TIMESTAMP '1998-01-01' AS is_ref
        | FROM lineitem WHERE l_quantity IS NOT NULL),
        |r AS (SELECT bin, count(*) AS n_ref FROM binned WHERE is_ref GROUP BY bin),
        |c AS (SELECT bin, count(*) AS n_cur FROM binned WHERE NOT is_ref GROUP BY bin)
        |SELECT COALESCE(r.bin, c.bin) AS bin, COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
        |FROM r FULL OUTER JOIN c ON r.bin = c.bin ORDER BY bin""".stripMargin,

    "v08_drift_psi_quantity" ->
      """WITH binned AS (
        | SELECT CAST(least(greatest(floor((l_quantity - 1)/5.0), 0), 9) AS INT) AS bin,
        |        l_shipdate < TIMESTAMP '1998-01-01' AS is_ref
        | FROM lineitem WHERE l_quantity IS NOT NULL),
        |r AS (SELECT bin, count(*) AS n FROM binned WHERE is_ref GROUP BY bin),
        |c AS (SELECT bin, count(*) AS n FROM binned WHERE NOT is_ref GROUP BY bin),
        |rt AS (SELECT sum(n) AS t FROM r), ct AS (SELECT sum(n) AS t FROM c),
        |j AS (SELECT COALESCE(r.bin, c.bin) AS bin,
        |       greatest(COALESCE(r.n, 0)::DOUBLE / (SELECT t FROM rt), 1e-6) AS p,
        |       greatest(COALESCE(c.n, 0)::DOUBLE / (SELECT t FROM ct), 1e-6) AS q
        |      FROM r FULL OUTER JOIN c ON r.bin = c.bin)
        |SELECT round(sum((p - q) * ln(p / q)), 6) AS psi FROM j""".stripMargin,

    "v14_map_rules" ->
      """WITH parsed AS (
        | SELECT event_id, CAST(NULLIF(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1), '') AS INTEGER) AS k FROM events)
        |SELECT * FROM (
        | SELECT event_id, '/k' AS path, 'minimum' AS rule_id, CAST(k AS VARCHAR) AS observed
        |  FROM parsed WHERE k < 10
        | UNION ALL SELECT event_id, '/k', 'maximum', CAST(k AS VARCHAR)
        |  FROM parsed WHERE k > 80
        |) t ORDER BY event_id, path""".stripMargin,

    "v15_drift_js" ->
      """WITH binned AS (
        | SELECT CAST(least(greatest(floor((l_quantity - 1)/5.0), 0), 9) AS INT) AS bin,
        |        l_shipdate < TIMESTAMP '1998-01-01' AS is_ref
        | FROM lineitem WHERE l_quantity IS NOT NULL),
        |r AS (SELECT bin, count(*) AS n FROM binned WHERE is_ref GROUP BY bin),
        |c AS (SELECT bin, count(*) AS n FROM binned WHERE NOT is_ref GROUP BY bin),
        |rt AS (SELECT sum(n) AS t FROM r), ct AS (SELECT sum(n) AS t FROM c),
        |j AS (SELECT COALESCE(r.bin, c.bin) AS bin,
        |       greatest(COALESCE(r.n, 0)::DOUBLE / (SELECT t FROM rt), 1e-6) AS p,
        |       greatest(COALESCE(c.n, 0)::DOUBLE / (SELECT t FROM ct), 1e-6) AS q
        |      FROM r FULL OUTER JOIN c ON r.bin = c.bin),
        |jm AS (SELECT p, q, (p + q) / 2 AS m FROM j)
        |SELECT round(sum(p * ln(p / m) * 0.5 + q * ln(q / m) * 0.5), 6) AS js FROM jm""".stripMargin,

    "v13_drift_kl" ->
      """WITH binned AS (
        | SELECT CAST(least(greatest(floor((l_quantity - 1)/5.0), 0), 9) AS INT) AS bin,
        |        l_shipdate < TIMESTAMP '1998-01-01' AS is_ref
        | FROM lineitem WHERE l_quantity IS NOT NULL),
        |r AS (SELECT bin, count(*) AS n FROM binned WHERE is_ref GROUP BY bin),
        |c AS (SELECT bin, count(*) AS n FROM binned WHERE NOT is_ref GROUP BY bin),
        |rt AS (SELECT sum(n) AS t FROM r), ct AS (SELECT sum(n) AS t FROM c),
        |j AS (SELECT COALESCE(r.bin, c.bin) AS bin,
        |       greatest(COALESCE(r.n, 0)::DOUBLE / (SELECT t FROM rt), 1e-6) AS p,
        |       greatest(COALESCE(c.n, 0)::DOUBLE / (SELECT t FROM ct), 1e-6) AS q
        |      FROM r FULL OUTER JOIN c ON r.bin = c.bin)
        |SELECT round(sum(p * ln(p / q)), 6) AS kl FROM j""".stripMargin,

    "v09_format_battery" -> {
      // '' = escaped single quote inside the SQL string literal
      val emailAtom = "[a-zA-Z0-9_!#$%&''*+/=?^`{}~|\\-]+"
      val emailRe = s"^(?:$emailAtom(?:\\.$emailAtom)*)@(?:$emailAtom(?:\\.$emailAtom)*)$$"
      s"""SELECT id, s,
         | (regexp_matches(s, '^\\d{4}-\\d\\d-\\d\\d$$') AND try_cast(s AS DATE) IS NOT NULL) AS is_date,
         | regexp_matches(s, '$emailRe') AS is_email,
         | regexp_matches(s, '^((25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)\\.){3}(25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)$$') AS is_ipv4,
         | regexp_matches(s, '^[A-Za-z0-9+/=]+$$') AS is_byte,
         | regexp_matches(s, '^[0-9A-Fa-f]{8}-[0-9A-Fa-f]{4}-[0-9][0-9A-Fa-f]{3}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{12}$$') AS is_uuid,
         | (length(s) = 0 OR regexp_matches(s, '^/')) AS is_jsonptr,
         | (regexp_matches(s, '^(\\d\\d):(\\d\\d):(\\d\\d)(\\.\\d+)?([Zz]|[+-]\\d+:\\d+)?$$')
         |   AND substr(s,1,2) < '24' AND substr(s,4,2) < '60' AND substr(s,7,2) <= '60') AS is_time
         |FROM (VALUES (1,'2024-02-29'),(2,'2023-02-29'),(3,'user@example.com'),(4,'not an email'),
         | (5,'10.0.0.1'),(6,'999.1.1.1'),(7,'01.2.3.4'),(8,'A1b2+/=='),(9,'spa ce'),
         | (10,'123e4567-e89b-12d3-a456-426614174000'),(11,'123e4567-e89b-x2d3-a456-426614174000'),
         | (12,'/foo/bar'),(13,'foo'),(14,'23:59:59'),(15,'24:00:00')) AS t(id, s)
         |ORDER BY id""".stripMargin
    },

    "v10_discriminator" ->
      """SELECT * FROM (
        | SELECT o_orderkey, '/o_totalprice' AS path, 'maximum' AS rule_id FROM orders
        |  WHERE o_orderstatus = 'O' AND o_totalprice > 400000
        | UNION ALL SELECT o_orderkey, '/o_totalprice', 'maximum' FROM orders
        |  WHERE o_orderstatus = 'F' AND o_totalprice > 450000
        | UNION ALL SELECT o_orderkey, '/o_totalprice', 'maximum' FROM orders
        |  WHERE o_orderstatus = 'P' AND o_totalprice > 300000
        |) t ORDER BY o_orderkey""".stripMargin,

    "v11_nested_json" ->
      """WITH parsed AS (
        | SELECT event_id, CAST(NULLIF(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1), '') AS INTEGER) AS k FROM events)
        |SELECT * FROM (
        | SELECT event_id, '/k' AS path, 'minimum' AS rule_id, CAST(k AS VARCHAR) AS observed
        |  FROM parsed WHERE k < 10
        | UNION ALL SELECT event_id, '/k', 'maximum', CAST(k AS VARCHAR)
        |  FROM parsed WHERE k > 80
        |) t ORDER BY event_id, path""".stripMargin,

    "v12_coerce_numbers" ->
      """WITH coerced AS (
        | SELECT event_id,
        |  CASE WHEN regexp_matches(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1),
        |            '^-?(0|[1-9]\d*)(\.\d+)?([eE][+-]?\d+)?$')
        |       THEN CAST(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1) AS DOUBLE) END AS k_num
        | FROM events)
        |SELECT k_num >= 50 AS k_ge_50, count(*) AS n,
        | round(sum(CAST(k_num AS DECIMAL(20,4))),2)::DOUBLE AS sum_k
        |FROM coerced GROUP BY 1 ORDER BY 1 ASC NULLS FIRST""".stripMargin,

    "p01_dedup_exact" ->
      """WITH dd AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL SELECT doc_id, text FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 50) s)
        |SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |       count(*) AS n, min(doc_id) AS keep_id
        |FROM dd GROUP BY 1 HAVING count(*) > 1 ORDER BY fp""".stripMargin,

    "p02_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p03_token_counts" ->
      """SELECT doc_id,
        | len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0))::BIGINT AS n_ws,
        | len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))::BIGINT AS n_bpe,
        | length(text)::BIGINT AS n_chars_m
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p04_quality" ->
      """WITH base AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS ws,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|you|for)\b'))::BIGINT AS n_stop,
        |  len(regexp_extract_all(text, '[[:punct:]]'))::DOUBLE AS n_punct,
        |  len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE AS n_alpha,
        |  length(text) AS n_chars
        | FROM documents)
        |SELECT doc_id, n_stop,
        | n_punct / nullif(n_chars, 0)::DOUBLE AS punct_ratio,
        | n_alpha / nullif(n_chars, 0)::DOUBLE AS alpha_ratio,
        | list_aggregate(list_transform(ws, w -> len(w)), 'sum')::DOUBLE / nullif(len(ws), 0)::DOUBLE AS mean_word_len,
        | COALESCE(
        |   least(len(ws)::DOUBLE / 100.0, 1.0) * 0.5
        |   + least((n_stop::DOUBLE / nullif(len(ws), 0)::DOUBLE) * 5.0, 1.0) * 0.3
        |   + (1.0 - least((n_punct / nullif(n_chars, 0)::DOUBLE) * 5.0, 1.0)) * 0.2, 0.0) AS quality
        |FROM base ORDER BY doc_id""".stripMargin,

    "p05_langid" -> {
      val scores = Seq(
        "en" -> "\\b(the|and|of|to|in|is|that|it|you|for)\\b",
        "de" -> "\\b(der|die|und|das|ist|nicht|mit|ein|ich|auf)\\b",
        "fr" -> "\\b(le|la|et|les|des|une|est|que|pour|dans)\\b",
        "es" -> "\\b(el|los|de|que|y|en|un|se|no|por)\\b")
        .map { case (l, re) => s"len(regexp_extract_all(lower(text), '$re')) AS s_$l" }
        .mkString(", ")
      """WITH sc AS (SELECT doc_id, lang, SCORES,
        |  len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh FROM documents),
        |m AS (SELECT *, greatest(s_en, s_de, s_fr, s_es, s_zh) AS mx FROM sc)
        |SELECT doc_id, lang,
        | CASE WHEN s_en = mx AND s_en > 0 THEN 'en'
        |      WHEN s_de = mx AND s_de > 0 THEN 'de'
        |      WHEN s_fr = mx AND s_fr > 0 THEN 'fr'
        |      WHEN s_es = mx AND s_es > 0 THEN 'es'
        |      WHEN s_zh = mx AND s_zh > 0 THEN 'zh'
        |      ELSE 'und' END AS predicted
        |FROM m ORDER BY doc_id""".stripMargin.replace("SCORES", scores)
    },

    "p06_ngram_jaccard" ->
      // identical frequent-shingle cap (df > 50 dropped from the sets)
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS ws FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, greatest(len(ws) - 2, 0) + 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM w),
        |keep AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 50),
        |sh AS (SELECT doc_id, s FROM sh0 WHERE s IN (SELECT s FROM keep)),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |cm AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, n_common, x.n AS n_a, y.n AS n_b,
        | CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) AS jaccard
        |FROM cm JOIN sz x ON cm.id_a = x.doc_id JOIN sz y ON cm.id_b = y.doc_id
        |WHERE CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    "p07_minhash_sigs" -> {
      // windowed md5 family: sig_j = hex window (j%4) of md5('<j/4>:'||s)
      val sig = (0 until 4).map(j =>
        s"list_min(list_transform(sh, s -> ('0x' || substr(md5('${j / 4}:' || s), ${1 + 8 * (j % 4)}, 8))::BIGINT)) AS sig_$j")
        .mkString(",\n ")
      s"""WITH w AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS ws FROM documents),
         |shl AS (SELECT doc_id, list_distinct(list_transform(
         |  range(1, greatest(len(ws) - 2, 0) + 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w)
         |SELECT doc_id, $sig FROM shl ORDER BY doc_id""".stripMargin
    },

    "p08_minhash_candidates" ->
      s"""WITH $minhashPairCtes
         |SELECT id_a, id_b FROM cand ORDER BY id_a, id_b""".stripMargin,

    "p10_dedup_groups" ->
      // connected components = transitive min-label closure over the same
      // candidate graph, as a recursive CTE (UNION semantics terminate it)
      s"""WITH RECURSIVE $minhashPairCtes,
         |bi AS (SELECT id_a AS src, id_b AS dst FROM cand
         |       UNION ALL SELECT id_b, id_a FROM cand),
         |reach AS (
         |  SELECT src AS node, src AS lab FROM bi
         |  UNION
         |  SELECT bi.dst, reach.lab FROM reach JOIN bi ON bi.src = reach.node)
         |SELECT node AS doc_id, min(lab) AS component FROM reach
         |GROUP BY node ORDER BY doc_id""".stripMargin,

    "p09_simhash" -> {
      s"""WITH w AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |  x -> len(x) > 0)) AS word FROM documents WHERE doc_id < 100),
         |h AS (SELECT doc_id, ('0x' || substr(md5('0:' || word), 1, 8))::BIGINT AS hi,
         |                     ('0x' || substr(md5('0:' || word), 9, 8))::BIGINT AS lo FROM w),
         |v AS (SELECT doc_id, $simhash64Votes FROM h GROUP BY doc_id)
         |SELECT doc_id, CAST($simhash64Fp AS BIGINT) AS simhash FROM v ORDER BY doc_id""".stripMargin
    },

    "p11_split_stats" ->
      """WITH u AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5('split0:' || doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS uh
        | FROM documents)
        |SELECT CASE WHEN uh < 0.8 THEN 'train' WHEN uh < 0.9 THEN 'val' ELSE 'test' END AS split,
        |       lang, count(*) AS n
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "p14_token_budget" ->
      """WITH u AS (SELECT doc_id, lang,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))::BIGINT AS n_bpe,
        |  ('0x' || substr(md5('split0:' || doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS uh
        | FROM documents)
        |SELECT CASE WHEN uh < 0.8 THEN 'train' WHEN uh < 0.9 THEN 'val' ELSE 'test' END AS split,
        |       lang, count(*) AS n_docs, sum(n_bpe)::BIGINT AS n_tokens
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "p12_contamination" ->
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, greatest(len(ws) - 2, 0) + 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM w),
        |tr AS (SELECT doc_id AS train_id, s FROM sh WHERE doc_id >= 20),
        |be AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id < 20)
        |SELECT train_id, bench_id, count(*) AS n_common
        |FROM tr JOIN be USING (s)
        |GROUP BY 1, 2 HAVING count(*) >= 5
        |ORDER BY train_id, bench_id""".stripMargin,

    "p13_pii_redaction" -> {
      import graft.pipeline.TextAnalysis.{EmailRe, Ipv4Re, PhoneRe}
      s"""WITH all_docs AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL SELECT * FROM (VALUES
         |  (900001, 'contact me at alice@example.com or bob.smith+spam@mail.co.uk thanks'),
         |  (900002, 'server at 10.0.0.1 and 192.168.1.254 responded'),
         |  (900003, 'call +1 555 123 4567 today'),
         |  (900004, 'clean text, nothing to redact')) AS t(doc_id, text)),
         |c AS (SELECT doc_id,
         | len(regexp_extract_all(text, '$EmailRe'))::BIGINT AS n_email,
         | len(regexp_extract_all(text, '$Ipv4Re'))::BIGINT AS n_ipv4,
         | len(regexp_extract_all(text, '$PhoneRe'))::BIGINT AS n_phone,
         | regexp_replace(regexp_replace(regexp_replace(text,
         |   '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'), '$PhoneRe', '<PHONE>', 'g') AS redacted
         |FROM all_docs)
         |SELECT * FROM c WHERE n_email + n_ipv4 + n_phone > 0 ORDER BY doc_id""".stripMargin
    },

    "s01_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |scored AS (
        | SELECT query_id, neighbor_id,
        |  round(list_aggregate(list_transform(range(1, len(qv) + 1),
        |          i -> qv[i]::DOUBLE * cv[i]::DOUBLE), 'sum')
        |   / nullif(sqrt(list_aggregate(list_transform(range(1, len(qv) + 1), i -> qv[i]::DOUBLE * qv[i]::DOUBLE), 'sum'))
        |          * sqrt(list_aggregate(list_transform(range(1, len(cv) + 1), i -> cv[i]::DOUBLE * cv[i]::DOUBLE), 'sum')), 0), 6) AS sim6
        | FROM c CROSS JOIN q WHERE query_id <> neighbor_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim6 DESC, neighbor_id) AS rank FROM scored)
        |SELECT query_id, neighbor_id, sim6, rank FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "s02_ann_lsh" -> {
      // AND-OR amplified LSH replicated in SQL: 3 tables × 6 bits, plane
      // index = tbl*6 + j. md5-derived hyperplanes are engine-portable:
      // plane(p,d) = hex32(md5("plane<p>:<d>"))/2^31 − 1, an exact dyadic
      // rational, so projections and sign buckets are bit-identical.
      s"""WITH e0 AS (SELECT vec_id, embedding FROM embeddings),
         |${lshOracleCtes(tables = 3, bits = 6)},
         |cand AS (
         | SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id
         | FROM st a JOIN st c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id <> c.vec_id),
         |pairs AS (
         | SELECT query_id, neighbor_id,
         |  list_aggregate(list_transform(range(1, len(qa.embedding) + 1),
         |     i -> qa.embedding[i]::DOUBLE * qb.embedding[i]::DOUBLE), 'sum')
         |   / nullif(qa.nrm * qb.nrm, 0) AS c_raw
         | FROM cand JOIN b qa ON cand.query_id = qa.vec_id JOIN b qb ON cand.neighbor_id = qb.vec_id),
         |ranked AS (SELECT query_id, neighbor_id, round(c_raw, 6) AS sim6,
         |  row_number() OVER (PARTITION BY query_id ORDER BY c_raw DESC, neighbor_id) AS rank FROM pairs)
         |SELECT query_id, neighbor_id, sim6, rank FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },

    "s03_embedding_neardup" ->
      // LSH pre-filter (4 tables × 6 bits) → exact cosine ≥ 0.45, over the
      // corpus plus injected exact duplicates (id + 100000)
      s"""WITH e0 AS (SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings),
         |${lshOracleCtes(tables = 4, bits = 6)},
         |cand AS (
         | SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
         | FROM st a JOIN st c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id),
         |pairs AS (
         | SELECT id_a, id_b,
         |  list_aggregate(list_transform(range(1, len(qa.embedding) + 1),
         |     i -> qa.embedding[i]::DOUBLE * qb.embedding[i]::DOUBLE), 'sum')
         |   / nullif(qa.nrm * qb.nrm, 0) AS cosine
         | FROM cand JOIN b qa ON cand.id_a = qa.vec_id JOIN b qb ON cand.id_b = qb.vec_id)
         |SELECT id_a, id_b, round(cosine, 6) AS sim6 FROM pairs
         |WHERE cosine >= 0.45 ORDER BY id_a, id_b""".stripMargin,

    "s04_ann_ivf" -> {
      def dotSql(a: String, b: String) =
        s"""list_aggregate(list_transform(range(1, len($a) + 1),
           |     i -> $a[i]::DOUBLE * $b[i]::DOUBLE), 'sum')""".stripMargin
      def nrmSql(a: String) =
        s"sqrt(list_aggregate(list_transform(range(1, len($a) + 1), i -> $a[i]::DOUBLE * $a[i]::DOUBLE), 'sum'))"
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec, ${nrmSql("embedding")} AS cnrm
         |           FROM embeddings ORDER BY vec_id LIMIT 16),
         |v AS (SELECT vec_id AS id, embedding AS vec, ${nrmSql("embedding")} AS nrm FROM embeddings),
         |aff AS (SELECT id, vec, nrm, cid, ${dotSql("vec", "cvec")} / nullif(nrm * cnrm, 0) AS aff
         |        FROM v CROSS JOIN c),
         |assigned AS (SELECT id, vec, nrm, cid AS cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY aff DESC, cid) AS rn FROM aff) t
         |  WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qvec, ${nrmSql("embedding")} AS qnrm
         |      FROM embeddings WHERE vec_id < 8),
         |qaff AS (SELECT qid, qvec, qnrm, cid, ${dotSql("qvec", "cvec")} / nullif(qnrm * cnrm, 0) AS aff
         |         FROM q CROSS JOIN c),
         |probes AS (SELECT qid, qvec, qnrm, cid AS cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY aff DESC, cid) AS pr FROM qaff) t
         |  WHERE pr <= 4),
         |scored AS (SELECT qid AS query_id, id AS neighbor_id,
         |  ${dotSql("qvec", "vec")} / nullif(qnrm * nrm, 0) AS c_raw
         |  FROM assigned JOIN probes USING (cell) WHERE qid <> id),
         |ranked AS (SELECT query_id, neighbor_id, round(c_raw, 6) AS sim6,
         |  row_number() OVER (PARTITION BY query_id ORDER BY c_raw DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, sim6, rank FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },

    "s05_embedding_quantize" ->
      """WITH s AS (SELECT vec_id, embedding,
        |  nullif(list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0, 0) AS scale
        |  FROM embeddings),
        |q AS (SELECT vec_id, embedding, scale,
        |  list_transform(embedding, x -> CAST(coalesce(round(x::DOUBLE / scale), 0) AS TINYINT)) AS qv
        |  FROM s)
        |SELECT vec_id, round(coalesce(scale, 0), 9) AS scale9,
        | list_aggregate(list_transform(qv, v -> v::BIGINT), 'sum')::BIGINT AS qsum,
        | list_min(qv)::BIGINT AS qmin, list_max(qv)::BIGINT AS qmax,
        | round(list_max(list_transform(range(1, len(embedding) + 1),
        |   i -> abs(embedding[i]::DOUBLE - qv[i]::DOUBLE * coalesce(scale, 0)))), 9) AS err9
        |FROM q ORDER BY vec_id""".stripMargin,

    "p15_repetition" ->
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS ws FROM documents),
        |base AS (SELECT doc_id, len(ws)::BIGINT AS n_words,
        |  round(1.0 - len(list_distinct(ws))::DOUBLE / nullif(len(ws), 0)::DOUBLE, 6) AS dup_word_frac,
        |  list_transform(range(1, greatest(len(ws) - 1, 0) + 1), i -> ws[i] || ' ' || ws[i+1]) AS bi
        | FROM w),
        |g AS (SELECT doc_id, unnest(bi) AS g FROM base),
        |cnt AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
        |top AS (SELECT doc_id, max(c)::BIGINT AS top_bigram_n, sum(c)::BIGINT AS n_bigrams FROM cnt GROUP BY 1)
        |SELECT b.doc_id, n_words, dup_word_frac, top_bigram_n, n_bigrams,
        |  round(top_bigram_n::DOUBLE / nullif(n_bigrams, 0)::DOUBLE, 6) AS top_bigram_frac
        |FROM base b LEFT JOIN top USING (doc_id) ORDER BY doc_id""".stripMargin,

    "s06_ann_sq8" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
        |  sqrt(list_aggregate(list_transform(range(1, len(embedding) + 1), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), 'sum')) AS qn
        | FROM embeddings WHERE vec_id < 8),
        |s AS (SELECT vec_id, embedding,
        |  nullif(list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0, 0) AS scale
        | FROM embeddings),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv, scale,
        |  list_transform(embedding, x -> CAST(coalesce(round(x::DOUBLE / scale), 0) AS TINYINT)) AS codes
        | FROM s),
        |c2 AS (SELECT neighbor_id, cv, scale, codes,
        |  scale * sqrt(list_aggregate(list_transform(codes, v -> v::DOUBLE * v::DOUBLE), 'sum')) AS cn
        | FROM c),
        |approx AS (SELECT query_id, neighbor_id, cv, qv, qn,
        |  scale * list_aggregate(list_transform(range(1, len(codes) + 1), i -> codes[i]::DOUBLE * qv[i]::DOUBLE), 'sum')
        |    / nullif(cn * qn, 0) AS approx
        | FROM c2 CROSS JOIN q WHERE query_id <> neighbor_id),
        |short AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx DESC, neighbor_id) AS r FROM approx),
        |rer AS (SELECT query_id, neighbor_id,
        |  list_aggregate(list_transform(range(1, len(qv) + 1), i -> qv[i]::DOUBLE * cv[i]::DOUBLE), 'sum')
        |    / nullif(qn * sqrt(list_aggregate(list_transform(cv, x -> x::DOUBLE * x::DOUBLE), 'sum')), 0) AS c_raw
        | FROM short WHERE r <= 20),
        |ranked AS (SELECT query_id, neighbor_id, round(c_raw, 6) AS sim6,
        |  row_number() OVER (PARTITION BY query_id ORDER BY c_raw DESC, neighbor_id) AS rank FROM rer)
        |SELECT query_id, neighbor_id, sim6, rank FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "s09_ann_pq" ->
      // identical subspace slices, hoisted sub-norms, d2 = an2 − 2⟨a,b⟩ +
      // bn2 in the same association order, (d2, cid) argmin, flat distance
      // table indexed [sub·16 + code], sequential-fold ADC — every double
      // is bit-identical to the engine, so shortlist and ranks agree
      """WITH seeds AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid,
        |    embedding AS vec
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16) z),
        |cb AS (SELECT s AS sub, cid, vec[s*8 + 1 : s*8 + 8] AS cvec
        |       FROM seeds CROSS JOIN unnest(range(8)) u(s)),
        |cb2 AS (SELECT sub, cid, cvec,
        |  list_aggregate(list_transform(cvec, x -> x::DOUBLE * x::DOUBLE), 'sum') AS bn2
        |  FROM cb),
        |sv AS (SELECT vec_id AS id, s AS sub, embedding[s*8 + 1 : s*8 + 8] AS sv
        |       FROM embeddings CROSS JOIN unnest(range(8)) u(s)),
        |sv2 AS (SELECT id, sub, sv,
        |  list_aggregate(list_transform(sv, x -> x::DOUBLE * x::DOUBLE), 'sum') AS an2
        |  FROM sv),
        |d AS (SELECT id, sv2.sub AS sub, cid,
        |  an2 - 2.0 * list_aggregate(list_transform(range(1, 9),
        |    i -> sv[i]::DOUBLE * cvec[i]::DOUBLE), 'sum') + bn2 AS d2
        |  FROM sv2 JOIN cb2 ON sv2.sub = cb2.sub),
        |amin AS (SELECT id, sub, cid, d2,
        |  row_number() OVER (PARTITION BY id, sub ORDER BY d2, cid) AS r FROM d),
        |codes AS (SELECT id, list(cid ORDER BY sub) AS codes
        |          FROM amin WHERE r = 1 GROUP BY id),
        |dtq AS (SELECT id AS query_id, list(d2 ORDER BY sub, cid) AS dt
        |        FROM d WHERE id < 8 GROUP BY id),
        |q AS (SELECT vec_id AS query_id, embedding AS qv,
        |  sqrt(list_aggregate(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE), 'sum')) AS qn
        |  FROM embeddings WHERE vec_id < 8),
        |adc AS (SELECT dtq.query_id, c.id AS neighbor_id,
        |  list_aggregate(list_transform(range(1, 9),
        |    s -> dt[(s - 1) * 16 + codes[s] + 1]), 'sum') AS adc
        |  FROM codes c CROSS JOIN dtq WHERE dtq.query_id <> c.id),
        |short AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc, neighbor_id) AS r FROM adc),
        |rer AS (SELECT s.query_id, s.neighbor_id, s.adc,
        |  list_aggregate(list_transform(range(1, len(qv) + 1),
        |    i -> qv[i]::DOUBLE * e.embedding[i]::DOUBLE), 'sum')
        |   / nullif(qn * sqrt(list_aggregate(list_transform(e.embedding,
        |       x -> x::DOUBLE * x::DOUBLE), 'sum')), 0) AS c_raw
        |  FROM short s JOIN q ON q.query_id = s.query_id
        |  JOIN embeddings e ON e.vec_id = s.neighbor_id WHERE s.r <= 20),
        |ranked AS (SELECT query_id, neighbor_id, round(adc, 6) AS adc6,
        |  round(c_raw, 6) AS sim6,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY c_raw DESC, neighbor_id) AS rank FROM rer)
        |SELECT query_id, neighbor_id, adc6, sim6, rank::BIGINT AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "s10_ann_ivfpq" -> {
      def dotSql(a: String, b: String) =
        s"list_aggregate(list_transform(range(1, len($a) + 1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), 'sum')"
      def nrmSql(a: String) =
        s"sqrt(list_aggregate(list_transform($a, x -> x::DOUBLE * x::DOUBLE), 'sum'))"
      // s04's IVF fragment composed with s09's PQ fragment over RESIDUALS;
      // every double mirrors the engine's expression shape exactly
      s"""WITH c AS (SELECT vec_id AS ccid, embedding AS ccvec, ${nrmSql("embedding")} AS ccnrm
         |           FROM embeddings ORDER BY vec_id LIMIT 16),
         |v AS (SELECT vec_id AS id, embedding AS vec, ${nrmSql("embedding")} AS nrm FROM embeddings),
         |aff AS (SELECT id, vec, nrm, ccid, ${dotSql("vec", "ccvec")} / nullif(nrm * ccnrm, 0) AS aff
         |        FROM v CROSS JOIN c),
         |assigned AS (SELECT id, vec, cell FROM (
         |  SELECT id, vec, ccid AS cell,
         |    row_number() OVER (PARTITION BY id ORDER BY aff DESC, ccid) AS rn FROM aff) t
         |  WHERE rn = 1),
         |res AS (SELECT id, cell, list_transform(range(1, len(vec) + 1),
         |    i -> vec[i]::DOUBLE - ccvec[i]::DOUBLE) AS res
         |  FROM assigned JOIN c ON cell = ccid),
         |seeds AS (SELECT (row_number() OVER (ORDER BY id)) - 1 AS cid, res AS svec
         |  FROM (SELECT * FROM res WHERE id >= 16 ORDER BY id LIMIT 16) z),
         |cb AS (SELECT s AS sub, cid, svec[s*8 + 1 : s*8 + 8] AS cvec
         |       FROM seeds CROSS JOIN unnest(range(8)) u(s)),
         |cb2 AS (SELECT sub, cid, cvec,
         |  list_aggregate(list_transform(cvec, x -> x::DOUBLE * x::DOUBLE), 'sum') AS bn2 FROM cb),
         |sv AS (SELECT id, s AS sub, res[s*8 + 1 : s*8 + 8] AS sv
         |       FROM res CROSS JOIN unnest(range(8)) u(s)),
         |sv2 AS (SELECT id, sub, sv,
         |  list_aggregate(list_transform(sv, x -> x::DOUBLE * x::DOUBLE), 'sum') AS an2 FROM sv),
         |d AS (SELECT id, sv2.sub AS sub, cid,
         |  an2 - 2.0 * list_aggregate(list_transform(range(1, 9),
         |    i -> sv[i]::DOUBLE * cvec[i]::DOUBLE), 'sum') + bn2 AS d2
         |  FROM sv2 JOIN cb2 ON sv2.sub = cb2.sub),
         |amin AS (SELECT id, sub, cid,
         |  row_number() OVER (PARTITION BY id, sub ORDER BY d2, cid) AS r FROM d),
         |codes AS (SELECT a.id AS id, asg.cell AS cell, list(a.cid ORDER BY a.sub) AS codes
         |          FROM amin a JOIN assigned asg ON a.id = asg.id
         |          WHERE a.r = 1 GROUP BY a.id, asg.cell),
         |q AS (SELECT vec_id AS qid, embedding AS qvec, ${nrmSql("embedding")} AS qnrm
         |      FROM embeddings WHERE vec_id < 8),
         |qaff AS (SELECT qid, ccid, ${dotSql("qvec", "ccvec")} / nullif(qnrm * ccnrm, 0) AS aff
         |         FROM q CROSS JOIN c),
         |probes AS (SELECT qid, ccid AS cell FROM (
         |  SELECT qid, ccid, row_number() OVER (PARTITION BY qid ORDER BY aff DESC, ccid) AS pr
         |  FROM qaff) t WHERE pr <= 4),
         |qres AS (SELECT qid, cell, list_transform(range(1, len(qvec) + 1),
         |    i -> qvec[i]::DOUBLE - ccvec[i]::DOUBLE) AS qres
         |  FROM probes JOIN c ON cell = ccid JOIN q USING (qid)),
         |qsv AS (SELECT qid, cell, s AS sub, qres[s*8 + 1 : s*8 + 8] AS sv
         |        FROM qres CROSS JOIN unnest(range(8)) u(s)),
         |qsv2 AS (SELECT qid, cell, sub, sv,
         |  list_aggregate(list_transform(sv, x -> x::DOUBLE * x::DOUBLE), 'sum') AS an2 FROM qsv),
         |qd AS (SELECT qid, cell, qsv2.sub AS sub, cid,
         |  an2 - 2.0 * list_aggregate(list_transform(range(1, 9),
         |    i -> sv[i]::DOUBLE * cvec[i]::DOUBLE), 'sum') + bn2 AS d2
         |  FROM qsv2 JOIN cb2 ON qsv2.sub = cb2.sub),
         |dtq AS (SELECT qid, cell, list(d2 ORDER BY sub, cid) AS dt FROM qd GROUP BY qid, cell),
         |adc AS (SELECT dtq.qid AS query_id, codes.id AS neighbor_id,
         |  list_aggregate(list_transform(range(1, 9),
         |    s -> dt[(s - 1) * 16 + codes[s] + 1]), 'sum') AS adc
         |  FROM codes JOIN dtq ON codes.cell = dtq.cell WHERE dtq.qid <> codes.id),
         |short AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc, neighbor_id) AS r FROM adc),
         |rer AS (SELECT sh.query_id, sh.neighbor_id, sh.adc,
         |  list_aggregate(list_transform(range(1, len(qvec) + 1),
         |    i -> qvec[i]::DOUBLE * e.embedding[i]::DOUBLE), 'sum')
         |   / nullif(qnrm * ${nrmSql("e.embedding")}, 0) AS c_raw
         |  FROM short sh JOIN q ON q.qid = sh.query_id
         |  JOIN embeddings e ON e.vec_id = sh.neighbor_id WHERE sh.r <= 20),
         |ranked AS (SELECT query_id, neighbor_id, round(adc, 6) AS adc6,
         |  round(c_raw, 6) AS sim6,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY c_raw DESC, neighbor_id) AS rank FROM rer)
         |SELECT query_id, neighbor_id, adc6, sim6, rank::BIGINT AS rank
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    "m06_image_resize" ->
      // pixel(x,y) = (31x + 7y + seed) mod 2^24; the 4×4 NN subsample reads
      // src(x·(w//4), y·(h//4)); channel extraction is pure integer
      // arithmetic (r = v//65536 %256, g = v//256 %256, b = v %256)
      """WITH docs AS (SELECT i FROM unnest(range(64)) u(i)),
        |dims AS (SELECT i, 16 + (i % 21) AS w, 16 + ((i * 7) % 13) AS h FROM docs),
        |px AS (SELECT i, w, h,
        |  (x * (w // 4) * 31 + y * (h // 4) * 7 + i) % 16777216 AS v
        |  FROM dims CROSS JOIN unnest(range(4)) ux(x) CROSS JOIN unnest(range(4)) uy(y)),
        |s AS (SELECT i AS doc_id, w AS w_in, h AS h_in,
        |  sum((v // 65536) % 256)::BIGINT AS r_sum,
        |  sum((v // 256) % 256)::BIGINT AS g_sum,
        |  sum(v % 256)::BIGINT AS b_sum
        |  FROM px GROUP BY i, w, h)
        |SELECT doc_id::BIGINT AS doc_id, w_in::BIGINT AS w_in, h_in::BIGINT AS h_in,
        |  r_sum, g_sum, b_sum FROM s
        |UNION ALL SELECT 999, -1, -1, -1, -1, -1
        |ORDER BY doc_id""".stripMargin,

    "m01_media_meta" ->
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
        | (((ascii(substr(text,1,1)) & 127) * 16 + (ascii(substr(text,2,1)) & 15)) + 16)::BIGINT AS width,
        | (((ascii(substr(text,3,1)) & 127) * 16 + (ascii(substr(text,4,1)) & 15)) + 16)::BIGINT AS height,
        | md5(text) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m03_image_meta" ->
      """SELECT i AS doc_id,
        | CASE WHEN i % 2 = 0 THEN 'image/png' ELSE 'image/bmp' END AS mime,
        | (16 + i % 21)::BIGINT AS width,
        | (16 + (i * 7) % 13)::BIGINT AS height
        |FROM range(64) t(i)
        |UNION ALL SELECT 999, 'image/png', -1, -1
        |ORDER BY doc_id""".stripMargin,

    "m04_audio_meta" ->
      """SELECT i AS doc_id, 'audio/wav' AS mime,
        | ([8000, 11025, 16000, 22050, 44100][(i % 5) + 1])::BIGINT AS sample_rate,
        | (1 + i % 2)::BIGINT AS channels,
        | (100 + (i * 13) % 400)::BIGINT AS n_frames
        |FROM range(50) t(i)
        |UNION ALL SELECT 999, 'audio/wav', -1, -1, -1
        |ORDER BY doc_id""".stripMargin,

    "m05_video_meta" ->
      """SELECT i AS doc_id, 'video/mp4' AS mime,
        | (160 + (i % 8) * 16)::BIGINT AS width,
        | (96 + (i % 5) * 16)::BIGINT AS height,
        | ((600 + (i * 37) % 1200) * 1000 // ([600, 1000, 12288, 90000][(i % 4) + 1]))::BIGINT AS duration_ms
        |FROM range(40) t(i)
        |UNION ALL SELECT 999, 'video/mp4', -1, -1, -1
        |ORDER BY doc_id""".stripMargin,

    "st03_stream_verdicts" ->
      // closed-window predicate: window_end ≤ max(ts) − 30 min, matching
      // the final watermark the no-data micro-batch applies
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |w AS (SELECT CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS ws,
        |  CASE WHEN value > 450 THEN 1 ELSE 0 END AS failed FROM events)
        |SELECT ws AS window_start, count(*) AS n_rows, sum(failed)::BIGINT AS n_failed,
        | CASE WHEN sum(failed) = 0 THEN 'pass' ELSE 'fail' END AS verdict
        |FROM w, mx WHERE ws + 3600 <= epoch(m) - 1800
        |GROUP BY ws ORDER BY ws""".stripMargin,

    "st09_stream_sessionize" ->
      // q11's session CTEs at gap 1777 s; last session per key gated by the
      // timeout predicate (end+gap in ms, strictly below final watermark)
      """WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |  CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |            > 1777000000
        |       THEN 1 ELSE 0 END AS new_s
        | FROM events),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS UNBOUNDED PRECEDING) AS session_idx FROM g),
        |agg AS (SELECT user_id, session_idx, count(*) AS n_events,
        |        min(us) AS start_us, max(us) AS end_us
        |        FROM s GROUP BY user_id, session_idx),
        |mx AS (SELECT max(epoch_ms(ts)) - 1800000 AS wm_ms FROM events),
        |last AS (SELECT user_id, max(session_idx) AS mi FROM agg GROUP BY user_id)
        |SELECT agg.user_id, start_us, end_us, n_events
        |FROM agg JOIN last USING (user_id) CROSS JOIN mx
        |WHERE session_idx < mi OR (end_us + 1777000000) // 1000 < wm_ms
        |ORDER BY agg.user_id, start_us""".stripMargin,

    "st08_stream_interval_join" ->
      // inner stream-stream pairs = the batch self-join, no window closing
      // involved (pairs emit on match)
      """SELECT a.user_id, a.event_id AS view_id,
        |  floor(epoch(a.ts))::BIGINT AS view_ts,
        |  b.event_id AS purchase_id, floor(epoch(b.ts))::BIGINT AS purchase_ts
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_type = 'view'
        |  AND b.event_type = 'purchase' AND b.ts > a.ts
        |  AND b.ts <= a.ts + INTERVAL 1 HOUR
        |ORDER BY a.user_id, view_id, purchase_id""".stripMargin,

    "st07_stream_refjoin" ->
      // closed-window predicate as st03; membership mirrors the withheld
      // % 7 == 0 dimension keys
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |w AS (SELECT CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS ws,
        |  CASE WHEN user_id IN (SELECT c_custkey FROM customer
        |                        WHERE c_custkey % 7 <> 0)
        |       THEN 0 ELSE 1 END AS miss FROM events)
        |SELECT ws AS window_start, count(*) AS n_rows,
        |  sum(miss)::BIGINT AS n_missing,
        |  CASE WHEN sum(miss) = 0 THEN 'pass' ELSE 'fail' END AS verdict
        |FROM w, mx WHERE ws + 3600 <= epoch(m) - 1800
        |GROUP BY ws ORDER BY ws""".stripMargin,

    "st06_stream_quantile_digest" ->
      // closed-window predicate as st03/st04; the engine-side rank verdict
      // must be TRUE for every window
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |w AS (SELECT CAST(floor(epoch(ts)/14400) AS BIGINT)*14400 AS ws
        |      FROM events WHERE value IS NOT NULL)
        |SELECT ws AS window_start, count(*) AS n_rows,
        |       TRUE AS median_within_rank_tol
        |FROM w, mx WHERE ws + 14400 <= epoch(m) - 1800
        |GROUP BY ws ORDER BY ws""".stripMargin,

    "st05_stream_violation_samples" ->
      // closed-window predicate as st03/st04; per-window sample = the K
      // smallest md5-window ranks, the same family as v34's batch oracle
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |v AS (SELECT event_id, CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS ws
        |      FROM events WHERE value > 450),
        |h AS (SELECT ws, event_id,
        |  ('0x' || substr(md5('0:' || event_id::VARCHAR), 1, 8))::BIGINT AS hk FROM v)
        |SELECT ws AS window_start, '/value' AS path, 'maximum' AS rule_id,
        | count(*) AS n_violations,
        | array_to_string((list(event_id::VARCHAR ORDER BY hk, event_id::VARCHAR))[1:5], ',') AS sample_ids
        |FROM h, mx WHERE ws + 3600 <= epoch(m) - 1800
        |GROUP BY ws ORDER BY ws""".stripMargin,

    "st04_stream_histogram" ->
      // watermark derives from the POST-FILTER stream (nulls dropped before
      // withWatermark in the operator), so mx filters the same way
      """WITH f AS (SELECT ts, value FROM events WHERE value IS NOT NULL),
        |mx AS (SELECT max(ts) AS m FROM f),
        |h AS (SELECT CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS ws,
        |  least(greatest(CAST(floor(value::DOUBLE / 50.0) AS BIGINT), 0), 9) AS bin
        | FROM f)
        |SELECT ws AS window_start, bin, count(*) AS n
        |FROM h, mx WHERE ws + 3600 <= epoch(m) - 1800
        |GROUP BY ws, bin ORDER BY ws, bin""".stripMargin,

    "st01_stream_window_batch" ->
      """SELECT CAST(floor(epoch(ts)/300) AS BIGINT)*300 AS bucket_start, event_type,
        | count(*) AS n, round(sum(CAST(value AS DECIMAL(20,6))),4)::DOUBLE AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q11_sessionize" ->
      """WITH g AS (SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |  CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |            > 1800000000
        |       THEN 1 ELSE 0 END AS new_s
        | FROM events),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS UNBOUNDED PRECEDING) AS session_idx FROM g)
        |SELECT user_id, session_idx::BIGINT AS session_idx, count(*) AS n_events,
        | min(us) AS start_us, max(us) AS end_us, max(us) - min(us) AS duration_us,
        | round(sum(CAST(value AS DECIMAL(20,6))),4)::DOUBLE AS sum_value
        |FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin,

    "v16_combinators" ->
      """SELECT * FROM (
        | SELECT o_orderkey, '/o_totalprice' AS path, 'maximum' AS rule_id,
        |   CAST(o_totalprice AS VARCHAR) || ' > maximum(450000)' AS message,
        |   CAST(o_totalprice AS VARCHAR) AS observed
        |  FROM orders WHERE o_totalprice >= 300000 AND o_totalprice > 450000
        | UNION ALL SELECT o_orderkey, '/o_totalprice', 'minimum',
        |   CAST(o_totalprice AS VARCHAR) || ' < minimum(50000)', CAST(o_totalprice AS VARCHAR)
        |  FROM orders WHERE o_totalprice < 300000 AND o_totalprice < 50000
        | UNION ALL SELECT o_orderkey, '/o_orderpriority', 'all_rules_match',
        |   'All of the oneOf rules match.', o_orderpriority
        |  FROM orders WHERE regexp_matches(o_orderpriority, '^[1-2]-')
        | UNION ALL SELECT o_orderkey, '/o_orderpriority', 'pattern',
        |   '/oneOf/0 String does not match ^[1-2]-.', o_orderpriority
        |  FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-')
        | UNION ALL SELECT o_orderkey, '/o_orderpriority', 'pattern',
        |   '/oneOf/1 String does not match ^[1-3]-.', o_orderpriority
        |  FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-')
        | UNION ALL SELECT o_orderkey, '/o_orderstatus', 'not', 'Should not match.', o_orderstatus
        |  FROM orders WHERE o_orderstatus = 'P'
        |) t ORDER BY o_orderkey, path, rule_id, message""".stripMargin,

    "p16_quality_gates" -> {
      val scores = Seq(
        "en" -> "\\b(the|and|of|to|in|is|that|it|you|for)\\b",
        "de" -> "\\b(der|die|und|das|ist|nicht|mit|ein|ich|auf)\\b",
        "fr" -> "\\b(le|la|et|les|des|une|est|que|pour|dans)\\b",
        "es" -> "\\b(el|los|de|que|y|en|un|se|no|por)\\b")
        .map { case (l, re) => s"len(regexp_extract_all(lower(text), '$re')) AS s_$l" }
        .mkString(", ")
      """WITH base AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS ws,
        |  len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / nullif(length(text), 0)::DOUBLE AS alpha_ratio
        | FROM documents),
        |sig AS (SELECT doc_id, text, len(ws) AS n_words,
        |  1.0 - len(list_distinct(ws))::DOUBLE / nullif(len(ws), 0)::DOUBLE AS dupf, alpha_ratio
        | FROM base),
        |sc AS (SELECT doc_id, SCORES,
        |  len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh FROM sig),
        |m AS (SELECT *, greatest(s_en, s_de, s_fr, s_es, s_zh) AS mx FROM sc),
        |lang AS (SELECT doc_id,
        | CASE WHEN s_en = mx AND s_en > 0 THEN 'en'
        |      WHEN s_de = mx AND s_de > 0 THEN 'de'
        |      WHEN s_fr = mx AND s_fr > 0 THEN 'fr'
        |      WHEN s_es = mx AND s_es > 0 THEN 'es'
        |      WHEN s_zh = mx AND s_zh > 0 THEN 'zh'
        |      ELSE 'und' END AS predicted FROM m)
        |SELECT sig.doc_id,
        | CASE WHEN COALESCE(n_words, 0) < 5 THEN 'too_short'
        |      WHEN COALESCE(dupf, 0) > 0.2 THEN 'repetitive'
        |      WHEN predicted = 'und' THEN 'no_lang'
        |      WHEN COALESCE(alpha_ratio, 0) < 0.5 THEN 'low_alpha'
        |      ELSE 'keep' END AS verdict
        |FROM sig JOIN lang ON sig.doc_id = lang.doc_id ORDER BY sig.doc_id""".stripMargin
        .replace("SCORES", scores)
    },

    "s07_neardup_groups" ->
      // same pair graph as s03 (bit-identical buckets + cosine threshold),
      // closed transitively — proves the distributed CC agrees exactly
      s"""WITH RECURSIVE e0 AS (SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings),
         |${lshOracleCtes(tables = 4, bits = 6)},
         |cand AS (
         | SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
         | FROM st a JOIN st c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id),
         |pairs AS (
         | SELECT id_a, id_b,
         |  list_aggregate(list_transform(range(1, len(qa.embedding) + 1),
         |     i -> qa.embedding[i]::DOUBLE * qb.embedding[i]::DOUBLE), 'sum')
         |   / nullif(qa.nrm * qb.nrm, 0) AS cosine
         | FROM cand JOIN b qa ON cand.id_a = qa.vec_id JOIN b qb ON cand.id_b = qb.vec_id),
         |sel AS (SELECT id_a, id_b FROM pairs WHERE cosine >= 0.45),
         |bi AS (SELECT id_a AS src, id_b AS dst FROM sel
         |       UNION ALL SELECT id_b, id_a FROM sel),
         |reach AS (
         |  SELECT src AS node, src AS lab FROM bi
         |  UNION
         |  SELECT bi.dst, reach.lab FROM reach JOIN bi ON bi.src = reach.node)
         |SELECT node AS vec_id, min(lab) AS component FROM reach
         |GROUP BY node ORDER BY vec_id""".stripMargin,

    "s08_semantic_dedup" ->
      // same cell assignment as s04's quantizer (16 lowest-id centroids,
      // best affinity, ties to smallest cid), within-cell cosine >= 0.6,
      // recursive closure; keep = node == its group minimum
      s"""WITH RECURSIVE e0 AS (SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 200000, embedding FROM embeddings),
         |v AS (SELECT vec_id AS id, embedding AS vec,
         |  sqrt(list_aggregate(list_transform(range(1, len(embedding) + 1),
         |    i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), 'sum')) AS nrm FROM e0),
         |c AS (SELECT id AS cid, vec AS cvec, nrm AS cnrm FROM v ORDER BY id LIMIT 16),
         |aff AS (SELECT id, vec, nrm, cid,
         |  list_aggregate(list_transform(range(1, len(vec) + 1),
         |    i -> vec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum') / nullif(nrm * cnrm, 0) AS aff
         |  FROM v CROSS JOIN c),
         |assigned AS (SELECT id, vec, nrm, cid AS cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY aff DESC, cid) AS rn FROM aff) t
         |  WHERE rn = 1),
         |pairs AS (SELECT a.id AS id_a, bb.id AS id_b,
         |  list_aggregate(list_transform(range(1, len(a.vec) + 1),
         |    i -> a.vec[i]::DOUBLE * bb.vec[i]::DOUBLE), 'sum') / nullif(a.nrm * bb.nrm, 0) AS cosine
         |  FROM assigned a JOIN assigned bb ON a.cell = bb.cell AND a.id < bb.id),
         |sel AS (SELECT id_a, id_b FROM pairs WHERE cosine >= 0.6),
         |bi AS (SELECT id_a AS src, id_b AS dst FROM sel
         |       UNION ALL SELECT id_b, id_a FROM sel),
         |reach AS (
         |  SELECT src AS node, src AS lab FROM bi
         |  UNION
         |  SELECT bi.dst, reach.lab FROM reach JOIN bi ON bi.src = reach.node)
         |SELECT node AS vec_id, min(lab) AS component,
         |  node = min(lab) AS keep FROM reach
         |GROUP BY node ORDER BY vec_id""".stripMargin,

    "st02_stream_drift" ->
      """WITH binned AS (SELECT CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS g,
        |  CAST(least(greatest(floor((value - 0.0)/50.0), 0), 9) AS INT) AS bin
        | FROM events WHERE value IS NOT NULL),
        |gh AS (SELECT g, bin, count(*) AS n FROM binned GROUP BY 1, 2),
        |gt AS (SELECT g, sum(n) AS t FROM gh GROUP BY 1),
        |gl AS (SELECT bin, count(*) AS n FROM binned GROUP BY 1),
        |glt AS (SELECT sum(n) AS t FROM gl),
        |grid AS (SELECT gt.g, gt.t, gl.bin,
        |   greatest(gl.n::DOUBLE / (SELECT t FROM glt), 1e-6) AS q FROM gt CROSS JOIN gl),
        |j AS (SELECT grid.g,
        |   greatest(COALESCE(gh.n, 0)::DOUBLE / grid.t, 1e-6) AS p, grid.q
        |  FROM grid LEFT JOIN gh ON gh.g = grid.g AND gh.bin = grid.bin)
        |SELECT g AS bucket_start, round(sum((p - q) * ln(p / q)), 6) AS psi6
        |FROM j GROUP BY g ORDER BY g""".stripMargin,

    "v17_map_closed_world" ->
      """WITH all_ev AS (
        | SELECT event_id, props FROM events
        | UNION ALL SELECT * FROM (VALUES
        |  (900001, '{"k": 42, "extra": 1}'),
        |  (900002, '{"k": 42, "Bad-Key": 2, "zz9": 3}'),
        |  (900003, '{"kk": 5, "k": 1}'),
        |  (900004, '{"k": 12, "x_opt": 7}')) AS t(event_id, props)),
        |k AS (SELECT event_id, regexp_extract_all(props, '"([^"]+)"\s*:', 1) AS keys FROM all_ev),
        |x AS (SELECT event_id, keys,
        |  list_sort(list_filter(keys, kk -> kk <> 'k' AND NOT regexp_matches(kk, '^x_'))) AS extras
        | FROM k)
        |SELECT * FROM (
        | SELECT event_id, '/' AS path, 'additionalProperties' AS rule_id,
        |   'Properties not allowed: ' || array_to_string(extras, ', ') || '.' AS message
        | FROM x WHERE len(extras) > 0
        | UNION ALL
        | SELECT event_id, '/', 'pattern', 'String does not match ^[a-z][a-z0-9_]*$.'
        | FROM (SELECT event_id, unnest(keys) AS kk FROM k) u
        | WHERE NOT regexp_matches(kk, '^[a-z][a-z0-9_]*$')
        | UNION ALL
        | SELECT event_id, '/', 'maxProperties',
        |   'Too many properties: ' || len(keys)::VARCHAR || '/2.'
        | FROM k WHERE len(keys) > 2
        |) t ORDER BY event_id, path, rule_id, message""".stripMargin,

    "q12_cube_orders" ->
      """SELECT o_orderstatus, o_orderpriority,
        | GROUPING(o_orderstatus, o_orderpriority)::BIGINT AS gid,
        | count(*) AS n,
        | round(sum(CAST(o_totalprice AS DECIMAL(20,4))),2)::DOUBLE AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "p20_stratified_sample" ->
      """WITH u AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5('split0:' || doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS uh
        | FROM documents)
        |SELECT lang, count(*) AS n_kept FROM u
        |WHERE uh < CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.1 ELSE 0.9 END
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "p19_simhash_neardup" -> {
      // 4×16-bit bands over the 64-bit fingerprint; arithmetic >> then
      // mask 65535 is sign-safe for the top band in both engines
      val bandVals = (0 until 4).map(b => s"(simhash >> ${16 * b}) & 65535").mkString(", ")
      s"""WITH all_docs AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 200),
         |w AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |  x -> len(x) > 0)) AS word FROM all_docs),
         |h AS (SELECT doc_id, ('0x' || substr(md5('0:' || word), 1, 8))::BIGINT AS hi,
         |                     ('0x' || substr(md5('0:' || word), 9, 8))::BIGINT AS lo FROM w),
         |v AS (SELECT doc_id, $simhash64Votes FROM h GROUP BY doc_id),
         |sh AS (SELECT doc_id, CAST($simhash64Fp AS BIGINT) AS simhash FROM v),
         |bands AS (SELECT doc_id, simhash, unnest([0, 1, 2, 3]) AS b,
         |          unnest([$bandVals]) AS bv FROM sh),
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         |          x.simhash AS sa, y.simhash AS sb
         |         FROM bands x JOIN bands y ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id)
         |SELECT id_a, id_b, bit_count(xor(sa, sb))::BIGINT AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY id_a, id_b""".stripMargin
    },

    "p21_vocab_apply" ->
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |  x -> len(x) > 0) AS ws FROM documents),
        |vc AS (SELECT token, count(*) AS n
        |       FROM (SELECT unnest(ws) AS token FROM d) GROUP BY token
        |       ORDER BY n DESC, token LIMIT 200),
        |vocab AS (SELECT token, (row_number() OVER (ORDER BY n DESC, token) - 1) AS tid FROM vc),
        |tok AS (SELECT doc_id, unnest(ws) AS token,
        |        unnest(range(1, len(ws) + 1)) AS pos FROM d),
        |m AS (SELECT t.doc_id, t.pos, coalesce(v.tid, -1) AS tid, v.tid IS NULL AS oov
        |      FROM tok t LEFT JOIN vocab v USING (token)),
        |agg AS (SELECT doc_id, count(*) AS n_tok,
        |        sum(CASE WHEN oov THEN 1 ELSE 0 END) AS n_oov,
        |        sum(pos * tid) AS checksum FROM m GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_tok, 0)::BIGINT AS n_tok,
        | coalesce(n_oov, 0)::BIGINT AS n_oov,
        | round(CASE WHEN coalesce(n_tok, 0) = 0 THEN 0
        |       ELSE n_oov::DOUBLE / n_tok::DOUBLE END, 6) AS oov_rate6,
        | coalesce(checksum, 0)::BIGINT AS checksum
        |FROM d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    "p28_dedup_keepers" ->
      // components via the same recursive closure as p10; quality via the
      // same expression as p04; keeper = row_number over (quality DESC, id)
      s"""WITH RECURSIVE $minhashPairCtes,
         |bi AS (SELECT id_a AS src, id_b AS dst FROM cand
         |       UNION ALL SELECT id_b, id_a FROM cand),
         |reach AS (
         |  SELECT src AS node, src AS lab FROM bi
         |  UNION
         |  SELECT bi.dst, reach.lab FROM reach JOIN bi ON bi.src = reach.node),
         |comp AS (SELECT node AS doc_id, min(lab) AS component FROM reach GROUP BY node),
         |qb AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS qws,
         |  len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|it|you|for)\\b'))::BIGINT AS qn_stop,
         |  len(regexp_extract_all(text, '[[:punct:]]'))::DOUBLE AS qn_punct,
         |  length(text) AS qn_chars
         | FROM documents),
         |q AS (SELECT doc_id, COALESCE(
         |  least(len(qws)::DOUBLE / 100.0, 1.0) * 0.5
         |  + least((qn_stop::DOUBLE / nullif(len(qws), 0)::DOUBLE) * 5.0, 1.0) * 0.3
         |  + (1.0 - least((qn_punct / nullif(qn_chars, 0)::DOUBLE) * 5.0, 1.0)) * 0.2, 0.0) AS quality
         | FROM qb),
         |j AS (SELECT c.component, c.doc_id, q.quality
         |      FROM comp c JOIN q USING (doc_id)),
         |r AS (SELECT component, doc_id, quality,
         |  row_number() OVER (PARTITION BY component ORDER BY quality DESC, doc_id) AS rn,
         |  count(*) OVER (PARTITION BY component) AS group_size FROM j)
         |SELECT component, doc_id AS keep_id, quality AS keep_score, group_size
         |FROM r WHERE rn = 1 ORDER BY component""".stripMargin,

    "p29_token_minhash" ->
      s"""WITH $tokenMinhashPairCtes
         |SELECT id_a, id_b FROM cand ORDER BY id_a, id_b""".stripMargin,

    "p32_vocab_packing" ->
      // p21's vocab/apply CTEs feeding p23's global prefix-sum window —
      // the composed twin of the two gated stages
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |  x -> len(x) > 0) AS ws FROM documents),
        |vc AS (SELECT token, count(*) AS n
        |       FROM (SELECT unnest(ws) AS token FROM d) GROUP BY token
        |       ORDER BY n DESC, token LIMIT 200),
        |vocab AS (SELECT token, (row_number() OVER (ORDER BY n DESC, token) - 1) AS tid FROM vc),
        |tok AS (SELECT doc_id, unnest(ws) AS token,
        |        unnest(range(1, len(ws) + 1)) AS pos FROM d),
        |m AS (SELECT t.doc_id, t.pos, coalesce(v.tid, -1) AS tid
        |      FROM tok t LEFT JOIN vocab v USING (token)),
        |agg AS (SELECT doc_id, count(*) AS n_tok, sum(pos * tid) AS checksum FROM m GROUP BY doc_id),
        |seqs AS (SELECT d.doc_id, coalesce(n_tok, 0)::BIGINT AS n_tok,
        |         coalesce(checksum, 0)::BIGINT AS checksum
        |         FROM d LEFT JOIN agg USING (doc_id)),
        |c AS (SELECT doc_id, n_tok, checksum,
        |  coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM seqs)
        |SELECT doc_id, n_tok, (cb // 1024)::BIGINT AS start_bin,
        | (cb % 1024)::BIGINT AS bin_offset,
        | (CASE WHEN n_tok = 0 THEN 0
        |  ELSE (cb + n_tok - 1) // 1024 - cb // 1024 + 1 END)::BIGINT AS bins_spanned,
        | checksum
        |FROM c ORDER BY doc_id""".stripMargin,

    "p33_token_jaccard" ->
      s"""WITH $tokenizedDocsCte,
         |w AS (SELECT doc_id, list_transform(tokens, t -> t::VARCHAR) AS ws FROM tokd),
         |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  range(1, greatest(len(ws) - 2, 0) + 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM w),
         |keep AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 50),
         |sh AS (SELECT doc_id, s FROM sh0 WHERE s IN (SELECT s FROM keep)),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |cm AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
         |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, n_common, x.n AS n_a, y.n AS n_b,
         | CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) AS jaccard
         |FROM cm JOIN sz x ON cm.id_a = x.doc_id JOIN sz y ON cm.id_b = y.doc_id
         |WHERE CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,

    "p30_token_block_dedup" ->
      s"""WITH $tokenizedDocsCte,
         |d AS (SELECT doc_id, list_transform(tokens, t -> t::VARCHAR) AS ws FROM tokd),
         |b AS (SELECT doc_id, i AS bidx,
         |  array_to_string(ws[i*10+1 : i*10+10], ' ') AS block
         | FROM d CROSS JOIN unnest(range(0, len(ws) // 10)) t(i)),
         |r AS (SELECT doc_id, bidx,
         |  row_number() OVER (PARTITION BY md5(block) ORDER BY doc_id, bidx) AS rn FROM b)
         |SELECT doc_id, count(*) AS n_blocks,
         | sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_blocks,
         | round(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6) AS dup_frac6
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "p31_token_simhash" ->
      s"""WITH $tokenizedDocsCte,
         |w AS (SELECT doc_id, unnest(list_transform(tokens, t -> t::VARCHAR)) AS word
         |      FROM tokd WHERE doc_id < 100),
         |h AS (SELECT doc_id, ('0x' || substr(md5('0:' || word), 1, 8))::BIGINT AS hi,
         |                     ('0x' || substr(md5('0:' || word), 9, 8))::BIGINT AS lo FROM w),
         |v AS (SELECT doc_id, $simhash64Votes FROM h GROUP BY doc_id)
         |SELECT doc_id, CAST($simhash64Fp AS BIGINT) AS simhash FROM v ORDER BY doc_id""".stripMargin,

    "p27_domain_filter" ->
      """WITH docs(doc_id, text) AS (VALUES
        |  (1, 'see https://spam.example/page and http://ok.org/x'),
        |  (2, 'links http://sub.spam.example:8080/y https://news.ok.org'),
        |  (3, 'no urls at all'),
        |  (4, 'HTTPS://OK.ORG mixed case http://a.b.spam.example/z'),
        |  (5, 'bare host spam.example without scheme')),
        |blocked(domain) AS (VALUES ('spam.example')),
        |h AS (SELECT doc_id, unnest(list_transform(
        |  regexp_extract_all(lower(text), 'https?://([^/\s]+)', 1),
        |  x -> string_split(x, ':')[1])) AS host FROM docs),
        |d AS (SELECT doc_id, host,
        |  CASE WHEN len(string_split(host, '.')) >= 2
        |    THEN string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
        |    ELSE host END AS domain FROM h),
        |m AS (SELECT doc_id, domain IN (SELECT domain FROM blocked) AS blk FROM d),
        |agg AS (SELECT doc_id, count(*) AS n_urls,
        |        sum(CASE WHEN blk THEN 1 ELSE 0 END) AS nb FROM m GROUP BY doc_id)
        |SELECT docs.doc_id::BIGINT AS doc_id, coalesce(n_urls, 0)::BIGINT AS n_urls,
        | coalesce(nb, 0)::BIGINT AS n_blocked_urls, coalesce(nb, 0) > 0 AS blocked
        |FROM docs LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    "p34_url_dedup" ->
      // identical canonicalization steps: scheme off, host lowered with
      // www./port stripped, query/fragment off, trailing slashes trimmed
      """WITH urls(doc_id, url) AS (VALUES
        |  (1, 'https://WWW.Example.com:443/a/b/?utm=1#frag'),
        |  (2, 'http://example.com/a/b'),
        |  (3, 'https://example.com/a/b/'),
        |  (4, 'http://other.org'),
        |  (5, 'HTTP://www.other.org/'),
        |  (6, NULL),
        |  (7, 'ftp://example.com/a/b'),
        |  (8, 'http://example.com/a/b?x=1&y=2')),
        |s1 AS (SELECT doc_id,
        |  regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.\-]*://', '') AS ns FROM urls),
        |s2 AS (SELECT doc_id, ns, string_split(ns, '/')[1] AS hostraw FROM s1),
        |s3 AS (SELECT doc_id,
        |  regexp_replace(string_split(lower(hostraw), ':')[1], '^www\.', '') AS host,
        |  substr(ns, length(hostraw) + 1) AS pathraw FROM s2),
        |n AS (SELECT urls.doc_id::BIGINT AS doc_id,
        |  CASE WHEN urls.url IS NULL THEN NULL ELSE
        |    s3.host || regexp_replace(
        |      string_split(string_split(s3.pathraw, '?')[1], '#')[1], '/+$', '')
        |  END AS url_norm
        | FROM urls LEFT JOIN s3 USING (doc_id)),
        |w AS (SELECT url_norm, min(doc_id) AS keep_id FROM n
        |      WHERE url_norm IS NOT NULL GROUP BY 1)
        |SELECT n.doc_id, n.url_norm,
        | coalesce(w.keep_id, n.doc_id)::BIGINT AS keep_id,
        | n.doc_id = coalesce(w.keep_id, n.doc_id) AS keep
        |FROM n LEFT JOIN w USING (url_norm) ORDER BY doc_id""".stripMargin,

    "p26_temperature_mixture" ->
      // z summed over lang-sorted weights (list_aggregate of an ORDERed
      // list) so the float fold matches the driver's sorted fold exactly
      """WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |z AS (SELECT list_aggregate(list(sqrt(c::DOUBLE) ORDER BY lang), 'sum') AS z FROM c),
        |rates AS (SELECT lang,
        |  round(least(1.0, sqrt(c::DOUBLE) / z * 300 / c::DOUBLE), 6) AS rate
        | FROM c CROSS JOIN z)
        |SELECT d.lang, count(*) AS n_kept
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |WHERE ('0x' || substr(md5('split0:' || d.doc_id::VARCHAR), 1, 8))::BIGINT
        |      / 4294967296.0 < r.rate
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "p25_drop_repeated_blocks" ->
      """WITH d0 AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |  x -> len(x) > 0) AS ws FROM documents),
        |rep AS (SELECT doc_id,
        |  array_to_string(ws[1:10], ' ') AS f10,
        |  array_to_string(ws, ' ') AS orig FROM d0),
        |d AS (SELECT doc_id, list_filter(string_split_regex(
        |  lower(trim(f10 || ' ' || f10 || ' ' || f10 || ' ' || orig)), '\s+'),
        |  x -> len(x) > 0) AS ws FROM rep),
        |b AS (SELECT doc_id, i AS bidx,
        |  array_to_string(ws[i*10+1 : i*10+10], ' ') AS block
        | FROM d CROSS JOIN unnest(range(0, (len(ws) + 9) // 10)) t(i)),
        |r AS (SELECT doc_id, bidx, block,
        |  row_number() OVER (PARTITION BY doc_id, block ORDER BY bidx) AS rn FROM b)
        |SELECT doc_id, count(*) AS n_blocks,
        | sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_blocks_kept,
        | md5(string_agg(block, ' ' ORDER BY bidx) FILTER (WHERE rn = 1)) AS clean_fp
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "p24_bigram_nll" ->
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |  x -> len(x) > 0) AS ws FROM documents),
        |bi AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bi, ws[i] AS w1
        |       FROM d CROSS JOIN unnest(range(1, len(ws))) t(i)),
        |bc AS (SELECT bi, count(*) AS c12 FROM bi GROUP BY bi),
        |uc AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY w1),
        |v AS (SELECT count(DISTINCT w) AS V FROM
        |       (SELECT unnest(ws) AS w FROM d)),
        |s AS (SELECT doc_id,
        |       -log2((c12 + 1)::DOUBLE / (c1 + V)::DOUBLE) AS nll
        |      FROM bi JOIN bc USING (bi) JOIN uc USING (w1) CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 6) AS nll6
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "v51_profile_diff" -> {
      def added(c: String, from: String, vs: String) =
        s"""CASE WHEN (SELECT count(DISTINCT $c) FROM $from) <= 16 THEN
           | (SELECT coalesce(to_json(list_sort(list(DISTINCT v)))::VARCHAR, '[]')
           |  FROM (SELECT $c AS v FROM $from WHERE $c IS NOT NULL
           |        AND $c NOT IN (SELECT $c FROM $vs WHERE $c IS NOT NULL)) z)
           | ELSE NULL END""".stripMargin
      def row(c: String, numeric: Boolean) = {
        val (mno, mnn, mxo, mxn) =
          if (numeric) (s"(SELECT min($c)::DOUBLE FROM o)", s"(SELECT min($c)::DOUBLE FROM n)",
            s"(SELECT max($c)::DOUBLE FROM o)", s"(SELECT max($c)::DOUBLE FROM n)")
          else ("NULL::DOUBLE", "NULL::DOUBLE", "NULL::DOUBLE", "NULL::DOUBLE")
        val (ad, rm) =
          if (numeric) ("NULL::VARCHAR", "NULL::VARCHAR")
          else (added(c, "n", "o"), added(c, "o", "n"))
        s"""SELECT '$c' AS "column",
           | (SELECT (count(*) - count($c))::BIGINT FROM o) AS n_null_old,
           | (SELECT (count(*) - count($c))::BIGINT FROM n) AS n_null_new,
           | (SELECT count(DISTINCT $c)::BIGINT FROM o) AS n_distinct_old,
           | (SELECT count(DISTINCT $c)::BIGINT FROM n) AS n_distinct_new,
           | $mno AS min_old, $mnn AS min_new, $mxo AS max_old, $mxn AS max_new,
           | $ad AS enum_added, $rm AS enum_removed""".stripMargin
      }
      s"""WITH o AS (SELECT lang, source, n_chars FROM documents),
         |n AS (SELECT CASE WHEN doc_id % 97 = 0 THEN 'xx' ELSE lang END AS lang,
         |  CASE WHEN doc_id % 50 = 0 THEN NULL ELSE source END AS source,
         |  CASE WHEN doc_id = 0 THEN 100000 ELSE n_chars END AS n_chars
         |  FROM documents)
         |${Seq(row("lang", false), row("source", false), row("n_chars", true))
            .mkString("\nUNION ALL ")}
         |ORDER BY "column"""".stripMargin
    },

    "v33_pack_inference" -> {
      def num(c: String, jt: String) =
        s"""SELECT '$c' AS "column", '$jt' AS json_type,
           | (count(*) - count($c))::BIGINT AS n_null,
           | count(DISTINCT $c)::BIGINT AS n_distinct,
           | min($c)::DOUBLE AS min_num, max($c)::DOUBLE AS max_num,
           | NULL::VARCHAR AS enum_vals FROM documents""".stripMargin
      def str(c: String) =
        s"""SELECT '$c', 'string', (count(*) - count($c))::BIGINT,
           | count(DISTINCT $c)::BIGINT, NULL::DOUBLE, NULL::DOUBLE,
           | CASE WHEN count(DISTINCT $c) <= 16
           |   THEN to_json(list_sort(list(DISTINCT $c)))::VARCHAR
           |   ELSE NULL END FROM documents""".stripMargin
      Seq(num("doc_id", "integer"), str("lang"), str("source"),
        num("n_chars", "integer")).mkString("", "\nUNION ALL ", "\nORDER BY \"column\"")
    },

    "p22_block_dedup" ->
      """WITH all_docs AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 100),
        |d AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |  x -> len(x) > 0) AS ws FROM all_docs),
        |b AS (SELECT doc_id, i AS bidx,
        |  array_to_string(ws[i*10+1 : i*10+10], ' ') AS block
        | FROM d CROSS JOIN unnest(range(0, len(ws) // 10)) t(i)),
        |r AS (SELECT doc_id, bidx,
        |  row_number() OVER (PARTITION BY md5(block) ORDER BY doc_id, bidx) AS rn FROM b)
        |SELECT doc_id, count(*) AS n_blocks,
        | sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_blocks,
        | round(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6) AS dup_frac6
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "p38_substring_dedup" ->
      s"""WITH $tokenizedDocsCte,
         |base AS (
         |  SELECT doc_id, tokens FROM tokd WHERE doc_id < 50
         |  UNION ALL SELECT doc_id + 100000 AS doc_id, tokens FROM tokd WHERE doc_id < 50
         |  UNION ALL SELECT doc_id + 200000 AS doc_id, tokens[6:41] AS tokens
         |    FROM tokd WHERE doc_id < 20 AND len(tokens) >= 41
         |  UNION ALL SELECT doc_id + 300000 AS doc_id,
         |    tokens[1:20] || list_transform(tokens[21:30], tk -> tk + 50000) || tokens[31:50] AS tokens
         |    FROM tokd WHERE doc_id < 20 AND len(tokens) >= 50),
         |d AS (SELECT doc_id, tokens, list_transform(tokens, t -> t::VARCHAR) AS ws FROM base),
         |g AS (SELECT doc_id, i::INT - 1 AS pos, md5(array_to_string(ws[i:i+14], ' ')) AS h
         |      FROM d CROSS JOIN unnest(range(1, greatest(len(ws) - 14, 0) + 1)) t(i)),
         |r AS (SELECT doc_id, pos,
         |        row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         |        count(*) OVER (PARTITION BY h) AS cnt FROM g),
         |cp AS (SELECT doc_id, unnest(range(pos, pos + 15)) AS cp
         |       FROM r WHERE cnt > 1 AND rn > 1),
         |cov AS (SELECT doc_id, list_sort(list(DISTINCT cp)) AS covered FROM cp GROUP BY doc_id),
         |j AS (SELECT d.doc_id, d.tokens, d.ws, coalesce(c.covered, []) AS covered
         |      FROM d LEFT JOIN cov c USING (doc_id))
         |SELECT doc_id, len(tokens)::BIGINT AS n_tok,
         | len(covered)::BIGINT AS n_dup_tokens,
         | (CASE WHEN len(covered) = 0 THEN 0
         |   ELSE 1 + len(list_filter(range(2, len(covered) + 1),
         |                i -> covered[i] > covered[i-1] + 1)) END)::BIGINT AS n_spans,
         | round(len(covered)::DOUBLE / len(tokens)::DOUBLE, 6) AS dup_frac,
         | md5(coalesce(array_to_string(list_transform(
         |   list_filter(range(1, len(tokens) + 1), i -> NOT list_contains(covered, i - 1)),
         |   i -> ws[i]), ' '), '')) AS clean_checksum
         |FROM j ORDER BY doc_id""".stripMargin,

    "p39_fuzzy_decontamination" -> {
      val sig = (0 until 16).map(j =>
        s"list_min(list_transform(sh, s -> ('0x' || substr(md5('${j / 4}:' || s), ${1 + 8 * (j % 4)}, 8))::BIGINT)) AS sig_$j")
        .mkString(",\n ")
      val bandList = (0 until 8).map(b =>
        s"md5(sig_${2 * b}::VARCHAR || ',' || sig_${2 * b + 1}::VARCHAR)").mkString(", ")
      val shingle3 = "list_distinct(list_transform(range(1, greatest(len(ws) - 2, 0) + 1), " +
        "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))"
      val agree = (0 until 16)
        .map(j => s"(CASE WHEN t.sig_$j = b.sig_$j THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $tokenizedDocsCte,
         |tr AS (SELECT doc_id, tokens FROM tokd WHERE doc_id < 300),
         |be AS (SELECT doc_id, tokens FROM tokd WHERE doc_id < 10
         |  UNION ALL SELECT doc_id, tokens[3:] AS tokens
         |    FROM tokd WHERE doc_id >= 10 AND doc_id < 20
         |  UNION ALL SELECT doc_id, list_transform(tokens, tk -> tk + 50000) AS tokens
         |    FROM tokd WHERE doc_id >= 20 AND doc_id < 30),
         |wt AS (SELECT doc_id, list_transform(tokens, t -> t::VARCHAR) AS ws FROM tr),
         |wb AS (SELECT doc_id, list_transform(tokens, t -> t::VARCHAR) AS ws FROM be),
         |sht AS (SELECT doc_id, $shingle3 AS sh FROM wt),
         |shb AS (SELECT doc_id, $shingle3 AS sh FROM wb),
         |tsig AS (SELECT doc_id, $sig FROM sht),
         |bsig AS (SELECT doc_id, $sig FROM shb),
         |tband AS (SELECT doc_id AS train_id, unnest([$bandList]) AS bucket FROM tsig),
         |bband AS (SELECT doc_id AS bench_id, unnest([$bandList]) AS bucket FROM bsig),
         |cand AS (SELECT DISTINCT train_id, bench_id FROM tband JOIN bband USING (bucket))
         |SELECT train_id, bench_id, ($agree)::BIGINT AS n_agree,
         | round(($agree)::DOUBLE / 16.0, 6) AS est_jaccard
         |FROM cand JOIN tsig t ON cand.train_id = t.doc_id
         |          JOIN bsig b ON cand.bench_id = b.doc_id
         |WHERE ($agree) >= 8 ORDER BY train_id, bench_id""".stripMargin
    },

    "p40_nb_classifier" -> nbClassifierOracle,

    "p46_classifier_pr" ->
      // precision/recall sweep over the SAME NB scoring (shared oracle
      // fragment) — counts are exact integers per threshold, ratios are
      // single-row divisions of exact ints
      s"""WITH lab AS (SELECT doc_id, (text LIKE '%spark%') AS y FROM documents),
         |j AS (SELECT b.score6, lab.y FROM ($nbClassifierOracle) b
         |      JOIN lab USING (doc_id)),
         |g AS (SELECT score6, y, thr FROM j CROSS JOIN unnest(range(-20, 25, 5)) u(thr)),
         |agg AS (SELECT thr,
         |  sum(CASE WHEN score6 >= thr AND y THEN 1 ELSE 0 END)::BIGINT AS tp,
         |  sum(CASE WHEN score6 >= thr AND NOT y THEN 1 ELSE 0 END)::BIGINT AS fp,
         |  sum(CASE WHEN score6 < thr AND y THEN 1 ELSE 0 END)::BIGINT AS fn
         |  FROM g GROUP BY thr)
         |SELECT thr::BIGINT AS thr, tp, fp, fn,
         |  round(tp::DOUBLE / nullif((tp + fp)::DOUBLE, 0), 6) AS precision6,
         |  round(tp::DOUBLE / nullif((tp + fn)::DOUBLE, 0), 6) AS recall6
         |FROM agg ORDER BY thr""".stripMargin,


    "p41_tfidf_keywords" ->
      """WITH w0 AS (SELECT doc_id, unnest(list_filter(
        |         string_split_regex(lower(trim(text)), '\s+'),
        |         x -> len(x) > 0)) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
        |       FROM w0 GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |s AS (SELECT doc_id, term, tf, df,
        |        tf::DOUBLE * ln(n_docs::DOUBLE / df::DOUBLE) AS score,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY tf::DOUBLE * ln(n_docs::DOUBLE / df::DOUBLE) DESC,
        |          term) AS rank
        |      FROM tf JOIN dfq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df, round(score, 6) AS score6,
        |  rank::BIGINT AS rank
        |FROM s WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "p42_dsir_weights" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |tw AS (SELECT doc_id, unnest(list_filter(
        |         string_split_regex(lower(trim(text)), '\s+'),
        |         x -> len(x) > 0)) AS w FROM d),
        |bk AS (SELECT doc_id,
        |         ((('0x' || substr(md5('0:' || w), 1, 8))::BIGINT % 64))::INT AS b
        |       FROM tw),
        |tgt AS (SELECT bk.b, count(*)::BIGINT AS ct FROM bk JOIN d USING (doc_id)
        |        WHERE d.text LIKE '%vector%' GROUP BY bk.b),
        |raw AS (SELECT b, count(*)::BIGINT AS cr FROM bk GROUP BY b),
        |spine AS (SELECT unnest(range(64))::INT AS b),
        |c AS (SELECT spine.b, coalesce(ct, 0) AS ct, coalesce(cr, 0) AS cr
        |      FROM spine LEFT JOIN tgt USING (b) LEFT JOIN raw USING (b)),
        |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM c),
        |lam AS (SELECT b, ln((ct + 1)::DOUBLE / (nt + 64)::DOUBLE)
        |               - ln((cr + 1)::DOUBLE / (nr + 64)::DOUBLE) AS lam
        |        FROM c CROSS JOIN tot),
        |sc AS (SELECT bk.doc_id, count(*)::BIGINT AS n_tok, sum(lam.lam) AS s
        |       FROM bk JOIN lam USING (b) GROUP BY bk.doc_id)
        |SELECT d.doc_id, coalesce(sc.n_tok, 0)::BIGINT AS n_tok,
        |  round(coalesce(sc.s, 0.0), 6) AS log_weight6
        |FROM d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    "p44_zipf_fit" ->
      """WITH w0 AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> len(x) > 0)) AS w FROM documents),
        |f AS (SELECT w, count(*)::BIGINT AS c FROM w0 GROUP BY w),
        |tot AS (SELECT count(*)::BIGINT AS n_types, sum(c)::BIGINT AS n_tokens FROM f),
        |top AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rank
        |        FROM (SELECT * FROM f ORDER BY c DESC, w LIMIT 100) z),
        |t2 AS (SELECT round(ln(rank::DOUBLE), 9) AS x,
        |              round(ln(c::DOUBLE), 9) AS y FROM top),
        |t3 AS (SELECT x, y, round(x * x, 9) AS xx, round(x * y, 9) AS xy FROM t2),
        |s AS (SELECT count(*)::DOUBLE AS r,
        |  sum(x::DECIMAL(28,12))::DOUBLE AS sx, sum(y::DECIMAL(28,12))::DOUBLE AS sy,
        |  sum(xx::DECIMAL(28,12))::DOUBLE AS sxx, sum(xy::DECIMAL(28,12))::DOUBLE AS sxy
        |  FROM t3)
        |SELECT n_types, n_tokens, r::BIGINT AS n_ranks,
        |  round((r * sxy - sx * sy) / (r * sxx - sx * sx), 6) AS slope6,
        |  round((sy - ((r * sxy - sx * sy) / (r * sxx - sx * sx)) * sx) / r, 6) AS intercept6
        |FROM tot CROSS JOIN s""".stripMargin,

    "p45_incremental_dedup" ->
      """WITH ex AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
        |inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id + 200000, text FROM documents
        |    WHERE doc_id % 3 <> 0 AND doc_id < 10
        |  UNION ALL SELECT doc_id + 300000, text FROM documents
        |    WHERE doc_id % 3 = 0 AND doc_id < 10),
        |fpx AS (SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |        FROM ex),
        |fpi AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |        FROM inc),
        |fst AS (SELECT fp, min(doc_id) AS first_id FROM fpi GROUP BY fp),
        |cls AS (SELECT doc_id, fpi.fp AS fp,
        |  CASE WHEN fpi.fp IN (SELECT fp FROM fpx) THEN 'dup_existing'
        |       WHEN doc_id <> first_id THEN 'dup_incoming'
        |       ELSE 'new' END AS status
        |  FROM fpi JOIN fst ON fpi.fp = fst.fp)
        |SELECT doc_id, fp, status, (status = 'new') AS keep
        |FROM cls ORDER BY doc_id""".stripMargin,

    "p43_textrank" -> {
      // identical fixed-point rounds: base = 10^12 // N, contribution
      // (fp * w) // strength, damped update ((85 * Σ) // 100) — all
      // integer, so every intermediate matches the engine exactly
      val iters = 5
      val rounds = (1 to iters).map { i =>
        s"""c$i AS (SELECT e.dst AS word, sum((s.fp * e.w) // str.st)::BIGINT AS c
           |  FROM edges e JOIN s${i - 1} s ON s.word = e.src
           |  JOIN str ON str.src = e.src GROUP BY e.dst),
           |s$i AS (SELECT nodes.word,
           |  ((((1000000000000 // nn.n) * 15) // 100)
           |    + (85 * coalesce(c$i.c, 0)) // 100)::BIGINT AS fp
           |  FROM nodes CROSS JOIN nn
           |  LEFT JOIN c$i ON c$i.word = nodes.word)""".stripMargin
      }.mkString(",\n")
      s"""WITH d AS (SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |    x -> len(x) > 0) AS ws FROM documents),
         |pr AS (SELECT ws[i] AS a, ws[i + 1] AS b FROM d
         |  CROSS JOIN unnest(range(1, len(ws))) u(i) WHERE ws[i] <> ws[i + 1]),
         |e0 AS (SELECT a, b, count(*) AS n FROM pr GROUP BY a, b),
         |edges AS (SELECT src, dst, sum(n)::BIGINT AS w FROM (
         |    SELECT a AS src, b AS dst, n FROM e0
         |    UNION ALL SELECT b AS src, a AS dst, n FROM e0) ee GROUP BY src, dst),
         |str AS (SELECT src, sum(w)::BIGINT AS st FROM edges GROUP BY src),
         |nodes AS (SELECT DISTINCT src AS word FROM edges),
         |nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
         |s0 AS (SELECT word, (1000000000000 // nn.n)::BIGINT AS fp
         |       FROM nodes CROSS JOIN nn),
         |$rounds
         |SELECT rank, word, score_fp FROM (
         |  SELECT word, fp AS score_fp,
         |    (row_number() OVER (ORDER BY fp DESC, word))::BIGINT AS rank
         |  FROM s$iters) r WHERE rank <= 20 ORDER BY rank""".stripMargin
    },

    "p36_bpe_merges" -> {
      val k = 6
      val stages = (1 to k).map { i =>
        s"""p$i AS (SELECT l, r, sum(freq) AS n FROM (
           |  SELECT freq, syms[i] AS l, syms[i + 1] AS r FROM
           |    (SELECT freq, regexp_extract_all(s, '⟨([^⟩]*)⟩', 1) AS syms FROM t${i - 1}) sy
           |    CROSS JOIN unnest(range(1, len(syms))) u(i)) pp GROUP BY l, r),
           |b$i AS (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
           |t$i AS (SELECT replace(t${i - 1}.s, '⟨' || b.l || '⟩⟨' || b.r || '⟩',
           |                       '⟨' || b.l || b.r || '⟩') AS s, freq
           |        FROM t${i - 1} CROSS JOIN b$i b)""".stripMargin
      }.mkString(",\n")
      val union = (1 to k).map(i =>
        s"SELECT $i AS merge_rank, l AS lhs, r AS rhs, l || r AS merged, n::BIGINT AS freq FROM b$i")
        .mkString("\nUNION ALL ")
      s"""WITH ww AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |    x -> len(x) > 0)) AS w FROM documents),
         |w0 AS (SELECT w, count(*) AS freq FROM ww
         |       WHERE w NOT LIKE '%⟨%' AND w NOT LIKE '%⟩%' GROUP BY w),
         |t0 AS (SELECT '⟨' || array_to_string(
         |    list_append(regexp_extract_all(w, '.'), '</w>'), '⟩⟨') || '⟩' AS s, freq FROM w0),
         |$stages
         |SELECT * FROM ($union) ORDER BY merge_rank""".stripMargin
    },

    "p37_bpe_segment" -> {
      val k = 6
      val stages = (1 to k).map { i =>
        s"""p$i AS (SELECT l, r, sum(freq) AS n FROM (
           |  SELECT freq, syms[i] AS l, syms[i + 1] AS r FROM
           |    (SELECT freq, regexp_extract_all(s, '⟨([^⟩]*)⟩', 1) AS syms FROM t${i - 1}) sy
           |    CROSS JOIN unnest(range(1, len(syms))) u(i)) pp GROUP BY l, r),
           |b$i AS (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
           |t$i AS (SELECT replace(t${i - 1}.s, '⟨' || b.l || '⟩⟨' || b.r || '⟩',
           |                       '⟨' || b.l || b.r || '⟩') AS s, freq
           |        FROM t${i - 1} CROSS JOIN b$i b)""".stripMargin
      }.mkString(",\n")
      val bracketed =
        "'⟨' || array_to_string(list_append(regexp_extract_all(w, '.'), '</w>'), '⟩⟨') || '⟩'"
      val chain = (1 to k).foldLeft(bracketed) { (acc, i) =>
        s"replace($acc, '⟨' || (SELECT l FROM b$i) || '⟩⟨' || (SELECT r FROM b$i) || '⟩', " +
          s"'⟨' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || '⟩')"
      }
      s"""WITH ww AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |    x -> len(x) > 0)) AS w FROM documents),
         |w0 AS (SELECT w, count(*) AS freq FROM ww
         |       WHERE w NOT LIKE '%⟨%' AND w NOT LIKE '%⟩%' GROUP BY w),
         |t0 AS (SELECT '⟨' || array_to_string(
         |    list_append(regexp_extract_all(w, '.'), '</w>'), '⟩⟨') || '⟩' AS s, freq FROM w0),
         |$stages,
         |d AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |    x -> len(x) > 0) AS ws FROM documents),
         |tok AS (SELECT doc_id, unnest(ws) AS w,
         |        unnest(range(1, len(ws) + 1)) AS pos FROM d WHERE len(ws) > 0),
         |seg AS (SELECT doc_id, pos,
         |  regexp_extract_all($chain, '⟨([^⟩]*)⟩', 1) AS syms FROM tok)
         |SELECT doc_id, sum(len(syms))::BIGINT AS n_subtok,
         | md5(string_agg(array_to_string(syms, ' '), ' ' ORDER BY pos)) AS sub_md5
         |FROM seg GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "p35_block_dedup_apply" ->
      // tail-inclusive blocks (DuckDB list slicing clamps at the end like
      // Spark's slice), first occurrence per block under (doc_id, bidx),
      // ordered reassembly; dedup keys on the block TEXT (the engine's md5
      // fingerprint is collision-free at 128 bits)
      """WITH all_docs AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 100),
        |d AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |  x -> len(x) > 0) AS ws FROM all_docs),
        |b AS (SELECT doc_id, i AS bidx,
        |  array_to_string(ws[i*10+1 : i*10+10], ' ') AS block
        | FROM d CROSS JOIN unnest(range(0, (len(ws) + 9) // 10)) t(i)
        | WHERE len(ws) > 0),
        |r AS (SELECT doc_id, bidx, block,
        |  row_number() OVER (PARTITION BY block ORDER BY doc_id, bidx) AS rn FROM b),
        |tot AS (SELECT doc_id, count(*) AS n_blocks FROM b GROUP BY doc_id),
        |reb AS (SELECT doc_id,
        |  string_agg(block, ' ' ORDER BY bidx) AS clean_text,
        |  count(*) AS n_blocks_kept
        | FROM r WHERE rn = 1 GROUP BY doc_id)
        |SELECT tot.doc_id, md5(coalesce(reb.clean_text, '')) AS clean_md5,
        | tot.n_blocks::BIGINT AS n_blocks,
        | coalesce(reb.n_blocks_kept, 0)::BIGINT AS n_blocks_kept
        |FROM tot LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin,

    "p23_seq_packing" ->
      """WITH t AS (SELECT doc_id,
        |  len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0))::BIGINT AS n_tok
        | FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |  coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM t)
        |SELECT doc_id, n_tok, (cb // 1024)::BIGINT AS start_bin,
        | (cb % 1024)::BIGINT AS bin_offset,
        | (CASE WHEN n_tok = 0 THEN 0
        |  ELSE (cb + n_tok - 1) // 1024 - cb // 1024 + 1 END)::BIGINT AS bins_spanned
        |FROM c ORDER BY doc_id""".stripMargin,

    "p17_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS ch FROM documents),
        |cnt AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(c) AS n, count(*) AS n_distinct_chars FROM cnt GROUP BY 1)
        |SELECT cnt.doc_id, n_distinct_chars,
        | round(-sum((c::DOUBLE / n::DOUBLE) * ln(c::DOUBLE / n::DOUBLE)), 6) AS entropy6
        |FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    "q14_range_join" ->
      """WITH w(window_id, w_start, w_end) AS (VALUES
        |  (1, TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-02 00:00:00'),
        |  (2, TIMESTAMP '2024-01-01 12:00:00', TIMESTAMP '2024-01-03 06:00:00'),
        |  (3, TIMESTAMP '2024-01-05 00:00:00', TIMESTAMP '2024-01-05 00:30:00'),
        |  (4, TIMESTAMP '2024-01-10 00:00:00', TIMESTAMP '2024-01-17 00:00:00'),
        |  (5, TIMESTAMP '2024-02-01 00:00:00', TIMESTAMP '2024-02-01 00:00:00')),
        |j AS (SELECT window_id, event_id FROM events JOIN w
        |      ON ts >= w_start AND ts < w_end)
        |SELECT window_id::BIGINT AS window_id, count(*) AS n_events,
        |  min(event_id) AS first_event, max(event_id) AS last_event,
        |  sum(event_id)::BIGINT AS sum_event_ids
        |FROM j GROUP BY window_id ORDER BY window_id""".stripMargin,

    "q13_asof_join" ->
      """WITH ord AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |             FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, o.o_orderkey AS asof_o_orderkey
        |FROM events e ASOF LEFT JOIN ord o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,

    "v29_rulepack_yaml" ->
      // same semantics as v01, arrived at through the YAML front door
      """SELECT * FROM (
        | SELECT '/l_quantity' AS path, 'maximum' AS rule_id, count(*) AS n_violations FROM lineitem WHERE l_quantity > 45
        | UNION ALL SELECT '/l_quantity', 'minimum', count(*) FROM lineitem WHERE l_quantity < 1
        | UNION ALL SELECT '/l_discount', 'maximum', count(*) FROM lineitem WHERE l_discount > 0.05
        | UNION ALL SELECT '/l_tax', 'maximum', count(*) FROM lineitem WHERE l_tax > 0.1
        | UNION ALL SELECT '/l_returnflag', 'enum', count(*) FROM lineitem WHERE l_returnflag NOT IN ('A','N')
        | UNION ALL SELECT '/l_linestatus', 'enum', count(*) FROM lineitem WHERE l_linestatus NOT IN ('O','F')
        |) t WHERE n_violations > 0 ORDER BY path, rule_id""".stripMargin,

    "v30_rulepack_bundle" ->
      // same semantics as v02, arrived at through encode → re-parse
      """SELECT * FROM (
        | SELECT o_orderkey, '/o_orderstatus' AS path, 'enum' AS rule_id, o_orderstatus AS observed
        |  FROM orders WHERE o_orderstatus NOT IN ('O','F')
        | UNION ALL
        | SELECT o_orderkey, '/o_orderpriority', 'pattern', o_orderpriority
        |  FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-')
        |) t ORDER BY o_orderkey, path""".stripMargin,

    "v31_coerce_defaults" ->
      """WITH all_ev AS (
        | SELECT event_id, props FROM events
        | UNION ALL SELECT * FROM (VALUES (900001, '{}'), (900002, '{"z": 9}')) AS t(event_id, props)),
        |parsed AS (SELECT event_id,
        |  CAST(NULLIF(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1), '') AS INTEGER) AS k FROM all_ev)
        |SELECT event_id, COALESCE(k, 50) AS k_coerced FROM parsed ORDER BY event_id""".stripMargin,

    "v32_joi_pack" ->
      """SELECT * FROM (
        | SELECT c_custkey, '/c_acctbal' AS path, 'minimum' AS rule_id,
        |   CAST(c_acctbal AS VARCHAR) || ' < minimum(0)' AS message,
        |   CAST(c_acctbal AS VARCHAR) AS observed
        |  FROM customer WHERE c_acctbal < 0
        | UNION ALL SELECT c_custkey, '/c_name', 'pattern',
        |   'String does not match ^Customer#.', c_name
        |  FROM customer WHERE NOT regexp_matches(c_name, '^Customer#')
        |) t ORDER BY c_custkey, path""".stripMargin,

    "v28_skew_report" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events
        |           WHERE user_id IS NOT NULL GROUP BY user_id),
        |t AS (SELECT sum(n)::DOUBLE AS total FROM c)
        |SELECT user_id, n, round(n::DOUBLE / (SELECT total FROM t), 6) AS share6
        |FROM c ORDER BY n DESC, user_id LIMIT 10""".stripMargin,

    "v27_rulepack_e2e" ->
      // identical semantics to v02, arrived at through parse + $ref
      // resolution instead of the Scala rule ADT
      """SELECT * FROM (
        | SELECT o_orderkey, '/o_orderstatus' AS path, 'enum' AS rule_id, o_orderstatus AS observed
        |  FROM orders WHERE o_orderstatus NOT IN ('O','F')
        | UNION ALL
        | SELECT o_orderkey, '/o_orderpriority', 'pattern', o_orderpriority
        |  FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-')
        |) t ORDER BY o_orderkey, path""".stripMargin,

    "v26_verdict_by_source" ->
      """WITH f AS (SELECT source,
        |  CASE WHEN lang NOT IN ('en','de') OR n_chars > 500 THEN 1 ELSE 0 END AS failed
        | FROM documents)
        |SELECT source, count(*) AS n_rows,
        | sum(failed)::BIGINT AS n_failed,
        | (count(*) - sum(failed))::BIGINT AS n_passed,
        | CASE WHEN sum(failed) = 0 THEN 'pass' ELSE 'fail' END AS verdict
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    "m02_frame_sample" ->
      """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |f AS (SELECT doc_id, n,
        |  unnest(range(0, CAST(ceil(n::DOUBLE / 16) AS BIGINT))) AS frame_idx FROM b)
        |SELECT doc_id, frame_idx,
        | least(16, n - frame_idx * 16)::BIGINT AS frame_bytes
        |FROM f WHERE frame_idx % 4 = 0 ORDER BY doc_id, frame_idx""".stripMargin,

    "p18_vocab_topk" ->
      """WITH w AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |  x -> len(x) > 0)) AS word FROM documents)
        |SELECT word, count(*) AS n FROM w GROUP BY word
        |ORDER BY n DESC, word LIMIT 100""".stripMargin,

    "v25_uri_battery" -> {
      import graft.functions.Formats
      // the RFC3986 split regex (all-optional groups: matches any string)
      val P = """^(([^:/?#]+):)?(//([^/?#]*))?([^?#]*)(\?([^#]*))?(#(.*))?"""
      def g(i: Int) = s"regexp_extract(s, '$P', $i)"
      val hasAuth = """regexp_matches(s, '^([^:/?#]+:)?//')"""
      val uriref =
        s"""((len(${g(2)}) > 0 OR NOT $hasAuth OR len(${g(4)}) = 0)
           | AND (regexp_matches(s, '#') OR len(${g(5)}) > 0 OR len(${g(2)}) > 0)
           | AND (len(${g(2)}) = 0 OR regexp_matches(${g(2)}, '^[A-Za-z][A-Za-z0-9+\\-.]*$$'))
           | AND NOT regexp_matches(s, '%[^0-9A-Fa-f]')
           | AND NOT regexp_matches(s, '%[0-9A-Fa-f]([^0-9A-Fa-f]|$$)')
           | AND CASE WHEN $hasAuth AND len(${g(4)}) > 0
           |      THEN (len(${g(5)}) = 0 OR regexp_matches(${g(5)}, '^/'))
           |      ELSE NOT regexp_matches(${g(5)}, '^//') END)""".stripMargin
      val iriSql = s"(regexp_matches(s, '^\\w+:') AND $uriref)"
      val emailAtom = "[a-zA-Z0-9_!#$%&''*+/=?^`{}~|\\-]+"
      val emailRe = s"^(?:$emailAtom(?:\\.$emailAtom)*)@(?:$emailAtom(?:\\.$emailAtom)*)$$"
      s"""SELECT id, s,
         | (NOT regexp_matches(s, '[^\\x00-\\x7F]')
         |  AND regexp_matches(s, '^[A-Za-z][A-Za-z0-9+\\-.]*:') AND $uriref) AS is_uri,
         | $uriref AS is_uriref,
         | $iriSql AS is_iri,
         | $iriSql AS is_uritmpl,
         | ((len(s) BETWEEN 1 AND 253 AND regexp_matches(s, '${Formats.hostnameLabelsRe}'))
         |  OR regexp_matches(s, '^[^\\x00-\\x7F].*')) AS is_idnhost,
         | (regexp_matches(s, '$emailRe')
         |  OR (regexp_matches(s, '^[^@]+@[^@]+$$') AND regexp_matches(s, '[^\\x00-\\x7F]'))) AS is_idnemail
         |FROM (VALUES (1,'http://example.com/a/b?x=1#frag'),(2,'/relative/path'),
         | (3,'//host/path'),(4,'http://ex%zzample.com'),(5,'ht tp://x'),
         | (6,'mailto:user@example.com'),(7,'pré/vu'),(8,'x:'),
         | (9,'#frag'),(10,''),(11,'http://ex.com/{id}'),
         | (12,'ünchen.example'),(13,'example.com'),
         | (14,'üser@example.com'),(15,'user@@double.at')) AS t(id, s)
         |ORDER BY id""".stripMargin
    },

    "v24_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_quantity, 0.25), 6) AS p25,
        | round(quantile_cont(l_quantity, 0.50), 6) AS p50,
        | round(quantile_cont(l_quantity, 0.75), 6) AS p75,
        | round(quantile_cont(l_quantity, 0.95), 6) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "v23_pattern_props" ->
      """WITH all_ev AS (
        | SELECT event_id, props FROM events
        | UNION ALL SELECT * FROM (VALUES
        |  (900001, '{"k": 50, "x_a": 3, "x_b": 99}'),
        |  (900002, '{"x_ok": 42}'),
        |  (900003, '{"y": 1}')) AS t(event_id, props)),
        |xkv AS (SELECT event_id,
        |  unnest(regexp_extract_all(props, '"(x_[^"]*)"\s*:\s*(-?\d+)', 1)) AS key,
        |  unnest(regexp_extract_all(props, '"(x_[^"]*)"\s*:\s*(-?\d+)', 2))::INT AS v
        | FROM all_ev),
        |kkv AS (SELECT event_id,
        |  unnest(regexp_extract_all(props, '"([^"]*k)"\s*:\s*(-?\d+)', 1)) AS key,
        |  unnest(regexp_extract_all(props, '"([^"]*k)"\s*:\s*(-?\d+)', 2))::INT AS v
        | FROM all_ev)
        |SELECT * FROM (
        | SELECT event_id, '/' || key AS path, 'minimum' AS rule_id,
        |   v::VARCHAR || ' < minimum(10)' AS message, v::VARCHAR AS observed
        |  FROM xkv WHERE v < 10
        | UNION ALL SELECT event_id, '/' || key, 'maximum',
        |   v::VARCHAR || ' > maximum(80)', v::VARCHAR FROM xkv WHERE v > 80
        | UNION ALL SELECT event_id, '/' || key, 'maximum',
        |   v::VARCHAR || ' > maximum(90)', v::VARCHAR FROM kkv WHERE v > 90
        |) t ORDER BY event_id, path, rule_id""".stripMargin,

    "v21_tuple_items" ->
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS ws FROM documents)
        |SELECT * FROM (
        | SELECT doc_id, '/0' AS path, 'minLength' AS rule_id,
        |   'String is too short: ' || len(ws[1])::VARCHAR || '/2.' AS message
        |  FROM w WHERE len(ws) >= 1 AND len(ws[1]) < 2
        | UNION ALL SELECT doc_id, '/1', 'pattern', 'String does not match ^[a-z].'
        |  FROM w WHERE len(ws) >= 2 AND NOT regexp_matches(ws[2], '^[a-z]')
        | UNION ALL SELECT doc_id, '/', 'additionalItems',
        |   'Invalid number of items: ' || len(ws)::VARCHAR || '/2.'
        |  FROM w WHERE len(ws) > 2
        |) t ORDER BY doc_id, path, rule_id""".stripMargin,

    "v22_map_dependencies" ->
      """WITH all_ev AS (
        | SELECT event_id, props FROM events
        | UNION ALL SELECT * FROM (VALUES
        |  (900001, '{"k": 5, "k2": 9}'),
        |  (900002, '{"z": 1}'),
        |  (900003, '{"k": 7}')) AS t(event_id, props)),
        |has AS (SELECT event_id,
        |  regexp_matches(props, '"k"\s*:') AS has_k,
        |  regexp_matches(props, '"k2"\s*:') AS has_k2 FROM all_ev)
        |SELECT event_id, '/k2' AS path, 'dependencies' AS rule_id,
        | 'Missing property. Dependee: k.' AS message, 'null' AS observed
        |FROM has WHERE has_k AND NOT has_k2 ORDER BY event_id""".stripMargin,

    "v20_numeric_battery" ->
      """SELECT * FROM (
        | SELECT l_orderkey, l_linenumber, '/l_quantity' AS path, 'multipleOf' AS rule_id,
        |   'Not multiple of 7.' AS message, CAST(l_quantity AS VARCHAR) AS observed
        |  FROM lineitem
        |  WHERE l_quantity >= 40
        |    AND NOT (abs(l_quantity/7 - round(l_quantity/7, 0)) < 1e-9 * greatest(abs(l_quantity/7), 1.0))
        | UNION ALL SELECT l_orderkey, l_linenumber, '/l_discount', 'ex_maximum',
        |   CAST(l_discount AS VARCHAR) || ' >= maximum(0.07)', CAST(l_discount AS VARCHAR)
        |  FROM lineitem WHERE l_quantity >= 40 AND NOT (l_discount < 0.07)
        | UNION ALL SELECT l_orderkey, l_linenumber, '/l_linenumber', 'ex_minimum',
        |   CAST(l_linenumber AS VARCHAR) || ' <= minimum(2)', CAST(l_linenumber AS VARCHAR)
        |  FROM lineitem WHERE l_quantity >= 40 AND NOT (l_linenumber > 2)
        |) t ORDER BY l_orderkey, l_linenumber, path""".stripMargin,

    "v19_array_battery" ->
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS ws FROM documents),
        |m AS (SELECT doc_id, ws, len(list_filter(ws, x -> regexp_matches(x, '^the$'))) AS n_the FROM w)
        |SELECT * FROM (
        | SELECT doc_id, '/' AS path, 'minItems' AS rule_id,
        |   'Not enough items: ' || len(ws)::VARCHAR || '/5.' AS message FROM w WHERE len(ws) < 5
        | UNION ALL SELECT doc_id, '/', 'maxItems',
        |   'Too many items: ' || len(ws)::VARCHAR || '/60.' FROM w WHERE len(ws) > 60
        | UNION ALL SELECT doc_id, '/', 'uniqueItems', 'Unique items required.'
        |  FROM w WHERE len(list_distinct(ws)) <> len(ws)
        | UNION ALL SELECT doc_id, '/', 'minContains',
        |   'Contains not enough items: ' || n_the::VARCHAR || '/1.' FROM m WHERE n_the < 1
        | UNION ALL SELECT doc_id, '/', 'maxContains',
        |   'Contains too many items: ' || n_the::VARCHAR || '/10.' FROM m WHERE n_the > 10
        | UNION ALL SELECT doc_id, '/' || i::VARCHAR, 'maxLength',
        |   'String is too long: ' || len(word)::VARCHAR || '/12.'
        |  FROM (SELECT doc_id, unnest(ws) AS word, unnest(range(0, len(ws))) AS i FROM w) u
        |  WHERE len(word) > 12
        |) t ORDER BY doc_id, path, rule_id, message""".stripMargin,

    "v18_format_battery2" -> {
      import graft.functions.Formats
      val dtRe = "^(\\d{4})-(\\d\\d)-(\\d\\d)[Tt ](\\d\\d):(\\d\\d):(\\d\\d)(\\.\\d+)?([Zz]|[+-]\\d\\d:\\d\\d)?$"
      val h = "[0-9A-Fa-f]{1,4}"
      s"""SELECT id, s,
         | regexp_matches(s, '${Formats.durationRe}') AS is_duration,
         | (len(s) BETWEEN 1 AND 253 AND regexp_matches(s, '${Formats.hostnameLabelsRe}')) AS is_hostname,
         | ((regexp_matches(s, '^($h:){7}$h$$')
         |   OR (regexp_matches(s, '^(($h:)*$h)?::(($h:)*$h)?$$') AND NOT regexp_matches(s, '::.*::')))
         |  AND NOT regexp_matches(s, ':::')) AS is_ipv6,
         | (regexp_matches(s, '^-?\\d+(\\.\\d+)?$$') AND regexp_matches(s, '^-?\\d+(\\.0*)?$$')
         |  AND len(regexp_replace(s, '\\.\\d+$$', '')) <= 30
         |  AND try_cast(regexp_replace(s, '\\.\\d+$$', '') AS DECIMAL(38,0))
         |      BETWEEN -2147483648 AND 2147483647) AS is_int32,
         | (regexp_matches(s, '^-?\\d+(\\.\\d+)?$$') AND regexp_matches(s, '^-?\\d+(\\.0*)?$$')
         |  AND len(regexp_replace(s, '\\.\\d+$$', '')) <= 30
         |  AND try_cast(regexp_replace(s, '\\.\\d+$$', '') AS DECIMAL(38,0))
         |      BETWEEN -9223372036854775808 AND 9223372036854775807) AS is_int64,
         | regexp_matches(s, '^\\d+(#$$|$$|/.*$$)') AS is_relptr,
         | (regexp_matches(s, '$dtRe')
         |  AND NOT regexp_matches(s, '[+-](2[4-9]|[3-9]\\d):\\d\\d$$')
         |  AND NOT regexp_matches(s, '[+-]\\d\\d:(6\\d|[7-9]\\d)$$')
         |  AND try_cast(regexp_extract(s, '$dtRe', 1) || '-' || regexp_extract(s, '$dtRe', 2)
         |        || '-' || regexp_extract(s, '$dtRe', 3) AS DATE) IS NOT NULL
         |  AND regexp_extract(s, '$dtRe', 4) < '24' AND regexp_extract(s, '$dtRe', 5) < '60'
         |  AND regexp_extract(s, '$dtRe', 6) <= '60') AS is_datetime
         |FROM (VALUES (1,'P1Y2M3DT4H5M6S'),(2,'P'),(3,'PT0.5S'),(4,'P3W'),
         | (5,'example.com'),(6,'-bad.example'),(7,repeat('a.', 130) || 'a'),
         | (8,'2001:db8::1'),(9,'1:2:3:4:5:6:7:8'),(10,':::'),(11,'1::2::3'),
         | (12,'2147483647'),(13,'2147483648'),
         | (14,'9223372036854775807'),(15,'9223372036854775808'),
         | (16,'0#'),(17,'1/foo'),(18,'#/x'),
         | (19,'2024-02-29T23:59:60Z'),(20,'2024-02-29T24:00:00Z'),
         | (21,'2024-06-01 12:30:00+05:30'),(22,'2024-06-01T12:30:00+24:00')) AS t(id, s)
         |ORDER BY id""".stripMargin
    }
  )
}
