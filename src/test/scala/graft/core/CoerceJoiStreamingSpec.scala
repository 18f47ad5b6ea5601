package graft.core

import graft.SparkSuite
import graft.core.Coerce._
import graft.joi.joi
import graft.streaming.StreamingValidate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Coercion projections (t/coerce.t analogs), the Joi fluent builder
  * (t/joi.t analogs) and the Structured Streaming surface. */
class CoerceJoiStreamingSpec extends SparkSuite {
  import spark.implicits._

  test("pack defaults auto-extract, through $refs (t/coerce-default.t)") {
    val pack = JValue.parse(
      """{"$schema": "http://json-schema.org/draft-04/schema#",
        | "type": "object",
        | "definitions": {"subscribed_to": {"type": "array", "default": []}},
        | "properties": {"tos": {"type": "boolean", "default": false},
        |                "subscribed_to": {"$ref": "#/definitions/subscribed_to"}}}""".stripMargin)
    val df = Seq((Option.empty[Boolean], Option.empty[Seq[String]]),
      (Some(true), Option.empty[Seq[String]])).toDF("tos", "subscribed_to")
    val repaired = Coerce.withPackDefaults(df, pack)
    val rows = repaired.orderBy(col("tos").asc_nulls_first)
      .as[(Boolean, Seq[String])].collect().toSeq
    // row 1: both defaulted (tos=false, subscribed_to=[]); row 2: tos kept
    assert(rows === Seq(false -> Seq.empty, true -> Seq.empty))
    // 'defaults pass validation'
    assert(Violations.validate(repaired,
      graft.rulepack.RulePack.fromJson(pack), Seq()).count() === 0)
    // 'default values must be valid': a default that cannot inhabit the
    // typed column leaves it NULL, so validation still reports the problem
    val bad = JValue.parse(
      """{"type":"object","properties":{"age":{"type":"number","default":"invalid"}}}""")
    val rep2 = Coerce.withPackDefaults(Seq(Option.empty[Double]).toDF("age"), bad)
    assert(rep2.select("age").as[Option[Double]].head().isEmpty)
  }

  test("coerce numbers: '4.2' becomes 4.2, junk becomes null (t/coerce.t:13-28)") {
    val df = Seq(("4.2", "x"), ("007", "y"), ("nope", "z")).toDF("v", "k")
    val out = Coerce(df, Map("v" -> ToNumber)).select("v").as[Option[Double]].collect()
    // "007" fails the strict JSON-number regex, like the reference
    assert(out.toSeq === Seq(Some(4.2), None, None))
    // non-mutation: source df unchanged
    assert(df.select("v").as[String].collect().toSeq === Seq("4.2", "007", "nope"))
  }

  test("coerce booleans + defaults (Schema.pm:676-679, 752-755)") {
    val df = Seq(Some("true"), Some("0"), Some("x"), None).toDF("b")
    val out = Coerce(df, Map("b" -> ToBoolean)).select("b").as[Option[Boolean]].collect()
    assert(out.toSeq === Seq(Some(true), Some(false), None, None))

    val df2 = Seq(Some(5), None).toDF("n")
    val out2 = Coerce(df2, Map("n" -> WithDefault(JInt(42)))).select("n").as[Int].collect()
    assert(out2.toSeq === Seq(5, 42))
  }

  test("joi builder lowers to the same compiler (t/joi.t semantics)") {
    val rule = joi.obj.props(
      "age" -> joi.integer.min(0).max(200).required,
      "name" -> joi.string.min(2).alphanum.required).rule
    val ok = Seq((Some(30), Some("Nick"))).toDF("age", "name")
    assert(Violations.validate(ok, rule, Seq()).count() === 0)
    val bad = Seq((Some(300), Option.empty[String])).toDF("age", "name")
    val errs = Violations.sorted(Violations.validate(bad, rule, Seq()), Seq())
      .select("path", "message").as[(String, String)].collect().toSeq
    assert(errs === Seq("/age" -> "300 > maximum(200)", "/name" -> "Missing property."))
  }

  test("joi object min/max lower to min/maxProperties; positive/negative are inclusive (Joi.pm:75-79,145-146)") {
    // object min/max count properties, not values
    assert(joi.obj.min(2).rule === Rule.all(Seq(Rule.TypeIs(Seq("object")), Rule.MinProperties(2))))
    assert(joi.obj.max(3).rule === Rule.all(Seq(Rule.TypeIs(Seq("object")), Rule.MaxProperties(3))))
    // reference: positive = min(0), negative = max(0) — both accept 0
    val pos = joi.number.positive.rule
    assert(Violations.validateColumn(Seq(0.0).toDF("value"), pos, "value", Seq()).count() === 0)
    assert(Violations.validateColumn(Seq(-1.0).toDF("value"), pos, "value", Seq()).count() === 1)
    val neg = joi.number.negative.rule
    assert(Violations.validateColumn(Seq(0.0).toDF("value"), neg, "value", Seq()).count() === 0)
    assert(Violations.validateColumn(Seq(1.0).toDF("value"), neg, "value", Seq()).count() === 1)
  }

  test("joi string sugar: token/email/length") {
    val rule = joi.string.token.rule
    assert(Violations.validateColumn(Seq("ok_123").toDF("value"), rule, "value", Seq()).count() === 0)
    assert(Violations.validateColumn(Seq("no spaces!").toDF("value"), rule, "value", Seq()).count() === 1)
    val emailRule = joi.string.email.rule
    assert(Violations.validateColumn(Seq("a@b.co").toDF("value"), emailRule, "value", Seq()).count() === 0)
    assert(Violations.validateColumn(Seq("nope").toDF("value"), emailRule, "value", Seq()).count() === 1)
  }

  /** File-source streams need a directory: stage the single parquet file. */
  private lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("streaming: stateful exact dedup drops replays across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, String, java.sql.Timestamp)]
    val df = input.toDF().toDF("doc_id", "text", "ts")
    val out = StreamingValidate.dedupStream(df, "doc_id", "text", "ts")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // NOT epoch 0: the initial watermark is 0 and stateful operators
      // drop rows at-or-before it
      val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      input.addData(("a", "hello world", t), ("b", "hello world", t), ("c", "other", t))
      q.processAllAvailable()
      // replay in a LATER micro-batch is dropped by state, fresh content passes
      input.addData(("d", "hello world", t), ("e", "fresh", t))
      q.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
      val keys = rows.map(_.getString(0)).toSet
      assert(rows.length === 3) // one per distinct fingerprint
      assert(keys.contains("c") && keys.contains("e"))
      assert(!keys.contains("d")) // cross-batch replay dropped
      assert((keys -- Set("c", "e")).subsetOf(Set("a", "b"))) // in-batch dup: first wins
    } finally q.stop()
  }

  test("streaming sessionization: sessions merge across micro-batches, tail emits on timeout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val df = input.toDF().toDF("user_id", "ts", "event_id")
    val out = StreamingValidate.sessionizeStream(df, "user_id", "ts", "event_id",
      gapSeconds = 60L, watermark = "1 second")
    val q = out.toDF().writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      // batch 1: two events of one session for key 1
      input.addData((1L, t("2024-01-01 00:00:00"), 1L), (1L, t("2024-01-01 00:00:30"), 2L))
      q.processAllAvailable()
      // batch 2: CONTINUES the same session (gap 30 s < 60 s) across the
      // batch boundary, then a 2nd session after a 10-minute gap
      input.addData((1L, t("2024-01-01 00:01:00"), 3L), (1L, t("2024-01-01 00:11:00"), 4L))
      q.processAllAvailable()
      // batch 3: another key far in the future pushes the watermark past
      // every open timeout → key 1's tail session emits via timeout
      input.addData((2L, t("2024-01-01 06:00:00"), 5L))
      q.processAllAvailable()
      input.addData((2L, t("2024-01-01 12:00:00"), 6L))
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .select("key", "start_us", "end_us", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      def us(s: String) = t(s).getTime * 1000L
      // the batch-1+2 session is ONE session of 3 events, not two fragments
      assert(rows.contains((1L, us("2024-01-01 00:00:00"), us("2024-01-01 00:01:00"), 3L)))
      // the 10-minute-later single-event tail emitted via timeout
      assert(rows.contains((1L, us("2024-01-01 00:11:00"), us("2024-01-01 00:11:00"), 1L)))
    } finally q.stop()
  }

  test("streaming: row-local violations flow through a stream unchanged") {
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    assert(stream.isStreaming)

    val rule = Rule.Properties(Seq(
      "event_type" -> Rule.Enum(Seq(JStr("click"), JStr("view"), JStr("signup"), JStr("purchase"))),
      "value" -> Rule.Maximum(400)))
    val v = StreamingValidate.violations(stream, rule, Seq("event_id"))
    val q = v.writeStream.format("memory").queryName("sviol")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("sviol")
    val batch = spark.read.parquet(s"$dir/events.parquet")
    val want = StreamingValidate.violations(batch, rule, Seq("event_id"))
    assert(got.count() === want.count())
    assert(got.count() > 0)
    assert(got.except(want).count() === 0 && want.except(got).count() === 0)
  }

  test("streaming windowed verdicts equal the batch computation bit-exactly on closed windows") {
    // the e2e contract behind st01: the SAME windowedVerdicts computation
    // over the SAME events parquet, driven once as a file-source stream
    // (Trigger.AvailableNow) and once as a batch plan, must agree row-for-row
    // on every watermark-closed window — only the open tail may differ
    val dir = "/root/testdata/sf0.001"
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val rule = Rule.Properties(Seq("value" -> Rule.Maximum(450)))

    val q = StreamingValidate.windowedVerdicts(stream, rule, "ts", "5 minutes", "1 minute")
      .writeStream.format("memory").queryName("sverd_e2e")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sverd_e2e")

    val all = StreamingValidate.windowedVerdicts(batch, rule, "ts", "5 minutes", "1 minute")
    // every streaming row is bit-identical to its batch twin
    assert(got.except(all).count() === 0)
    // and the only batch rows the stream lacks are at the un-closed tail
    // (within watermark delay + one window of the max event time)
    val maxTs = batch.agg(max(col("ts"))).head().getTimestamp(0).getTime
    val tail = all.except(got)
    assert(tail.where(col("window_start").cast("long") * 1000 < maxTs - 60000L - 300000L).count() === 0)
    assert(got.count() > 100)
  }

  test("streaming stream-static referential equals the batch twin on closed windows") {
    // the e2e contract behind st07: same windowedReferential computation,
    // once as a file-source stream, once as a batch plan — the static
    // dimension side is identical in both, so closed windows must agree
    val dir = "/root/testdata/sf0.001"
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val dim = spark.read.parquet(s"$dir/customer.parquet")
      .where(pmod(col("c_custkey"), lit(7)) =!= 0)

    val q = StreamingValidate.windowedReferential(stream, dim, "user_id",
        "c_custkey", "ts", "5 minutes", "1 minute")
      .writeStream.format("memory").queryName("sref_e2e")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sref_e2e")

    val all = StreamingValidate.windowedReferential(batch, dim, "user_id",
      "c_custkey", "ts", "5 minutes", "1 minute")
    assert(got.except(all).count() === 0)
    val maxTs = batch.agg(max(col("ts"))).head().getTimestamp(0).getTime
    val tail = all.except(got)
    assert(tail.where(col("window_start").cast("long") * 1000 < maxTs - 60000L - 300000L).count() === 0)
    assert(got.count() > 100)
    // withheld keys really do surface: at least one closed window fails
    assert(got.where(col("verdict") === "fail").count() > 0)
  }

  test("stream-stream interval join emits exactly the batch self-join pairs") {
    // the e2e contract behind st08: inner stream-stream pairs emit on
    // match, so with AvailableNow the full set equals the batch twin —
    // not just the watermark-closed prefix
    val dir = "/root/testdata/sf0.001"
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
      .withColumn("ts", col("ts").cast("timestamp"))

    val q = StreamingValidate.intervalJoinPairs(stream, "ts", "user_id",
        "event_type", "event_id", "view", "purchase", 3600L, "30 minutes")
      .writeStream.format("memory").queryName("sij_e2e")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sij_e2e").select("key", "a_id", "b_id")
      .as[(Long, Long, Long)].collect().toSet

    val want = batch.as("a").join(batch.as("b"),
        col("a.user_id") === col("b.user_id") &&
        col("a.event_type") === "view" && col("b.event_type") === "purchase" &&
        col("b.ts") > col("a.ts") &&
        col("b.ts") <= col("a.ts") + expr("INTERVAL 3600 SECONDS"))
      .select(col("a.user_id"), col("a.event_id"), col("b.event_id"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("streaming windowed histograms equal the batch sketch; PSI composes on top") {
    // the drift-monitor contract behind st02: the stream emits per-window
    // (bin, n) counters; counts are exact ints, so closed windows must be
    // bit-identical to Drift.histogramByGroup over the same rows, and PSI
    // computed from the streamed sketch equals the batch psiByGroup
    val dir = "/root/testdata/sf0.001"
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
      .withColumn("ts", col("ts").cast("timestamp"))

    val q = StreamingValidate.windowedHistogram(stream, "ts", "value",
        "1 hour", "1 minute", lo = 0.0, hi = 500.0, bins = 10)
      .writeStream.format("memory").queryName("shist_e2e")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("shist_e2e")
      .select(col("window_start").cast("long").as("grp"), col("bin"), col("n"))

    val batchHist = graft.stats.Drift.histogramByGroup(
      batch.withColumn("grp", (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long")),
      "grp", "value", 0.0, 500.0, 10)
    // closed windows: streamed ⊆ batch, bit-identical rows
    assert(streamed.except(batchHist).count() === 0)
    assert(streamed.count() > 100)

    // PSI from the streamed sketch of one window == batch psiByGroup
    val someGrp = streamed.agg(min(col("grp"))).head().getLong(0)
    val winHist = streamed.where(col("grp") === someGrp).select("bin", "n")
    val globalHist = graft.stats.Drift.histogram(batch, "value", 0.0, 500.0, 10)
    val direct = graft.stats.Drift.psi(winHist, globalHist).as[Double].head()
    val byGroup = graft.stats.Drift.psiByGroup(
        batch.withColumn("grp", (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long")),
        "grp", "value", 0.0, 500.0, 10)
      .where(col("grp") === someGrp).select("psi").as[Double].head()
    assert(math.abs(direct - byGroup) < 1e-9)
  }

  test("streaming windowed t-digest: weight-exact counts, medians track batch within rank tol") {
    // the quantile-monitor contract behind st06: one KLL sketch per closed
    // window; its item count == the window's exact non-null count, and
    // the streamed median lands within the sketch's rank error of the
    // window's own rows (the sketch is randomized — the contract is
    // estimates, not bytes)
    val dir = "/root/testdata/sf0.001"
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
      .withColumn("ts", col("ts").cast("timestamp"))

    val q = StreamingValidate.windowedQuantileDigest(stream, "ts", "value",
        "1 hour", "1 minute")
      .writeStream.format("memory").queryName("sdig_e2e")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sdig_e2e")
      .select(col("window_start").cast("long").as("grp"),
        kll_sketch_get_n_double(col("digest")).cast("double").as("w"),
        graft.stats.QuantileSketch.quantile(col("digest"), 0.5).as("med"))
    assert(streamed.count() > 100)

    val grouped = batch.where(col("value").isNotNull)
      .withColumn("grp", (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long"))
    val exact = grouped.groupBy("grp").agg(
      count(lit(1)).as("n"),
      expr("percentile(value, 0.5D)").as("med_exact"))
    val joined = streamed.join(exact, "grp")
      .select(col("grp"), col("w"), col("n").cast("double").as("n"),
        col("med"), col("med_exact"))
      .collect()
    joined.foreach { r =>
      assert(r.getDouble(1) === r.getDouble(2), s"weight vs count at ${r.getLong(0)}")
    }
    // rank check of the streamed median against the window's rows. The
    // tolerance is max(0.02, 1/(2n)): half a sample of slack on a tiny
    // window (sf0.001 has 3-row windows).
    val meds = streamed.select("grp", "med")
    val ranks = grouped.join(broadcast(meds), "grp").groupBy("grp")
      .agg((sum((col("value") < col("med")).cast("long")) / count(lit(1))).as("lo"),
        (sum((col("value") <= col("med")).cast("long")) / count(lit(1))).as("hi"),
        count(lit(1)).as("n"))
      .collect()
    ranks.foreach { r =>
      val tol = math.max(0.02, 0.5 / r.getLong(3) + 1e-9)
      assert(r.getDouble(1) - tol <= 0.5 && 0.5 <= r.getDouble(2) + tol,
        s"median rank off at ${r.getLong(0)}: [${r.getDouble(1)}, ${r.getDouble(2)}] n=${r.getLong(3)}")
    }
  }

  test("streaming referential violations equal the batch anti-join (stream-static)") {
    // the referential rule class on a stream: the same broadcast anti-join
    // against the static dimension, micro-batch by micro-batch
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    val dim = spark.read.parquet(s"$dir/customer.parquet").where(col("c_custkey") < 8)

    val q = graft.global.Referential.violations(stream, "user_id", dim, "c_custkey")
      .select("event_id", "user_id")
      .writeStream.format("memory").queryName("sref_e2e")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sref_e2e")

    val batch = graft.global.Referential.violations(
        spark.read.parquet(s"$dir/events.parquet"), "user_id", dim, "c_custkey")
      .select("event_id", "user_id")
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("streaming: windowed verdicts with watermark") {
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // watermarks need TIMESTAMP (tz-aware); parquet infers TIMESTAMP_NTZ
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val rule = Rule.Properties(Seq("value" -> Rule.Maximum(490)))
    val wv = StreamingValidate.windowedVerdicts(stream, rule, "ts", "1 day", "1 hour")
    val q = wv.writeStream.format("memory").queryName("sverd")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    // append mode emits only watermark-closed windows; all but the last day close
    val rows = spark.table("sverd")
    assert(rows.count() >= 25)
    assert(rows.agg(sum("n_rows")).head().getLong(0) >= 900)
  }
}
