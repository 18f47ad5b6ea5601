package graft
package queries

import graft.core.Rule._
import graft.stats.{Drift, QuantileSketch}
import graft.streaming.StreamingValidate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming: file-source replays of the events table run to a memory
  * sink, plus their batch twins (st01-st09). */
object StreamingQueries {

  /** Replays the events table as a stream through `op`, runs it to
    * completion into a uniquely-named memory sink (AvailableNow + trailing
    * watermark batch) and returns the sink table.
    *
    * The events parquet is staged into a fresh temp DIRECTORY (the file
    * source watches a directory — exactly a streaming ingest drop-zone) and
    * opened as a file-source stream with a timestamp-typed `ts` (cast
    * BEFORE any watermark so the event-time tag survives). `op` gets that
    * stream and a reader for any static side.
    *
    * The stream runs in its own session (`newSession()`), so the caller's
    * session conf is never touched. Stateful-streaming sizing: shuffle
    * partitions fix the STATE STORE count for the query's lifetime, and
    * each store instance carries fixed per-batch overhead (delta file +
    * commit per partition per micro-batch). The replayed windows/keys here
    * hold kilobytes of state, so a CPU-width default (32) provisions 32
    * stores per stateful operator to shuffle a few hundred counter rows —
    * measured 2.1 s vs 1.0 s per run at [[StreamShufflePartitions]].
    * Results are partition-count-independent (exact counters and per-key
    * state; the st06 sketch's merge order shifts but its oracle pins only
    * rank-tolerance claims). Once the stream has stopped, the session takes
    * the caller's width back, so batch steps over the sink plan as they
    * would in the caller's session. */
  private def replayEvents(t: Tables, id: String)(op: (DataFrame, Tables) => DataFrame): DataFrame = {
    val own = t.spark.newSession()
    own.conf.set(ShufflePartitions, StreamShufflePartitions)
    val stage = java.nio.file.Files.createTempDirectory(s"${id}_events")
    stage.toFile.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${t.dir}/events.parquet"),
      stage.resolve("events.parquet"))
    stage.resolve("events.parquet").toFile.deleteOnExit()
    val schema = own.read.parquet(s"${t.dir}/events.parquet").schema
    val stream = own.readStream.schema(schema).parquet(stage.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    val sink = s"${id}_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = op(stream, t.in(own)).writeStream.format("memory").queryName(sink)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    own.conf.set(ShufflePartitions, t.spark.conf.get(ShufflePartitions))
    own.table(sink)
  }

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** State-store count of every replayed stream (see [[replayEvents]]). */
  private val StreamShufflePartitions = 8

  val all: Seq[Query] = Seq(

    Query("st03_stream_verdicts",
      // closed-window predicate: window_end ≤ max(ts) − 30 min, matching
      // the final watermark the no-data micro-batch applies
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |w AS (SELECT CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS ws,
        |  CASE WHEN value > 450 THEN 1 ELSE 0 END AS failed FROM events)
        |SELECT ws AS window_start, count(*) AS n_rows, sum(failed)::BIGINT AS n_failed,
        | CASE WHEN sum(failed) = 0 THEN 'pass' ELSE 'fail' END AS verdict
        |FROM w, mx WHERE ws + 3600 <= epoch(m) - 1800
        |GROUP BY ws ORDER BY ws""".stripMargin,
      floor = false) { t =>
      // ACTUAL streaming execution in the oracle gate: the events parquet is
      // replayed as a file-source stream (Trigger.AvailableNow, memory
      // sink); append mode emits exactly the watermark-CLOSED hourly
      // windows — final watermark = max(ts) − 30 min (the trailing no-data
      // micro-batch applies it), so the emitted set is deterministic and
      // the DuckDB oracle reproduces it with the same closed-window
      // predicate. Row values are bit-identical to the batch twin (pinned
      // by the streaming==batch e2e spec); this entry gates the STREAM.
      val rule = Properties(Seq("value" -> Maximum(450)))
      replayEvents(t, "st03")((stream, _) => StreamingValidate
          .windowedVerdicts(stream, rule, "ts", "1 hour", "30 minutes"))
        .select(col("window_start").cast("long").as("window_start"),
          col("n_rows"), col("n_failed"), col("verdict"))
        .orderBy("window_start")
    },

    Query("st04_stream_histogram",
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
      floor = false) { t =>
      // the drift monitor's sketch emitter gated as a REAL stream (same
      // harness as st03): hourly fixed-bin histogram counters, append mode
      // emits the watermark-closed windows; counts are exact integers so
      // the streamed sketch is bit-identical to the batch histogram
      replayEvents(t, "st04")((stream, _) => StreamingValidate
          .windowedHistogram(stream, "ts", "value", "1 hour", "30 minutes",
            lo = 0.0, hi = 500.0, bins = 10))
        .select(col("window_start").cast("long").as("window_start"),
          col("bin").cast("long").as("bin"), col("n"))
        .orderBy("window_start", "bin")
    },

    Query("st05_stream_violation_samples",
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
      floor = false) { t =>
      // the bounded violation sampler as a REAL stream (same replay
      // harness as st03/st04): per closed hourly window, exact per-rule
      // counts + the deterministic hash-ranked <=5 exemplar ids — state
      // is one K-bounded heap per (window, rule), never the stream
      replayEvents(t, "st05")((stream, _) => StreamingValidate
          .windowedViolationSamples(stream,
            Properties(Seq("value" -> Maximum(450))), "ts", "event_id",
            "1 hour", "30 minutes", perRuleK = 5))
        .select(col("window_start").cast("long").as("window_start"),
          col("path"), col("rule_id"), col("n_violations"),
          array_join(col("sample_ids"), ",").as("sample_ids"))
        .orderBy("window_start")
    },

    Query("st07_stream_refjoin",
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
      floor = false) { t =>
      // stream-static referential check as a REAL stream (same replay
      // harness as st03-st06): events stream left-joins the broadcast
      // customer-key dimension (keys % 7 == 0 withheld to force missing
      // refs), watermark-closed hourly windows emit exact counters
      replayEvents(t, "st07") { (stream, own) =>
        val dim = own("customer").where(pmod(col("c_custkey"), lit(7)) =!= 0)
        StreamingValidate.windowedReferential(stream, dim, "user_id", "c_custkey",
          "ts", "1 hour", "30 minutes")
      }  .select(col("window_start").cast("long").as("window_start"),
          col("n_rows"), col("n_missing"), col("verdict"))
        .orderBy("window_start")
    },

    Query("st09_stream_sessionize",
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
      floor = false) { t =>
      // gap sessionization as CUSTOM STREAM STATE (flatMapGroupsWithState +
      // event-time timeout, O(1) state per key): sessions closed by later
      // events emit in-batch; each key's open tail emits via timeout iff
      // the final watermark passed end+gap — the oracle replays the exact
      // same predicate over the batch sessionization. gap 1777 s is chosen
      // off the 1800 s watermark delay so no timeout ever ties the
      // watermark at ms precision.
      replayEvents(t, "st09")((stream, _) => StreamingValidate
          .sessionizeStream(stream, "user_id", "ts", "event_id",
            gapSeconds = 1777L, watermark = "30 minutes").toDF())
        .select(col("key").as("user_id"), col("start_us"), col("end_us"),
          col("n_events"))
        .orderBy("user_id", "start_us")
    },

    Query("st08_stream_interval_join",
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
      floor = false) { t =>
      // stream-stream event-time interval join as a REAL stream (same
      // replay harness): view → purchase attribution within 1 hour per
      // user; both sides watermarked so join state is horizon-bounded.
      // Inner-join pairs emit exactly the batch self-join set.
      replayEvents(t, "st08")((stream, _) => StreamingValidate
          .intervalJoinPairs(stream, "ts", "user_id", "event_type",
            "event_id", "view", "purchase", horizonSeconds = 3600L,
            watermark = "30 minutes"))
        .select(col("key").as("user_id"), col("a_id").as("view_id"),
          col("a_ts").cast("long").as("view_ts"),
          col("b_id").as("purchase_id"), col("b_ts").cast("long").as("purchase_ts"))
        .orderBy("user_id", "view_id", "purchase_id")
    },

    Query("st06_stream_quantile_digest",
      // closed-window predicate as st03/st04; the engine-side rank verdict
      // must be TRUE for every window
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |w AS (SELECT CAST(floor(epoch(ts)/14400) AS BIGINT)*14400 AS ws
        |      FROM events WHERE value IS NOT NULL)
        |SELECT ws AS window_start, count(*) AS n_rows,
        |       TRUE AS median_within_rank_tol
        |FROM w, mx WHERE ws + 14400 <= epoch(m) - 1800
        |GROUP BY ws ORDER BY ws""".stripMargin,
      floor = true) { t =>
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
      val digests = replayEvents(t, "st06")((stream, _) => StreamingValidate
          .windowedQuantileDigest(stream, "ts", "value", "4 hours", "30 minutes"))
        .select(col("window_start").cast("long").as("window_start"),
          QuantileSketch.quantile(col("digest"), 0.5).as("med"))
      val ev = t("events").where(col("value").isNotNull)
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
    },

    Query("st01_stream_window_batch",
      """SELECT CAST(floor(epoch(ts)/300) AS BIGINT)*300 AS bucket_start, event_type,
        | count(*) AS n, round(sum(CAST(value AS DECIMAL(20,6))),4)::DOUBLE AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      floor = true) { t =>
      // batch-equivalent of the Structured Streaming tumbling-window query
      // (the streaming path itself is exercised in StreamingSpec)
      t("events")
        .groupBy((floor(unix_timestamp(col("ts")) / 300) * 300).cast("long").as("bucket_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(20,6)")), 4).cast("double").as("sum_value"))
        .orderBy("bucket_start", "event_type")
    },

    Query("st02_stream_drift",
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
      floor = true) { t =>
      // windowed drift monitor (batch twin of the streaming histogram path):
      // PSI of each hourly window's value distribution vs the whole corpus
      Drift.psiByGroup(
          t("events").withColumn("bucket_start",
            (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long")),
          "bucket_start", "value", lo = 0.0, hi = 500.0, bins = 10)
        .select(col("grp").as("bucket_start"), round(col("psi"), 6).as("psi6"))
        .orderBy("bucket_start")
    }
  )
}
