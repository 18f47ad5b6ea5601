package graft.streaming

import graft.core.{Rule, RuleCompiler}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface of the engine (the reference is purely
  * synchronous single-document — SURVEY.md §2.9; this is the engine-side
  * extension for continuous ingest validation).
  *
  * Row-local rules are stateless projections, so the exact same compiled
  * Catalyst expressions run unchanged on a stream: a stream's violations
  * are [[graft.core.Violations.validate]] on it; the dataset-global rules
  * become windowed aggregates with watermarks (bounded state). Uniqueness
  * over an unbounded stream is necessarily windowed — global uniqueness
  * belongs to the batch/snapshot path.
  */
object StreamingValidate {

  /** One deduplicated row `(key, fingerprint, event_time)`. */
  final case class DedupedDoc(key: String, fp: String, ts: java.sql.Timestamp)

  /** Streaming exact dedup via `flatMapGroupsWithState`: the first document
    * per content fingerprint passes through, replays are dropped. State is
    * one tiny record per fingerprint, expired `ttlMs` of EVENT time after
    * the last occurrence (event-time timeout rides the watermark, so the
    * operator is deterministic under replay — the standard bounded-state
    * design for continuous ingest dedup; an unbounded keep-forever set
    * belongs to the batch/snapshot path, `Dedup.exactDupGroups`).
    *
    * Input must carry `(keyCol, textCol, tsCol)`; output is append-mode
    * safe. */
  def dedupStream(stream: DataFrame, keyCol: String, textCol: String,
      tsCol: String, ttlMs: Long = 3600000L): Dataset[DedupedDoc] = {
    import stream.sparkSession.implicits._
    // the watermarked timestamp column must survive into the grouped
    // Dataset — projecting it away detaches the watermark and event-time
    // timeouts are rejected
    val keyed = stream
      .withWatermark(tsCol, s"$ttlMs milliseconds")
      .select(
        col(keyCol).cast("string").as("key"),
        graft.pipeline.TextAnalysis.fingerprint(col(textCol)).as("fp"),
        // NO cast here: re-wrapping the column strips the event-time
        // watermark tag and the event-time timeout is then rejected
        col(tsCol).as("ts"))
      .as[DedupedDoc]
      .groupByKey(_.fp)
    keyed.flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
      (fp: String, rows: Iterator[DedupedDoc], state: GroupState[Boolean]) => {
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          val batch = rows.toSeq
          val out = if (state.exists) Iterator.empty else batch.take(1).iterator
          state.update(true)
          // extend the state's life ttl past the newest occurrence (must
          // stay ahead of the watermark or Spark rejects the timestamp)
          val horizon = math.max(batch.iterator.map(_.ts.getTime).max + ttlMs,
            state.getCurrentWatermarkMs() + 1)
          state.setTimeoutTimestamp(horizon)
          out
        }
      })
  }

  /** Tumbling-window pass/fail verdicts with a watermark: the streaming
    * analog of the per-partition verdict table. State is bounded by the
    * watermark horizon. */
  def windowedVerdicts(stream: DataFrame, rule: Rule, tsCol: String,
      windowDuration: String, watermark: String,
      ctx: RuleCompiler.Ctx = RuleCompiler.Ctx()): DataFrame = {
    val pass = RuleCompiler.compileRow(rule, stream.schema, ctx).pass
    stream
      .withColumn("__failed", (!pass).cast("long"))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("__failed")).as("n_failed"))
      .select(
        col("window.start").as("window_start"),
        col("n_rows"), col("n_failed"),
        when(col("n_failed") === 0, "pass").otherwise("fail").as("verdict"))
  }

  final case class SessEvent(key: Long, ts: java.sql.Timestamp, eid: Long)
  final case class OpenSession(startUs: Long, endUs: Long, n: Long)
  final case class SessionRow(key: Long, start_us: Long, end_us: Long, n_events: Long)

  private def usOf(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Gap sessionization as CUSTOM STREAM STATE — [[graft.pipeline.Sessions]]
    * re-expressed with `flatMapGroupsWithState` + event-time timeout: per
    * key the STORED state is ONE open session (start/end/count — O(1),
    * never the events); a batch's events fold in (ts, eid) order, closing
    * and emitting every session a later event ends, and the surviving open
    * session arms an event-time timeout at `end + gap` — when the
    * watermark passes it, the residual session emits and the state drops.
    * The transient per-invocation buffer is one key's events of ONE
    * micro-batch (the sort needs them; the checkpoint never sees them) —
    * a hot key costs its per-batch row count in executor heap, the
    * standard flatMapGroupsWithState envelope.
    * Microsecond-exact integer time arithmetic (same `unix_micros` domain
    * as the batch operator), so session boundaries are engine-portable.
    *
    * Determinism contract for the oracle replay (single-file AvailableNow
    * source → one data micro-batch + the trailing watermark batch): every
    * session EXCEPT a key's last emits unconditionally; the last emits iff
    * its timeout (`(end_us + gap·10⁶) div 1000` ms) is strictly below the
    * final watermark (`max event ms − delay`). Across multiple batches the
    * same sessions emit, just earlier — the state machine is
    * batch-boundary-agnostic. */
  def sessionizeStream(stream: DataFrame, keyCol: String, tsCol: String,
      idCol: String, gapSeconds: Long, watermark: String): Dataset[SessionRow] = {
    import stream.sparkSession.implicits._
    val gapUs = gapSeconds * 1000000L
    val keyed = stream.withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("long").as("key"),
        // NO cast on ts: re-wrapping strips the event-time watermark tag
        col(tsCol).as("ts"),
        col(idCol).cast("long").as("eid"))
      .as[SessEvent].groupByKey(_.key)
    keyed.flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
      (key: Long, rows: Iterator[SessEvent], state: GroupState[OpenSession]) => {
        if (state.hasTimedOut) {
          val s = state.get; state.remove()
          Iterator.single(SessionRow(key, s.startUs, s.endUs, s.n))
        } else {
          val evs = rows.toArray.sortBy(e => (usOf(e.ts), e.eid))
          var open = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
          evs.foreach { e =>
            val t = usOf(e.ts)
            open match {
              case Some(s) if t - s.endUs <= gapUs =>
                open = Some(OpenSession(s.startUs, math.max(s.endUs, t), s.n + 1))
              case Some(s) =>
                out += SessionRow(key, s.startUs, s.endUs, s.n)
                open = Some(OpenSession(t, t, 1L))
              case None =>
                open = Some(OpenSession(t, t, 1L))
            }
          }
          open.foreach { s =>
            state.update(s)
            state.setTimeoutTimestamp(math.max((s.endUs + gapUs) / 1000L,
              state.getCurrentWatermarkMs() + 1))
          }
          out.iterator
        }
      })
  }

  /** Stream-stream event-time interval join — the remaining structured-
    * streaming join face: pairs each `fromType` event with the same key's
    * `toType` events landing within `(ts, ts + horizonSeconds]` (conversion
    * attribution / causal windows). BOTH sides are watermarked and the join
    * condition bounds event-time distance, which is exactly what lets Spark
    * GC join state: a buffered `fromType` row is dropped once the other
    * side's watermark passes its horizon, so state is O(events inside one
    * horizon), never the stream. Inner join — pairs emit as they match;
    * the emitted SET equals the batch self-join (pinned by the oracle and
    * the e2e spec), append-mode safe. */
  def intervalJoinPairs(stream: DataFrame, tsCol: String, keyCol: String,
      typeCol: String, idCol: String, fromType: String, toType: String,
      horizonSeconds: Long, watermark: String): DataFrame = {
    val a = stream.where(col(typeCol) === fromType)
      .select(col(keyCol).as("a_key"), col(idCol).as("a_id"), col(tsCol).as("a_ts"))
      .withWatermark("a_ts", watermark)
    val b = stream.where(col(typeCol) === toType)
      .select(col(keyCol).as("b_key"), col(idCol).as("b_id"), col(tsCol).as("b_ts"))
      .withWatermark("b_ts", watermark)
    a.join(b, col("a_key") === col("b_key") &&
      col("b_ts") > col("a_ts") &&
      col("b_ts") <= col("a_ts") + expr(s"INTERVAL $horizonSeconds SECONDS"))
      .select(col("a_key").as("key"), col("a_id"), col("a_ts"),
        col("b_id"), col("b_ts"))
  }

  /** Stream-static referential membership — the streaming face of
    * [[graft.global.Referential]]: every micro-batch left-joins the STATIC
    * allowed-keys dimension (broadcast, re-resolved per batch — Spark's
    * stream-static join never puts the dimension in the state store, so a
    * large dim costs the broadcast, not checkpoint space), and the
    * watermark-closed tumbling windows emit exact counters.
    * Output `(window_start, n_rows, n_missing, verdict)` in append mode —
    * counters-only state, same contract as [[windowedVerdicts]]. */
  def windowedReferential(stream: DataFrame, dim: DataFrame, keyCol: String,
      dimKeyCol: String, tsCol: String, windowDuration: String,
      watermark: String): DataFrame = {
    val allowed = broadcast(dim.select(col(dimKeyCol).as("__k")).distinct()
      .withColumn("__ok", lit(1)))
    stream.withWatermark(tsCol, watermark)
      .join(allowed, col(keyCol) === col("__k"), "left")
      .groupBy(window(col(tsCol), windowDuration))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("__ok").isNull, 1L).otherwise(0L)).as("n_missing"))
      .select(col("window.start").as("window_start"), col("n_rows"),
        col("n_missing"),
        when(col("n_missing") === 0, "pass").otherwise("fail").as("verdict"))
  }

  /** Tumbling-window BOUNDED violation sampling — the streaming face of
    * [[graft.core.Violations.sampleViolations]]: per closed window and
    * rule, the exact violation count plus a deterministic ≤ `perRuleK`
    * exemplar-id sample ranked by the portable md5-window content hash.
    * State per open window is one K-bounded heap per rule (the
    * TypedImperativeAggregate buffer serializes into the state store), so
    * a broadly-failing stream costs O(windows · rules · K) state, never
    * the violation stream. */
  def windowedViolationSamples(stream: DataFrame, rule: Rule, tsCol: String,
      idCol: String, windowDuration: String, watermark: String,
      perRuleK: Int): DataFrame = {
    val v = graft.core.Violations.validate(
      stream.withWatermark(tsCol, watermark), rule, Seq(idCol, tsCol))
    // same '0:'||id md5-window rank family the batch sampler and the
    // DuckDB oracle share (single definition: PortableHash)
    val key = graft.functions.PortableHash.md5Window32(col(idCol).cast("string"), 0)
    v.groupBy(window(col(tsCol), windowDuration), col("path"), col("rule_id"))
      .agg(count(lit(1)).as("n_violations"),
        graft.functions.TopKSketch.topkSketch(key, col(idCol).cast("string"), perRuleK)
          .as("sample_ids"))
      .select(col("window.start").as("window_start"), col("path"), col("rule_id"),
        col("n_violations"), col("sample_ids"))
  }

  /** Tumbling-window KLL sketch — the streaming QUANTILE monitor: each
    * closed window yields `(window_start, digest)`, one bounded binary
    * sketch row per window (same contract as [[windowedHistogram]]'s
    * counters). Downstream, [[graft.stats.QuantileSketch]] reads medians and
    * tail ranks off the stored rows, and [[graft.stats.Drift.psiSketched]]'s
    * arithmetic turns any two of them into a drift distance — nothing
    * rescans the stream. Null values are skipped (an all-null window emits
    * no row, matching the batch profile's treatment). */
  def windowedQuantileDigest(stream: DataFrame, tsCol: String, valueCol: String,
      windowDuration: String, watermark: String): DataFrame =
    stream.where(col(valueCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(graft.stats.QuantileSketch.sketch(col(valueCol)).as("digest"))
      .select(col("window.start").as("window_start"), col("digest"))

  /** Tumbling-window fixed-bin histogram — the streaming drift monitor's
    * sketch emitter. Each closed window yields its `(window_start, bin, n)`
    * counter rows (bounded state: windows × bins longs); the monitor joins
    * them against a stored reference histogram with [[graft.stats.Drift.psi]]
    * — counts are exact integers, so the streamed sketch is bit-identical to
    * the batch [[graft.stats.Drift.histogramByGroup]] over the same rows. */
  def windowedHistogram(stream: DataFrame, tsCol: String, valueCol: String,
      windowDuration: String, watermark: String,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    val width = (hi - lo) / bins
    val rawBin = floor((col(valueCol).cast("double") - lo) / width).cast("int")
    val bin = least(greatest(rawBin, lit(0)), lit(bins - 1))
    stream
      .where(col(valueCol).isNotNull)
      .withColumn("__bin", bin)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration), col("__bin").as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("bin"), col("n"))
  }
}
