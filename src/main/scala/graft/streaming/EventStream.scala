package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the pipeline's operators (the
  * reference is batch-only — SURVEY.md §2.9 — so this is the
  * scale-path extension, not parity): event-time windowed aggregation
  * with watermarks, streaming dedup bounded by a watermark, and
  * stateful sessionization via flatMapGroupsWithState.
  *
  * All transforms take/return streaming Datasets so sources
  * (file/kafka/memory) and sinks stay the caller's choice:
  * `readStream → transform → writeStream`.
  */
object EventStream {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionSummary(user_id: Long, n_events: Long, total_value: Double,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp)

  /** Tumbling event-time window counts with a watermark bounding state
    * and late data.
    */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
      window: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("cnt"), col("total_value"))

  /** Streaming composite-key dedup: the streaming form of the
    * pipeline's keep-first resolution. State is bounded by the
    * watermark — a duplicate arriving later than the watermark delay
    * is not caught (the batch dedup operators are the exact
    * re-statement; this is the infinite-input tradeoff).
    */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Watermarked stream-stream interval join: each left event is
    * matched to right events with the same `key` whose timestamp falls
    * in [left.ts, left.ts + within] — the click→conversion attribution
    * shape. Watermarks on BOTH sides plus the time-range predicate let
    * Spark bound the join state (expired rows are dropped once the
    * watermark passes left.ts + within), so state stays finite on an
    * infinite stream.
    *
    * `joinType` "inner" emits matches only; "left_outer" also emits
    * each unmatched left event (null right columns) once the watermark
    * proves no match can still arrive — the "clicks that never
    * converted" stream.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      within: String = "15 minutes",
      watermark: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col("r.ts") >= col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(s"INTERVAL $within"),
      joinType)
      .select(
        col(s"l.$key").as(key),
        col("l.event_id").as("left_id"),
        col("r.event_id").as("right_id"),
        col("l.ts").as("left_ts"),
        col("r.ts").as("right_ts"))
  }

  /** Streaming as-of enrichment — the streaming dual of
    * [[graft.operators.AsOfJoin]]'s backward direction with a horizon:
    * each left event is matched to the LATEST right event of the same
    * `key` with `r.ts <= l.ts` and within `horizon` (the "attach the
    * most recent prior user context to every purchase" shape training
    * pipelines run at ingest). Composed from built-ins per the
    * custom-op ladder, as a supported chain of two stateful operators
    * (Spark ≥3.5 multiple-stateful-operator support): a watermarked
    * stream-stream TIME-INTERVAL join generates the candidates, and a
    * time-window aggregation argmaxes the latest right row per left
    * event — `max(struct(r.ts, r.event_id))` makes the equal-timestamp
    * tie-break deterministic (larger right id wins).
    *
    * State on both operators is watermark-bounded: join rows older
    * than watermark + horizon are evicted, and each finalize window
    * emits once the (join-delayed) watermark passes it, so the
    * operator runs indefinitely on an infinite stream.
    *
    * `joinType = "inner"` (default) is matched-only: a left event
    * with no right row in its horizon emits nothing. `"left_outer"`
    * is the full as-of: such a left event emits ONCE with null right
    * columns, when its join state expires (the watermark has proved
    * no match can arrive) — the delayed outer row still carries the
    * left event time, so the downstream argmax window finalizes it
    * like any matched row, and `max(struct(null, null))` under a
    * lone null candidate passes the nulls through. A left event
    * with matches never sees a null candidate (stream-stream outer
    * joins emit the null row only for match-less state), so the
    * argmax is unaffected on the matched path. Proven end to end in
    * AsOfStreamSpec; the q163 oracle replays it as a batch LEFT JOIN.
    */
  def asofEnrich(
      left: DataFrame,
      right: DataFrame,
      key: String,
      horizon: String = "60 minutes",
      watermark: String = "10 minutes",
      finalizeWindow: String = "1 minute",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r,
        col(s"l.$key") === col(s"r.$key") &&
          col("r.ts") <= col("l.ts") &&
          col("r.ts") >= col("l.ts") - expr(s"INTERVAL $horizon"),
        joinType)
      .groupBy(
        org.apache.spark.sql.functions.window(col("l.ts"), finalizeWindow),
        col(s"l.$key").as(key),
        col("l.event_id").as("left_id"))
      .agg(
        max(col("l.ts")).as("left_ts"),
        max(struct(col("r.ts").as("right_ts"), col("r.event_id").as("right_id"))).as("_m"))
      .select(col(key), col("left_id"), col("left_ts"),
        col("_m.right_id").as("right_id"), col("_m.right_ts").as("right_ts"))
  }

  /** Drop every stream row whose canonical content fingerprint
    * already exists in `ledger`, a frame of `_fp` fingerprints
    * ([[graft.functions.TextFunctions.canonicalFingerprint]] values) —
    * a stream-static LEFT ANTI join, stateless per micro-batch. The
    * ledger frame is a SNAPSHOT: a parquet-backed static DataFrame
    * fixes its file listing when `spark.read` resolves it, so
    * fingerprints appended after the stream starts are NOT seen until
    * the query restarts with a fresh read. For a live ledger, re-read
    * it inside `foreachBatch` instead. Within-stream duplicates
    * compose upstream via [[dedupWithinWatermark]] on the fingerprint.
    */
  def dropLedgered(stream: DataFrame, textCol: String, ledger: DataFrame): DataFrame = {
    val fp = graft.functions.TextFunctions.canonicalFingerprint(col(textCol))
    stream.withColumn("_fp", fp)
      .join(ledger.select(col("_fp")), Seq("_fp"), "left_anti")
      .drop("_fp")
  }

  final case class WindowTopK(window_start: java.sql.Timestamp, event_type: String,
      cnt: Long, rank: Int)

  /** Streaming top-K event types per tumbling window. Streaming DFs
    * can't rank within a windowed aggregate (no window functions over
    * unbounded input), so this is a single stateful operator: state =
    * one count-map per open window (bounded by distinct keys × open
    * windows, which the watermark bounds), and the top-K rows are
    * emitted ONCE per window when the event-time watermark passes the
    * window end — deterministic, replayable, ties broken by key.
    */
  def windowedTopK(events: Dataset[Event], k: Int, windowMinutes: Int = 5,
      watermark: String = "10 minutes"): Dataset[WindowTopK] = {
    require(k >= 1, "k must be >= 1")
    val spark = events.sparkSession
    import spark.implicits._
    val windowMs = windowMinutes * 60000L
    events.toDF()
      .withWatermark("ts", watermark)
      .as[Event]
      .groupByKey(e => e.ts.getTime / windowMs * windowMs)
      .flatMapGroupsWithState[Map[String, Long], WindowTopK](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (winStart: Long, incoming: Iterator[Event], state: GroupState[Map[String, Long]]) =>
          if (state.hasTimedOut) {
            val counts = state.get
            state.remove()
            counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(k).zipWithIndex
              .map { case ((t, c), i) =>
                WindowTopK(new java.sql.Timestamp(winStart), t, c, i + 1)
              }.iterator
          } else {
            val merged = incoming.foldLeft(state.getOption.getOrElse(Map.empty[String, Long])) {
              (acc, e) => acc.updated(e.event_type, acc.getOrElse(e.event_type, 0L) + 1L)
            }
            state.update(merged)
            // fire once the watermark proves the window complete
            state.setTimeoutTimestamp(winStart + windowMs)
            Iterator.empty
          }
      }
  }

  /** Gap-based sessionization with explicit state: a session closes
    * (and emits one summary row) once the event-time watermark passes
    * session_end + gap. Event-time timeouts keep this deterministic —
    * replayable from a checkpoint, no wall-clock dependence.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
      watermark: String = "10 minutes"): Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.toDF()
      .withWatermark("ts", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionSummary, SessionSummary](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, incoming: Iterator[Event], state: GroupState[SessionSummary]) =>
          if (state.hasTimedOut) {
            val out = state.get
            state.remove()
            Iterator(out)
          } else {
            // (ts, event_id) order: the ms-equal tiebreak makes the fold
            // deterministic under replay regardless of arrival order
            val batch = incoming.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            if (batch.isEmpty) Iterator.empty
            else {
              // fold events through the open session, CLOSING it (and
              // emitting) whenever the next event starts more than the
              // gap after the last — observed gaps end sessions just
              // like the batch operator; the event-time timeout only
              // covers the final open session
              val gapMs = gapMinutes * 60000L
              val completed = Seq.newBuilder[SessionSummary]
              var open = state.getOption
              for (e <- batch) {
                open match {
                  case Some(s) if e.ts.getTime - s.session_end.getTime > gapMs =>
                    completed += s
                    open = Some(SessionSummary(userId, 1L, e.value, e.ts, e.ts))
                  case Some(s) =>
                    open = Some(s.copy(
                      n_events = s.n_events + 1,
                      total_value = s.total_value + e.value,
                      session_end = e.ts))
                  case None =>
                    open = Some(SessionSummary(userId, 1L, e.value, e.ts, e.ts))
                }
              }
              val last = open.get
              state.update(last)
              state.setTimeoutTimestamp(last.session_end.getTime + gapMs)
              completed.result().iterator
            }
          }
      }
  }

  final case class CmsCell(row_id: Long, bucket: Long, cnt: Long)

  /** Streaming count-min sketch with cross-batch state: the online
    * heavy-hitter summary. Each token updates `rows` counters (same
    * seeded 60-bit md5 family as the batch
    * [[graft.operators.Sketches.countMinSketch]], via the Scala
    * mirror — asserted bit-identical in HashExprSpec), keyed by
    * (row, bucket) so state is bounded by rows × width REGARDLESS of
    * stream length — the whole point of a sketch over an unbounded
    * token stream. Every batch emits the post-update count of each
    * touched cell; the latest emission per cell IS the sketch, and it
    * equals the batch sketch over the full prefix (StreamingSpec).
    */
  def streamingCountMin(tokens: Dataset[String], rows: Int = 4,
      width: Int = 64): Dataset[CmsCell] = {
    require(rows >= 1 && width >= 1, "sketch needs rows >= 1, width >= 1")
    val spark = tokens.sparkSession
    import spark.implicits._
    import graft.functions.TextFunctions.hash60Scala
    tokens
      .flatMap(t => (0 until rows).map(j =>
        (j.toLong, hash60Scala(t, j) % width)))
      .groupByKey(identity)
      .mapGroupsWithState[Long, CmsCell](GroupStateTimeout.NoTimeout()) {
        (cell: (Long, Long), incoming: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val cnt = state.getOption.getOrElse(0L) + incoming.size
          state.update(cnt)
          CmsCell(cell._1, cell._2, cnt)
      }
  }

  final case class DriftState(ewma: Double, n: Long)
  final case class DriftScore(event_type: String, event_id: Long, value: Double,
      ewma: Double, drift: Double)

  /** Streaming per-key EWMA drift scoring: every event updates its
    * key's running exponential average (e ← α·v + (1−α)·e) and is
    * emitted with the post-update average and its deviation from it —
    * the online data-quality monitor (a source whose quality score
    * drifts from its history flags mid-stream, not at the next batch
    * audit). α = 1/2 by default, exact dyadic like the batch
    * [[graft.operators.SeriesStats.ewmaTrailing]].
    *
    * State is ONE (double, long) pair per key — bounded by key
    * cardinality, no timeout needed; events inside a micro-batch are
    * folded in (ts, event_id) order so replays are deterministic.
    */
  def driftScores(events: Dataset[Event], alpha: Double = 0.5,
      keyOf: Event => String = _.event_type): Dataset[DriftScore] = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(keyOf)
      .flatMapGroupsWithState[DriftState, DriftScore](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, incoming: Iterator[Event], state: GroupState[DriftState]) =>
          val batch = incoming.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = Seq.newBuilder[DriftScore]
          var st = state.getOption.getOrElse(DriftState(0.0, 0L))
          for (e <- batch) {
            val ewma =
              if (st.n == 0L) e.value
              else alpha * e.value + (1 - alpha) * st.ewma
            st = DriftState(ewma, st.n + 1)
            out += DriftScore(key, e.event_id, e.value, ewma,
              math.abs(e.value - ewma))
          }
          state.update(st)
          out.result().iterator
      }
  }
}
