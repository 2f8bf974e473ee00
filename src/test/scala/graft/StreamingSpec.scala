package graft

import graft.streaming.EventStream
import graft.streaming.EventStream.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  test("windowed counts with watermark aggregate by event-time window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStream.windowedCounts(input.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("win_counts").outputMode("append").start()
    input.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(1), 2, "click", 2.0),
      Event(3, ts(6), 1, "view", 3.0))
    query.processAllAvailable()
    // advance the watermark far enough to close earlier windows
    input.addData(Event(4, ts(40), 3, "click", 4.0))
    query.processAllAvailable()
    val rows = spark.table("win_counts")
      .select($"window_start", $"event_type", $"cnt", $"total_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    query.stop()
    assert(rows.contains((ts(0), "click", 2L, 3.0)))
    assert(rows.contains((ts(5), "view", 1L, 3.0)))
  }

  test("stream-stream interval join matches within the time bound only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val query = EventStream.intervalJoin(
      clicks.toDF(), buys.toDF(), "user_id", within = "15 minutes")
      .writeStream.format("memory").queryName("ijoin").outputMode("append").start()
    clicks.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(0), 2, "click", 1.0))
    buys.addData(
      Event(10, ts(5), 1, "buy", 9.0),  // user 1: within 15 min → match
      Event(11, ts(30), 2, "buy", 9.0), // user 2: 30 min later → no match
      Event(12, ts(3), 3, "buy", 9.0))  // user 3: no click at all
    query.processAllAvailable()
    // advance both watermarks so expired state is provably droppable
    clicks.addData(Event(5, ts(55), 9, "click", 0.0))
    buys.addData(Event(15, ts(55), 9, "buy", 0.0))
    query.processAllAvailable()
    val got = spark.table("ijoin")
      .select($"user_id", $"left_id", $"right_id").as[(Long, Long, Long)]
      .collect().toSet
    query.stop()
    assert(got.contains((1L, 1L, 10L)))
    assert(!got.exists(r => r._1 == 2L && r._3 == 11L))
    assert(!got.exists(_._1 == 3L))
  }

  test("left-outer interval join emits unconverted lefts after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val query = EventStream.intervalJoin(
      clicks.toDF(), buys.toDF(), "user_id",
      within = "15 minutes", joinType = "left_outer")
      .writeStream.format("memory").queryName("loj").outputMode("append").start()
    clicks.addData(
      Event(1, ts(0), 1, "click", 1.0),  // converts
      Event(2, ts(0), 2, "click", 1.0))  // never converts
    buys.addData(Event(10, ts(5), 1, "buy", 9.0))
    query.processAllAvailable()
    // push both watermarks far past left.ts + within so the unmatched
    // left row is provably final and must be emitted with nulls
    clicks.addData(Event(5, ts(59), 9, "click", 0.0))
    buys.addData(Event(15, ts(59), 9, "buy", 0.0))
    query.processAllAvailable()
    val got = spark.table("loj")
      .select($"user_id", $"left_id", $"right_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSet
    query.stop()
    assert(got.contains((1L, 1L, 10L)))
    assert(got.contains((2L, 2L, -1L)), s"unmatched left missing: $got")
  }

  test("streaming dedup drops in-watermark duplicates, keeps first") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStream.dedupWithinWatermark(
      input.toDF(), Seq("user_id", "event_type"), "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    input.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(1), 1, "click", 99.0), // dup key within watermark
      Event(3, ts(2), 2, "view", 2.0))
    query.processAllAvailable()
    val ids = spark.table("dedup_stream").select("event_id").as[Long].collect().toSet
    query.stop()
    assert(ids == Set(1L, 3L))
  }

  test("sessionization splits on observed gaps within the stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = EventStream.sessionize(input.toDS(), gapMinutes = 10, watermark = "0 minutes")
    val query = sessions.writeStream.format("memory")
      .queryName("sessions_split").outputMode("append").start()
    // two bursts 25 min apart (> 10 min gap) arriving together
    input.addData(
      Event(1, ts(0), 7, "click", 1.0), Event(2, ts(2), 7, "view", 2.0),
      Event(3, ts(27), 7, "click", 4.0))
    query.processAllAvailable()
    // first session closes immediately on the observed gap
    val emitted = spark.table("sessions_split")
      .select($"user_id", $"n_events", $"total_value", $"session_start", $"session_end")
      .as[(Long, Long, Double, Timestamp, Timestamp)].collect().toSet
    query.stop()
    assert(emitted == Set((7L, 2L, 3.0, ts(0), ts(2))))
  }

  test("windowed top-K emits K ranked keys per window once it closes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStream.windowedTopK(input.toDS(), k = 2, windowMinutes = 5)
      .writeStream.format("memory").queryName("win_topk").outputMode("append").start()
    input.addData(
      // window [0,5): click ×3, view ×2, scroll ×1 → top2 = click, view
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 2, "click", 1.0),
      Event(3, ts(2), 3, "click", 1.0), Event(4, ts(1), 1, "view", 1.0),
      Event(5, ts(3), 2, "view", 1.0), Event(6, ts(4), 3, "scroll", 1.0),
      // window [5,10): tie view=click=1 → tie broken by key asc
      Event(7, ts(6), 1, "view", 1.0), Event(8, ts(7), 2, "click", 1.0))
    query.processAllAvailable()
    // nothing emits while the windows are still open
    assert(spark.table("win_topk").count() == 0)
    // advance the watermark past both window ends (+10 min delay)
    input.addData(Event(9, ts(35), 9, "click", 0.0))
    query.processAllAvailable()
    val rows = spark.table("win_topk")
      .select($"window_start", $"event_type", $"cnt", $"rank")
      .as[(Timestamp, String, Long, Int)].collect().toSet
    query.stop()
    assert(rows.contains((ts(0), "click", 3L, 1)))
    assert(rows.contains((ts(0), "view", 2L, 2)))
    assert(!rows.exists(r => r._1 == ts(0) && r._2 == "scroll")) // beyond K
    assert(rows.contains((ts(5), "click", 1L, 1))) // tie → key asc
    assert(rows.contains((ts(5), "view", 1L, 2)))
  }

  test("stream rows already in the exact-dedup ledger are dropped; new content passes") {
    implicit val sqlCtx = spark.sqlContext
    // seed a parquet ledger of the two rows' canonical fingerprints
    val base = tmpDir("stream-ledger")
    Seq("seen before", "also seen").toDF("text")
      .select(graft.functions.TextFunctions.canonicalFingerprint($"text").as("_fp"))
      .write.parquet(s"$base/fp")
    val ledger = spark.read.parquet(s"$base/fp")

    val input = MemoryStream[(Long, String)]
    val query = EventStream.dropLedgered(input.toDF().toDF("doc_id", "text"), "text", ledger)
      .writeStream.format("memory").queryName("ledger_filter").outputMode("append").start()
    input.addData(
      (10L, "SEEN  BEFORE"), // canonical dup of ledgered doc 1
      (11L, "genuinely new"),
      (12L, "also seen"))    // exact dup of ledgered doc 2
    query.processAllAvailable()
    val got = spark.table("ledger_filter").select("doc_id")
      .as[Long].collect().sorted.toSeq
    query.stop()
    assert(got == Seq(11L))
  }

  test("sessionization emits a summary once the watermark passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = EventStream.sessionize(input.toDS(), gapMinutes = 10, watermark = "0 minutes")
    val query = sessions.writeStream.format("memory")
      .queryName("sessions").outputMode("append").start()
    input.addData(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(3), 7, "view", 2.0))
    query.processAllAvailable()
    input.addData(Event(3, ts(5), 7, "click", 4.0))
    query.processAllAvailable()
    // nothing emitted yet: watermark (00:05) hasn't passed end+gap (00:15)
    assert(spark.table("sessions").isEmpty)
    // an unrelated late-hour event pushes the watermark past the gap
    input.addData(Event(4, ts(40), 9, "click", 0.0))
    query.processAllAvailable()
    val out = spark.table("sessions")
      .select($"user_id", $"n_events", $"total_value", $"session_start", $"session_end")
      .as[(Long, Long, Double, Timestamp, Timestamp)].collect().toSet
    query.stop()
    assert(out == Set((7L, 3L, 7.0, ts(0), ts(5))))
  }
  test("driftScores carries per-key EWMA state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStream.driftScores(input.toDS())
      .writeStream.format("memory").queryName("drift").outputMode("append").start()
    input.addData(
      Event(1, ts(0), 1, "click", 4.0),
      Event(2, ts(1), 1, "click", 8.0))
    query.processAllAvailable()
    input.addData(Event(3, ts(2), 1, "click", 2.0)) // state must carry: e=6 -> 4
    query.processAllAvailable()
    val rows = spark.table("drift")
      .orderBy($"event_id")
      .select($"event_id", $"ewma", $"drift").as[(Long, Double, Double)].collect()
    query.stop()
    // e1: first value seeds the average; e2: .5*8+.5*4=6; e3: .5*2+.5*6=4
    assert(rows.toSeq == Seq((1L, 4.0, 0.0), (2L, 6.0, 2.0), (3L, 4.0, 2.0)))
  }

  test("streamingCountMin converges to the batch sketch across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val query = EventStream.streamingCountMin(input.toDS(), rows = 3, width = 16)
      .writeStream.format("memory").queryName("scms").outputMode("update").start()
    val b1 = Seq("apple", "banana", "apple", "cherry")
    val b2 = Seq("apple", "banana", "banana", "durian", "apple")
    input.addData(b1: _*)
    query.processAllAvailable()
    input.addData(b2: _*)
    query.processAllAvailable()
    // the latest emission per cell is the live sketch
    val live = spark.table("scms")
      .groupBy($"row_id", $"bucket").agg(max($"cnt").as("cnt"))
    val batch = graft.operators.Sketches.countMinSketch(
      (b1 ++ b2).toDF("tok"), "tok", rows = 3, width = 16)
    assert(live.join(batch, Seq("row_id", "bucket"))
      .filter(live("cnt") =!= batch("cnt")).count() == 0)
    assert(live.count() == batch.count(),
      "streaming sketch must touch exactly the batch sketch's cells")
    // estimates agree with true counts on this collision-free fixture
    val est = graft.operators.Sketches.cmsEstimate(
      live, Seq("apple", "banana", "durian").toDF("tok"), "tok", rows = 3, width = 16)
      .orderBy($"tok").as[(String, Long)].collect().toSeq
    query.stop()
    assert(est == Seq(("apple", 4L), ("banana", 3L), ("durian", 1L)))
  }

}
