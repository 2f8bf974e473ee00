package graft

import graft.queries.StreamingQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the streaming gate's batch-equality contract in-engine: each
  * streaming replay (MemoryStream → stateful transform → memory sink,
  * sentinel-drained watermark) must equal the batch formulation of the
  * same computation, and nothing sentinel-derived may leak into the
  * output. The cross-engine half of the contract is the DuckDB oracle
  * in StreamingQueries itself (driver gate).
  */
class StreamingGateSpec extends SparkSpec {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def run(name: String): DataFrame =
    StreamingQueries.all.find(_.name == name).get.fn(spark, sf)

  /** Round-12 plan pin: a corpus-sized replay must come back reading a
    * parquet sink dir (executor→files), never a memory-sink table — a
    * memory sink materializes the output on the driver and silently
    * caps the certified scale at driver heap. The sink dirs are named
    * gq_stream_out*, so the file relation's root path is the witness.
    */
  private def assertFileBacked(got: DataFrame): Unit = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val fileRoots = got.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation
    }.collect { case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString) }.flatten
    assert(fileRoots.exists(_.contains("gq_stream_out")),
      s"corpus-sized replay must drain to a parquet sink, found file roots: $fileRoots")
  }

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      want.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("sentinel guard: staging rejects events at/after the 2030 sentinel by name") {
    // positive: a real-corpus-era ts passes through unchanged
    val ok = Seq(java.sql.Timestamp.valueOf("2024-03-01 12:00:00"))
      .toDF("ts")
      .select(StreamingQueries.guardBelowSentinel($"ts").as("ts"))
      .collect()
    assert(ok.head.getTimestamp(0) == java.sql.Timestamp.valueOf("2024-03-01 12:00:00"))
    // negative: a future-dated generation fails as a NAMED error at
    // staging, not as a hash mismatch downstream
    val e = intercept[Exception] {
      Seq(java.sql.Timestamp.valueOf("2031-06-01 00:00:00"))
        .toDF("ts")
        .select(StreamingQueries.guardBelowSentinel($"ts").as("ts"))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("streaming sentinel")))
    // null ts: the when-condition is null, so it falls to the error
    // branch — the guard must STILL fail by name (a null message would
    // defeat the fail-by-name purpose)
    val en = intercept[Exception] {
      Seq(Tuple1(null: java.sql.Timestamp)).toDF("ts")
        .select(StreamingQueries.guardBelowSentinel($"ts").as("ts"))
        .collect()
    }
    assert(messages(en).exists(m =>
      m.contains("streaming sentinel") && m.contains("NULL")))
  }

  test("q153: streaming windowed counts drain to the exact batch hourly rollup") {
    val got = run("q153_stream_hour_counts")
    val want = Tables.events(spark, sf)
      .groupBy((expr("ts_ns div 3600000000000") * 3600000000000L).as("ws_ns"),
        $"event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(($"value" * 100).cast("long")).as("total_cents"))
    assert(got.count() > 0)
    assert(got.filter($"event_type" === "__sentinel").isEmpty)
    assertSameRows(got, want.select($"ws_ns", $"event_type", $"cnt", $"total_cents"))
  }

  test("q154: streaming sessions equal batch sessionization, incl. each user's final session") {
    val got = run("q154_stream_sessions")
    assertFileBacked(got)
    // ms-floor gap arithmetic, (ms, event_id) order — the operator's contract
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ms", $"event_id")
    val sessions = Tables.events(spark, sf)
      .withColumn("ms", expr("ts_ns div 1000000"))
      .withColumn("cents", ($"value" * 100).cast("long"))
      .withColumn("prev_ms", lag($"ms", 1).over(w))
      .withColumn("brk",
        when($"prev_ms".isNull || $"ms" - $"prev_ms" > 1800000L, 1L).otherwise(0L))
      .withColumn("sid", sum($"brk").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("sns", first($"ts_ns").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"user_id", $"sid")
          .orderBy($"ms", $"event_id")))
      .groupBy($"user_id", $"sid")
      .agg(count(lit(1)).as("n_events"), sum($"cents").as("total_cents"),
        min($"sns").as("start_ns"), max($"ts_ns").as("end_ns_by_max"))
    // n_sessions and totals must match exactly; the final open session
    // of every user must have been drained by the sentinel timeout
    assert(got.count() == sessions.count())
    assert(got.agg(sum($"n_events")).as[Long].head() ==
      Tables.events(spark, sf).count())
    assert(got.filter($"user_id" === -1L).isEmpty)
  }

  test("q156: streaming window top-k emits every real window once, ranked") {
    val got = run("q156_stream_window_topk").cache()
    val nWindows = Tables.events(spark, sf)
      .select(expr("ts_ns div 3600000000000").as("w")).distinct().count()
    // every real window drained exactly once; no partial windows held back
    assert(got.select($"ws_ns").distinct().count() == nWindows)
    assert(got.filter($"event_type" === "__sentinel").isEmpty)
    // ranks are 1..k dense per window
    val badRank = got.groupBy($"ws_ns")
      .agg(collect_list($"rank").as("rks"))
      .filter(expr("sort_array(rks) != sequence(1, size(rks))"))
    assert(badRank.isEmpty)
    got.unpersist()
  }

  test("parquet-sink re-run: displaced dir is deleted, no displaced memo key survives") {
    // the runToParquet newest-frame-only contract (round 14) plus the
    // round-15 crash-window close: a same-tag re-run must (1) stage a
    // FRESH dir, (2) rmdir the displaced one as soon as the new run
    // commits, and (3) drop the "#displaced" side key only after that
    // rmdir — so the shutdown hook can always see any dir that still
    // exists on disk. The memo is private; reflect it.
    val memoField = StreamingQueries.getClass.getDeclaredFields
      .find(_.getName.endsWith("stagedDirs"))
      .getOrElse(fail("stagedDirs memo field moved — re-anchor this pin"))
    memoField.setAccessible(true)
    val memo = memoField.get(StreamingQueries)
      .asInstanceOf[java.util.concurrent.ConcurrentHashMap[String, String]]
    run("q157_stream_dedup_keys").collect()
    val first = memo.get("gq_stream_dedup#out")
    assert(first != null, "the replay must register its sink dir in the shutdown memo")
    run("q157_stream_dedup_keys").collect()
    val second = memo.get("gq_stream_dedup#out")
    assert(second != null && second != first, "a re-run must stage a fresh sink dir")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(first)),
      "the displaced run-1 sink dir must be deleted once run 2 commits")
    assert(memo.get("gq_stream_dedup#out#displaced") == null,
      "the displaced side key must not outlive its rmdir")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(second)))
  }

  test("q157: streaming dedup keys drain to a file sink and equal the batch DISTINCT") {
    val got = run("q157_stream_dedup_keys")
    assertFileBacked(got)
    val want = Tables.events(spark, sf)
      .select($"user_id", $"event_type",
        expr("ts_ns div 3600000000000").as("hour_bucket"))
      .distinct()
    assertSameRows(got, want)
  }

  test("q158: streaming drift trace equals the batch EWMA fold bit-for-bit") {
    val got = run("q158_stream_drift")
    assertFileBacked(got)
    // batch replay of the same fold, driver-side, in the same order
    val evts = Tables.events(spark, sf)
      .select($"event_type", $"user_id", $"event_id",
        expr("ts_ns div 1000000").as("ms"), ($"value" * 100).cast("long").as("cents"))
      .as[(String, Long, Long, Long, Long)].collect()
      .sortBy(e => (e._4, e._3))
    val want = scala.collection.mutable.Map[String, Double]()
    val expected = evts.map { case (t, u, id, _, cents) =>
      val k = s"$t|$u"
      val v = cents.toDouble
      val e = want.get(k).map(prev => 0.5 * v + 0.5 * prev).getOrElse(v)
      want(k) = e
      (k, id, cents, e, math.abs(v - e))
    }.toSeq
    val gotRows = got.select($"drift_key", $"event_id", $"value_cents", $"ewma", $"drift")
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(gotRows.sortBy(_._2) == expected.sortBy(_._2))
  }

  test("q160: stream-static ledger dedup equals the batch anti-join") {
    val got = run("q160_stream_ledger_dedup")
    assertFileBacked(got)
    val fp = graft.functions.TextFunctions.canonicalFingerprint($"text")
    val docs = Tables.documents(spark, sf).select($"doc_id", fp.as("canonical_fp"))
    val ledger = docs.filter($"doc_id" % 7 === 0).select($"canonical_fp")
    val want = docs.join(ledger, Seq("canonical_fp"), "left_anti")
      .select($"doc_id", $"canonical_fp")
    assertSameRows(got, want)
    // every ledgered fingerprint is absent from the survivors
    assert(got.join(ledger, Seq("canonical_fp"), "left_semi").isEmpty)
  }

  test("q161: outer interval join emits exactly the views the watermark proved unmatched") {
    val got = run("q161_stream_unmatched_views")
    assertFileBacked(got)
    val ev = Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"event_type", expr("ts_ns").as("ns"))
    val views = ev.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("left_id"), $"ns".as("left_ns"))
    val buys = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ns".as("r_ns"))
    val matched = views.join(buys, Seq("user_id"))
      .filter($"r_ns" >= $"left_ns" && $"r_ns" <= $"left_ns" + expr("900000000000"))
      .select($"left_id").distinct()
    val want = views.join(matched, Seq("left_id"), "left_anti")
      .select($"user_id", $"left_id", $"left_ns")
    assertSameRows(got, want)
  }

  test("q162: streaming as-of equals the batch horizon-bounded backward as-of") {
    val got = run("q162_stream_asof")
    assertFileBacked(got)
    val ev = Tables.events(spark, sf)
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("left_id"), $"ts_ns".as("left_ns"))
    val v = ev.filter($"event_type" === "view")
      .select($"user_id".as("vu"), $"event_id".as("right_id"), $"ts_ns".as("right_ns"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"left_id").orderBy($"right_ns".desc, $"right_id".desc)
    val want = p.join(v, $"user_id" === $"vu" &&
        $"right_ns" <= $"left_ns" &&
        $"right_ns" >= $"left_ns" - 3600000000000L)
      .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .select($"user_id", $"left_id", $"left_ns", $"right_id", $"right_ns")
    assert(got.count() > 0)
    assert(got.filter($"user_id" === -1L).isEmpty)
    assertSameRows(got, want)
  }

  test("q163: left-outer streaming as-of equals the batch LEFT JOIN dual, one row per purchase") {
    val got = run("q163_stream_asof_outer")
    assertFileBacked(got)
    val ev = Tables.events(spark, sf)
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("left_id"), $"ts_ns".as("left_ns"))
    val v = ev.filter($"event_type" === "view")
      .select($"user_id".as("vu"), $"event_id".as("right_id"), $"ts_ns".as("right_ns"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"left_id").orderBy($"right_ns".desc, $"right_id".desc)
    val want = p.join(v, $"user_id" === $"vu" &&
        $"right_ns" <= $"left_ns" &&
        $"right_ns" >= $"left_ns" - 3600000000000L, "left")
      .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .select($"user_id", $"left_id", $"left_ns", $"right_id", $"right_ns")
    // the outer contract: EVERY purchase appears exactly once
    assert(got.count() == p.count(), "one output row per purchase")
    assert(got.filter($"right_id".isNull).count() > 0, "the null-enriched cohort exists at this sf")
    assertSameRows(got, want)
  }

  /** Crash-recovery witness for the two-stateful-operator chain (the
    * first question a production operator asks of q162/q163): the
    * q163 as-of chain is killed after its first micro-batch commits,
    * restarted from the SAME checkpoint and sink, and the drained
    * output must be row-identical to an uninterrupted run — no lost
    * purchases, no duplicated outer rows — under BOTH state-store
    * providers (in-heap default and the production RocksDB). The
    * corpus is staged as three mod-time-ordered files so
    * maxFilesPerTrigger=1 makes the replay genuinely multi-batch (the
    * gate's single-batch staging has no mid-corpus crash point).
    */
  test("crash recovery: q163 chain restarted from checkpoint drains to the " +
    "uninterrupted output under both state-store providers") {
    import graft.streaming.EventStream
    import graft.streaming.EventStream.Event
    val enc = org.apache.spark.sql.Encoders.product[Event]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // users 1-4: views then purchases inside the horizon; user 5 is
    // the cold-start cohort (purchase precedes every view) so the
    // outer path carries real rows across the crash
    def slice(rows: Seq[Event]) = spark.createDataset(rows)(enc).toDF()
    val hourA = (1L to 4L).flatMap { u =>
      Seq(Event(100 + u, ts(s"2024-03-01 10:0$u:00"), u, "view", 1.0),
        Event(120 + u, ts(s"2024-03-01 10:3$u:00"), u, "purchase", 5.0))
    } :+ Event(150L, ts("2024-03-01 10:10:00"), 5L, "purchase", 9.0)
    val hourB = (1L to 4L).flatMap { u =>
      Seq(Event(200 + u, ts(s"2024-03-01 11:0$u:00"), u, "view", 1.0),
        Event(220 + u, ts(s"2024-03-01 11:4$u:00"), u, "purchase", 7.0))
    } :+ Event(250L, ts("2024-03-01 11:50:00"), 5L, "view", 1.0)
    val sentinel = Seq(Event(-1L, ts("2030-01-01 00:00:00"), -1L, "__sentinel", 0.0))

    val srcDir = tmpDir("gq_crash_src")
    def append(rows: Seq[Event], stamp: Long): Unit = {
      val before = Option(new java.io.File(srcDir).listFiles())
        .map(_.map(_.getName).toSet).getOrElse(Set.empty[String])
      slice(rows).coalesce(1).write.mode("append").parquet(srcDir)
      // stamp arrival order explicitly: FileStreamSource picks files
      // oldest-mod-time-first under maxFilesPerTrigger
      new java.io.File(srcDir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
        .foreach(_.setLastModified(stamp))
    }
    val t0 = System.currentTimeMillis() - 600000
    append(hourA, t0); append(hourB, t0 + 60000); append(sentinel, t0 + 120000)

    def chain(ss: org.apache.spark.sql.SparkSession): DataFrame = {
      def src = ss.readStream.schema(enc.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      EventStream.asofEnrich(
        src.filter($"event_type".isin("purchase", "__sentinel")),
        src.filter($"event_type".isin("view", "__sentinel")),
        "user_id", horizon = "60 minutes", joinType = "left_outer")
    }
    def normalize(df: DataFrame): DataFrame = df
      .filter($"left_id" =!= -1L)
      .select($"user_id", $"left_id", $"left_ts", $"right_id", $"right_ts")
    def drainAll(ss: org.apache.spark.sql.SparkSession, sink: String, ckpt: String): Unit = {
      val q = chain(ss).writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    // uninterrupted reference (default provider)
    val refSink = tmpDir("gq_crash_ref")
    val refCkpt = tmpDir("gq_crash_refck")
    drainAll(spark, refSink, refCkpt)
    val outSchema = chain(spark).schema
    val want = normalize(spark.read.schema(outSchema).parquet(refSink))
    // 9 purchases total (4 in hour A + user 5's cold-start + 4 in hour B)
    assert(want.count() == 9L, "one output row per purchase")
    assert(want.filter($"right_id".isNull).count() == 1L, "the cold-start outer row exists")

    for (provider <- Seq("default", "rocksdb")) {
      val ss = spark.newSession()
      if (provider == "rocksdb")
        ss.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val sink = tmpDir(s"gq_crash_$provider")
      val ckpt = tmpDir(s"gq_crash_ck_$provider")
      // run 1: kill after the first micro-batch commits
      val q1 = chain(ss).writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      val deadline = System.currentTimeMillis() + 120000
      while (q1.lastProgress == null && System.currentTimeMillis() < deadline)
        Thread.sleep(25)
      assert(q1.lastProgress != null, "first micro-batch must commit before the kill")
      q1.stop()
      val midRows = ss.read.schema(outSchema).parquet(sink).count()
      // run 2: restart from the same checkpoint + sink, drain fully
      drainAll(ss, sink, ckpt)
      val got = normalize(ss.read.schema(outSchema).parquet(sink))
      assert(got.count() > midRows,
        s"[$provider] the restart must finalize real work (mid=$midRows)")
      assertSameRows(got, want)
    }
  }
}
