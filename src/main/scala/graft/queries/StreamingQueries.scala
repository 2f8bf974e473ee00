package graft.queries

import graft.{Q, Tables}
import graft.streaming.EventStream
import graft.streaming.EventStream.Event
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming operators under the cross-engine correctness
  * gate — the reference is batch-only (SURVEY.md §2.9), so these
  * certify the scale-path extension: each query replays the bounded
  * `events` corpus through a real streaming query (file source →
  * stateful transform → memory sink) and the DuckDB oracle states the
  * batch-equivalent SQL. Equality holds because every operator here
  * either emits independently of micro-batch boundaries (update-mode
  * state, inner stream-stream join) or finalizes all real event-time
  * state once the staged corpus's far-future sentinel row advances the
  * watermark (Spark runs a data-less extra micro-batch whenever the
  * watermark advances past pending state —
  * `IncrementalExecution.shouldRunAnotherBatch` — so append aggregates
  * and event-time timeouts drain completely).
  *
  * The feed is `readStream.parquet` over a staged copy of the corpus —
  * the PRODUCTION ingest path, distributed end-to-end with no
  * driver-side data (a MemoryStream feed serializes the corpus into
  * every stage's task binary — ~700 MB at a 100× replica — which is
  * why it is only used in unit specs). The staged copy is written ONCE
  * per input dir and shared by all the event-corpus replays
  * (process-wide memo):
  * it carries the whole corpus plus one sentinel row, so all files —
  * sentinel included — land in a single micro-batch (no
  * maxFilesPerTrigger) and within-batch file order is irrelevant:
  * every stateful fold below sorts by (ts ms, event_id) or is
  * order-insensitive. Because the watermark visible DURING batch N is
  * the one computed after batch N−1, the sentinel cannot evict or
  * finalize anything mid-batch; it only moves the post-batch watermark
  * to 2030−delay, which is exactly what triggers the drain batch.
  * Queries whose semantics don't involve the sentinel (dedup keys,
  * drift trace, CMS, the type-filtered join sides) filter it out
  * stream-side before their stateful operator, so it never even enters
  * their state.
  *
  * Determinism contracts (why a streaming run hash-matches batch SQL):
  *  - single data batch: watermark state eviction cannot fire between
  *    rows, and update-mode operators emit each cell exactly once;
  *  - monetary sums ride integer cents (exact in doubles);
  *  - the EWMA replays `0.5*v + 0.5*e` — the identical IEEE op
  *    sequence DuckDB's recursive CTE evaluates, so the trace is
  *    bit-equal even once the dyadic expansion exceeds the mantissa;
  *  - gap/window/timeout arithmetic is millisecond-floor on both
  *    sides (`Timestamp.getTime` ↔ `epoch_ns(ts)//1000000`).
  */
object StreamingQueries {

  private implicit val eventEnc: Encoder[Event] = Encoders.product[Event]

  /** Later than any event time any testdata scale carries (2024), by
    * years — beyond every watermark delay and window, so the
    * sentinel's own state never finalizes and nothing sentinel-derived
    * is ever emitted.
    */
  private val SentinelTs =
    java.sql.Timestamp.from(java.time.Instant.parse("2030-01-01T00:00:00Z"))
  private val SentinelType = "__sentinel"

  /** One staged streaming source per input dir, shared by every replay
    * in the process (Verify's thread pool and the bench both hit the
    * same corpus once per event-stream replay — staging it once turns
    * a distributed write per replay into one per run). Cleaned up on
    * JVM exit.
    */
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  sys.addShutdownHook(stagedDirs.values().forEach(rmdir(_)))

  /** Events with `value` as integer cents (exact in doubles — the
    * streaming folds stay drift-free and the oracle replays BIGINT),
    * plus the far-future sentinel row, staged to a temp parquet dir.
    * Distributed write, no driver collect, no coalesce (a 100× replica
    * stages wide).
    */
  /** Every sentinel-based determinism contract above assumes the real
    * corpus lives strictly BEFORE the sentinel. Enforce it where the
    * corpus is staged: a future-dated testdata generation then fails
    * as this named error at staging, not as an unexplained hash
    * mismatch three operators later. Expression-level (a `when` around
    * `ts`), so the check rides the staging write's own scan — no extra
    * job at any replica scale.
    */
  private[graft] def guardBelowSentinel(ts: Column): Column =
    when(ts < lit(SentinelTs), ts).otherwise(raise_error(concat(
      lit(s"event ts at/after the streaming sentinel ($SentinelTs): "),
      // coalesce keeps the concat non-null when ts itself is null (a
      // null comparison falls to this branch too) — raise_error must
      // still fire WITH the named message, not with a null one
      coalesce(ts.cast("string"), lit("NULL")))))

  private def stagedEvents(s: SparkSession, d: String): String =
    stagedDirs.computeIfAbsent(d, _ => {
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("gq_stream_src").toString
      val corpus = Tables.events(s, d)
        .select($"event_id", guardBelowSentinel($"ts").as("ts"), $"user_id",
          $"event_type", ($"value" * 100).cast("long").cast("double").as("value"))
      val sentinel = Seq(Event(-1L, SentinelTs, -1L, SentinelType, 0.0)).toDS().toDF()
      corpus.unionByName(sentinel).write.mode("overwrite").parquet(dir)
      dir
    })

  /** Staged (doc_id, text) corpus for the document-stream queries —
    * stateless per-batch operators, so no sentinel row. Shares the
    * same memo (distinct key) and shutdown cleanup.
    */
  private def stagedDocs(s: SparkSession, d: String): String =
    stagedDirs.computeIfAbsent(d + "#docs", _ => {
      val dir = java.nio.file.Files.createTempDirectory("gq_stream_docs").toString
      Tables.documents(s, d).select("doc_id", "text")
        .write.mode("overwrite").parquet(dir)
      dir
    })

  /** Clone the session for the replay: results are state-partition-
    * invariant, but each micro-batch pays store setup/commit PER
    * partition — 8 instead of 32 roughly halves the bounded replay's
    * wall-clock without touching the caller's conf (a cluster run
    * would size this up with the corpus, like any shuffle).
    */
  private def streamSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    // SPARK_GRAFT_STREAM_PARTITIONS overrides for measurement runs
    // (the Round-16 fixed-cost table) — results are state-partition-
    // invariant either way, the dial only moves per-batch store
    // setup/commit cost
    // toIntOption: a malformed dial must not kill a replay mid-gate —
    // warn and keep the default, like Bench's reps parsing
    ss.conf.set("spark.sql.shuffle.partitions",
      sys.env.get("SPARK_GRAFT_STREAM_PARTITIONS").flatMap { v =>
        val p = v.toIntOption.filter(_ > 0)
        if (p.isEmpty) System.err.println(
          s"[stream] WARNING: ignoring malformed SPARK_GRAFT_STREAM_PARTITIONS='$v'")
        p
      }.getOrElse(8).toString)
    // SPARK_GRAFT_STATESTORE=rocksdb swaps the per-partition state
    // store for RocksDB — state spills to local disk instead of being
    // bounded by executor heap, which is the configuration a 100 TB
    // streaming deployment runs. Results are provider-invariant (the
    // scale certificates re-prove it); the default stays the in-heap
    // HDFSBackedStateStoreProvider because the bounded replays here
    // are faster on-heap.
    if (sys.env.get("SPARK_GRAFT_STATESTORE").contains("rocksdb"))
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    ss
  }

  private def eventStream(s: SparkSession, dir: String): Dataset[Event] =
    s.readStream.schema(eventEnc.schema).parquet(dir).as[Event]

  private def rmdir(dir: String): Unit =
    try graft.sinks.Sinks.deleteTree(java.nio.file.Paths.get(dir))
    catch { case _: Throwable => () }

  /** Fast scratch space for the replay's checkpoint (offset/commit
    * logs + state-store deltas are many small fsync-ed files — tmpfs
    * makes them memory writes). Falls back to the default temp dir
    * where /dev/shm doesn't exist; a production deployment points this
    * at durable storage instead, which is exactly what the explicit
    * option models.
    */
  private def checkpointDir(): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
      java.nio.file.Files.createTempDirectory(shm, "gq_ckpt")
    else java.nio.file.Files.createTempDirectory("gq_ckpt")
  }

  /** Start the streaming query on a memory sink, drain it (the staged
    * corpus arrives as one micro-batch; the sentinel-advanced
    * watermark then drains event-time state in the data-less batch
    * `processAllAvailable` also waits for), stop it, clean the
    * checkpoint, and return the sink's table.
    */
  private def runToTable(ss: SparkSession, out: DataFrame, view: String,
      mode: String): DataFrame = {
    val ckpt = checkpointDir()
    val q = out.writeStream.format("memory").queryName(view)
      .option("checkpointLocation", ckpt.toString)
      .outputMode(mode).start()
    try q.processAllAvailable()
    finally { q.stop(); rmdir(ckpt.toString) }
    ss.table(view)
  }

  /** Like [[runToTable]] but draining to a PARQUET sink: the memory
    * sink materializes the result table on the driver, which is fine
    * for the aggregate-shaped replays but not for a corpus-sized
    * output — q160 emits one row per surviving document, so at a
    * 100×/1000× replica it must stream executor→files like a
    * production job. NEWEST-FRAME-ONLY contract: a same-tag re-run
    * deletes the previous run's sink dir as soon as the new run
    * commits, so only the most recently returned frame for a tag
    * stays readable (earlier frames raise FileNotFoundException); the
    * newest dir itself lives until JVM exit. The checkpoint is
    * removed with the run.
    */
  private def runToParquet(ss: SparkSession, out: DataFrame, tag: String): DataFrame = {
    val ckpt = checkpointDir()
    // a FRESH dir per run (a reused path would keep the previous run's
    // files and double the output), but keyed by TAG in the shutdown
    // memo: callers only ever read the newest returned frame for a
    // tag, so once this run commits, the dir it displaces is deleted
    // right away — repeated replays in one JVM (bench warmup +
    // measured, SPARK_GRAFT_ONLY iteration loops) must not accumulate
    // corpus-sized dirs until exit on a thin-provisioned disk
    val key = tag + "#out"
    // serialize same-tag runs on the interned key: the get/put/put
    // displaced-dir registration below is not atomic, and two
    // concurrent same-tag runs (Verify's thread pool is the motivating
    // concurrency) could interleave so one run's fresh dir leaves the
    // primary key without ever reaching the side key — a leaked
    // corpus-sized dir on the thin disk. Different tags intern to
    // different monitors, so cross-tag replays stay parallel.
    key.intern.synchronized {
    val dir = java.nio.file.Files.createTempDirectory("gq_stream_out").toString
    // the displaced dir must stay registered until its rmdir actually
    // completes — an abnormal exit anywhere in this method must still
    // clean it via the shutdown hook instead of leaking a corpus-sized
    // dir on the thin disk. Copy it under the side key BEFORE the
    // primary-key put displaces it, so there is no instant at which
    // the old dir is absent from the memo.
    val displacedKey = key + "#displaced"
    Option(stagedDirs.get(key)).foreach(stagedDirs.put(displacedKey, _))
    val prev = Option(stagedDirs.put(key, dir))
    try {
      val q = out.writeStream.format("parquet").option("path", dir)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try q.processAllAvailable()
      finally { q.stop(); rmdir(ckpt.toString) }
    } catch {
      case e: Throwable =>
        // failed run: drop its partial dir, keep the last good one
        // (restored under the primary key, so the side key can go)
        prev.fold[Unit] { stagedDirs.remove(key); () } { p =>
          stagedDirs.put(key, p); ()
        }
        stagedDirs.remove(displacedKey)
        rmdir(dir)
        throw e
    }
    prev.foreach(rmdir)
    stagedDirs.remove(displacedKey)
    // read with the declared schema: a corpus slice whose replay
    // commits zero output files (e.g. no view/purchase events feeding
    // q161's join) must come back as an empty frame, not as parquet's
    // "Unable to infer schema" error
    ss.read.schema(out.schema).parquet(dir)
    }
  }

  /** Run one bounded streaming replay over the shared staged corpus. */
  private def replay(s: SparkSession, view: String, d: String,
      mode: String = "append")(
      build: Dataset[Event] => DataFrame): DataFrame = {
    val src = stagedEvents(s, d)
    val ss = streamSession(s)
    runToTable(ss, build(eventStream(ss, src)), view, mode)
  }

  /** Like [[replay]] but draining to a parquet sink — for the replays
    * whose output is CORPUS-sized (one row per event / session /
    * distinct key): a memory sink would materialize all of it on the
    * driver, which caps the certified scale at whatever the driver
    * heap holds. Append-mode only, like the parquet sink itself.
    */
  private def replayToFiles(s: SparkSession, tag: String, d: String)(
      build: Dataset[Event] => DataFrame): DataFrame = {
    val src = stagedEvents(s, d)
    val ss = streamSession(s)
    runToParquet(ss, build(eventStream(ss, src)), tag)
  }

  /** Sentinel filter for operators whose semantics shouldn't see it —
    * applied BEFORE the stateful transform (and before any
    * `withWatermark` the operator installs), so the sentinel neither
    * enters state nor advances that query's watermark.
    */
  private def dropSentinel(ds: Dataset[Event]): Dataset[Event] =
    ds.filter(col("event_type") =!= SentinelType)

  val all: Seq[Q] = Seq(

    // streaming tumbling-window aggregation (append mode + watermark):
    // after the sentinel drains state, the emitted set IS the batch
    // hourly rollup — the sentinel's own window never finalizes
    Q.sql(
      "q153_stream_hour_counts",
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600000000000 AS ws_ns,
        |  event_type, count(*) AS cnt,
        |  CAST(sum(CAST(trunc(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      replay(s, "gq_stream_hour_counts", d) { ds =>
        EventStream.windowedCounts(ds.toDF(), "10 minutes", "60 minutes")
      }
        .select(
          (unix_micros($"window_start") * 1000L).as("ws_ns"),
          $"event_type", $"cnt", $"total_value".cast("long").as("total_cents"))
        .orderBy($"ws_ns", $"event_type")
    },

    // stateful gap sessionization (flatMapGroupsWithState + event-time
    // timeout): observed gaps close sessions in-batch, the sentinel
    // times out each user's final session → complete batch equality.
    // Gap arithmetic is ms-floor on both sides.
    Q.sql(
      "q154_stream_sessions",
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(trunc(value * 100) AS BIGINT) AS cents,
        |    epoch_ns(ts) AS ns, epoch_ns(ts) // 1000000 AS ms
        |  FROM events),
        |b AS (
        |  SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000
        |                 THEN 1 ELSE 0 END AS brk
        |  FROM (SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms
        |        FROM e) t),
        |g AS (
        |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM b),
        |f AS (
        |  SELECT *, first_value(ns) OVER w AS sns, last_value(ns) OVER w AS ens
        |  FROM g
        |  WINDOW w AS (PARTITION BY user_id, sid ORDER BY ms, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  min(sns) AS start_ns, min(ens) AS end_ns
        |FROM f
        |GROUP BY user_id, sid
        |ORDER BY user_id, start_ns""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      replayToFiles(s, "gq_stream_sessions", d) { ds =>
        EventStream.sessionize(ds, gapMinutes = 30, watermark = "10 minutes").toDF()
      }
        .select($"user_id", $"n_events", $"total_value".cast("long").as("total_cents"),
          (unix_micros($"session_start") * 1000L).as("start_ns"),
          (unix_micros($"session_end") * 1000L).as("end_ns"))
        .orderBy($"user_id", $"start_ns")
    },

    // watermarked stream-stream interval join (view → purchase within
    // 15 min): inner joins emit matches as rows arrive, and a single
    // micro-batch retains all state → the full batch join. Both sides
    // are type-filtered reads of the SAME staged corpus (the sentinel
    // matches neither side).
    Q.sql(
      "q155_stream_interval_join",
      """SELECT l.user_id AS user_id, l.event_id AS left_id, r.event_id AS right_id,
        |  epoch_ns(l.ts) AS left_ns, epoch_ns(r.ts) AS right_ns
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND epoch_ns(r.ts) >= epoch_ns(l.ts)
        | AND epoch_ns(r.ts) <= epoch_ns(l.ts) + 900000000000
        |WHERE l.event_type = 'view' AND r.event_type = 'purchase'
        |ORDER BY left_id, right_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val src = stagedEvents(s, d)
      val ss = streamSession(s)
      runToTable(ss,
        EventStream.intervalJoin(
          eventStream(ss, src).toDF().filter(col("event_type") === "view"),
          eventStream(ss, src).toDF().filter(col("event_type") === "purchase"),
          "user_id", within = "15 minutes"),
        "gq_stream_ijoin", "append")
        .select($"user_id", $"left_id", $"right_id",
          (unix_micros($"left_ts") * 1000L).as("left_ns"),
          (unix_micros($"right_ts") * 1000L).as("right_ns"))
        .orderBy($"left_id", $"right_id")
    },

    // per-window top-K via flatMapGroupsWithState (count-map state,
    // emit-once on event-time timeout): the sentinel finalizes every
    // real window; ties break by key — same contract as the oracle's
    // (cnt DESC, event_type) row_number
    Q.sql(
      "q156_stream_window_topk",
      """WITH c AS (
        |  SELECT (epoch_ns(ts) // 3600000000000) * 3600000000000 AS ws_ns,
        |    event_type, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY ws_ns ORDER BY cnt DESC, event_type) AS rk
        |  FROM c)
        |SELECT ws_ns, event_type, cnt, CAST(rk AS BIGINT) AS rank
        |FROM r WHERE rk <= 3
        |ORDER BY ws_ns, rank""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      replay(s, "gq_stream_topk", d) { ds =>
        EventStream.windowedTopK(ds, k = 3, windowMinutes = 60).toDF()
      }
        .select((unix_micros($"window_start") * 1000L).as("ws_ns"),
          $"event_type", $"cnt", $"rank".cast("long").as("rank"))
        .orderBy($"ws_ns", $"rank")
    },

    // streaming keep-first dedup bounded by a watermark, projected to
    // its key columns (user, type, hour): within one batch no state is
    // evicted, so the emitted key set is the exact global DISTINCT
    Q.sql(
      "q157_stream_dedup_keys",
      """SELECT DISTINCT user_id, event_type,
        |  epoch_ns(ts) // 3600000000000 AS hour_bucket
        |FROM events
        |ORDER BY user_id, event_type, hour_bucket""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      replayToFiles(s, "gq_stream_dedup", d) { ds =>
        EventStream.dedupWithinWatermark(
          dropSentinel(ds).toDF()
            .withColumn("hour_bucket", expr("unix_micros(ts) div 3600000000")),
          Seq("user_id", "event_type", "hour_bucket"), "10 minutes")
          .select("user_id", "event_type", "hour_bucket")
      }
        .orderBy($"user_id", $"event_type", $"hour_bucket")
    },

    // streaming per-key EWMA drift scoring (update-mode state, keyed
    // by type|user): the emitted trace replays 0.5*v + 0.5*e in (ts
    // ms, event_id) order — the identical IEEE sequence the oracle's
    // recursive CTE walks, so the doubles are bit-equal
    Q.sql(
      "q158_stream_drift",
      """WITH RECURSIVE e AS (
        |  SELECT event_type || '|' || CAST(user_id AS VARCHAR) AS drift_key,
        |    event_id, CAST(CAST(trunc(value * 100) AS BIGINT) AS DOUBLE) AS v,
        |    epoch_ns(ts) // 1000000 AS ms
        |  FROM events),
        |o AS (
        |  SELECT drift_key, event_id, v,
        |    row_number() OVER (PARTITION BY drift_key ORDER BY ms, event_id) AS rn
        |  FROM e),
        |r AS (
        |  SELECT drift_key, event_id, v, rn, v AS ewma FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.drift_key, o.event_id, o.v, o.rn, 0.5 * o.v + 0.5 * r.ewma
        |  FROM r JOIN o ON o.drift_key = r.drift_key AND o.rn = r.rn + 1)
        |SELECT drift_key, event_id, CAST(v AS BIGINT) AS value_cents,
        |  ewma, abs(v - ewma) AS drift
        |FROM r
        |ORDER BY event_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      replayToFiles(s, "gq_stream_drift", d) { ds =>
        EventStream.driftScores(dropSentinel(ds), alpha = 0.5,
          keyOf = e => e.event_type + "|" + e.user_id).toDF()
      }
        .select($"event_type".as("drift_key"), $"event_id",
          $"value".cast("long").as("value_cents"), $"ewma", $"drift")
        .orderBy($"event_id")
    },

    // streaming count-min sketch over the user-id token stream
    // (update-mode cross-batch state): one batch emits each touched
    // cell exactly once — the batch sketch, cell for cell
    Q.sql(
      "q159_stream_cms",
      """WITH toks AS (SELECT CAST(user_id AS VARCHAR) AS tok FROM events),
        |rb AS (
        |  SELECT j, ('0x' || substr(md5(tok || '#' || CAST(j AS VARCHAR)), 1, 15))::BIGINT % 64 AS bucket
        |  FROM (SELECT tok, unnest(range(0, 4)) AS j FROM toks))
        |SELECT j AS row_id, bucket, CAST(count(*) AS BIGINT) AS cnt
        |FROM rb GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val src = stagedEvents(s, d)
      val ss = streamSession(s)
      val in = dropSentinel(eventStream(ss, src))
        .select(col("user_id").cast("string"))
        .as[String]
      runToTable(ss, EventStream.streamingCountMin(in, rows = 4, width = 64).toDF(),
        "gq_stream_cms", "update")
        .orderBy($"row_id", $"bucket")
    },

    // stream-static ledger dedup (the incremental-ingest shape): drop
    // every streamed document whose canonical fingerprint is already
    // in a static ledger — a stateless per-batch LEFT ANTI join, the
    // streaming form of cross-run exact dedup. The ledger here is the
    // fingerprints of every 7th document (the "previous corpus");
    // at 100 TB the static side is a parquet ledger the join shuffles
    // or broadcasts like any other.
    Q.sql(
      "q160_stream_ledger_dedup",
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS canonical_fp
        |  FROM documents),
        |led AS (SELECT DISTINCT canonical_fp FROM fp WHERE doc_id % 7 = 0)
        |SELECT f.doc_id, f.canonical_fp
        |FROM fp f LEFT JOIN led l ON f.canonical_fp = l.canonical_fp
        |WHERE l.canonical_fp IS NULL
        |ORDER BY f.doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val src = stagedDocs(s, d)
      val ss = streamSession(s)
      val ledger = Tables.documents(ss, d)
        .filter($"doc_id" % 7 === 0)
        .select(graft.functions.TextFunctions.canonicalFingerprint($"text").as("_fp"))
      val stream = ss.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "doc_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(
            "text", org.apache.spark.sql.types.StringType))))
        .parquet(src)
      val out = EventStream.dropLedgered(stream, "text", ledger)
        .select(col("doc_id"),
          graft.functions.TextFunctions.canonicalFingerprint(col("text"))
            .as("canonical_fp"))
      // parquet sink, not memory: the output is corpus-sized (one row
      // per surviving document), so it must stream executor→files —
      // at a 100× replica a memory sink would materialize every
      // survivor on the driver
      runToParquet(ss, out, "gq_stream_ledger")
        .orderBy($"doc_id")
    },

    // watermarked LEFT OUTER interval join — views that never
    // converted: an unmatched left event is emitted (null right) only
    // once the watermark PROVES no purchase can still arrive, which is
    // the semantics an inner join cannot express. The sentinel passes
    // both side filters so each side's watermark advances; it matches
    // only itself (user −1) and that pair, like every matched pair, is
    // excluded by the right-null predicate. Real unmatched views drain
    // in the data-less eviction batch
    // (StreamingSymmetricHashJoinExec.shouldRunAnotherBatch).
    Q.sql(
      "q161_stream_unmatched_views",
      """SELECT l.user_id AS user_id, l.event_id AS left_id, epoch_ns(l.ts) AS left_ns
        |FROM events l
        |WHERE l.event_type = 'view' AND NOT EXISTS (
        |  SELECT 1 FROM events r
        |  WHERE r.user_id = l.user_id AND r.event_type = 'purchase'
        |    AND epoch_ns(r.ts) >= epoch_ns(l.ts)
        |    AND epoch_ns(r.ts) <= epoch_ns(l.ts) + 900000000000)
        |ORDER BY left_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val src = stagedEvents(s, d)
      val ss = streamSession(s)
      val joined = EventStream.intervalJoin(
        eventStream(ss, src).toDF()
          .filter(col("event_type").isin("view", SentinelType)),
        eventStream(ss, src).toDF()
          .filter(col("event_type").isin("purchase", SentinelType)),
        "user_id", within = "15 minutes", joinType = "left_outer")
      // file sink: unmatched views are a constant fraction of the
      // corpus (~20%), too big for a driver memory sink at a replica
      runToParquet(ss, joined, "gq_stream_unmatched")
        .filter($"right_id".isNull)
        .select($"user_id", $"left_id", (unix_micros($"left_ts") * 1000L).as("left_ns"))
        .orderBy($"left_id")
    },

    // streaming as-of enrichment: each purchase matched to the user's
    // LATEST view in the preceding hour — interval join → windowed
    // argmax, Spark's supported two-stateful-operator chain (the
    // streaming dual of q23's batch as-of, horizon-bounded so both
    // operators' state stays finite). The sentinel passes both side
    // filters so each watermark advances; it matches only itself
    // (user −1), and that group's 2030 finalize window never closes,
    // so nothing sentinel-derived is emitted — the real windows drain
    // in the data-less eviction batches the advanced watermark
    // triggers (delayed through the join by the horizon).
    Q.sql(
      "q162_stream_asof",
      """WITH p AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS ns
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS ns
        |  FROM events WHERE event_type = 'view'),
        |j AS (
        |  SELECT p.user_id, p.event_id AS left_id, p.ns AS left_ns,
        |    v.event_id AS right_id, v.ns AS right_ns,
        |    row_number() OVER (PARTITION BY p.event_id
        |                       ORDER BY v.ns DESC, v.event_id DESC) AS rk
        |  FROM p JOIN v ON v.user_id = p.user_id
        |   AND v.ns <= p.ns AND v.ns >= p.ns - 3600000000000)
        |SELECT user_id, left_id, left_ns, right_id, right_ns
        |FROM j WHERE rk = 1
        |ORDER BY left_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val src = stagedEvents(s, d)
      val ss = streamSession(s)
      val out = EventStream.asofEnrich(
        eventStream(ss, src).toDF()
          .filter(col("event_type").isin("purchase", SentinelType)),
        eventStream(ss, src).toDF()
          .filter(col("event_type").isin("view", SentinelType)),
        "user_id", horizon = "60 minutes")
      // file sink: one row per matched purchase — corpus-sized
      runToParquet(ss, out, "gq_stream_asof")
        // defensive only: the sentinel self-match can never finalize
        .filter($"left_id" =!= -1L)
        .select($"user_id", $"left_id",
          (unix_micros($"left_ts") * 1000L).as("left_ns"),
          $"right_id", (unix_micros($"right_ts") * 1000L).as("right_ns"))
        .orderBy($"left_id")
    },

    // q163: the FULL (left-outer) streaming as-of — q162's enrichment
    // plus one null-enriched row per purchase whose horizon holds no
    // view, emitted when the watermark proves no match can arrive (the
    // delayed outer row from the join's state expiry; its event time
    // is the purchase's own, so the argmax window finalizes it like
    // any matched row). Every purchase appears exactly once, which is
    // the contract a training-ingest enrichment actually needs —
    // matched-only (q162) silently drops the cold-start cohort. The
    // batch dual is one LEFT JOIN: each rk=1 partition is either
    // all-matched or the single null row, so the oracle needs no null
    // ordering care.
    Q.sql(
      "q163_stream_asof_outer",
      """WITH p AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS ns
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS ns
        |  FROM events WHERE event_type = 'view'),
        |j AS (
        |  SELECT p.user_id, p.event_id AS left_id, p.ns AS left_ns,
        |    v.event_id AS right_id, v.ns AS right_ns,
        |    row_number() OVER (PARTITION BY p.event_id
        |                       ORDER BY v.ns DESC, v.event_id DESC) AS rk
        |  FROM p LEFT JOIN v ON v.user_id = p.user_id
        |   AND v.ns <= p.ns AND v.ns >= p.ns - 3600000000000)
        |SELECT user_id, left_id, left_ns, right_id, right_ns
        |FROM j WHERE rk = 1
        |ORDER BY left_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val src = stagedEvents(s, d)
      val ss = streamSession(s)
      val out = EventStream.asofEnrich(
        eventStream(ss, src).toDF()
          .filter(col("event_type").isin("purchase", SentinelType)),
        eventStream(ss, src).toDF()
          .filter(col("event_type").isin("view", SentinelType)),
        "user_id", horizon = "60 minutes", joinType = "left_outer")
      runToParquet(ss, out, "gq_stream_asof_outer")
        .filter($"left_id" =!= -1L)
        .select($"user_id", $"left_id",
          (unix_micros($"left_ts") * 1000L).as("left_ns"),
          $"right_id", (unix_micros($"right_ts") * 1000L).as("right_ns"))
        .orderBy($"left_id")
    }
  )
}
