package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Scale-slope harness: synthesize an N× replica of a testdata scale
  * factor and time the heavy queries at both scales, printing a
  * per-query slope table (t_scaled / t_base; linear work at 10× ⇒
  * slope ≈ 10 once past fixed overhead, sublinear ⇒ overhead-bound).
  *
  * Replication is REPLICA-SALTED so workload structure scales
  * linearly instead of collapsing or exploding:
  *  - fact keys (custkey/orderkey/doc_id/vec_id/event_id/user_id)
  *    shift by replica × (max+1): per-key group structure (dup
  *    groups, sessions, per-user streams) is preserved per replica,
  *    never merged across replicas
  *  - `c_name` is re-derived from the shifted key, so the edit-1
  *    vocabulary really grows N×
  *  - document tokens get an `r<i>_` prefix per replica (i>0): in-
  *    replica shingle/minhash dup structure is preserved exactly,
  *    while cross-replica near-dup pairs (which would grow output
  *    quadratically) are impossible
  *  - embeddings get a per-(replica, dim) deterministic sign flip —
  *    an isometry, so within-replica distances are exact while
  *    cross-replica neighborhoods decorrelate
  *  - dimension tables (nation/region/part/supplier) copy unscaled
  *
  * Usage: runMain graft.tools.ScaleBench [factor] [baseDir] [outDir]
  * (defaults 10, /root/testdata/sf0.1, /tmp/graft_scale_x<factor>).
  * SPARK_GRAFT_ONLY=q1,q2 restricts the timed query list;
  * SPARK_GRAFT_TABLES=... restricts generated fact tables;
  * SPARK_GRAFT_EMB_DIM=768 widens embeddings cosine-preserving (the
  * dim-768 witness — see the generation-site comment). Generation
  * is skipped when outDir/_SCALE_DONE exists, so a width comparison
  * is two pre-generated dirs passed as [baseDir] [outDir].
  *
  * Realistic-width CERTIFICATE recipe (CORRECTNESS_scale_d768.json,
  * round 17 — hash-certified, not just slope-witnessed):
  *   SPARK_GRAFT_EMB_DIM=768 SPARK_GRAFT_TABLES=embeddings \
  *     sbt "runMain graft.tools.ScaleBench 100 /root/testdata/sf0.1 \
  *          /tmp/graft_scale_emb100d768"        # 200K x 768, ~93 MB
  *   SPARK_GRAFT_ONLY=<dimension-agnostic embedding readers> \
  *     sbt "runMain graft.Verify /tmp/graft_scale_emb100d768 /tmp/vs_d768"
  *   python3 tools/check_oracle.py /tmp/graft_scale_emb100d768 \
  *     /tmp/vs_d768 CORRECTNESS_scale_d768.json
  * Excluded by construction: q151/q96 (oracles pin range(1,65)) and
  * q76 (oracle pins the 4x16 PQ grid) — dimension-PINNED fixtures,
  * not width-scalable claims; every other embedding reader replays
  * via len(v)/size(vec) on both engines.
  */
object ScaleBench {

  val defaultQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q03_revenue_by_nation", "q19_sessionize_batch",
    "dedup_first", "fillna_defaults", "exact_dedup_docs", "minhash_lsh_dup",
    "q72_cc_stars", "q74_edit1_join", "q89_dup_ngram_spans", "q90_span_scrub",
    "q140_naive_bayes", "q55_tfidf", "ann_topk_lsh", "q78_semantic_dedup",
    "q126_logreg_gd", "q109_label_prop")

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val baseDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(2).getOrElse(s"/tmp/graft_scale_x$factor")
    // SPARK_GRAFT_SHUFFLE_PARTITIONS sizes the shuffle for the replica
    // being probed — the dial a cluster turns with the data. One
    // partition per core is right through the fourth decade; a
    // fifth-decade window/sort (1B rows / 32 partitions = 31M-row
    // per-task sorts) needs more partitions exactly as it would on a
    // real cluster. Warn-and-fallback parsing, like the streaming
    // partitions dial.
    val shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .flatMap { v =>
        val p = v.trim.toIntOption.filter(_ > 0)
        if (p.isEmpty) System.err.println(
          s"[scale] ignoring malformed SPARK_GRAFT_SHUFFLE_PARTITIONS='$v'")
        p
      }
    val spark = graft.Session(shufflePartitions = shufflePartitions)

    if (!Files.exists(Paths.get(s"$outDir/_SCALE_DONE"))) {
      generate(spark, baseDir, outDir, factor)
      Files.createDirectories(Paths.get(outDir))
      Files.writeString(Paths.get(s"$outDir/_SCALE_DONE"), s"factor=$factor base=$baseDir\n")
    } else println(s"[scale] reusing generated data at $outDir")

    val queries = graft.SparkEntry.queries
    val timed = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(defaultQueries)
    // `semdedup_scaled` probes semanticDedupBucketed on its DEFAULT
    // auto-derived planesPerTable (~4 centroids per bucket at any
    // scale — the pinned q150 oracle fixes planes=4 for small-scale
    // replay; the default dial is what a user gets at 100×)
    def semdedupScaled(dir: String): DataFrame = {
      val emb = graft.Tables.embeddings(spark, dir)
      val (surv, _) = graft.operators.Similarity.semanticDedupBucketed(
        emb, "vec_id", "embedding", centroidStep = 50, threshold = 0.40)
      surv.select(col("vec_id"))
    }
    def run(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      val df = if (name == "semdedup_scaled") semdedupScaled(dir)
               else queries(name)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // codegen warm per query at the smallest scale, like graft.Bench
    for (q <- timed)
      try run(q, "/root/testdata/sf0.001") catch { case _: Throwable => () }

    val scaledHdr = s"x${factor}_s"
    println(f"[scale] ${"query"}%-22s ${"base_s"}%8s $scaledHdr%9s slope")
    val rows = timed.map { q =>
      val tb = run(q, baseDir)
      val ts = run(q, outDir)
      println(f"[scale] $q%-22s $tb%8.2f $ts%9.2f ${ts / tb}%5.1f")
      (q, tb, ts)
    }
    def j(d: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    println("[scale-json] {" + rows.map { case (q, tb, ts) =>
      "\"" + q + "\":[" + j(tb) + "," + j(ts) + "," + j(ts / tb) + "]"
    }.mkString(",") + s""","factor":$factor}""")
    spark.stop()
  }

  private def generate(spark: SparkSession, baseDir: String, outDir: String, factor: Int): Unit = {
    def read(t: String) = spark.read.parquet(s"$baseDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    def shiftOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L
    // one row per (input row, replica). Repartition the INPUT, not the
    // exploded output: shuffling after the explode moves factor× the
    // data (a 1000× lineitem = ~60 GB of shuffle temp, which this
    // box's thin disk cannot hold — the round-12 blocker); shuffling
    // the base table first moves only the base bytes and the explode
    // fans out inside each write task, so generation is shuffle-light
    // at ANY factor. 64 input slices keep all cores writing.
    def replicate(df: DataFrame): DataFrame =
      df.repartition(64).withColumn("_i", explode(sequence(lit(0), lit(factor - 1))))
    val i = col("_i")

    // SPARK_GRAFT_TABLES=events,documents — restrict which fact
    // tables are generated (dims always copy through), keeping each
    // replica dir sized to the family it certifies (events+documents,
    // customer+orders, lineitem) instead of one dir carrying every
    // fact table at once on the thin disk.
    val wanted = sys.env.get("SPARK_GRAFT_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def on(t: String) = wanted.forall(_.contains(t))

    // dims copy through unscaled
    for (t <- Seq("nation", "region", "part", "supplier")) write(read(t), t)

    if (on("customer") || on("orders") || on("lineitem")) {
      val custShift = shiftOf(read("customer"), "c_custkey")
      val orderShift = shiftOf(read("orders"), "o_orderkey")
      if (on("customer")) write(replicate(read("customer"))
        .withColumn("c_custkey", col("c_custkey") + i * custShift)
        .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
        .drop("_i"), "customer")
      if (on("orders")) write(replicate(read("orders"))
        .withColumn("o_orderkey", col("o_orderkey") + i * orderShift)
        .withColumn("o_custkey", col("o_custkey") + i * custShift)
        .drop("_i"), "orders")
      if (on("lineitem")) write(replicate(read("lineitem"))
        .withColumn("l_orderkey", col("l_orderkey") + i * orderShift)
        .drop("_i"), "lineitem")
    }

    val ev = read("events")
    if (on("events")) {
      val evShift = shiftOf(ev, "event_id")
      val userShift = shiftOf(ev, "user_id")
      write(replicate(ev)
        .withColumn("event_id", col("event_id") + i * evShift)
        .withColumn("user_id", col("user_id") + i * userShift)
        .drop("_i"), "events")
    }

    if (on("documents")) {
      val docShift = shiftOf(read("documents"), "doc_id")
      write(replicate(read("documents"))
        .withColumn("doc_id", col("doc_id") + i * docShift)
        .withColumn("text", when(i === 0, col("text")).otherwise(
          concat_ws(" ", transform(split(col("text"), " "),
            t => concat(lit("r"), i.cast("string"), lit("_"), t)))))
        .withColumn("n_chars", length(col("text")))
        .drop("_i"), "documents")
    }

    if (on("embeddings")) {
      val vecShift = shiftOf(read("embeddings"), "vec_id")
      val replicated = replicate(read("embeddings"))
        .withColumn("vec_id", col("vec_id") + i * vecShift)
        .withColumn("embedding", when(i === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x, j) =>
            (x * when(pmod(xxhash64(i, j), lit(2)) === 0, 1.0d).otherwise(-1.0d))
              .cast("float"))))
      // SPARK_GRAFT_EMB_DIM=768 — the high-dimension scale witness
      // (round 16): every vector certificate otherwise rides dim 64
      // (~88 MB at 2M vectors) while real embedding corpora are 768+,
      // where a vector is 3 KB and candidate-stream width dominates.
      // Widening TILES the base vector with a deterministic
      // per-(tile, dim) sign flip SHARED BY ALL ROWS: each pairwise
      // dot product scales by exactly `tiles` and every norm by
      // sqrt(tiles), so cosine VALUES are preserved in real
      // arithmetic (double accumulation over tiles× more terms can
      // differ in ulps below the round-6 cut; the round-16 spot check
      // agreed to 6 dp on sampled pairs). The dim-768 hyperplanes are
      // DIFFERENT projections, so LSH candidate sets are
      // statistically similar at the wider dim, not identical.
      // (Value-preservation holds exactly only when the target is a
      // multiple of the base dim; a partial last tile truncates and
      // merely approximates — 64 → 768 is a whole number of tiles.)
      val embDim = sys.env.get("SPARK_GRAFT_EMB_DIM").flatMap { v =>
        val parsed = v.trim.toIntOption
        if (parsed.isEmpty)
          System.err.println(s"[scale] ignoring malformed SPARK_GRAFT_EMB_DIM='$v' (want an int)")
        parsed
      }
      val widened = embDim match {
        case Some(d) =>
          val baseDim = read("embeddings")
            .select(size(col("embedding"))).head().getInt(0)
          require(d >= baseDim, s"SPARK_GRAFT_EMB_DIM=$d < base dim $baseDim")
          val tiles = (d + baseDim - 1) / baseDim
          replicated.withColumn("embedding",
            slice(flatten(array((0 until tiles).map { t =>
              if (t == 0) col("embedding")
              else transform(col("embedding"), (x, j) =>
                (x * when(pmod(xxhash64(lit(t), j), lit(2)) === 0, 1.0d)
                  .otherwise(-1.0d)).cast("float"))
            }: _*)), 1, d))
        case None => replicated
      }
      write(widened.drop("_i"), "embeddings")
    }
    println(s"[scale] generated ${factor}x of $baseDir at $outDir")
  }
}
