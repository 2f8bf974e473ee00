package graft

/** Plan-level regression guard: every SparkEntry query is planned and
  * audited for scale anti-patterns, so a future edit that silently
  * degrades a plan (cartesian product, unpruned scan) fails CI — the
  * executable form of the PLANS.md cross-cutting claims.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // the intentional broadcast-small-side nested-loop shapes
  // (ANN query sets, IVF centroids, guarded pair baselines, scalar
  // thresholds incl. the 1-row corpus size N in tf-idf, range-capped
  // levenshtein, 5-row band dimension, PQ's 4-row subvector index,
  // and the 1-row corpus-stats frames in the LM/retrieval scorers:
  // bigram-LM and BM25 broadcast (N, avgdl)-style scalar aggregates,
  // PMI broadcasts the total token count, RRF inherits BM25's)
  private val bnlAllowed = Set(
    "ann_topk_brute", "ann_topk_ivf", "embedding_cosine_dup", "dup_components",
    "ngram_jaccard_pairs", "q14_above_avg", "q29_levenshtein", "q37_band_range_join",
    "q55_tfidf", "q59_profile_typed", "q66_unigram_logprob", "q76_pq_topk",
    "q78_semantic_dedup", "q84_bigram_logprob", "q85_bm25", "q86_rrf_fusion",
    "q87_pmi_collocations", "q88_kmeans_lloyd", "q93_pagerank",
    // q151/q152 are q88/q150's sqrt(n)-stride variants and inherit the
    // same broadcast-centroid nested-loop shapes
    "q151_kmeans_sqrtk", "q152_semdedup_sqrtk",
    "q94_vocab_coverage", "q95_knn_classify", "q96_centroid_confusion",
    // round-5: q98/q103 ride bruteForceTopK's broadcast query set,
    // q104 broadcasts the 1-row corpus total N, q106 is the bounded
    // JL pair probe (non-equi id_a < id_b over 100 broadcast rows)
    "q98_triangles", "q103_mrl_recall", "q104_interp_logprob", "q106_jl_ratio",
    // q118 broadcasts the LM's 1-row V plus the 1-row threshold frame;
    // q119 rides bruteForce-style broadcast query sets
    "q118_ccnet_buckets", "q119_hard_negatives",
    // q124 broadcasts the 1-row Rayleigh-quotient frame onto the
    // 64-row component vector; q125 cross-joins its two 1-row
    // candidate/verified count frames per config
    "q124_pca_power", "q125_lsh_tuning",
    // q126 broadcasts the 1-row training-accuracy frame onto the
    // 5-row weight vector; q128 broadcasts the 1-row (n_a, n_b)
    // totals onto the distinct-value CDF frame
    "q126_logreg_gd", "q128_ks_drift",
    // q133 broadcasts the 1-row weight-array frame onto the corpus
    // each GD step (the in-row dot-product scoring path); q134 rides
    // bruteForceTopK's broadcast query set; q135 crosses the item
    // universe with the K-row class-totals frame; q136 cross-joins
    // its three 1-row MI/entropy frames
    "q133_calibration", "q134_ndcg", "q135_chi2_tokens", "q136_mutual_info",
    // q137 broadcasts the single newest center onto the corpus each
    // greedy step (the running in-row min-distance update); q140
    // crosses the vocabulary with the K-row class-totals frame (the
    // smoothed logprob grid needs zero-count cells)
    "q137_kcenter", "q140_naive_bayes",
    // q142 broadcasts the 1-row conformal-threshold frame onto the
    // test scores; q146 broadcasts the 1-row source-count frame onto
    // the per-source token totals
    "q142_conformal", "q146_epoch_budget",
    // q147 composes q133's broadcast-weight scoring with q142's
    // 1-row conformal-threshold broadcast; q148 rides the ANN paths'
    // broadcast query sets and crosses the 3-row k frame onto the hits
    "q147_learned_gate", "q148_ann_recall",
    // q149 rides q133's broadcast-weight scoring and crosses the
    // 1-row Brier frame onto the 50-row bin stats
    "q149_brier",
    // export_roundtrip cross-joins its two 1-row checksum frames
    // (export count+md5 x error count+md5) — same 1-row-broadcast
    // shape as q146's source-count frame
    "export_roundtrip",
    // q165/q166 are q95/q103's hash-rank-sampled scale paths and ride
    // the same bruteForceTopK broadcast-query-set shape (the sample
    // is 20 rows by construction at ANY scale)
    "q165_knn_classify_sampled", "q166_mrl_recall_sampled")

  // every query's executed plan, built once and shared by the audits,
  // and whether building it left a frame in the CacheManager (persist
  // registers when it is called, so construction is enough; the cache
  // is cleared before each query). Plan strings truncate metadata at
  // maxMetadataStringLength (100); it is raised while the plans are
  // built and printed so the full ReadSchema is visible to the pruning
  // audits' regex
  private lazy val built: Seq[(String, String, Boolean)] = {
    val cacheManager = spark.sharedState.cacheManager
    val prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      spark.catalog.clearCache()
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      (name, plan, !cacheManager.isEmpty)
    }
    finally spark.conf.set("spark.sql.maxMetadataStringLength", prev)
  }

  private lazy val plans: Seq[(String, String)] = built.map { case (n, p, _) => n -> p }

  test("no query leaves a cached frame behind") {
    val leaking = built.collect { case (name, _, true) => name }
    assert(leaking.isEmpty, s"queries that leave a cached frame behind: ${leaking.mkString(", ")}")
  }

  test("no query plans a CartesianProduct; nested-loop joins only where intended") {
    val offenders = plans.flatMap { case (name, plan) =>
      val cartesian = plan.contains("CartesianProduct")
      val unexpectedBnl =
        plan.contains("BroadcastNestedLoopJoin") && !bnlAllowed.contains(name)
      if (cartesian) Some(s"$name: CartesianProduct")
      else if (unexpectedBnl) Some(s"$name: unexpected BroadcastNestedLoopJoin")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("lineitem scans prune columns (no SELECT * of the fact table)") {
    val schemaRe = "ReadSchema: struct<([^>]*)>".r
    val wide = plans.flatMap { case (name, plan) =>
      // count columns only on the LINEITEM scan's own line — other
      // tables' scans in the same plan must not be attributed to it
      val lineitemReads = plan.linesIterator
        .filter(_.contains("lineitem.parquet"))
        .flatMap(l => schemaRe.findFirstMatchIn(l))
        .map(m => m.group(1).count(_ == ',') + 1)
        .toSeq
      if (lineitemReads.exists(_ >= 11)) Some(name) else None
    }
    assert(wide.isEmpty, s"queries scanning all lineitem columns: $wide")
    // the guard must actually see schemas: q01 reads lineitem, so at
    // least one un-truncated lineitem ReadSchema must have matched
    val q01Plan = plans.toMap.apply("q01_pricing_summary")
    assert(q01Plan.linesIterator.exists(l =>
      l.contains("lineitem.parquet") && schemaRe.findFirstMatchIn(l).isDefined),
      "self-check failed: lineitem ReadSchema not visible to the audit")
  }

  test("documents scans prune columns (the 100 TB corpus table)") {
    val schemaRe = "ReadSchema: struct<([^>]*)>".r
    // documents has 5 columns (doc_id, text, lang, source, n_chars);
    // a scan reading all 5 for a query that uses fewer is a pruning
    // regression — at 100 TB the text column alone dominates I/O, so
    // queries not touching text must never read it
    val offenders = plans.flatMap { case (name, plan) =>
      val docReads = plan.linesIterator
        .filter(_.contains("documents.parquet"))
        .flatMap(l => schemaRe.findFirstMatchIn(l))
        .map(_.group(1)).toSeq
      val wide = docReads.exists(s => s.count(_ == ',') + 1 >= 5)
      if (wide) Some(name) else None
    }
    assert(offenders.isEmpty, s"queries scanning all documents columns: $offenders")
  }
}
