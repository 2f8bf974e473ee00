package graft.operators

import graft.functions.GraftFunctions
import graft.functions.TextFunctions.hash60
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (exact, O(q·n) — the right
  * answer when the query set is small and broadcastable). Scale path:
  * random-hyperplane LSH bucketing — deterministic pseudo-random
  * planes derived from md5, so results are reproducible across
  * engines and runs — with exact re-ranking inside candidate buckets.
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double
    * precision, summing in index order (matches DuckDB's
    * list_dot_product over double-cast lists).
    */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b))
  }

  /** Exact top-k neighbors for each query vector (queries broadcast).
    *
    * When the NEIGHBOR corpus is itself broadcast-sized (bounded
    * limit-probe, default ≤ `maxLocalNeighbors` rows), the whole
    * corpus rides along each query row as one broadcast struct array
    * and the top-k is an in-row `array_sort` + `slice` — zero
    * shuffles, no window sort, same (sim desc rounded-6, neighbor_id)
    * ranking. A NaN cosine (zero-norm vector) ranks FIRST and a null
    * sim (dim mismatch) ranks LAST, exactly as the window's
    * `sim.desc` (NaN greatest, NullsLast) ordered them. Larger
    * corpora keep the scale path: broadcast the queries, score every
    * (neighbor, query) pair, rank with a per-query window.
    *
    * @return (query_id, neighbor_id, sim, rank) — sim rounded to 6
    *         before ranking so ordering is stable cross-engine; ties
    *         broken by neighbor id.
    */
  def bruteForceTopK(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxLocalNeighbors: Int = 100000): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val n = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
    val corpusFits = maxLocalNeighbors > 0 &&
      n.select(lit(1)).limit(maxLocalNeighbors + 1).count() <= maxLocalNeighbors
    if (corpusFits) {
      // ranking key replays the window order on the ROUNDED sim; the
      // cosine is computed once per pair (first transform), the sort
      // key derived from it (second transform, cheap scalar CASE)
      def negsim(s: Column): Column =
        coalesce(when(isnan(s), lit(Double.NegativeInfinity)).otherwise(-s),
          lit(Double.PositiveInfinity))
      val nbrArr = n.agg(collect_list(struct(col("neighbor_id"), col("nv"))).as("_nbrs"))
      q.crossJoin(broadcast(nbrArr))
        .select(col("query_id"), posexplode(slice(array_sort(transform(
          transform(
            filter(col("_nbrs"), x => x.getField("neighbor_id") =!= col("query_id")),
            x => struct(
              round(GraftFunctions.cosineFast(col("qv"), x.getField("nv")), 6).as("sim"),
              x.getField("neighbor_id").as("neighbor_id"))),
          p => struct(
            negsim(p.getField("sim")).as("negsim"),
            p.getField("neighbor_id").as("neighbor_id"),
            p.getField("sim").as("sim")))), 1, k))
          .as(Seq("_pos", "_p")))
        .select(col("query_id"), col("_p.neighbor_id").as("neighbor_id"),
          col("_p.sim").as("sim"),
          (col("_pos") + 1).cast("long").as("rank"))
    } else {
      val scored = n.crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("sim", round(GraftFunctions.cosineFast(col("qv"), col("nv")), 6))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id"))
      scored
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
    }
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1):
    * table t, plane p, dimension i → (hash60("t_p_i") mod 2001 - 1000) / 1000.
    */
  private def planeComponent(table: Int, p: Int, i: Column): Column =
    (pmod(hash60(concat(lit(s"${table}_${p}_"), i.cast("string"))), lit(2001)) - 1000)
      .cast("double") / 1000.0

  /** Sign-bit bucket of a vector under one table's hyperplanes. */
  def lshBucket(vec: Column, table: Int, nPlanes: Int): Column = {
    val dims = sequence(lit(0), size(vec) - 1)
    (0 until nPlanes).map { p =>
      val dotP = aggregate(dims, lit(0.0),
        (acc, i) => acc + element_at(vec, i + 1).cast("double") * planeComponent(table, p, i))
      when(dotP >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Approximate top-k via multi-table hyperplane LSH: `tables`
    * independent hash tables of `planesPerTable` sign bits each, a
    * candidate being any vector sharing a (possibly 1-bit-off, when
    * multiProbe) bucket with the query in any table; exact cosine
    * re-rank over the candidate union.
    *
    * Recall/cost scales with tables × 2^-planesPerTable: more planes →
    * smaller buckets (cheaper, lower recall), more tables/probes →
    * higher recall. On strongly clustered embeddings few tables
    * suffice; near-uniform vectors (worst case) need wide probing.
    *
    * Preconditions (both fail-fast-guarded or documented, not silent):
    *  - the QUERY side is broadcast-small by contract — its probe rows
    *    and vectors ride broadcasts, so a corpus-sized `queries` frame
    *    would OOM the driver. Guarded by a limit probe on
    *    `maxBroadcastQueries` (raise deliberately if your executors
    *    can take the broadcast).
    *  - `idCol` is UNIQUE on both sides: the narrow candidate stream
    *    re-attaches vectors by joining on id alone (the round-16
    *    wide-carry fix), so a duplicate id in `emb` or `queries`
    *    multiplies rows after the pair dedup where the old
    *    vector-carrying shape emitted one row per bucket meeting.
    *    Every call site feeds a primary-keyed corpus (`vec_id`).
    */
  def lshTopK(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      tables: Int = 8,
      planesPerTable: Int = 6,
      multiProbe: Boolean = true,
      maxBroadcastQueries: Long = 100000): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    ExhaustiveGuard.requireBroadcastable(queries, maxBroadcastQueries, "lshTopK")
    // one native pass computes every table's bucket (plane matrix
    // precomputed; == lshBucket per table), then posexplode to rows.
    // NARROW from here on (the dim-768 witness lesson, round 16, and
    // q152's round-15 spill lesson applied to ANN): the bucketed rows
    // carry only (id, tbl, bucket) — the old shape posexploded the
    // VECTOR into all `tables` bucket rows and shuffled candidate
    // pairs through dropDuplicates carrying BOTH vectors, which is
    // ~6 KB/row at dim 768 and measured 20.7× slower at 12× width
    // (ann_topk_lsh 5.7 s → 117 s, 2M×64 → 2M×768) where the
    // compute-bound brute path moved 1.5×.
    def bucketed(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(
        col(id),
        posexplode(GraftFunctions.lshBuckets(col(vec), tables, planesPerTable)))
        .withColumnRenamed("pos", "tbl")
        .withColumnRenamed("col", "bucket")

    val nvSide = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
    val qvSide = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val n = bucketed(nvSide, "neighbor_id", "nv")
    val qBase = bucketed(qvSide, "query_id", "qv")
    val probes = if (multiProbe) {
      val flips = array((-1 until planesPerTable).map {
        case -1 => col("bucket")
        case p  => col("bucket").bitwiseXOR(lit(1L << p))
      }: _*)
      qBase.withColumn("bucket", explode(flips))
    } else qBase

    // candidate pairs stay ~16 B/row through the bucket join AND the
    // dedup exchange; vectors re-attach afterwards — once per DISTINCT
    // pair (row-linear on the corpus, with the query side broadcast:
    // the query set is small by contract)
    val cand = n.join(broadcast(probes.select(col("tbl"), col("bucket"), col("query_id"))),
        Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cand
      .join(nvSide, Seq("neighbor_id"))
      .join(broadcast(qvSide), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(GraftFunctions.cosineFast(col("qv"), col("nv")), 6).as("sim"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** IVF-style approximate top-k: a deterministic coarse quantizer
    * (every `centroidStep`-th vector as a centroid — a trained
    * codebook drops in through [[ivfTopKCodebook]]), vectors
    * inverted into their nearest-centroid cell, queries probing the
    * `nProbe` nearest cells with exact cosine re-rank inside.
    *
    * Scale shape: build = one scan × C centroids (broadcast), search =
    * nProbe/C of the data per query — the classic IVF recall/cost dial.
    */
  def ivfTopK(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroidStep: Int = 50,
      nProbe: Int = 4): DataFrame = {
    val centroids = emb
      .filter(pmod(col(idCol), lit(centroidStep)) === 0)
      .select(col(idCol).as("cell"), col(vecCol).as("cv"))
    ivfTopKCodebook(emb, queries, idCol, vecCol, k, centroids, nProbe)
  }

  /** IVF top-k against any codebook: invert vectors into
    * nearest-centroid cells, probe the query's `nProbe` nearest cells,
    * exact re-rank inside. `centroids` must have columns
    * (cell: long, cv: array<float>).
    */
  def ivfTopKCodebook(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: DataFrame,
      nProbe: Int = 4): DataFrame = {
    GraftFunctions.register(emb.sparkSession)

    // in-row top-`keep` cells: the centroids ride along as one
    // broadcast array and an array_sort over (−sim, cell) structs
    // replays the (sim desc, cell asc) ranking without the corpus
    // shuffle-and-sort the row_number window paid per assignment
    def assign(df: DataFrame, id: String, vec: String, keep: Int): DataFrame = {
      val centArr = centroids
        .agg(array_sort(collect_list(struct(col("cell"), col("cv")))).as("_cs"))
      // degenerate sims keep the OLD window's (sim desc, NullsLast)
      // rank order: a NaN cosine (zero-norm vector) ranked FIRST there
      // (desc treats NaN as greatest) → map to −∞ negsim; a null sim
      // (dim-mismatched centroid) ranked LAST → map to +∞ negsim. The
      // raw struct sort would silently flip both (NaN negsim sorts
      // last, null struct fields sort first).
      def negsim(vec: Column, cv: Column): Column = {
        val s = GraftFunctions.cosineFast(vec, cv)
        coalesce(when(isnan(s), lit(Double.NegativeInfinity)).otherwise(-s),
          lit(Double.PositiveInfinity))
      }
      // keep == 1 (the corpus-wide inversion) runs the fused native
      // argmin (graft.plans.BestCentroid): no per-row C-element struct
      // array is materialized or sorted, and the row vector's norm is
      // accumulated once instead of once per centroid — the two costs
      // that made the 2M-vector assignment (n × n/50 cosines) the
      // measured feasibility wall (round 16; same value bit-for-bit,
      // asserted against the composed form in TextOpsSpec). The
      // isNotNull filter replays the composed explode's drop of rows
      // with an empty/null codebook.
      if (keep == 1)
        df.crossJoin(broadcast(centArr))
          .withColumn("_b", GraftFunctions.bestCentroid(col(vec), col("_cs")))
          .filter(col("_b").isNotNull)
          .select(col(id), col(vec), col("_b.cell").as("cell"))
      else
        df.crossJoin(broadcast(centArr))
          .withColumn("_p", explode(slice(array_sort(transform(col("_cs"), c =>
            struct(negsim(col(vec), c.getField("cv")).as("negsim"),
              c.getField("cell").as("cell")))), 1, keep)))
          .select(col(id), col(vec), col("_p.cell").as("cell"))
    }

    val inverted = assign(
      emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv")), "neighbor_id", "nv", 1)
    val probed = assign(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")), "query_id", "qv", nProbe)

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    inverted.join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(GraftFunctions.cosineFast(col("qv"), col("nv")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** Int8 scalar quantization of an embedding column: per-dimension
    * corpus min/max (one aggregate over the exploded vectors), then
    * each value maps to a code in [-127, 127] by uniform bucketing of
    * its dimension's range — the 4× storage / memory-bandwidth
    * reduction step ANN indexes apply before distance evaluation.
    * Long-format output (id, dim, code); constant dimensions code 0.
    * Pure IEEE arithmetic with a final floor — no rounding ambiguity,
    * so the result is bit-stable across engines and layouts.
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val e = emb
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("dim", "value")))
      .select(col(idCol), col("dim").cast("long").as("dim"),
        col("value").cast("double").as("v"))
    val stats = e.groupBy(col("dim"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    e.join(broadcast(stats), "dim")
      .select(col(idCol), col("dim"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(
            floor((col("v") - col("mn")) / (col("mx") - col("mn")) * 255),
            lit(254L)) - 127)
          .as("code"))
  }

  /** All embedding pairs with cosine >= threshold within a bounded id
    * range (embedding near-dup detection; exhaustive over the range).
    * Refuses inputs over `maxRows` — see [[ExhaustiveGuard]].
    */
  def cosineDupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxRows: Long = 10000): DataFrame = {
    ExhaustiveGuard.requireBounded(emb, maxRows, "cosineDupPairs")
    GraftFunctions.register(emb.sparkSession)
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(GraftFunctions.cosineFast(col("va"), col("vb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Product-quantization ADC top-k (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI'11): vectors are
    * split into `subvectors` blocks of `subDim` dims; each block is
    * coded as its nearest of `numCentroids` per-block centroids, so a
    * 64-dim float vector compresses to `subvectors` small codes.
    * Queries score candidates with Asymmetric Distance Computation:
    * the exact query-to-centroid distance table (subvectors ×
    * numCentroids entries, broadcast) is summed along each candidate's
    * codes — no full-vector math per candidate.
    *
    * The codebook is the deterministic stride quantizer (every
    * `centroidStep`-th vector donates its blocks; trained centers drop
    * into the same shape). Scale: encoding is one
    * scan × broadcast(codebook); search touches only the code table
    * (n × subvectors tiny rows) plus a broadcast ADC table — the
    * original vectors are never read at query time.
    *
    * @return (query_id, neighbor_id, adc, rank) — adc rounded to 4
    *         decimals before ranking, ties broken by neighbor id.
    */
  def pqTopK(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      subvectors: Int = 4,
      subDim: Int = 16,
      numCentroids: Int = 16,
      centroidStep: Int = 20): DataFrame = {
    val dvec = col(vecCol).cast("array<double>")
    val cents = emb
      .filter(pmod(col(idCol), lit(centroidStep)) === 0)
      .select(expr(s"CAST(${graft.plans.SqlIdent.quote(idCol)} div $centroidStep AS BIGINT)")
        .as("cid"), dvec.as("cv"))
      .filter(col("cid") < numCentroids)
    val subIdx = spark_range_subvectors(emb, subvectors)
    // per-(vector, block) and per-(centroid, block) slices
    val es = emb.select(col(idCol).as("vec_id"), dvec.as("v"))
      .crossJoin(subIdx)
      .select(col("vec_id"), col("j"), slice(col("v"), col("j") * subDim + 1, lit(subDim)).as("vs"))
    val cs = cents.crossJoin(subIdx)
      .select(col("cid"), col("j"), slice(col("cv"), col("j") * subDim + 1, lit(subDim)).as("csv"))
    // exact block distances; sequential index-order sum (cross-engine
    // deterministic, matches DuckDB list_sum over list_transform)
    def l2sq(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)
    // materialize once: both the code assignment and the query ADC
    // table read this frame — without the cut it computes twice
    val dist = es.join(broadcast(cs), Seq("j"))
      .select(col("vec_id"), col("j"), col("cid"), l2sq(col("vs"), col("csv")).as("d"))
      .localCheckpoint(true)
    // encode: nearest centroid per block (deterministic cid tiebreak)
    val codeW = Window.partitionBy(col("vec_id"), col("j")).orderBy(col("d").asc, col("cid").asc)
    val codes = dist.withColumn("rn", row_number().over(codeW))
      .filter(col("rn") === 1).select(col("vec_id"), col("j"), col("cid"))
    // ADC table for the (small, broadcast) query set: ALL block
    // distances, not just the nearest
    val queryIds = queries.select(col(idCol).as("query_id"))
    val qd = dist.join(
      broadcast(queryIds), dist("vec_id") === queryIds("query_id"))
      .select(col("query_id"), col("j"), col("cid"), col("d"))
    codes.join(broadcast(qd), Seq("j", "cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(round(sum(col("d")), 4).as("adc"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("adc").asc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc"), col("rank").cast("long").as("rank"))
  }

  /** Deterministic fixed-size query sample: the `numQueries` rows
    * whose seeded 60-bit hash `hash60(seed:id)` ranks smallest (ties
    * by id). RNG-free and engine-replayable — DuckDB regenerates the
    * identical set via `row_number() OVER (ORDER BY md5-hash, id)` —
    * so an exact-over-sampled-queries formulation certifies
    * cross-engine at any scale (the q164 sampled-verify pattern,
    * applied to the QUERY side of the kNN-shaped operators).
    *
    * Hash-RANK rather than a q164-style rate cut on purpose: a fixed
    * rate keeps the sample a constant FRACTION (pair sampling wants
    * that — the pair universe itself grows), but a query×corpus grid
    * needs a constant COUNT so the grid is K·n at every decade — at
    * 1000× the exact q95 oracle's 50-query grid materializes ~84 GB
    * in DuckDB (measured pin failure) while K=20 hash-ranked queries
    * with a narrow materialized score stage replay fine. Plan shape:
    * `orderBy(hash).limit(K)` is TakeOrderedAndProject — per-partition
    * top-K, K×partitions rows to the driver, no global sort.
    */
  def sampleQueriesByHashRank(
      df: DataFrame,
      idCol: String,
      seed: String,
      numQueries: Int): DataFrame = {
    require(numQueries >= 1, "need at least one sampled query")
    df.withColumn("_qh",
        hash60(concat(lit(seed), lit(":"), col(idCol).cast("string"))))
      .orderBy(col("_qh"), col(idCol))
      .limit(numQueries)
      .drop("_qh")
  }

  /** k-NN majority-vote classification: each query's label is the
    * mode of its k nearest neighbors' labels (exact cosine, round-6,
    * neighbor-id tiebreak; vote ties go to the smaller label — fully
    * deterministic). Returns (query_id, true_label, pred_label,
    * votes). The label-propagation primitive for weak supervision
    * over an embedded corpus; neighbor search cost is whatever the
    * chosen kNN path costs — this baseline uses the broadcast
    * brute-force.
    */
  def knnClassify(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    val labels = emb.select(col(idCol), col(labelCol).cast("long").as("_lbl"))
    val votes = bruteForceTopK(emb, queries, idCol, vecCol, k)
      .join(labels.withColumnRenamed(idCol, "neighbor_id"), Seq("neighbor_id"))
      .groupBy(col("query_id"), col("_lbl"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("_lbl").asc)
    votes.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .join(labels.withColumnRenamed(idCol, "query_id")
        .withColumnRenamed("_lbl", "true_label"), Seq("query_id"))
      .select(col("query_id"), col("true_label"),
        col("_lbl").as("pred_label"), col("votes"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540) with the deterministic stride codebook (every
    * `centroidStep`-th vector, cell = its id): compare cosine
    * similarity only WITHIN each cell, resolve the above-threshold
    * pair graph to components, and keep one canonical row per
    * semantic group (plus everything unpaired). SQL-replayable end to
    * end, so the DuckDB oracle certifies the full
    * cluster→pair→component→survivor chain. Returns (survivors,
    * removed).
    *
    * Scale shape: assignment is corpus × broadcast(centroids); the
    * pair stage is an equi-join on the cell id, so the quadratic term
    * is per-cell (n/C)², never n².
    */
  def semanticDedupStride(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroidStep: Int,
      threshold: Double): (DataFrame, DataFrame) = {
    val cents = emb
      .filter(pmod(col(idCol), lit(centroidStep)) === 0)
      .select(col(idCol).as("cell"), col(vecCol).as("cv"))
    semanticDedupWith(emb, idCol, vecCol, cents, threshold)
  }

  /** Shared SemDeDup core against any `(cell, cv)` codebook. */
  def semanticDedupWith(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      threshold: Double): (DataFrame, DataFrame) = {
    GraftFunctions.register(emb.sparkSession)
    val sim = GraftFunctions.cosineFast(col("_v"), col("cv"))
    val cand = emb.select(col(idCol), col(vecCol).as("_v"))
      .crossJoin(broadcast(centroids))
      .select(col(idCol), sim.as("_sim"), col("cell"))
    dedupFromAssigned(emb, idCol, bestCell(cand, emb, idCol, vecCol), threshold)
  }

  /** Per-id argmax over NARROW `(id, _sim, cell)` candidate rows as
    * ONE map-side-collapsed aggregation, vectors re-joined from the
    * corpus afterwards — the candidate stream (corpus ×
    * centroids-per-bucket) never crosses an exchange: the partial agg
    * collapses each partition to one best-so-far row per id, so the
    * shuffle moves at most one 24-byte row per corpus id plus one
    * row-linear vector re-join. The previous shape (dropDuplicates +
    * a row_number window over candidates CARRYING BOTH VECTORS)
    * shipped the full wide stream through an exchange and a sort —
    * measured SPILL_OUT_OF_MEMORY past the thin disk's real free
    * blocks at the 2M-vector replica (round 15; the
    * percentile-histogram lesson, applied to assignment). Narrowness
    * matters inside the agg too: max_by's struct ordering buffer
    * compiles to SortAggregate, whose partial stage sorts each
    * partition's candidate slice — 40-byte rows keep that sort
    * in-memory at any measured scale, vector-bearing rows would not.
    *
    * Tie semantics match the window it replaces (orderBy sim DESC,
    * cell ASC): max_by over struct(_sim, -cell) — struct ordering
    * treats a null _sim as smallest, like desc-nulls-last, and
    * equal-ordering candidates carry the same cell, so the argmax is
    * deterministic.
    *
    * Precondition: `idCol` is unique in `emb`. The re-join keys the
    * vector lookup on id alone, so a duplicate id would emit one
    * assigned row PER duplicate (and duplicated pairs downstream)
    * where the replaced row_number window emitted exactly one — every
    * caller feeds a primary-keyed corpus (`vec_id`), and
    * [[semanticDedupBucketed]]'s candidate stream is built from the
    * same frame, so the join is 1:1 by construction.
    */
  private[graft] def bestCell(
      cand: DataFrame,
      emb: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    val best = cand
      .groupBy(col(idCol))
      .agg(max_by(col("cell"),
        struct(col("_sim"), (-col("cell")).as("_nc"))).as("cell"))
    emb.select(col(idCol), col(vecCol).as("_v"))
      .join(best, Seq(idCol))
      .select(col(idCol), col("_v"), col("cell"))
  }

  /** [[semanticDedupStride]] with LSH-BUCKETED centroid assignment —
    * the assignment-stage scale path. The stride codebook grows
    * k ∝ n (constant expected cell size, linear in-cell pair work),
    * which makes the EXACT assignment's corpus × all-k scan the
    * pipeline's quadratic term (n²/centroidStep — measured as the one
    * steep slope in the 10× scale run). Here vectors and centroids
    * are hashed by the same sign-bit hyperplane tables as [[lshTopK]],
    * and each vector takes the most-similar centroid among its
    * bucket-mates across tables: expected assignment cost
    * n × k × tables / 2^planesPerTable — raise planesPerTable with
    * log2(k) to hold per-bucket work constant at any scale. A vector
    * sharing no bucket with any centroid joins no cell and survives
    * unpaired (exactly a singleton cell). Fully deterministic
    * (hash-derived planes, no RNG) and SQL-replayable end to end —
    * the q150 oracle certifies the whole bucket→assign→pair→
    * component→survivor chain; agreement with the exact-assignment
    * variant is pinned in SeriesRecallSpec.
    *
    * `planesPerTable <= 0` (the default) derives the dial from the
    * corpus itself: planes = max(4, round(log2(k)) − 2) with
    * k = n / centroidStep, i.e. ~4 expected centroids per bucket at
    * ANY scale. The 10×/100× scale probes showed why this must be
    * the default: a pinned planes=4 at k=4000 over-candidates ~250×
    * and exhausts shuffle disk, while the derived dial holds the
    * decade slope linear. Pass an explicit positive value only to
    * pin a replayable small-scale oracle (q150 pins 4).
    *
    * Deriving the dial needs the corpus size. When `corpusCount > 0`
    * it is taken as-is and the auto path adds NO extra job; when it is
    * unknown (the 0 default) one `count()` action runs first — an
    * id-only pruned scan, cheap over parquet, but if `emb` is an
    * expensive UNCACHED computation the whole upstream executes once
    * for the count and again for bucketing. Callers with computed
    * embeddings should persist `emb` or pass the row count they
    * already know (most pipelines counted the corpus stages ago).
    */
  def semanticDedupBucketed(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroidStep: Int,
      threshold: Double,
      tables: Int = 4,
      planesPerTable: Int = 0,
      corpusCount: Long = 0L): (DataFrame, DataFrame) = {
    GraftFunctions.register(emb.sparkSession)
    val planes =
      if (planesPerTable > 0) planesPerTable
      else {
        // id-only count: prune to one column so a parquet-backed corpus
        // answers from footer stats instead of reading vectors
        val n = if (corpusCount > 0) corpusCount else emb.select(idCol).count()
        val k = math.max(1L, n / math.max(1, centroidStep))
        math.max(4, (math.log(k.toDouble) / math.log(2)).round.toInt - 2)
      }
    def bucketed(df: DataFrame): DataFrame = df
      .select(df.columns.map(col) :+
        posexplode(GraftFunctions.lshBuckets(col("_v"), tables, planes)): _*)
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "bucket")
    val vb = bucketed(emb.select(col(idCol), col(vecCol).as("_v")))
    // centroid buckets are the stride rows' own buckets — one
    // bucketing pass feeds both sides
    val cb = vb.filter(pmod(col(idCol), lit(centroidStep)) === 0)
      .select(col(idCol).as("cell"), col("_v").as("cv"), col("tbl"), col("bucket"))
    val sim = GraftFunctions.cosineFast(col("_v"), col("cv"))
    // the same (vector, centroid) meeting in several tables yields
    // identical candidate rows — harmless duplicates under the argmax
    // agg (no dropDuplicates pass needed, it was a second full
    // exchange of the wide candidate stream)
    val cand = vb.join(cb, Seq("tbl", "bucket"))
      .select(col(idCol), sim.as("_sim"), col("cell"))
    dedupFromAssigned(emb, idCol, bestCell(cand, emb, idCol, vecCol), threshold)
  }

  /** Pair generation within cells + component survivors, shared by
    * every assignment strategy.
    */
  private def dedupFromAssigned(
      emb: DataFrame,
      idCol: String,
      assigned: DataFrame,
      threshold: Double): (DataFrame, DataFrame) = {
    val a = assigned.select(col("cell"), col(idCol).as("id_a"), col("_v").as("_va"))
    val b = assigned.select(col("cell"), col(idCol).as("id_b"), col("_v").as("_vb"))
    // round-to-6 before the threshold, like the pair oracles — keeps
    // the cut deterministic cross-engine
    val pairs = a.join(b, "cell")
      .filter(col("id_a") < col("id_b"))
      .filter(round(GraftFunctions.cosineFast(col("_va"), col("_vb")), 6) >= threshold)
      .select(col("id_a"), col("id_b"))
    DupGraph.nearDedupSurvivors(emb, idCol, pairs)
  }

  /** One row per subvector index 0..subvectors-1 (tiny; broadcast into
    * the slice cross joins).
    */
  private def spark_range_subvectors(df: DataFrame, subvectors: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    (0 until subvectors).map(_.toLong).toDF("j")
  }

  /** Matryoshka-style dimension-truncation probe: per query, recall@k
    * of the exact top-k computed on only the first `prefixDims`
    * dimensions against the full-dimension top-k. The embedding-
    * storage sizing question ("can we ship 16 of the 64 dims?")
    * answered as one join of two [[bruteForceTopK]] runs — at scale,
    * swap either side for the IVF/LSH/PQ path; the recall harness is
    * unchanged.
    *
    * Returns (query_id, n_common, recall) with recall = n_common/k
    * rounded to 6.
    */
  def truncationRecall(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      prefixDims: Int,
      k: Int): DataFrame = {
    require(prefixDims >= 1, "need at least one prefix dimension")
    val full = bruteForceTopK(emb, queries, idCol, vecCol, k)
    def truncate(df: DataFrame) =
      df.withColumn(vecCol, slice(col(vecCol), 1, prefixDims))
    val trunc = bruteForceTopK(truncate(emb), truncate(queries), idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("_hit"))
    full.join(trunc, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(coalesce(sum(col("_hit")), lit(0L)).as("n_common"))
      .withColumn("recall", round(col("n_common").cast("double") / k, 6))
  }

  /** Hard-negative mining for contrastive training: for each query,
    * the top-k most similar vectors with a DIFFERENT label — the
    * highest-value negatives (easy negatives teach nothing; the near
    * misses define the decision boundary). Exact cosine over a
    * broadcast query set; at corpus scale swap the candidate source
    * for the IVF/LSH path and keep the label-exclusion re-rank.
    *
    * Returns (query_id, neighbor_id, query_label, neg_label, sim,
    * rank).
    */
  def hardNegatives(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val q = queries.select(col(idCol).as("query_id"),
      col(labelCol).cast("long").as("query_label"), col(vecCol).as("qv"))
    val n = emb.select(col(idCol).as("neighbor_id"),
      col(labelCol).cast("long").as("neg_label"), col(vecCol).as("nv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    n.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id") &&
        col("neg_label") =!= col("query_label"))
      .withColumn("sim", round(GraftFunctions.cosineFast(col("qv"), col("nv")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("query_label"),
        col("neg_label"), col("sim"), col("rank"))
  }

  /** Johnson-Lindenstrauss random projection with a DETERMINISTIC
    * ±1 sign matrix derived from the seeded 60-bit hash (sign(k,i) =
    * parity of hash60("jl_k_i")) — no RNG, no broadcast matrix
    * object, any engine regenerates the identical matrix from the
    * formula. y_k = Σ_i sign(k,i)·v_i / √outDims, the Achlioptas
    * (2003) database-friendly construction.
    *
    * Narrow (per-row expression only): the projection rides the scan,
    * so at 100 TB this is the cheap first stage before any
    * shuffle-bearing ANN/dedup step.
    */
  def jlProject(
      emb: DataFrame, idCol: String, vecCol: String, outDims: Int): DataFrame = {
    require(outDims >= 1, "need at least one output dimension")
    val v = col(vecCol)
    val sign = (k: Column, i: Column) =>
      when(pmod(hash60(concat(lit("jl_"), k, lit("_"), i)), lit(2L)) === 0L, lit(1.0))
        .otherwise(lit(-1.0))
    val proj = transform(sequence(lit(0), lit(outDims - 1)), k =>
      aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, i) => x.cast("double") * sign(k, i)),
        lit(0.0), (acc, t) => acc + t) / math.sqrt(outDims.toDouble))
    emb.select(col(idCol), v, proj.as("jl"))
  }
}
