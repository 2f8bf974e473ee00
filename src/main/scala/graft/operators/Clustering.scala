package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Oracle-certifiable Lloyd's k-means over an embedding column, the
  * only k-means trainer: the algorithm in pure relational arithmetic,
  * so every step — init, assignment, centroid update — replays
  * exactly in SQL on another engine, giving the k-means loop itself a
  * hard DuckDB oracle. Determinism conventions (SURVEY §8.4): distances
  * round to 6 decimals before the argmin (tie-broken by cell id) and
  * centroid components round to 6 after each mean, so iteration N's
  * input is bit-identical cross-engine regardless of summation order.
  *
  * Scale shape per iteration: one corpus scan × broadcast(k
  * centroids) for assignment (the published algorithm's cost,
  * embarrassingly parallel), then a two-level aggregation
  * (cell,dim)→cell for the update — the per-dimension partial means
  * combine map-side, so the shuffle carries k·dim rows, not the
  * corpus. Centroid frames are k rows; `localCheckpoint` truncates
  * the per-iteration lineage so the plan does not deepen with iters.
  */
object Clustering {

  /** Squared L2 distance of two array<double> columns, summed in
    * index order (matches DuckDB's list_sum over list_transform).
    * Bit-identical composed form, kept as the parity witness for the
    * native [[graft.plans.SquaredDist]] fast path assignCells uses
    * (asserted equal in HashExprSpec).
    */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** Deterministic stride init: every `centroidStep`-th row by id,
    * cell = id / centroidStep. Returns (cell: long, cv: array<double>).
    */
  def strideInit(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroidStep: Int): DataFrame = {
    require(centroidStep > 0, "centroidStep must be positive")
    emb.filter(pmod(col(idCol), lit(centroidStep)) === 0)
      .select((col(idCol) / centroidStep).cast("long").as("cell"),
        col(vecCol).cast("array<double>").as("cv"))
  }

  /** Nearest-centroid assignment: (idCol, _v, cell, d) with d the
    * round-6 squared distance to the winning cell, ties to the lower
    * cell id. `centroids` must be (cell: long, cv: array<double>).
    *
    * The argmin is IN-ROW: the k centroids ride along as one
    * broadcast array and `array_min` over (d, cell) structs picks the
    * winner — struct ordering is exactly (distance asc, cell asc).
    * The previous formulation ranked a corpus × k exploded frame with
    * a window over the row id: a full corpus shuffle-and-sort per
    * assignment pass (per Lloyd iteration!) for a per-row minimum
    * that needs no data movement at all.
    */
  def assignCells(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val centArr = centroids
      .agg(array_sort(collect_list(struct(col("cell"), col("cv")))).as("_cs"))
    emb.select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
      .crossJoin(broadcast(centArr))
      // a null distance (dim-mismatched centroid) ranked LAST under
      // the old window's asc-nulls-last; a null struct field would
      // sort FIRST here, so pin it to +∞ explicitly. Native sqdist:
      // this expression runs rows × centroids times — the composed
      // aggregate/zip_with form's per-call lambda overhead was the √k
      // family's fourth-decade wall (bit-identical values either way)
      .withColumn("_m", array_min(transform(col("_cs"), c =>
        struct(coalesce(round(
          graft.functions.GraftFunctions.sqDistFast(col("_v"), c.getField("cv")), 6),
          lit(Double.PositiveInfinity)).as("d"),
          c.getField("cell").as("cell")))))
      .filter(col("_m").isNotNull) // empty codebook assigns nothing
      .select(col(idCol), col("_v"), col("_m.cell").as("cell"), col("_m.d").as("d"))
  }

  /** Per-key centroid: the round-6 per-dimension mean of each key
    * group's vectors, rebuilt in dimension order. Two-level
    * aggregation — (key,dim) partials combine map-side, so the
    * shuffle carries keys·dim rows, never the corpus. Returns
    * (keyCol, cv: array<double>).
    */
  def centroidsByKey(df: DataFrame, keyCol: String, vecCol: String): DataFrame = {
    // one fused vector-mean aggregate instead of posexplode → per-dim
    // avg → collect_list re-assembly (round 17, guide §2.3/§4): the
    // map side does corpus vector-adds, not corpus×dim row generation,
    // and the dim-keyed second exchange disappears. Identical cv up to
    // round-6-absorbed addition order; a key whose every vector is
    // null/empty evaluates to a NULL mean and is dropped, exactly as
    // posexplode's emit-nothing kept it out of the old aggregation.
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.groupBy(col(keyCol))
      .agg(graft.functions.GraftFunctions.vecMean(
        col(vecCol).cast("array<double>")).as("_m"))
      .filter(col("_m").isNotNull)
      .select(col(keyCol), transform(col("_m"), x => round(x, 6)).as("cv"))
  }

  /** `iters` Lloyd iterations from the stride init; returns the final
    * codebook (cell, cv) in the shape [[Similarity.ivfTopKCodebook]]
    * and [[Similarity.semanticDedupWith]] consume. Cells that lose
    * all members disappear (standard Lloyd's on relational form).
    */
  def kmeansLloyd(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroidStep: Int,
      iters: Int): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    var cents = strideInit(emb, idCol, vecCol, centroidStep)
    for (_ <- 0 until iters) {
      cents = centroidsByKey(
        assignCells(emb, idCol, vecCol, cents), "cell", "_v")
        .localCheckpoint()
    }
    cents
  }

  /** Nearest-centroid (Rocchio) classification: class centroids are
    * the per-label round-6 means, every vector is assigned to its
    * nearest centroid by round-6 squared distance (ties to the lower
    * label), and the confusion matrix comes back as (labelCol, pred,
    * n). Broadcast centroids × one corpus scan — the cheapest useful
    * labeler over 100 TB of embeddings.
    */
  def nearestCentroidConfusion(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String): DataFrame = {
    val cents = centroidsByKey(
      emb.select(col(labelCol).cast("long").as("cell"), col(vecCol).as("_v")),
      "cell", "_v")
    assignCells(emb, idCol, vecCol, cents)
      .join(emb.select(col(idCol), col(labelCol).cast("long").as(labelCol)), Seq(idCol))
      .groupBy(col(labelCol), col("cell").as("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-cell membership count and round-3 inertia of an assignment —
    * the convergence scoreboard (total inertia is non-increasing over
    * Lloyd iterations).
    *
    * The round-6 distances are summed as EXACT micro-unit integers:
    * a floating sum of many 6-dp decimals can land within one binary
    * ulp of a 3-dp rounding boundary, where partition/summation order
    * decides the printed digit (observed at the 10× replica:
    * 43.1765 ± 1 ulp → 43.176 vs 43.177). Integer summation is
    * order-independent on every engine and layout.
    */
  def cellSummary(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        // the micro-units sum as decimal(38,0), not long: with ANSI
        // off, sum(long) wraps silently past ~9.2e18 micro-units
        // (~1e10 members at d≈1000); decimal summation stays exact and
        // matches DuckDB, whose sum(bigint) widens to hugeint
        round(sum(round(col("d") * 1000000L).cast("decimal(38,0)")) / 1000000.0, 3)
          .as("inertia"))

  /** Distributed PCA, top component by power iteration: center the
    * data, build the d×d covariance matrix as one self-join aggregate
    * over the exploded (row, dim, value) frame — the matrix is
    * dim²-bounded, never row-bounded, so 100 TB of rows still yields a
    * 64×64 frame — then iterate v ← C·v / ‖C·v‖ with each matvec an
    * equi-join + partial-agg on the dim key. Covariance entries and
    * each normalized iterate round to 6, so every step replays
    * bit-identically cross-engine. Convergence rate is (λ₂/λ₁)ᵗ —
    * near-flat spectra (e.g. isotropic synthetic vectors) converge
    * slowly, clustered real embeddings fast; the oracle certifies the
    * ITERATES, whatever the spectrum.
    *
    * Returns (dim, component, eigenvalue): the iterate after `iters`
    * steps plus its Rayleigh quotient (rounded to 4).
    */
  def pcaPowerIteration(
      emb: DataFrame, idCol: String, vecCol: String, iters: Int = 3): DataFrame = {
    require(iters >= 1)
    val spark = emb.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val d = emb.select(col(idCol).as("_id"),
      posexplode(col(vecCol).cast("array<double>")).as(Seq("i", "x")))
    val m = d.groupBy(col("i")).agg(avg(col("x")).as("mu"))
    // n == countDistinct(_id) over the exploded frame, computed on the
    // UNEXPLODED rows: posexplode emits rows only for non-null,
    // non-empty vectors, so the distinct-id set is that of rows whose
    // cast array has size >= 1 (size() is null for a null array and
    // the filter drops it, 0 for an empty one)
    val n = emb
      .filter(size(col(vecCol).cast("array<double>")) >= 1)
      .agg(countDistinct(col(idCol)).as("n"))
    // covariance WITHOUT the row-keyed self-join OR the per-row dim²
    // struct explode: the dim means ride along as one broadcast sorted
    // array, each row centers its vector, and GramianAgg sums the
    // outer products straight into a d²-bounded per-partition
    // accumulator (flat fused multiply-adds, no rows×d² Generate, and
    // the shuffle carries one d² partial per map task — round 17,
    // guide §2.3/§4). Same (x−μᵢ)(x−μⱼ) product multiset per (i, j)
    // as the explode formulation (ragged rows: zip_with pads missing
    // entries with null, whose products drop from the sums and never
    // mark presence, exactly as the join's missing rows did); only
    // the addition order differs, which the round-6 of cv absorbs just
    // as it absorbs the Spark-vs-DuckDB order difference.
    val mu1 = m.agg(array_sort(collect_list(struct(col("i"), col("mu")))).as("_ms"))
    val cov = emb.select(col(vecCol).cast("array<double>").as("_v"))
      .crossJoin(broadcast(mu1))
      .select(zip_with(col("_v"), transform(col("_ms"), s => s.getField("mu")),
        (x, mu) => x - mu).as("_c"))
      .agg(graft.functions.GraftFunctions.gramian(col("_c")).as("_g"))
      .select(explode(col("_g")).as("_e"))
      .select(col("_e.i").as("i"), col("_e.j").as("j"), col("_e.s").as("_s"))
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"), round(col("_s") / col("n"), 6).as("cv"))
    // the covariance matrix is dim²-bounded, never row-bounded: 100 TB
    // of rows still reduce to dim² entries. At or below 2^20 entries
    // (dims ≤ 1024, ≤ ~16 MB of rows) the matvec loop runs on the
    // driver over the collected matrix — the same size-adaptive move a
    // broadcast join makes — replacing `iters` join+checkpoint job
    // waves with zero jobs. Identical arithmetic and 6-dp rounding per
    // step keep the iterates engine-exact either way; wider matrices
    // keep the scale-safe distributed join loop below.
    val dims = emb.select(col(vecCol)).limit(1).collect().headOption
      .map(_.getSeq[Any](0).length).getOrElse(0)
    if (dims > 0 && dims.toLong * dims <= (1L << 20)) {
      val covRows = cov.collect()
      // ragged input: a later vector can be longer than the probed
      // first row, so size the matrix from the indices actually
      // present; if that blows the local bound, fall through to the
      // distributed loop instead of indexing out of bounds
      val maxIdx = covRows.iterator
        .map(r => math.max(r.getInt(0), r.getInt(1))).foldLeft(dims - 1)(math.max)
      val nDim = maxIdx + 1
      if (nDim.toLong * nDim <= (1L << 20)) {
        val cv = Array.ofDim[Double](nDim, nDim)
        covRows.foreach { r =>
          cv(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
        }
        // same rounding as Spark's `round`: BigDecimal.valueOf (the
        // Double.toString shortest form), scale HALF_UP — not the exact
        // binary expansion, which can differ at a rounding boundary
        def rnd(x: Double, s: Int): Double =
          java.math.BigDecimal.valueOf(x).setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()
        var v = Array.fill(nDim)(0.125)
        for (_ <- 1 to iters) {
          val w = Array.tabulate(nDim) { i =>
            var s = 0.0; var j = 0
            while (j < nDim) { s += cv(i)(j) * v(j); j += 1 }
            s
          }
          val nrm = math.sqrt(w.map(x => x * x).sum)
          v = w.map(x => rnd(x / nrm, 6))
        }
        var ray = 0.0
        for (i <- 0 until nDim; j <- 0 until nDim) ray += v(i) * cv(i)(j) * v(j)
        val eig = rnd(ray, 4)
        import spark.implicits._
        return spark.createDataset(v.toSeq.zipWithIndex.map { case (c, i) => (i, c, eig) })
          .toDF("dim", "component", "eigenvalue")
      }
    }
    val covD = cov.localCheckpoint(true)
    var v = m.select(col("i"), lit(0.125).as("v")).localCheckpoint(true)
    for (_ <- 1 to iters) {
      val w = covD.join(v.select(col("i").as("j"), col("v")), Seq("j"))
        .groupBy(col("i")).agg(sum(col("cv") * col("v")).as("w"))
      val nrm = w.agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
      v = w.crossJoin(broadcast(nrm))
        .select(col("i"), round(col("w") / col("nrm"), 6).as("v"))
        .localCheckpoint(true)
    }
    val ray = covD
      .join(v.select(col("i"), col("v").as("va")), Seq("i"))
      .join(v.select(col("i").as("j"), col("v").as("vb")), Seq("j"))
      .agg(round(sum(col("va") * col("cv") * col("vb")), 4).as("eigenvalue"))
    v.crossJoin(broadcast(ray))
      .select(col("i").as("dim"), col("v").as("component"), col("eigenvalue"))
  }

  /** Distribution-shift probe: per label, the L2 distance between the
    * mean embeddings of two data halves (snapshots, time slices,
    * source splits) — a centroid that moved says the population under
    * that label changed. Per-dimension means round to 6 BEFORE the
    * distance (deterministic cross-engine), then the distance rounds
    * to 6.
    *
    * Relational shape: posexplode to (label, half, dim, value), one
    * partial-agg'd mean per (label, half, dim), a self-join keyed on
    * (label, dim) — no vector is ever collected. Exactly two halves
    * per label are expected; the unordered half pair is compared once.
    */
  def centroidShift(
      df: DataFrame, labelCol: String, halfCol: String, vecCol: String): DataFrame = {
    val d = df.select(col(labelCol).as("label"), col(halfCol).as("half"),
      posexplode(col(vecCol)).as(Seq("_i", "_x")))
    val cents = d.groupBy(col("label"), col("half"), col("_i"))
      .agg(round(avg(col("_x").cast("double")), 6).as("_c"))
    val a = cents.select(col("label"), col("half").as("_ha"), col("_i"), col("_c").as("_ca"))
    val b = cents.select(col("label"), col("half").as("_hb"), col("_i"), col("_c").as("_cb"))
    a.join(b, Seq("label", "_i"))
      .filter(col("_ha") < col("_hb"))
      .groupBy(col("label"))
      .agg(round(sqrt(sum((col("_ca") - col("_cb")) * (col("_ca") - col("_cb")))), 6)
        .as("centroid_dist"))
  }

  /** k-center greedy coreset selection (Gonzalez 1985, the 2-approx
    * farthest-first traversal): start from the minimum-id point, then
    * repeatedly add the point farthest from its nearest chosen center
    * — the classic diversity-maximizing data-selection primitive.
    *
    * Scale shape: the per-point nearest-center distance is a running
    * IN-ROW minimum (one broadcast of the single new center per step,
    * no pairwise join); the argmax is a global top-1 (TakeOrdered).
    * Each step is one narrow corpus pass. Distances round to 6 before
    * comparison, ties break on the smaller id, so the trace is
    * engine-exact.
    *
    * Returns (step 1..k, center_id, radius): the coverage radius
    * (max over points of min-distance to the selected set) AFTER each
    * center joins the set.
    */
  def kCenterGreedy(
      emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, "need k >= 1")
    val s = emb.sparkSession
    import s.implicits._
    val base = emb.select(col(idCol).cast("long").as("_id"),
      col(vecCol).cast("array<double>").as("_v"))
      .localCheckpoint(true)
    if (base.isEmpty)
      return Seq.empty[(Long, Long, Double)].toDF("step", "center_id", "radius")
    def distTo(center: DataFrame) =
      round(sqrt(aggregate(
        zip_with(col("_v"), col("_cv"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, v) => acc + v)), 6)
    var picked = Vector.empty[(Int, Long, Double)]
    // state: (_id, _v, _d) = distance to nearest selected center
    var state: DataFrame = null
    for (step <- 1 to k) {
      val center =
        if (step == 1) base.orderBy(col("_id")).limit(1)
          .select(col("_id").as("_cid"), col("_v").as("_cv"))
        else state.orderBy(col("_d").desc, col("_id")).limit(1)
          .select(col("_id").as("_cid"), col("_v").as("_cv"))
      val withD = (if (step == 1) base.withColumn("_d", lit(Double.MaxValue))
                   else state)
        .crossJoin(broadcast(center))
        .select(col("_id"), col("_v"), col("_cid"),
          least(col("_d"), distTo(center)).as("_d"))
        .localCheckpoint(true)
      val Row(cid: Long, radius: Double) = withD
        .agg(first(col("_cid")).as("cid"), max(col("_d")).as("r")).head()
      picked = picked :+ ((step, cid, radius))
      state = withD.select(col("_id"), col("_v"), col("_d"))
    }
    picked.toDF("step", "center_id", "radius")
      .select(col("step").cast("long").as("step"), col("center_id"), col("radius"))
  }
}
