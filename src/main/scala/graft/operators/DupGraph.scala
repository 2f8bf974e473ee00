package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: the dedup families (MinHash, SimHash,
  * cosine) emit PAIRS; collapsing pairs into groups so one canonical
  * document survives per near-dup cluster needs connected components
  * over the pair graph.
  *
  * Components have one distributed implementation, large-star /
  * small-star contraction in pure DataFrame ops: O(log n) rounds
  * whatever the graph's diameter, each round's edge frame
  * localCheckpoint'ed so lineage stays flat at any scale. Edge lists
  * under the size guard are solved exactly on the driver instead.
  */
object DupGraph {

  /** Connected components over an undirected edge list.
    *
    * Size-adaptive, like Spark's broadcast-join threshold: the edge
    * list is materialized up front anyway, so its count is free — at
    * or below `localEdgeThreshold` edges (default 1M; the union-find
    * uses primitive open-addressing arrays — ~52 MB of table at the
    * worst-case 2M distinct nodes, plus ~100 MB for the collected
    * edge rows themselves, solved in well under a second) the
    * components are solved on the driver and returned as a small
    * DataFrame, exactly
    * as a broadcast join ships a small side instead of shuffling it.
    * Near-dup pair graphs are tiny relative to their corpus (pairs ≈
    * dup rate × n), so even 100 TB corpora often land here; above the
    * threshold the star contraction of [[connectedComponentsStars]]
    * runs on the same checkpointed edges. Both paths produce the
    * identical (node, min-reachable-id) labeling.
    *
    * @param edges DataFrame with two node-id columns (`idA`, `idB`)
    * @return (node, component) — component = min node id reachable;
    *         only nodes that appear in at least one edge are emitted
    *         (singletons are their own component trivially).
    */
  def connectedComponents(
      edges: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      localEdgeThreshold: Long = 1L << 20): DataFrame = {
    val raw = edgeList(edges, idA, idB)
    if (raw.count() <= localEdgeThreshold) localComponents(raw)
    else starComponents(raw, maxRounds = 30)
  }

  /** The (u, v) long edge list both component paths read, materialized
    * ONCE: the star rounds, the node set and the certificates each scan
    * it, and an expensive upstream (the MinHash pair pipeline) would
    * re-execute per scan — measured 3x the whole operator's cost before
    * this cut. Null ids (failed casts) are dropped: a null is no node.
    */
  private def edgeList(edges: DataFrame, idA: String, idB: String): DataFrame =
    edges
      .select(col(idA).cast("long").as("u"), col(idB).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .localCheckpoint(true)

  /** Driver-side union-find for edge lists under the size guard —
    * same contract as the star contraction: every node appearing in
    * an edge (self-loops included) labeled with the min reachable id.
    * Exact, deterministic, no iteration cap to certify.
    *
    * Memory-lean by construction: node ids live in a primitive
    * open-addressing table (a long + int + boolean array at load
    * factor ≤0.5, 13 bytes per SLOT → ~52 MB of table at the 1M-edge
    * guard's worst case of 2M distinct nodes) and the union-find runs
    * over slot indices, not the GB a boxed HashMap[Long,Long] would
    * cost. The collected Row array dominates the heap in practice.
    */
  private def localComponents(raw: DataFrame): DataFrame = {
    val spark = raw.sparkSession
    val rows = raw.collect()
    val n = rows.length
    // capacity: power of two ≥ 2 × max-distinct-nodes (2 per edge) →
    // load factor ≤0.5. Long arithmetic plus an explicit bound keep
    // the doubling from overflowing Int if a caller raises
    // localEdgeThreshold far beyond the 1M default.
    require(n <= (1 << 28),
      s"localComponents: $n edges exceeds the driver union-find bound (2^28); " +
        "lower localEdgeThreshold so the distributed path handles this graph")
    var capL = 16L
    while (capL < 2L * math.max(1L, 2L * n)) capL <<= 1
    val cap = capL.toInt
    val mask = cap - 1
    val keys = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val parent = new Array[Int](cap)
    def slotOf(k: Long): Int = {
      var i = (scala.util.hashing.byteswap64(k) & mask).toInt
      while (used(i) && keys(i) != k) i = (i + 1) & mask
      if (!used(i)) { used(i) = true; keys(i) = k; parent(i) = i }
      i
    }
    def find(s: Int): Int = {
      var r = s
      while (parent(r) != r) r = parent(r)
      var c = s // path compression
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    var e = 0
    while (e < n) {
      val row = rows(e)
      val ru = find(slotOf(row.getLong(0)))
      val rv = find(slotOf(row.getLong(1)))
      // union by min keeps the root = min member as an invariant
      if (keys(ru) < keys(rv)) parent(rv) = ru
      else if (keys(rv) < keys(ru)) parent(ru) = rv
      e += 1
    }
    val out = Vector.newBuilder[(Long, Long)]
    var i = 0
    while (i < cap) {
      if (used(i)) out += ((keys(i), keys(find(i))))
      i += 1
    }
    // a parallelized RDD (not a LocalRelation) keeps the collected
    // result out of the plan tree; one partition on purpose — the
    // frame is driver-sized and downstream joins against it broadcast
    spark.createDataFrame(spark.sparkContext.parallelize(out.result(), 1))
      .toDF("node", "component")
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — converges in O(log n) rounds regardless
    * of graph DIAMETER, where min-label propagation needs O(diameter)
    * rounds: deep graphs (web-link chains, citation paths, long
    * co-occurrence strings) cost no more rounds than shallow near-dup
    * clusters. This is always the distributed path; unlike
    * [[connectedComponents]] it never takes the driver union-find.
    *
    * Same output contract as [[connectedComponents]]: (node,
    * component = min reachable id), only nodes appearing in an edge.
    */
  def connectedComponentsStars(
      edges: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxRounds: Int = 30): DataFrame =
    starComponents(edgeList(edges, idA, idB), maxRounds)

  /** Star contraction over a materialized [[edgeList]].
    *
    * Each round is two star operations; a star op is one hash shuffle
    * on the node (a window takes the per-node min over its
    * neighborhood) and a distinct to keep the edge set bounded by the
    * input size (the paper's Lemma: neither op grows the edge count).
    *
    * The result is certified before returning: no original edge spans
    * two components (fail-loud, never a silent partial answer). One
    * label per node needs no check: it follows from the star forest the
    * loop stops on.
    */
  private def starComponents(raw: DataFrame, maxRounds: Int): DataFrame = {
    // self-loops carry no connectivity but their nodes still count as
    // "appearing in an edge"
    val input = raw.filter(col("u") =!= col("v"))

    // every edge row emits its new edges itself next to the window min,
    // with no join back to a separate min aggregate: the aggregate-and-
    // join form took 2.6x as long per round (1.6M edges in 5-node
    // clusters, local[4])
    val byU = Window.partitionBy(col("u"))
    def emit(e: DataFrame, edges: org.apache.spark.sql.Column*): DataFrame =
      e.select(explode(array(edges: _*)).as("e")).select(col("e.u"), col("e.v"))

    // large-star: every node u links its LARGER neighbors to
    // m = min(neighborhood ∪ self); emitted edges are (bigger, smaller)
    def largeStar(e: DataFrame): DataFrame =
      emit(e, struct(col("u"), col("v")), struct(col("v").as("u"), col("u").as("v")))
        .withColumn("m", least(col("u"), min(col("v")).over(byU)))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()

    // small-star: on a (bigger → smaller)-directed edge set, every
    // node u re-links its smaller neighbors AND itself to the min
    def smallStar(e: DataFrame): DataFrame =
      emit(e.withColumn("m", min(col("v")).over(byU)),
        struct(col("v").as("u"), col("m").as("v")), struct(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()

    // one orientation pass so round 1's small-star sees (big, small).
    // Each round's edges are localCheckpoint'ed: the probe and the next
    // round both read them, and lineage stays one round deep.
    var cur = largeStar(input).localCheckpoint(true)
    // convergence = the edge set IS a star forest: no node appears as
    // both a source and a target, and every source has exactly one
    // target. A star forest is a fixpoint of both star ops, and the
    // paper's connectivity-preservation lemma means a star forest can
    // never under-merge (two stars for one original component would
    // have broken current-edge connectivity, which never happens) —
    // so this detects convergence THE ROUND it occurs, where a
    // stability signature needs one extra all-quiet round to notice.
    // Both conditions fold into ONE aggregation pass over the node
    // roles (each edge contributes a source row and a target row):
    // a violation is a node with two different targets (min < max), or
    // a node seen as both source and target — a single shuffle + job
    // per round (a distinct count of targets took up to twice as long),
    // where probing the two conditions separately cost three.
    // The probe runs on the round's checkpointed blocks (cheap).
    def isStarForest(e: DataFrame): Boolean = {
      val roles = e.select(col("u").as("node"), col("v"), lit(1).as("is_src"))
        .union(e.select(col("v").as("node"), lit(null).cast("long").as("v"),
          lit(0).as("is_src")))
      val violations = roles.groupBy("node")
        .agg(
          min(col("v")).as("v_lo"), max(col("v")).as("v_hi"),
          max(col("is_src")).as("ever_src"),
          min(col("is_src")).as("never_tgt"))
        .filter(col("v_lo") < col("v_hi") ||
          (col("ever_src") === 1 && col("never_tgt") === 0))
        .limit(1).count()
      violations == 0
    }
    var round = 0
    var converged = isStarForest(cur)
    while (!converged && round < maxRounds) {
      cur = largeStar(smallStar(cur)).localCheckpoint(true)
      converged = isStarForest(cur)
      round += 1
    }
    if (!converged)
      throw new IllegalArgumentException(
        s"requirement failed: connected components did not converge within $maxRounds " +
          "star-contraction rounds")

    // stars → labels: every edge is (node, root); roots label themselves.
    // The loop exits only on a star forest, where every source has
    // exactly one target (and `cur` is distinct), so the left join gives
    // one row per node.
    val labels = raw.select(col("u").as("node"))
      .union(raw.select(col("v").as("node"))).distinct()
      .join(cur.select(col("u").as("node"), col("v").as("component")), Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
      .localCheckpoint(true)
    // certify: no input edge spans two components
    val inconsistent = input
      .join(labels.select(col("node").as("u"), col("component").as("l_u")), "u")
      .join(labels.select(col("node").as("v"), col("component").as("l_v")), "v")
      .filter(col("l_u") =!= col("l_v")).limit(1).count()
    if (inconsistent != 0)
      throw new IllegalStateException(
        "connected components produced an inconsistent labeling (internal error)")
    labels
  }

  /** One representative row per duplicate cluster: resolve the pair
    * graph to components, then keep, per component, the first row
    * under `ordering` (e.g. highest quality score, longest text —
    * callers append the id column for a deterministic tiebreak).
    * Returns the representative's full row plus `component` and
    * `n_members`. Rows in no pair are their own singleton clusters.
    *
    * Scale shape: components via [[connectedComponents]] (pair graphs
    * are small), one broadcast-sized label frame joined to the
    * corpus, one window over component — the corpus shuffles once on
    * the component key and never self-joins.
    */
  def pickRepresentatives(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      ordering: Seq[org.apache.spark.sql.Column],
      idA: String = "id_a",
      idB: String = "id_b"): DataFrame = {
    require(ordering.nonEmpty, "pickRepresentatives needs at least one ordering column")
    val cc = connectedComponents(pairs, idA, idB)
      .withColumnRenamed("node", idCol)
    val labeled = df
      .join(cc, Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol).cast("long")))
    val w = Window.partitionBy(col("component")).orderBy(ordering: _*)
    labeled
      .withColumn("_rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy(col("component"))))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** End-to-end near-dedup: given the corpus and its near-dup PAIRS
    * (from any dedup family), keep exactly one canonical row per
    * duplicate cluster — the component's min id — plus every row in no
    * pair at all. Returns (survivors, removed).
    */
  def nearDedupSurvivors(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b"): (DataFrame, DataFrame) = {
    val nonCanonical = connectedComponents(pairs, idA, idB)
      .filter(col("node") =!= col("component"))
      .select(col("node").cast("long").as(idCol))
    (df.join(nonCanonical, Seq(idCol), "left_anti"),
      df.join(nonCanonical, Seq(idCol), "left_semi"))
  }

  /** Fixed-iteration PageRank over a directed edge list (power
    * iteration) — graph-structured quality propagation for, e.g., a
    * kNN similarity graph or a source-link graph.
    *
    * Arithmetic is FIXED-POINT: ranks are integers scaled by 1e9 and
    * the damping factor is the exact rational dampNum/dampDen
    * (default 17/20 = 0.85), so every step is integer floor-division
    * — no floating sums, no rounding grain, and the whole trajectory
    * is bit-exact on any engine, layout, or summation order (floating
    * round-to-N can still flip on values a ULP from the grain
    * boundary; integers cannot):
    *   r_0 = S div N
    *   r_{t+1} = (1−d)·S div N + d·(Σ_{in} r_t div outdeg + dm div N)
    * with d applied as ·dampNum div dampDen, dm = dangling mass.
    *
    * Scale shape per iteration: ONE keyed shuffle. The rank state
    * carries its out-degree, so the contribution join (state ⋈ edges
    * on src, LEFT so dangling rows survive with a null dst) and the
    * dangling-mass aggregate ride the same groupBy(dst) exchange —
    * the null-dst group IS the dangling mass.
    *
    * Size-adaptive like [[connectedComponents]]: the edge list is
    * materialized up front anyway, so its count is free — at or below
    * `localEdgeThreshold` edges (default 1M) the whole trajectory is
    * an integer loop over primitive arrays on the driver (the same
    * floor divisions in the same order-independent sums: long
    * arithmetic is exact, so local and distributed runs are
    * bit-identical by construction) and comes back as a small
    * DataFrame — exactly as a broadcast join ships a small side
    * instead of shuffling it. kNN/near-dup graphs at 100 TB are tiny
    * relative to their corpus, so most land here; larger graphs run
    * the distributed rounds unchanged, one checkpointed shuffle per
    * iteration. Null ids are dropped up front on both paths.
    * Returns (node, pagerank_e9: long, pagerank: double).
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iters: Int = 3,
      dampNum: Int = 17,
      dampDen: Int = 20,
      localEdgeThreshold: Long = 1L << 20): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      "damping must be a rational in [0,1]")
    val scale = 1000000000L
    val raw = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .localCheckpoint(true)
    if (raw.count() <= localEdgeThreshold)
      return localPageRank(raw, iters, dampNum, dampDen, scale)
    // hash-partition the edge list on src ONCE: every iteration's
    // contribution join then reuses the layout instead of re-shuffling
    // the (graph-sized) edge frame per round
    val e = raw.repartition(col("src")).localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct()
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    // state = (node, outdeg|null); rank column added lazily below
    val state0 = nodes.join(outdeg, Seq("node"), "left").localCheckpoint(true)
    val n = math.max(state0.count(), 1L) // driver scalar, one cheap job
    // (1−d)·S div N as a literal — computed in Scala so no SQL-side
    // int multiply can overflow (Spark 4 runs ANSI mode: overflow
    // throws), and floor-div on non-negative longs is plain /
    val teleport = (dampDen - dampNum).toLong * scale / (dampDen.toLong * n)
    var state = state0.withColumn("rr", lit(scale / n))
    for (_ <- 0 until iters) {
      // one shuffle computes contributions AND dangling mass: dangling
      // state rows survive the left join with dst null and route their
      // whole rank into the null group; linked rows route rr div outdeg
      // to their targets
      val grouped = state.join(e, col("node") === col("src"), "left")
        .groupBy(col("dst"))
        .agg(sum(when(col("dst").isNull, col("rr"))
          .otherwise(expr("rr div outdeg"))).as("c"))
        .localCheckpoint(true)
      val dangling = grouped.filter(col("dst").isNull)
        .agg(coalesce(sum(col("c")), lit(0L)).as("dm"))
      val contrib = grouped.filter(col("dst").isNotNull)
        .select(col("dst").as("node"), col("c"))
      state = state.select(col("node"), col("outdeg"))
        .join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("outdeg"),
          (lit(teleport) +
            expr(s"(${dampNum}L * (coalesce(c, 0L) + dm div ${n}L)) div ${dampDen}L"))
            .as("rr"))
    }
    state.select(col("node"), col("rr").as("pagerank_e9"),
      (col("rr").cast("double") / scale).as("pagerank"))
  }

  /** Driver-local fixed-point power iteration for broadcast-sized edge
    * lists — same integer recurrence as the distributed rounds
    * (exact long sums, floor divisions), so the two paths agree
    * bit-for-bit.
    */
  private def localPageRank(
      raw: DataFrame, iters: Int, dampNum: Int, dampDen: Int,
      scale: Long): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val rows = raw.collect()
    require(rows.length <= (1 << 28),
      s"localPageRank: ${rows.length} edges exceeds the driver bound (2^28); " +
        "lower localEdgeThreshold so the distributed path handles this graph")
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    val index = scala.collection.mutable.HashMap.empty[Long, Int]
    def idOf(k: Long): Int =
      index.getOrElseUpdate(k, { ids += k; ids.length - 1 })
    val eSrc = new Array[Int](rows.length)
    val eDst = new Array[Int](rows.length)
    var i = 0
    while (i < rows.length) {
      eSrc(i) = idOf(rows(i).getLong(0))
      eDst(i) = idOf(rows(i).getLong(1))
      i += 1
    }
    val n = ids.length
    if (n == 0)
      return Seq.empty[(Long, Long)].toDF("node", "pagerank_e9")
        .select(col("node"), col("pagerank_e9"),
          (col("pagerank_e9").cast("double") / scale).as("pagerank"))
    val outdeg = new Array[Long](n)
    i = 0
    while (i < rows.length) { outdeg(eSrc(i)) += 1; i += 1 }
    val teleport = (dampDen - dampNum).toLong * scale / (dampDen.toLong * n)
    var rr = Array.fill(n)(scale / n)
    for (_ <- 0 until iters) {
      val c = new Array[Long](n)
      i = 0
      while (i < rows.length) { c(eDst(i)) += rr(eSrc(i)) / outdeg(eSrc(i)); i += 1 }
      var dm = 0L
      var v = 0
      while (v < n) { if (outdeg(v) == 0) dm += rr(v); v += 1 }
      val next = new Array[Long](n)
      v = 0
      while (v < n) {
        next(v) = teleport + dampNum.toLong * (c(v) + dm / n) / dampDen
        v += 1
      }
      rr = next
    }
    spark.createDataset(ids.indices.map(j => (ids(j), rr(j))))
      .toDF("node", "pagerank_e9")
      .select(col("node"), col("pagerank_e9"),
        (col("pagerank_e9").cast("double") / scale).as("pagerank"))
  }

  /** Per-node triangle count and local clustering coefficient over an
    * undirected graph — the density probe for near-dup clusters (a
    * dup cluster from pair emission should be near-clique; coefficient
    * ≪ 1 flags chaining, i.e. transitivity violations worth a higher
    * similarity threshold).
    *
    * The classic distributed shape: canonicalize each edge to
    * (a < b), then count each triangle exactly once as
    * (a,b) ⋈ (b,c) ⋈ (a,c) with a < b < c — every step an equi-join
    * keyed on node ids, no node's whole neighborhood ever collected.
    * Skew note: the join fan-out is bounded by the max degree; for
    * power-law graphs at 100 TB, pre-drop super-nodes (degree cap) or
    * salt the heavy keys with [[SkewTools]].
    *
    * Returns (node, degree, triangles, clustering_coeff) with
    * coefficient = 2·T / (deg·(deg−1)) rounded to 6, 0 for deg < 2.
    */
  /** Semi-supervised label propagation over an undirected graph: each
    * round, every still-unlabeled node adopts the majority label among
    * its labeled neighbors (ties to the smaller label); nodes with no
    * labeled neighbor stay unlabeled and may catch a label in a later
    * round as the frontier advances. The weak-supervision primitive —
    * spread a small trusted label set (seed quality ratings, verified
    * languages) across the near-dup/kNN graph.
    *
    * Size-adaptive like [[connectedComponents]]/[[pageRank]]: a
    * broadcast-sized symmetrized edge list (≤ `localEdgeThreshold`
    * directed rows after symmetrization, and a seed set under the
    * same bound) runs the synchronous rounds on the driver — integer
    * vote counts and the same (max votes, smaller label) argmax, so
    * both paths agree by construction. Local label/node ordering is
    * only replicated for integral and string types (strings compare
    * as UTF-8 bytes, [[LocalOrder.utf8]]); anything else keeps the
    * distributed rounds: one equi-join (frontier edges × current
    * labels) + one count aggregate + one min_by argmax per round —
    * all keyed hash shuffles, no per-round sort, labels frame
    * localCheckpoint'ed per round to keep lineage flat.
    *
    * @param seeds (node, label) trusted assignments
    * @return (node, label, round) — round 0 for seeds, i for nodes
    *         labeled in round i; unreached nodes absent.
    */
  def labelPropagate(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, nodeCol: String, labelCol: String,
      iters: Int, localEdgeThreshold: Long = 1L << 20): DataFrame = {
    require(iters >= 1, "need at least one propagation round")
    // symmetrize once; neighbor lists as (node, nbr)
    val sym = edges.select(col(srcCol).as("node"), col(dstCol).as("nbr"))
      .union(edges.select(col(dstCol).as("node"), col(srcCol).as("nbr")))
      .distinct()
      .localCheckpoint(true)
    val localizable = {
      import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
      val ok = Seq[org.apache.spark.sql.types.DataType](
        LongType, IntegerType, StringType)
      ok.contains(sym.schema("node").dataType) &&
        seeds.schema(nodeCol).dataType == sym.schema("node").dataType &&
        ok.contains(seeds.schema(labelCol).dataType)
    }
    // the symmetrized list is materialized up front for either path,
    // so the local-path probe is a free count plus one bounded seed
    // collect
    val bound = math.min(localEdgeThreshold, (1L << 28) - 1)
    if (localizable && sym.count() <= 2 * bound) {
      val seedRows = seeds
        .select(col(nodeCol).as("node"), col(labelCol).as("label"))
        .limit(bound.toInt + 1).collect()
      if (seedRows.length <= bound)
        return localLabelPropagate(
          sym, seedRows, seeds.schema(labelCol).dataType, iters)
    }
    labelPropagateRounds(sym, seeds, nodeCol, labelCol, iters)
  }

  private def labelPropagateRounds(
      sym: DataFrame, seeds: DataFrame, nodeCol: String, labelCol: String,
      iters: Int): DataFrame = {
    var labels = seeds
      .select(col(nodeCol).as("node"), col(labelCol).as("label"), lit(0L).as("round"))
      .localCheckpoint(true)
    for (it <- 1 to iters) {
      val votes = sym
        .join(labels.select(col("node").as("nbr"), col("label")), Seq("nbr"))
        .join(labels.select(col("node"), lit(1).as("_has")), Seq("node"), "left_anti")
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("_v"))
      // per-node argmax as a hash aggregate (min_by over (-votes,
      // label) = max votes with lexicographic tie-break) — no window
      // sort in the round loop
      val newly = votes
        .groupBy(col("node"))
        .agg(min_by(col("label"), struct(-col("_v"), col("label"))).as("label"))
        .select(col("node"), col("label"), lit(it.toLong).as("round"))
      labels = labels.unionByName(newly).localCheckpoint(true)
    }
    labels
  }

  /** Driver-local synchronous label-propagation rounds — the same
    * per-round (unlabeled node, neighbor-label multiset) vote counts
    * and (max votes, smaller label) argmax as the distributed rounds.
    * Node/label values compare numerically for integral types and as
    * UTF-8 bytes for strings ([[LocalOrder.utf8]]), matching Spark's
    * binary string ordering.
    */
  private def localLabelPropagate(
      symC: DataFrame,
      seedRows: Array[org.apache.spark.sql.Row],
      labelDt: org.apache.spark.sql.types.DataType,
      iters: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import scala.collection.mutable
    val spark = symC.sparkSession
    val anyOrd: Ordering[Any] = new Ordering[Any] {
      def compare(x: Any, y: Any): Int = (x, y) match {
        case (a: Long, b: Long)     => java.lang.Long.compare(a, b)
        case (a: Int, b: Int)       => Integer.compare(a, b)
        case (a: String, b: String) => LocalOrder.utf8.compare(a, b)
        case _ =>
          throw new IllegalStateException("unreachable: guarded dtypes")
      }
    }
    val symRows = symC.collect()
    // nbr -> labels currently carried by nbr (a multiset: duplicate
    // seed rows vote once per row, exactly as the distributed join)
    val nbrLabels = mutable.HashMap.empty[Any, mutable.ArrayBuffer[Any]]
    val labeled = mutable.HashSet.empty[Any]
    val out = mutable.ArrayBuffer.empty[(Any, Any, Long)]
    seedRows.foreach { r =>
      val (node, label) = (r.get(0), r.get(1))
      out += ((node, label, 0L))
      nbrLabels.getOrElseUpdate(node, mutable.ArrayBuffer.empty) += label
      labeled += node
    }
    for (it <- 1 to iters) {
      val votes = mutable.HashMap.empty[(Any, Any), Long]
      symRows.foreach { e =>
        val (node, nbr) = (e.get(0), e.get(1))
        if (!labeled.contains(node))
          nbrLabels.getOrElse(nbr, Nil).foreach { l =>
            votes((node, l)) = votes.getOrElse((node, l), 0L) + 1L
          }
      }
      val newly = votes.toSeq
        .groupBy(_._1._1)
        .map { case (node, vs) =>
          // min over (-votes, label): max votes, ties to smaller label
          val best = vs.minBy { case ((_, l), v) => (-v, l) }(
            Ordering.Tuple2(Ordering.Long, anyOrd))._1._2
          (node, best)
        }
      newly.foreach { case (node, label) =>
        out += ((node, label, it.toLong))
        nbrLabels.getOrElseUpdate(node, mutable.ArrayBuffer.empty) += label
        labeled += node
      }
    }
    val schema = StructType(Seq(
      StructField("node", symC.schema("node").dataType),
      StructField("label", labelDt),
      StructField("round", LongType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(out.map(t => Row(t._1, t._2, t._3)).toArray: _*),
      schema)
  }

  /** k-core decomposition by iterative peeling: drop every node whose
    * (undirected) degree is below k, restrict the edges to survivors,
    * repeat until stable or `maxIters` — the density filter that
    * separates genuinely dense duplicate/spam clusters from incidental
    * chains. Extra peels after the fixpoint are no-ops, so a
    * fixed-round replay (the oracle) and the early-exit run agree.
    *
    * Returns the surviving nodes with their in-core degree
    * (node, degree). Size-adaptive like [[connectedComponents]]: a
    * broadcast-sized canonical edge list (≤ `localEdgeThreshold`
    * edges, integral node ids) peels on the driver with the identical
    * round structure; larger graphs keep the distributed loop — each
    * peel two keyed shuffles (degree count + survivor semi-joins),
    * edge frames localCheckpoint'ed per round.
    */
  def kCore(
      edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, maxIters: Int = 10,
      localEdgeThreshold: Long = 1L << 20): DataFrame = {
    require(k >= 1 && maxIters >= 1)
    var e = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") < col("b")).distinct()
      .localCheckpoint(true)
    var n = e.count()
    locally {
      import org.apache.spark.sql.types.{IntegerType, LongType}
      val dt = e.schema("a").dataType
      if (n <= localEdgeThreshold && (dt == LongType || dt == IntegerType))
        return localKCore(e, k, maxIters)
    }
    var converged = false
    var it = 0
    while (it < maxIters && !converged && n > 0) {
      val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("_d"))
      val keep = deg.filter(col("_d") >= k).select(col("node"))
      val e2 = e
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint(true)
      val n2 = e2.count() // convergence probe — one scalar per round
      converged = n2 == n
      e = e2; n = n2; it += 1
    }
    e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .filter(col("degree") >= k)
  }

  /** Driver-local peeling for broadcast-sized canonical edge lists —
    * the same round structure as the distributed loop (peel below-k
    * nodes, restrict edges, stop on fixpoint or `maxIters`, final
    * degree filter), so both paths agree by construction.
    */
  private def localKCore(canonical: DataFrame, k: Int, maxIters: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import scala.collection.mutable
    val spark = canonical.sparkSession
    var es = canonical.collect().map(r => (r.get(0), r.get(1)))
    def degrees(edges: Array[(Any, Any)]): mutable.HashMap[Any, Long] = {
      val d = mutable.HashMap.empty[Any, Long]
      edges.foreach { case (a, b) =>
        d(a) = d.getOrElse(a, 0L) + 1L
        d(b) = d.getOrElse(b, 0L) + 1L
      }
      d
    }
    var converged = false
    var it = 0
    while (it < maxIters && !converged && es.nonEmpty) {
      val deg = degrees(es)
      val es2 = es.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
      converged = es2.length == es.length
      es = es2; it += 1
    }
    val out = degrees(es).toSeq.collect {
      case (node, d) if d >= k => Row(node, d)
    }
    val schema = StructType(Seq(
      StructField("node", canonical.schema("a").dataType),
      StructField("degree", LongType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }

  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // Eager localCheckpoint rather than persist: the canonical edge
    // frame is reused four times below, but a persist here would pin
    // cached blocks for the session (no safe point to unpersist a
    // lazily-returned result). Checkpoint blocks are released by the
    // ContextCleaner once the plan is garbage-collected.
    val e = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") < col("b")).distinct()
      .localCheckpoint(true)
    val tri = e
      .join(e.select(col("a").as("b"), col("b").as("c")), "b")
      .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    val triPerNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    deg.join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        round(
          when(col("degree") >= 2,
            lit(2.0) * coalesce(col("triangles"), lit(0L)) /
              (col("degree") * (col("degree") - lit(1L))))
            .otherwise(lit(0.0)), 6).as("clustering_coeff"))
  }
}
