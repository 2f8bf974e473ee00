package graft.operators

import graft.functions.GraftFunctions
import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Near-duplicate document operators for the training-data pipeline:
  * MinHash+LSH (shingle → signature → band → bucket join →
  * exact-Jaccard verify), SimHash (banded Hamming join). Exact dedup is
  * one aggregate on `canonicalFingerprint` (the `exact_dedup_docs`
  * query).
  *
  * Scale design: no operator ever forms the full O(n²) pair space.
  *   - MinHash LSH: candidate pairs come from equi-joins on band
  *     buckets (shuffle on band key; bucket sizes are tiny for honest
  *     near-dup thresholds, and a count-based guard can drop
  *     pathological buckets);
  *   - SimHash: Hamming ≤ k search via the pigeonhole band trick —
  *     k+1 bit-blocks, equi-join on (block index, block bits) gives
  *     100% recall, then the exact bit_count filter verifies.
  */
object TextDedup {

  /** MinHash-LSH near-duplicate pairs.
    *
    * @param numHashes signature length (bands * rowsPerBand)
    * @param bands     LSH bands; a pair is a candidate iff some band of
    *                  the signature matches exactly
    * @param threshold verified exact-Jaccard (on the distinct shingle
    *                  sets) at or above which a candidate is a dup pair
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded
    *         to 4 — the cross-engine comparison grain. The pairs hold
    *         nothing to release: the [[signatures]] they read are freed
    *         with the frame.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 12,
      bands: Int = 4,
      shingleN: Int = 2,
      threshold: Double = 0.8): DataFrame = {
    val (sh, candidates) = lshCandidates(df, idCol, textCol, numHashes, bands, shingleN)
    val shOnly = sh.select(col("doc_id"), col("sh"), col("sig"))
    candidates
      .join(shOnly.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
        col("sig").as("sig_a")), Seq("id_a"))
      .join(shOnly.select(col("doc_id").as("id_b"), col("sh").as("sh_b"),
        col("sig").as("sig_b")), Seq("id_b"))
      // slice-equality re-check drops xxhash-collision impostors from
      // the candidate stream (see lshCandidates) before the heavier
      // array-intersection jaccard runs
      .filter(bandMatch(bands, numHashes / bands))
      .withColumn("jaccard", round(jaccard(col("sh_a"), col("sh_b")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Shared LSH front half: the [[signatures]] frame and the distinct
    * banded candidate pairs (id_a < id_b, bare ids only).
    *
    * Round 18: the band bucket key is an 8-byte `xxhash64` over the
    * band's raw signature slice — 3× narrower through the self-join
    * exchange than the previous 32-char md5 string (guide §2.3).
    * Slice-equal docs always share a key; a hash collision only ADDS
    * a candidate pair, and every consumer re-checks true band
    * equality in-row ([[bandMatch]] over the attached signatures)
    * before its verify, so emitted results replay the md5-banded
    * oracle exactly (up to the same ~2⁻¹²⁸ md5-collision caveat the
    * tuning tables document).
    */
  private def lshCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      bands: Int,
      shingleN: Int): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val sh = signatures(df, idCol, textCol, shingleN, numHashes)

    // candidate pairs on bare ids (distinct over two longs — cheap),
    // shingle sets joined back only for the surviving pairs
    val banded = bandedKeys(sh, (0 until bands).map(bd => (bd * rowsPerBand, rowsPerBand)))
    val a = banded.select(col("band"), col("bkey"), col("doc_id").as("id_a"))
    val b = banded.select(col("band"), col("bkey"), col("doc_id").as("id_b"))
    val candidates = a.join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    (sh, candidates)
  }

  /** `(doc_id, sh, sig)`: each doc's shingles hashed to 60-bit longs
    * ONCE (fused native pass) and their MinHash signature; docs without
    * a shingle are dropped. Banding and verify all run on these long
    * arrays, and every consumer reads the frame more than once, so it
    * is localCheckpoint'ed lazily: built by the first action over it,
    * its blocks freed by the ContextCleaner with the frame, never
    * pinned in the CacheManager.
    */
  private def signatures(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.select(
      col(idCol).as("doc_id"),
      GraftFunctions.hashedShingles(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", GraftFunctions.minhashSig(col("sh"), numHashes))
      .localCheckpoint(eager = false)
  }

  /** Sketch-quality probe for the MinHash family: for every LSH
    * candidate pair, the SIGNATURE-estimated Jaccard (matching
    * positions / numHashes — what a production pipeline would trust at
    * 100 TB, where exact shingle intersections are unaffordable)
    * against the exact shingle Jaccard, plus the absolute error. The
    * operator answers "how many hashes do we need" with data instead
    * of the textbook 1/sqrt(k) bound.
    *
    * Returns (id_a, id_b, est_jaccard, jaccard, abs_err), all rounded
    * to 4.
    */
  def minhashEstimateAccuracy(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 12,
      bands: Int = 4,
      shingleN: Int = 2): DataFrame = {
    val (sh, candidates) = lshCandidates(df, idCol, textCol, numHashes, bands, shingleN)
    val both = sh.select(col("doc_id"), col("sh"), col("sig"))
    candidates
      .join(both.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
        col("sig").as("sig_a")), Seq("id_a"))
      .join(both.select(col("doc_id").as("id_b"), col("sh").as("sh_b"),
        col("sig").as("sig_b")), Seq("id_b"))
      // this probe emits one row per CANDIDATE, so xxhash-collision
      // impostors must be dropped here (see lshCandidates)
      .filter(bandMatch(bands, numHashes / bands))
      .withColumn("est_jaccard", round(
        aggregate(
          zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).cast("double") / numHashes, 4))
      .withColumn("jaccard", round(jaccard(col("sh_a"), col("sh_b")), 4))
      .withColumn("abs_err", round(abs(col("est_jaccard") - col("jaccard")), 4))
      .select(col("id_a"), col("id_b"), col("est_jaccard"), col("jaccard"), col("abs_err"))
  }

  /** LSH parameter-tuning table: for each (bands × rowsPerBand) split
    * of ONE shared signature frame, the candidate-pair count, the
    * verified-dup count, and the precision — the measurement that
    * picks the banding before a 100 TB run (more bands = higher
    * recall, quadratically more candidates to verify).
    *
    * Every config reads the one flagged pair stream of
    * [[tuningPairs]]: the shingle arrays attach to each distinct pair
    * once, its jaccard verdict is computed in-row, and one global
    * aggregate of conditional sums yields every config's counts — a
    * pair surfacing under 3 of 4 bandings costs one array
    * intersection, not three.
    */
  def lshTuningTable(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 2, threshold: Double = 0.8, numHashes: Int = 12,
      configs: Seq[(Int, Int)] = Seq((2, 6), (3, 4), (4, 3), (6, 2))): DataFrame = {
    val n = configs.size
    val counts = withTuningPairs(df, idCol, textCol, shingleN, numHashes, configs) {
      (sh, pairs) => flagSums(verified(pairs, sh, threshold), n, withVerdict = true)
    }
    df.sparkSession.createDataFrame(configs.zipWithIndex.map { case ((b, r), i) =>
        (b.toLong, r.toLong, counts(i), counts(n + i))
      })
      .toDF("bands", "rows_per_band", "n_candidates", "n_verified")
      .withColumn("precision",
        round(col("n_verified").cast("double") /
          greatest(col("n_candidates"), lit(1L)), 6))
  }

  /** AQE/join overrides for the tuning tables. Both heavy stages break
    * AQE's bytes≈cost assumption (the bucket join's output is
    * quadratic per bucket; the verify is array-CPU-bound) and coalesce
    * to one task under the default 1MB floor. preferSortMergeJoin=false
    * keeps the non-broadcast verify joins SHUFFLED HASH: a sort-merge
    * join there sorts the pair × shingle-array intermediate, which
    * spilled past the thin disk at the 5M-doc replica (round 15). At
    * small scale Spark still auto-broadcasts the signature side (a
    * shuffle_hash HINT would defeat that broadcast, measured ~2x slower
    * at sf0.1).
    */
  private val tuningConfs = Map(
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16KB",
    "spark.sql.join.preferSortMergeJoin" -> "false")

  /** Runs `body` on the [[signatures]] frame and its [[tuningPairs]],
    * under [[tuningConfs]] scoped to a CLONED session (ConfScope
    * re-binds the input there; a set/restore on the caller's session
    * would leak into concurrently-planning queries, e.g. Verify's
    * thread pool). `body` must return plain values, not frames bound
    * to the clone.
    */
  private def withTuningPairs[T](
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, configs: Seq[(Int, Int)])(
      body: (DataFrame, DataFrame) => T): T = {
    require(configs.nonEmpty && configs.forall { case (b, r) => b * r == numHashes },
      s"every (bands, rowsPerBand) config must multiply to numHashes=$numHashes")
    require(configs.map(_._1).distinct.size == configs.size,
      "band counts must be distinct (bands is the config key)")
    graft.plans.ConfScope.withConfs(df, tuningConfs) { dfc =>
      val sh = signatures(dfc, idCol, textCol, shingleN, numHashes)
      body(sh, tuningPairs(sh, configs))
    }
  }

  /** The signature slices `(start, len)` the tuning tables self-join
    * on. A pair is a candidate of config (b, r) iff it matches one of
    * that config's b bands, so bucketing on every band of every config
    * finds every config's candidates. Fewer slices do when one config
    * REFINES all others: a pair matching band B also matches any band
    * B' ⊆ B, so when every band of every config contains a band of the
    * finest config (the one with the most bands), the finest config's
    * bands alone are enough. That holds for the default
    * (2,6)/(3,4)/(4,3)/(6,2) split — and whenever the finest rows/band
    * r0 satisfies r ≥ 2·r0 − 1 for every other config — and cuts the
    * self-join's band rows per doc from 15 to 6.
    */
  private[graft] def tuningBands(configs: Seq[(Int, Int)]): Seq[(Int, Int)] = {
    def bands(b: Int, r: Int) = (0 until b).map(bd => (bd * r, r))
    val (b0, r0) = configs.maxBy(_._1)
    val base = bands(b0, r0)
    val refines = configs.forall { case (b, r) =>
      bands(b, r).forall { case (s, len) =>
        base.exists { case (s0, len0) => s <= s0 && s0 + len0 <= s + len }
      }
    }
    if (refines) base else configs.flatMap { case (b, r) => bands(b, r) }.distinct
  }

  /** Banded bucket keys `(doc_id, sig, band, bkey)`, one row per doc
    * and slice `(start, len)` of `slices`: `band` is the slice's index
    * and `bkey` an 8-byte `xxhash64` over the slice's raw signature
    * values — 3× narrower through the self-join exchange than a 32-char
    * md5 string (round 18, guide §2.3: shuffle keys, not payloads).
    * Slice-equal docs always share a key; a hash COLLISION only ADDS a
    * pair, which every consumer's in-row [[bandMatch]] re-check drops.
    * `sig` is pruned by the optimizer where the caller selects ids only.
    */
  private def bandedKeys(sh: DataFrame, slices: Seq[(Int, Int)]): DataFrame =
    sh.select(col("doc_id"), col("sig"),
      explode(array(slices.zipWithIndex.map { case ((start, len), i) =>
        struct(lit(i).as("band"),
          xxhash64((start until start + len).map(p => element_at(col("sig"), p + 1)): _*)
            .as("bkey"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band"), col("bb.bkey"))

  /** In-row candidacy of a pair under config (b, r): some band's
    * signature slice matches exactly, compared element by element
    * (`slice` allocates two arrays per band, which on every raw
    * self-join row of [[tuningPairs]] made q125 ~45% slower at sf0.1 on
    * 4 cores; plans/lsh_tuning/one_pair_stream_ab.txt). Equality of the
    * raw slices stands in for equality of the oracle's md5 band keys —
    * divergence needs an md5 collision between distinct slice strings
    * (~2⁻¹²⁸, and no engine-visible input can exercise it). Applied to
    * the pairs of a banded self-join, it also rules out a pair that
    * shares a bucket only through an xxhash collision.
    */
  private def bandMatch(b: Int, r: Int): org.apache.spark.sql.Column =
    (0 until b).map { bd =>
      (bd * r until (bd + 1) * r).map(p => col("sig_a")(p) === col("sig_b")(p)).reduce(_ && _)
    }.reduce(_ || _)

  /** The tuning tables' one pair stream: `(id_a, id_b, _f0 .. _f<n-1>)`
    * with id_a < id_b, one row per pair sharing a bucket on some slice
    * of [[tuningBands]], and `_f<i>` = 1 iff the pair is a candidate of
    * config i. The signature rides the self-join, so every flag is
    * decided in-row BEFORE the pair-identity distinct: the flags are
    * deterministic per pair, so distinct over (ids, flags) has pair
    * cardinality, and it shuffles ids and flag longs only — never a
    * (cfg, pair)-tagged stream. The extra shuffle bytes, the signature
    * through the self-join, are corpus-LINEAR (guide §2.3/§2.4/§8).
    */
  private def tuningPairs(sh: DataFrame, configs: Seq[(Int, Int)]): DataFrame = {
    val banded = bandedKeys(sh, tuningBands(configs))
    val flags = configs.zipWithIndex.map { case ((b, r), i) =>
      when(bandMatch(b, r), 1L).otherwise(0L).as(s"_f$i")
    }
    banded.select(col("band"), col("bkey"), col("doc_id").as("id_a"), col("sig").as("sig_a"))
      .join(banded
        .select(col("band"), col("bkey"), col("doc_id").as("id_b"), col("sig").as("sig_b")),
        Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(Seq(col("id_a"), col("id_b")) ++ flags: _*)
      .distinct()
  }

  /** `pairs` with both shingle arrays attached (row-linear hash joins
    * that build on the shingle side and stream the pairs) and `_ok`
    * = the pair's rounded jaccard reaches `threshold`.
    */
  private def verified(pairs: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val shOnly = sh.select(col("doc_id"), col("sh"))
    pairs
      .join(shOnly.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shOnly.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("_ok", round(jaccard(col("sh_a"), col("sh_b")), 4) >= threshold)
  }

  /** One global aggregate over flagged pairs: Σ`_f<i>` for each of the
    * `n` configs, then (`withVerdict`) Σ`_f<i>` over the `_ok` pairs.
    * An empty input sums to zeros.
    */
  private def flagSums(pairs: DataFrame, n: Int, withVerdict: Boolean): IndexedSeq[Long] = {
    val sums = (0 until n).map(i => sum(col(s"_f$i"))) ++
      (if (withVerdict) (0 until n).map(i => sum(when(col("_ok"), col(s"_f$i")).otherwise(0L)))
       else Nil)
    val row = pairs.agg(sums.head, sums.tail: _*).head()
    sums.indices.map(i => if (row.isNullAt(i)) 0L else row.getLong(i))
  }

  /** [[lshTuningTable]] with a SAMPLED verify — the tuning table's
    * scale path. The exact-count formulation is measured infeasible
    * on any engine at the fourth decade (cfg (6,2) over-candidates
    * ~600× at the 5M-doc replica → ~157M exact-verify pairs × ~1.2KB
    * shingle arrays; BENCH_NOTES Round-15e), and a production tuning
    * run samples its verify anyway: per-config CANDIDATE counts stay
    * exact (narrow rows, linear traffic), while the expensive
    * jaccard verify runs only on a deterministic hash-sample of the
    * distinct candidate pairs — accept pair (a,b) iff
    * `hash60(seed:a_b) / 2^60 < sampleRate`, the RNG-free
    * [[Curation.importanceSample]] scheme, so the sampled set is
    * EXACT on any engine/layout and the oracle replays it verbatim.
    * Sampling keys on pair identity, not (cfg, pair): a pair
    * surfacing under 3 of 4 bandings is verified once and its
    * verdict reused, and every config's estimate shares one sample
    * frame. The verify's traffic is rate-bounded by construction:
    * at the 5M-doc replica, rate 0.02 × ~157M pairs ≈ 3M verifies
    * (~7 GB of array traffic) where the exact table needed hundreds.
    *
    * Both counts read the one [[tuningPairs]] stream, checkpointed
    * because both consume it: the exact candidate counts are one
    * conditional-sum aggregate over its flags, and the rate-bounded
    * sample is the only branch that touches the shingle arrays.
    *
    * Output per config: exact `n_candidates`, the sample size
    * `n_sampled`, `n_verified_sampled`, and
    * `precision_est = n_verified_sampled / max(n_sampled, 1)` —
    * the estimator's denominator is in the row, so a reader can
    * attach binomial error bars.
    */
  def lshTuningTableSampled(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 2, threshold: Double = 0.8, numHashes: Int = 12,
      configs: Seq[(Int, Int)] = Seq((2, 6), (3, 4), (4, 3), (6, 2)),
      sampleRate: Double = 0.02, sampleSeed: String = "lts5"): DataFrame = {
    require(sampleRate > 0.0 && sampleRate <= 1.0,
      s"sampleRate must be in (0, 1], got $sampleRate")
    val n = configs.size
    val (cand, samp) = withTuningPairs(df, idCol, textCol, shingleN, numHashes, configs) {
      (sh, stream) =>
        val pairs = stream.localCheckpoint(true)
        // deterministic pair sample on bare ids (rate-bounded), then the
        // shingle arrays attach to the SAMPLE only
        val u = hash60(concat(lit(sampleSeed), lit(":"),
          col("id_a").cast("string"), lit("_"), col("id_b").cast("string")))
          .cast("double") / lit(1152921504606846976.0) // 2^60
        val sampled = verified(pairs.filter(u < sampleRate), sh, threshold)
        // both branches read the checkpointed flags independently —
        // overlap the two actions (guide §2.6) instead of paying two
        // serial AQE job turnarounds
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val fCand = Future(flagSums(pairs, n, withVerdict = false))
        val fSamp = Future(flagSums(sampled, n, withVerdict = true))
        (Await.result(fCand, Duration.Inf), Await.result(fSamp, Duration.Inf))
    }
    df.sparkSession.createDataFrame(configs.zipWithIndex.map { case ((b, r), i) =>
        (b.toLong, r.toLong, cand(i), samp(i), samp(n + i))
      })
      .toDF("bands", "rows_per_band", "n_candidates", "n_sampled",
        "n_verified_sampled")
      .withColumn("precision_est",
        round(col("n_verified_sampled").cast("double") /
          greatest(col("n_sampled"), lit(1L)), 6))
  }

  /** Cross-group duplicate matrix: how many verified near-dup pairs
    * span each (group, group) combination — the leakage dashboard
    * (sources that heavily duplicate each other are mirrors or
    * re-crawls; diagonal entries are within-source duplication). The
    * pair list is checkpointed once, then joined to the group mapping
    * on each endpoint; output keyed on the unordered group pair.
    */
  def crossGroupDupMatrix(
      df: DataFrame, idCol: String, textCol: String, groupCol: String,
      numHashes: Int = 12, bands: Int = 4, shingleN: Int = 2,
      threshold: Double = 0.8): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, numHashes, bands, shingleN, threshold)
      .localCheckpoint(true)
    val g = df.select(col(idCol), col(groupCol))
    pairs
      .join(g.select(col(idCol).as("id_a"), col(groupCol).as("_ga")), Seq("id_a"))
      .join(g.select(col(idCol).as("id_b"), col(groupCol).as("_gb")), Seq("id_b"))
      .groupBy(
        least(col("_ga"), col("_gb")).as("src_a"),
        greatest(col("_ga"), col("_gb")).as("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Per-group near-duplication rate: share of each group's rows that
    * participate in at least one verified near-dup pair — the
    * source-quality ranking that decides which crawls to down-weight
    * before any cluster resolution runs.
    */
  def groupDupRate(
      df: DataFrame, idCol: String, textCol: String, groupCol: String,
      numHashes: Int = 12, bands: Int = 4, shingleN: Int = 2,
      threshold: Double = 0.8): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, numHashes, bands, shingleN, threshold)
      .localCheckpoint(true)
    val dupIds = pairs.select(col("id_a").as(idCol))
      .union(pairs.select(col("id_b").as(idCol)))
      .distinct()
      .withColumn("_dup", lit(1))
    df.select(col(idCol), col(groupCol))
      .join(dupIds, Seq(idCol), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), count(col("_dup")).as("n_dup_docs"))
      .withColumn("dup_rate",
        round(col("n_dup_docs").cast("double") / col("n_docs"), 6))
  }

  /** Compute each row's 60-bit simhash over word shingles:
    * (idCol → doc_id, sh). The fused native shingle-hash pass.
    */
  def simhashOf(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 2): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.select(
      col(idCol).as("doc_id"),
      GraftFunctions.simhash60Fast(
        GraftFunctions.hashedShingles(col(textCol), shingleN)).as("sh"))
  }

  /** Explode a (doc_id, sh) simhash frame into pigeonhole block keys
    * (doc_id, sh, blk, bits): any two hashes within `maxHamming` share
    * at least one full block, so an equi-join on (blk, bits) generates
    * ALL true candidates (100% recall) without an O(n²) cross product.
    */
  private def simhashBlocks(sim: DataFrame, maxHamming: Int): DataFrame = {
    // 60-bit hashes: beyond 59 the pigeonhole blocks degenerate to
    // zero-width (full cross join); reject rather than degrade
    require(maxHamming >= 0 && maxHamming < 60, s"maxHamming must be in [0,60), got $maxHamming")
    val nBlocks = maxHamming + 1 // pigeonhole guarantee
    val blockBits = 60.0 / nBlocks
    sim.select(
      col("doc_id"), col("sh"),
      explode(array((0 until nBlocks).map { blk =>
        val lo = math.round(blk * blockBits).toInt
        val hi = math.round((blk + 1) * blockBits).toInt
        struct(
          lit(blk).as("blk"),
          // bits [lo, hi): shift right lo, mask (1 << (hi-lo)) - 1
          call_function("shiftright", col("sh"), lit(lo))
            .bitwiseAND(lit((1L << (hi - lo)) - 1)).as("bits"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("sh"), col("bb.blk"), col("bb.bits"))
  }

  /** Near-duplicate pairs from ANY precomputed (doc_id, sh) simhash
    * frame — the pigeonhole block join + exact verify, shared by the
    * text path and the binary-payload path.
    */
  def simhashPairsOf(sim: DataFrame, maxHamming: Int): DataFrame = {
    val blocked = simhashBlocks(sim, maxHamming)
    val a = blocked.select(col("blk"), col("bits"), col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = blocked.select(col("blk"), col("bits"), col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("blk", "bits"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hamming(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** SimHash near-duplicate pairs at Hamming distance <= maxHamming,
    * banded for scale via [[simhashBlocks]], then exactly verified
    * with the `bit_count` distance. Recall is 100%; the block join
    * replaces the O(n²) cross product.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 10,
      shingleN: Int = 2): DataFrame =
    simhashPairsOf(simhashOf(df, idCol, textCol, shingleN), maxHamming)

  /** Pairwise n-gram Jaccard over a bounded id range (the exhaustive
    * baseline the LSH paths approximate; at scale use minhashLshPairs
    * instead). Refuses inputs over `maxRows` — see [[ExhaustiveGuard]].
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 2,
      threshold: Double = 0.8,
      maxRows: Long = 10000): DataFrame = {
    ExhaustiveGuard.requireBounded(df, maxRows, "ngramJaccardPairs")
    val sh = df.select(
      col(idCol).as("doc_id"),
      shingles(tokens(col(textCol)), shingleN).as("sh"))
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", round(jaccard(col("sh_a"), col("sh_b")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Edit-distance-≤1 string pairs WITHOUT a cross join, via deletion
    * neighborhoods (the SymSpell/FastSS family): each string keys on
    * itself plus each single-character deletion; any two strings
    * within one edit (substitute / insert / delete) provably share a
    * key, so candidates come from an equi-join on the derived key and
    * are then exactly verified with `levenshtein`. Candidate
    * generation is one explode (|s|+1 keys per string) + one shuffle
    * on the key — never strings × strings, so it survives a 100 TB
    * vocabulary where the exhaustive `q29`-style pair space cannot.
    *
    * Each key additionally carries the DELETED POSITION (0 for the
    * word itself), which prunes the bucket-internal pair space to
    * essentially the true pairs: two same-length words sharing a
    * deletion key at the SAME position differ only at that position
    * (one substitution), and an insert/delete pair puts the shorter
    * word in the bucket as the key itself (position 0). Any pair with
    * differing non-zero positions is ≥2 edits apart and is never
    * emitted — on a dense vocabulary (e.g. zero-padded TPC-H names,
    * where a bucket holds every one-digit variant) this collapses the
    * candidate set ~50× versus pairing the whole bucket, and the
    * `levenshtein` verify pass runs only over near-certain pairs, kept
    * to produce the `dist` column and to discard 8-byte hash-collision
    * impostors exactly.
    *
    * Input should be DISTINCT strings (a vocabulary); emits
    * (word_a < word_b, dist).
    *
    * SymSpell-style PREFIX bucketing (keying deletions of only the
    * first P chars) was measured and REJECTED (round 15, BENCH_NOTES):
    * on this vocabulary shape (shared literal prefix + varying digit
    * tail, i.e. zero-padded names) truncation collapses the key space
    * to a handful of buckets — candidate pairs explode 36×–1270×
    * (P=16: 35M, P=10: 1.24B vs 0.98M for full keys at sf0.1). The
    * SUFFIX mirror keeps candidates identical with 2.5× fewer key
    * bytes, but it breaks the deleted-position pruning invariant (an
    * insert inside the window pairs two DIFFERENT non-zero positions,
    * which the same-position filter would wrongly drop), and key bytes
    * are not this query's cost at any measured scale. Full deletion
    * keys stay.
    */
  def editDistance1Pairs(vocab: DataFrame, strCol: String): DataFrame = {
    // rename FIRST, derive keys in a second select: a generator whose
    // argument resolves to a same-select-list alias trips Spark 4's
    // lateral-column-alias rewrite (LateralColumnAliasReference
    // internal error)
    val base = vocab.select(col(strCol).as("w"))
    val w = col("w")
    // sequence(1, 0) DESCENDS in Spark — guard the empty string.
    // Deletions are NOT distinct-ed: a repeated char yields the same
    // key at two positions and both must key (the matching partner may
    // share either position); the duplicate pair it can emit is
    // removed by dropDuplicates below.
    val positions = when(length(w) >= 1, sequence(lit(1), length(w)))
      .otherwise(array_repeat(lit(1), 0))
    // keys travel as (8-byte hash, deleted position): halves shuffle
    // bytes vs the key string; a hash collision only ADDS a candidate
    // pair, which the exact levenshtein filter below removes
    val keys = concat(
      array(struct(xxhash64(w).as("kh"), lit(0).as("pos"))),
      transform(positions, i =>
        struct(
          xxhash64(concat(w.substr(lit(1), i - 1), w.substr(i + 1, length(w)))).as("kh"),
          i.as("pos"))))
    val keyed = base.select(w, explode(keys).as("kp"))
      .select(col("w"), col("kp.kh").as("kh"), col("kp.pos").as("pos"))
      // explicit partition count: vocab keys are byte-light, so AQE's
      // 1MB floor coalesces this exchange to ~1 task and the per-bucket
      // pair scan + levenshtein verify (the query's CPU) serialize.
      // A user repartition is exempt, satisfies the groupBy's required
      // clustering (no second exchange), and partial collect_list
      // wouldn't have reduced shuffle bytes anyway.
      .repartition(
        vocab.sparkSession.sessionState.conf.numShufflePartitions, col("kh"))
    // ONE shuffle, no join: group the (word, pos) members sharing a key.
    // A bucket for key k can only hold k itself plus strings one
    // insertion away from k — at most (|k|+1)·|Σ|+1 members for
    // alphabet Σ — so collect_list is bounded independent of corpus
    // size.
    val buckets = keyed.groupBy("kh")
      .agg(collect_list(struct(col("w"), col("pos"))).as("ms"))
      .filter(size(col("ms")) > 1)
    // emit only position-compatible pairs (same deleted position, or
    // one side IS the key): each survives the edit-1 test by
    // construction, so the per-bucket work is a quadratic scan over
    // position ints, not a quadratic pair materialization
    val pairs = buckets.select(explode(flatten(transform(col("ms"),
        (a, i) => transform(
          filter(
            slice(col("ms"), i + lit(2), size(col("ms"))),
            b => (a("pos") === b("pos") || a("pos") === 0 || b("pos") === 0) &&
              a("w") =!= b("w")),
          b => struct(
            least(a("w"), b("w")).as("word_a"),
            greatest(a("w"), b("w")).as("word_b")))))).as("p"))
      .select(col("p.word_a"), col("p.word_b"))
    pairs
      // verify BEFORE deduplicating: filtering first shrinks the dedup
      // shuffle to the verified pairs (a pair can share several keys).
      // The threshold overload computes a banded O(len) distance and
      // early-exits with -1 past the bound.
      .withColumn("dist", levenshtein(col("word_a"), col("word_b"), 1).cast("long"))
      .filter(col("dist") >= 1)
      .dropDuplicates("word_a", "word_b")
      .select(col("word_a"), col("word_b"), col("dist"))
  }

  /** Start positions of word n-grams that occur more than once in the
    * whole corpus (counting repeats inside one document), as
    * (idCol, s, e) coverage windows s..s+n-1. N-grams are formed with
    * window leads (no per-row array blowup), and the global
    * count/join runs on the 8-byte hash60 of the n-gram, not the
    * string — the shuffle carries longs.
    */
  /** Every word n-gram window as (idCol, pos, nh): start position and
    * the 60-bit hash of the space-joined gram, built IN-ROW from the
    * token array (transform over start positions + slice) — zero
    * shuffles, where the earlier window-lead formulation paid a
    * partition-and-sort on the doc id before a single gram existed.
    * The transient per-doc hash array is tokens-long, bounded by
    * document length, never corpus size.
    */
  private def ngramHashes(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, "n-gram windows need n >= 2")
    df.select(col(idCol), tokens(lower(col(textCol))).as("_w"))
      .filter(size(col("_w")) >= n)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), size(col("_w")) - n),
          i => hash60(concat_ws(" ", slice(col("_w"), i + 1, lit(n))))))
        .as(Seq("pos", "nh")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("nh"))
  }

  private def dupNgramWindows(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val ng = ngramHashes(df, idCol, textCol, n)
    // corpus frequency as ONE unordered window count over the gram
    // hash — the groupBy + join-back shape shuffles the full position
    // stream twice for the same answer (same pattern as ngramNovelty)
    ng.withColumn("_c", count(lit(1)).over(Window.partitionBy(col("nh"))))
      .filter(col("_c") > 1)
      .select(col(idCol), col("pos").as("s"), (col("pos") + (n - 1)).as("e"))
  }

  /** Duplicated-substring spans, Lee et al. 2022 (arXiv:2107.06499)
    * shape: every maximal token range covered by word n-grams that
    * appear elsewhere in the corpus. Overlapping/adjacent windows
    * merge into islands with the classic running-max window (per-doc
    * partitions — no global sort). Returns (idCol, span_start,
    * span_end) in token positions.
    */
  def duplicateNgramSpans(
      df: DataFrame, idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("s"), col("e"))
    val prevMax = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    dupNgramWindows(df, idCol, textCol, n)
      .withColumn("_brk",
        when(col("s") > coalesce(prevMax, lit(-1L)), 1).otherwise(0))
      .withColumn("_g", sum(col("_brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("_g"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .drop("_g")
  }

  /** Shared front half of the scrub: (idCol, _w, _sp) — the token
    * array joined with the doc's merged span islands (null when none).
    */
  private def spansJoined(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // ship the MERGED islands back per-doc (few spans each) and scrub
    // IN-ROW: an exists() test per token against the doc's span list
    // replaces the exploded coverage stream, its (id, pos) anti-join
    // shuffle, and the collect_list re-sort of the survivor stream —
    // the only remaining shuffles are the ones the semantics force
    // (global gram frequency + the per-doc island merge)
    val spans = duplicateNgramSpans(df, idCol, textCol, n)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("_sp"))
    df.select(col(idCol), tokens(lower(col(textCol))).as("_w"))
      .join(spans, Seq(idCol), "left")
  }

  /** Tokens surviving the span scrub, in position order (in-row). */
  private def keptTokens: org.apache.spark.sql.Column =
    filter(
      transform(col("_w"), (t, i) =>
        when(exists(col("_sp"), s =>
          i.cast("long") >= s.getField("span_start") &&
            i.cast("long") <= s.getField("span_end")), lit(null))
          .otherwise(t)),
      t => t.isNotNull)

  /** Survivor count WITHOUT materializing the survivors: the islands
    * are disjoint and in-bounds by construction (the running-max merge
    * breaks on s > prevMax, and e = pos + n − 1 ≤ len − 1), so
    * n_kept = len − Σ island widths — pure arithmetic over the few
    * spans, no per-token pass.
    */
  private def keptCount: org.apache.spark.sql.Column =
    size(col("_w")).cast("long") - coalesce(
      aggregate(col("_sp"), lit(0L),
        (acc, s) => acc + s.getField("span_end") - s.getField("span_start") + lit(1L)),
      lit(0L))

  /** The scrub step of substring dedup: drop every token covered by a
    * duplicated n-gram window and stitch the survivors back together
    * in position order. Documents losing all tokens disappear.
    * Returns (idCol, n_kept, clean_text), ordered by idCol.
    *
    * The survivor filter runs on the arithmetic [[keptCount]] (no token
    * pass) BELOW the sort, and the per-token scrub + stitch runs ONCE
    * above it: a terminal sort's range-sampling pass re-executes
    * everything between the last materialization point and the
    * exchange, which for a scrub below the sort meant the whole
    * O(tokens × spans) scrub twice.
    */
  def removeDuplicateSpans(
      df: DataFrame, idCol: String, textCol: String, n: Int = 8): DataFrame =
    spansJoined(df, idCol, textCol, n)
      .filter(keptCount >= 1)
      .orderBy(col(idCol))
      .select(col(idCol), keptCount.as("n_kept"),
        concat_ws(" ", keptTokens).as("clean_text"))

  /** Per-document n-gram novelty: how much of a document is NOT seen
    * elsewhere in the corpus — the memorization/boilerplate signal
    * dual to [[duplicateNgramSpans]]. A window is "shared" when its
    * n-gram occurs in at least one OTHER document (distinct-doc count
    * > 1; in-document repetition alone stays novel — that is
    * repetition scoring's job, not novelty's).
    *
    * Returns (idCol, n_grams, shared_grams, novelty) with novelty =
    * 1 − shared/total rounded to 6. Documents shorter than n tokens
    * emit no row (no windows to judge). Scale: the document-frequency
    * aggregate and the join back both key on the 8-byte gram hash.
    */
  def ngramNovelty(
      df: DataFrame, idCol: String, textCol: String, n: Int = 8): DataFrame = {
    // collapse to one row per (gram, doc) FIRST — the position stream
    // never re-shuffles, and the distinct-doc frequency is a window
    // count over the collapsed frame instead of a countDistinct plus a
    // join back of the full stream
    val perDoc = ngramHashes(df, idCol, textCol, n)
      .groupBy(col("nh"), col(idCol))
      .agg(count(lit(1)).as("_k"))
    perDoc
      .withColumn("_ddf", count(lit(1)).over(Window.partitionBy(col("nh"))))
      .groupBy(col(idCol))
      .agg(
        sum(col("_k")).as("n_grams"),
        sum(when(col("_ddf") > 1, col("_k")).otherwise(0L)).as("shared_grams"))
      .withColumn("novelty",
        round(lit(1.0) - col("shared_grams").cast("double") / col("n_grams"), 6))
  }
}
