package graft.operators

import graft.functions.TextFunctions.{avgWordLen, hash60, punctRatio, stopwordRatio, tokenCount, tokens}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators: deterministic dataset splitting,
  * per-source quota capping, fixed-size token chunking (sequence
  * packing prep), and vocabulary extraction.
  *
  * All are hash- or window-based — no sampling RNG, so results are
  * reproducible across runs, engines, and cluster layouts (the
  * property a 100 TB curation pipeline needs: re-running assignment
  * must not reshuffle documents between train and test).
  *
  * Scale shapes: split assignment and chunking are narrow (no
  * shuffle); quota shuffles once on the group key; vocab does one
  * partial-then-final count aggregation then a global top-k
  * (TakeOrdered — no full sort).
  */
object Curation {

  /** Deterministic train/val/test assignment: md5-derived bucket of
    * the id in [0,100), `< trainPct` → train, `< trainPct+valPct` →
    * val, else test. Stable under any re-partitioning or re-run.
    */
  def assignSplit(
      df: DataFrame,
      idCol: String,
      trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    df.withColumn("bucket", pmod(hash60(col(idCol).cast("string")), lit(100)))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
      .drop("bucket")
  }

  /** Cap rows per group (e.g. max N documents per source domain),
    * keeping the lowest `idCol` values — the standard over-represented-
    * domain guard in pretraining mixes.
    */
  def groupQuota(df: DataFrame, groupCol: String, idCol: String, quota: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(idCol))
    df.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= quota)
  }

  /** Split each document into fixed-size token chunks (the shape
    * sequence-packing pipelines feed to tokenizer sharding): emits one
    * row per (doc, chunk) with the chunk's token count and a 60-bit
    * content hash for downstream exact-dedup of chunks.
    */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String, chunkSize: Int): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    val nChunks = greatest(
      expr(s"(size(toks) + ${chunkSize - 1}) div $chunkSize").cast("long"), lit(1L))
    df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .withColumn("chunk_idx", explode(sequence(lit(0L), nChunks - 1)))
      .withColumn("chunk", slice(col("toks"), col("chunk_idx") * chunkSize + 1, lit(chunkSize)))
      .select(
        col(idCol),
        col("chunk_idx"),
        size(col("chunk")).cast("long").as("chunk_len"),
        hash60(concat_ws(" ", col("chunk"))).as("chunk_hash"))
  }

  /** Content-defined chunking (the CDC/rolling-hash family backup
    * systems and chunk-level dedup use): a chunk boundary falls after
    * position i whenever the hash of the `window`-gram ending at i has
    * its low `mask` bits zero — so boundaries depend only on LOCAL
    * content, and an insertion early in a document shifts chunk
    * boundaries only until the next boundary resynchronizes (fixed-size
    * chunking ([[chunkTokens]]) would shift every subsequent chunk).
    * Average chunk length ≈ mask+1 characters.
    *
    * Emits one row per (doc, chunk): chunk_idx, chunk_len, and the
    * chunk's 60-bit content hash for cross-document chunk-level dedup.
    * Everything is per-row expression work — no shuffle, no UDF.
    */
  def cdcChunks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 8,
      mask: Long = 15L): DataFrame = {
    require(window >= 1, "window must be positive")
    require(mask >= 0, "mask must be non-negative")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val chunks = graft.functions.GraftFunctions.cdcChunksFast(col("_t"), window, mask)
    df.select(col(idCol), col(textCol).as("_t"))
      .filter(length(col("_t")) >= 1)
      .select(col(idCol), posexplode(chunks).as(Seq("chunk_idx", "c")))
      .select(
        col(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.chunk_len").as("chunk_len"),
        col("c.chunk_hash").as("chunk_hash"))
  }

  /** Composed-builtin form of [[cdcChunks]] — value-identical (the
    * equivalence is spec-enforced) and the shape the DuckDB oracle
    * mirrors gram-by-gram; [[cdcChunks]]' native expression is the
    * production path.
    */
  def cdcChunksComposed(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 8,
      mask: Long = 15L): DataFrame = {
    require(window >= 1, "window must be positive")
    require(mask >= 0, "mask must be non-negative")
    val base = df.select(col(idCol), col(textCol).as("_t"))
      .filter(length(col("_t")) >= 1)
    val n = length(col("_t"))
    val t = col("_t")
    // boundary positions: i ∈ [window, n] with (hash60(gram) & mask)=0.
    // sequence(a, b) DESCENDS when a > b — guard the short-doc case.
    val positions = filter(
      transform(
        when(n >= window, sequence(lit(window), n)).otherwise(array().cast("array<int>")),
        i => when(hash60(t.substr(i - (window - 1), lit(window)))
          .bitwiseAND(lit(mask)) === 0, i)),
      x => x.isNotNull)
    // no array_distinct: a boundary AT position n duplicates the final
    // bound and yields an empty chunk, filtered below — Spark and
    // DuckDB disagree on distinct's order guarantees, so we avoid it
    val bounds = concat(array(lit(0)), positions, array(n))
    val chunks = transform(
      sequence(lit(1), size(bounds) - 1),
      j => t.substr(
        element_at(bounds, j) + 1,
        element_at(bounds, j + 1) - element_at(bounds, j)))
    base
      .select(col(idCol), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
      .filter(length(col("chunk")) > 0)
      .select(
        col(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        length(col("chunk")).cast("long").as("chunk_len"),
        hash60(col("chunk")).as("chunk_hash"))
  }

  /** Composite document-quality gate (the C4/Gopher-style rule family):
    * token-count bounds, mean-word-length band, stopword floor,
    * punctuation ceiling — evaluated per row in one pass, emitting the
    * list of FAILED rule names so downstream curation can report *why*
    * documents were dropped, not just how many. Thresholds compare
    * against 4-decimal-rounded ratios so the cut is deterministic
    * cross-engine.
    */
  def qualityFilter(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Long = 30L,
      maxTokens: Long = 1000L): DataFrame = {
    val t = col(textCol)
    val nt = tokenCount(t)
    val awl = round(avgWordLen(t), 4)
    val sr = round(stopwordRatio(t), 4)
    val pr = round(punctRatio(t), 4)
    val reasons = filter(
      array(
        when(nt < minTokens, lit("too_short")),
        when(nt > maxTokens, lit("too_long")),
        when(awl < 3.0 || awl > 10.0, lit("word_len")),
        when(sr < 0.02, lit("low_stopword")),
        when(pr > 0.2, lit("high_punct"))),
      x => x.isNotNull)
    df.select(
      col(idCol),
      nt.as("n_tokens"),
      concat_ws(";", reasons).as("reasons"),
      (size(reasons) === 0).as("keep"))
  }

  /** Greedy contiguous sequence packing (the batch-construction step
    * training pipelines run after chunking): within each group, walk
    * rows in `orderCol` order accumulating `weightCol` (token counts)
    * and assign `seq_id = floor(preceding_weight / capacity)` — each
    * sequence holds consecutive rows until the capacity boundary is
    * crossed. Deterministic, one window shuffle keyed by the group; a
    * row heavier than `capacity` simply spans its own sequence ids.
    */
  def packSequences(
      df: DataFrame,
      groupCol: String,
      orderCol: String,
      weightCol: String,
      capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(orderCol))
    import graft.plans.SqlIdent.quote
    df.withColumn("_cum", sum(col(weightCol)).over(w))
      // exact integer floor-div (Column./ is double division — wrong
      // past 2^53): cum and weight are integral, div truncates, and
      // the numerator is non-negative, so truncation == floor
      .withColumn("seq_id",
        expr(s"CAST((_cum - ${quote(weightCol)}) div $capacity AS BIGINT)"))
      .drop("_cum")
  }

  /** Temperature-scaled mixture fractions (the multi-corpus sampling
    * scheme multilingual/multi-source pretraining uses): the sampling
    * share of group g is n_g^τ normalized over all groups. τ=1
    * reproduces the observed mix, τ=0 is uniform, τ∈(0,1) upsamples
    * the tail without letting any head group dominate. One tiny
    * aggregate (a row per group) plus an unpartitioned window over it.
    */
  def temperatureMixtureWeights(df: DataFrame, groupCol: String, tau: Double): DataFrame = {
    require(tau >= 0.0 && tau <= 1.0, s"tau must be in [0,1], got $tau")
    val w = Window.partitionBy()
    df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
      .select(
        col(groupCol), col("n_docs"),
        round(pow(col("n_docs"), tau) / sum(pow(col("n_docs"), tau)).over(w), 6)
          .as("mix_frac"))
  }

  /** Sliding-window token chunking WITH overlap (the context-window
    * prep RAG and long-context training pipelines use): windows of
    * `chunkSize` tokens starting every `stride` tokens, so consecutive
    * chunks share `chunkSize - stride` tokens; the final window may be
    * shorter. stride == chunkSize degenerates to [[chunkTokens]].
    * Narrow (no shuffle), same output shape as [[chunkTokens]].
    */
  def chunkTokensOverlap(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int,
      stride: Int): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    require(stride > 0 && stride <= chunkSize,
      s"stride must be in [1, chunkSize], got $stride")
    val nChunks = greatest(
      expr(s"(size(toks) + ${stride - 1}) div $stride").cast("long"), lit(1L))
    df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .withColumn("chunk_idx", explode(sequence(lit(0L), nChunks - 1)))
      .withColumn("chunk", slice(col("toks"), col("chunk_idx") * stride + 1, lit(chunkSize)))
      .select(
        col(idCol),
        col("chunk_idx"),
        size(col("chunk")).cast("long").as("chunk_len"),
        hash60(concat_ws(" ", col("chunk"))).as("chunk_hash"))
  }

  /** Cap rows per group at `cap`, chosen by salted-hash order rather
    * than [[groupQuota]]'s lowest-id order — an UNBIASED deterministic
    * downsample (id order usually correlates with crawl time/source
    * position; hash order doesn't). One window shuffle on the group
    * key; the id tiebreak makes the kept set total-order stable.
    */
  def groupCapByHash(df: DataFrame, groupCol: String, idCol: String, cap: Int): DataFrame = {
    require(cap > 0, "cap must be positive")
    val h = hash60(concat_ws("@", col(idCol).cast("string"), col(groupCol)))
    val w = Window.partitionBy(col(groupCol)).orderBy(h, col(idCol))
    df.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= cap)
  }

  /** Deterministic epoch shuffle for training-order assignment: each
    * row lands in shard `hash60(seed:id) mod numShards` at position
    * `row_number` by hash order within the shard. One window shuffle
    * on the shard key; changing the seed (e.g. per epoch) produces an
    * independent order while staying bit-reproducible across runs and
    * cluster layouts — the property a dataloader manifest needs.
    * Returns (idCol, shard, pos).
    */
  def epochShuffle(
      df: DataFrame,
      idCol: String,
      seed: String,
      numShards: Int): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    // hash60 is non-negative (60-bit), so % and pmod agree cross-engine
    val h = hash60(concat(lit(seed), lit(":"), col(idCol).cast("string")))
    val w = Window.partitionBy(col("shard")).orderBy(col("_hv"), col(idCol))
    df.select(col(idCol), h.as("_hv"))
      .withColumn("shard", (col("_hv") % numShards).cast("long"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Cumulative vocabulary coverage curve: the top-k tokens by corpus
    * frequency with each rank's running share of ALL token
    * occurrences — the "how many types cover 90% of tokens" question
    * that sizes vocabularies and spots degenerate corpora. One
    * partial-then-final token count; the rank/cumsum windows run over
    * the VOCABULARY (types, not occurrences), which is tiny relative
    * to the corpus. Returns (rnk, tok, c, cum_share).
    */
  def vocabCoverage(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val cnt = df.select(explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val wAll = Window.orderBy(col("c").desc, col("tok"))
    cnt
      .withColumn("_tot", sum(col("c")).over(Window.partitionBy()))
      .withColumn("rnk", row_number().over(wAll).cast("long"))
      .withColumn("cum_share",
        round(sum(col("c")).over(wAll.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double") / col("_tot"), 6))
      .filter(col("rnk") <= k)
      .select(col("rnk"), col("tok"), col("c"), col("cum_share"))
  }

  /** Deterministic importance sampling (the DSIR-style reweighting
    * step without RNG): keep a row iff hash60(seed:id)/2^60 < its
    * weight, weight clamped to [0,1]. The md5-derived uniform makes
    * acceptance exact and layout-independent, E[kept] = Σ weights,
    * and a seed change draws an independent sample. Narrow (no
    * shuffle) — the filter rides the scan.
    */
  def importanceSample(
      df: DataFrame,
      idCol: String,
      weight: Column,
      seed: String): DataFrame = {
    val u = hash60(concat(lit(seed), lit(":"), col(idCol).cast("string")))
      .cast("double") / lit(1152921504606846976.0) // 2^60
    df.filter(u < least(greatest(weight.cast("double"), lit(0.0)), lit(1.0)))
  }

  /** Uniform-target special case: weight(g) = N / (G · n_g). */
  def uniformMixtureWeights(df: DataFrame, groupCol: String): DataFrame = {
    val w = Window.partitionBy()
    df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
      .select(
        col(groupCol), col("n_docs"),
        round(sum(col("n_docs")).over(w).cast("double") /
          (count(lit(1)).over(w) * col("n_docs")), 6).as("weight"))
  }

  /** Deterministic stratified sampling: keep a row iff its md5-derived
    * per-mille bucket (salted with the group so strata draw
    * independently) falls below its group's threshold. `fractions`
    * maps group → keep fraction in [0,1]; unlisted groups use
    * `defaultFraction`. Narrow — no shuffle, no RNG state — so the
    * same rows are kept on any cluster layout or re-run, and the
    * sample is a superset/subset relation across fraction changes
    * (raising a fraction only ADDS rows, the property incremental
    * corpus scaling needs).
    */
  def stratifiedSample(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 0.0): DataFrame = {
    require((fractions.values ++ Seq(defaultFraction)).forall(f => f >= 0.0 && f <= 1.0),
      "fractions must be in [0,1]")
    // concat_ws, not concat: a NULL id or group must hash (to the
    // empty-part key), not null out the bucket and silently drop the
    // row even at fraction 1.0
    val bucket = pmod(
      hash60(concat_ws("#", col(idCol).cast("string"), col(groupCol))), lit(1000))
    val threshold = fractions.foldLeft(lit((defaultFraction * 1000).round)) {
      case (acc, (g, f)) => when(col(groupCol) === g, lit((f * 1000).round)).otherwise(acc)
    }
    df.withColumn("sample_bucket", bucket)
      .filter(col("sample_bucket") < threshold)
  }

  /** Deterministic weighted sampling without replacement (Efraimidis &
    * Spirakis 2006): each row gets key = ln(u)/w with u a hash-derived
    * uniform — the top-k keys ARE a weight-proportional sample, no RNG
    * and no sequential reservoir. The key rounds to 6 before ranking
    * (the library's cross-engine ordering grain) and the global top-k
    * runs as TakeOrderedAndProject — per-partition partial top-k, no
    * single-partition window.
    */
  def weightedSampleTopK(
      df: DataFrame, idCol: String, weightCol: String, k: Int,
      salt: String = "ws"): DataFrame = {
    require(k >= 1)
    val u = graft.functions.TextFunctions
      .hash60(concat(lit(s"$salt:"), col(idCol).cast("string")))
      .cast("double") / (1L << 60).toDouble
    df.filter(col(weightCol) > 0)
      .withColumn("key", round(log(u) / col(weightCol), 6))
      .orderBy(col("key").desc, col(idCol))
      .limit(k)
  }

  /** Padding-waste accounting for batched training: within each group
    * (a data-parallel worker's shard), form `batchSize`-row batches in
    * arrival order vs length-sorted order and compare the padded token
    * bill (each batch pads every sequence to the batch max). The
    * measurement behind length-bucketed batching — typically 20-40%
    * of compute on mixed-length corpora.
    *
    * Integer arithmetic end-to-end. Per group: (group, total_tokens,
    * padded_arrival, padded_sorted) — sorted ≤ arrival always; both ≥
    * total.
    */
  def paddingWaste(
      df: DataFrame, groupCol: String, idCol: String, lenCol: String,
      batchSize: Int): DataFrame = {
    require(batchSize >= 1)
    def padded(orderCols: Seq[org.apache.spark.sql.Column], tag: String) = {
      val w = Window.partitionBy(col(groupCol)).orderBy(orderCols: _*)
      df.select(col(groupCol), col(idCol), col(lenCol).cast("long").as("_len"))
        .withColumn("_b", ((row_number().over(w) - 1) / batchSize).cast("long"))
        .groupBy(col(groupCol), col("_b"))
        .agg((max(col("_len")) * count(lit(1))).as(s"_p"),
          sum(col("_len")).as("_t"))
        .groupBy(col(groupCol))
        .agg(sum(col("_p")).as(s"padded_$tag"), sum(col("_t")).as(s"_total_$tag"))
    }
    padded(Seq(col(idCol)), "arrival")
      .join(padded(Seq(col("_len"), col(idCol)), "sorted"), Seq(groupCol))
      .select(col(groupCol), col("_total_arrival").as("total_tokens"),
        col("padded_arrival"), col("padded_sorted"))
  }

  /** Global token vocabulary: top-k lowercased whitespace tokens by
    * frequency (ties broken by token) — the counting shape of vocab /
    * BPE-seed extraction.
    */
  def vocabTopK(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(k)

  /** Rendezvous (highest-random-weight, Thaler & Ravishankar 1998)
    * shard assignment: shard(key) = argmax over shards of
    * md5(key # shard). Unlike mod-N hashing, growing N shards to N+1
    * moves only ~1/(N+1) of keys — the property that makes shard
    * splits cheap on a 100 TB corpus.
    *
    * The argmax is computed IN-ROW over an n-element array (array_max
    * on (hex, shard) structs — lexicographic on the 32-char md5 hex,
    * identical in any engine); no explode, no shuffle, the scan stays
    * narrow.
    */
  def rendezvousShard(df: DataFrame, keyCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, "need nShards >= 1")
    val weights = array((0 until nShards).map { sh =>
      struct(md5(concat(col(keyCol).cast("string"), lit("#"), lit(sh.toString)))
        .as("h"), lit(sh.toLong).as("shard"))
    }: _*)
    df.withColumn("shard", array_max(weights).getField("shard"))
  }

  /** Gini coefficient of a nonnegative size column per group — how
    * concentrated the corpus is (0 = all docs equal, →1 = one doc
    * holds everything). Uses the rank identity
    * G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n over ascending x: one
    * per-group sort-rank window plus one aggregation; ties may take
    * ranks in any order without changing the sum.
    */
  def giniBySource(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    // null sizes are excluded: engines disagree on null sort order
    val ranked = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), col(valueCol).cast("double").as("_x"))
      .withColumn("_i", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("_x"))))
    ranked.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        round(lit(2.0) * sum(col("_i") * col("_x")) /
          (count(lit(1)) * sum(col("_x"))) -
          (count(lit(1)) + lit(1.0)) / count(lit(1)), 6).as("gini"))
  }

  /** 2-D Pareto frontier (skyline): rows not strictly dominated on
    * (maximize x, maximize y). One sort by (x desc, y desc) and an
    * exclusive running max of y — a row survives iff its y beats
    * every y seen at higher-or-equal x. O(n log n), single window,
    * no self-join; duplicate (x, y) points keep their first ranked
    * representative (pass `tieCols` to make "first" deterministic).
    */
  def paretoFront2D(
      df: DataFrame, xCol: String, yCol: String,
      tieCols: Seq[String] = Nil): DataFrame = {
    val w = Window.orderBy(
      col(xCol).desc +: col(yCol).desc +: tieCols.map(col(_).asc): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("_best_y", max(col(yCol)).over(w))
      .filter(col("_best_y").isNull || col(yCol) > col("_best_y"))
      .drop("_best_y")
  }
}
