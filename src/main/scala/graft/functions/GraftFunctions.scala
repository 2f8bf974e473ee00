package graft.functions

import graft.plans.{BestCentroid, CdcChunks, CosineSim, GramianAgg, Hash60Array, HashedShingles, HyperplaneBuckets, MinHashSig, SimHash60, SquaredDist, VecMeanAgg, VecWeightedSumAgg, WinnowFingerprints}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ArrayBinarySearch, Expression, Literal}
import org.apache.spark.sql.functions.{call_function, lit}

/** Session registration + Column builders for the native Catalyst
  * expressions in graft.plans. Spark 4's unified Column API has no
  * public Expression→Column constructor, so the expressions are
  * registered in the session FunctionRegistry and invoked via
  * `call_function` (resolved at analysis).
  *
  * `register` is idempotent; operators call it on their input's
  * session before building plans. SQL users get the same functions by
  * name (`SELECT graft_simhash60(...)`).
  */
object GraftFunctions {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects a literal int argument, got $other")
  }

  private def longArg(e: Expression, name: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$name expects a literal long argument, got $other")
  }

  val functions: Map[String, Seq[Expression] => Expression] = Map(
    "graft_hash60_array" -> (es => Hash60Array(es(0))),
    "graft_hashed_shingles" -> (es => HashedShingles(es(0), intArg(es(1), "graft_hashed_shingles"))),
    "graft_minhash_sig" -> (es => MinHashSig(es(0), intArg(es(1), "graft_minhash_sig"))),
    "graft_simhash60" -> (es => SimHash60(es(0))),
    "graft_lsh_buckets" -> (es => HyperplaneBuckets(
      es(0), intArg(es(1), "graft_lsh_buckets"), intArg(es(2), "graft_lsh_buckets"))),
    "graft_cosine" -> (es => CosineSim(es(0), es(1))),
    "graft_sqdist" -> (es => SquaredDist(es(0), es(1))),
    "graft_best_centroid" -> (es => BestCentroid(es(0), es(1))),
    "graft_winnow_fp" -> (es => WinnowFingerprints(
      es(0), intArg(es(1), "graft_winnow_fp"), intArg(es(2), "graft_winnow_fp"))),
    "graft_cdc_chunks" -> (es => CdcChunks(
      es(0), intArg(es(1), "graft_cdc_chunks"), longArg(es(2), "graft_cdc_chunks"))),
    "graft_gramian" -> (es => GramianAgg(es(0))),
    "graft_vec_mean" -> (es => VecMeanAgg(es(0))),
    "graft_vec_wsum" -> (es => VecWeightedSumAgg(es(0), es(1))),
    "graft_binary_search" -> (es => ArrayBinarySearch(es(0), es(1))))

  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }

  /** Element-wise 60-bit md5 hash of a string array (fast path;
    * == TextFunctions.hash60 mapped over the array).
    */
  def hash60Array(strings: Column): Column =
    call_function("graft_hash60_array", strings)

  /** Fused tokenize→shingle→distinct→hash from raw text (fast path;
    * == hash60Array(shingles(tokens(text), n))).
    */
  def hashedShingles(text: Column, n: Int): Column =
    call_function("graft_hashed_shingles", text, lit(n))

  /** MinHash signature over a PRE-HASHED (hash60Array) shingle set
    * (fast path; == TextFunctions.minhashSignature).
    */
  def minhashSig(hashedShingles: Column, numHashes: Int): Column =
    call_function("graft_minhash_sig", hashedShingles, lit(numHashes))

  /** 60-bit SimHash over a PRE-HASHED shingle set (fast path;
    * == TextFunctions.simhash60).
    */
  def simhash60Fast(hashedShingles: Column): Column =
    call_function("graft_simhash60", hashedShingles)

  /** All per-table LSH buckets (fast path; element t ==
    * Similarity.lshBucket(vec, t, planesPerTable)).
    */
  def lshBuckets(vec: Column, tables: Int, planesPerTable: Int): Column =
    call_function("graft_lsh_buckets", vec, lit(tables), lit(planesPerTable))

  /** Fused cosine similarity (== Similarity.cosine). */
  def cosineFast(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** Fused squared euclidean distance (== Clustering's composed
    * aggregate/zip_with sqDist, bit-for-bit).
    */
  def sqDistFast(a: Column, b: Column): Column =
    call_function("graft_sqdist", a, b)

  /** Fused nearest-centroid argmin over a broadcast codebook — the
    * min of the composed per-centroid struct(negsim, cell) under
    * struct ordering (== Similarity.ivfTopKCodebook's keep=1 assignment,
    * bit-for-bit; see graft.plans.BestCentroid).
    */
  def bestCentroid(vec: Column, cents: Column): Column =
    call_function("graft_best_centroid", vec, cents)

  /** Winnowing fingerprints: distinct window-minima of char-k-gram
    * hashes (sorted ascending).
    */
  def winnowFingerprints(text: Column, k: Int, w: Int): Column =
    call_function("graft_winnow_fp", text, lit(k), lit(w))

  /** Content-defined chunks: array<struct<chunk_len, chunk_hash>>
    * (fast path; == Curation.cdcChunksComposed's per-chunk values).
    */
  def cdcChunksFast(text: Column, window: Int, mask: Long): Column =
    call_function("graft_cdc_chunks", text, lit(window), lit(mask))

  /** Gramian aggregate: sums the outer product of a vector column
    * across rows into one d²-bounded accumulator —
    * `array<struct<i,j,s>>` of the non-null-product (i, j) sums
    * (== the composed dim²-explode → groupBy(i,j).sum shape it
    * replaces, up to round-6-absorbed addition order; see
    * graft.plans.GramianAgg).
    */
  def gramian(vec: Column): Column =
    call_function("graft_gramian", vec)

  /** Per-index mean aggregate over a vector column (== the composed
    * posexplode → per-dim avg → sorted re-assembly, up to
    * round-6-absorbed addition order; NULL for a group with no
    * non-empty vector — see graft.plans.VecMeanAgg).
    */
  def vecMean(vec: Column): Column =
    call_function("graft_vec_mean", vec)

  /** Weighted per-index vector sum aggregate (== the composed
    * posexplode → per-dim sum(w·x), up to round-6-absorbed addition
    * order; see graft.plans.VecWeightedSumAgg).
    */
  def vecWeightedSum(vec: Column, weight: Column): Column =
    call_function("graft_vec_wsum", vec, weight)

  /** Spark's own binary search (not reachable from the public Column
    * API): the index of `value` in the ascending array `sorted`, else
    * `-(insertion point) - 1`, as `java.util.Arrays.binarySearch`.
    * Over a literal array the search runs on one array built at
    * planning, in generated code.
    */
  def binarySearch(sorted: Column, value: Column): Column =
    call_function("graft_binary_search", sorted, value)
}
