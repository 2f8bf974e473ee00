package graft

import graft.functions.TextFunctions._
import graft.operators.{Similarity, TextDedup}
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {

  import spark.implicits._

  test("shingles: n-grams, distinct, short-input guard") {
    val df = Seq("a b c d", "a", "", "x x x").toDF("t")
      .select(shingles(tokens($"t"), 2).as("sh"))
    val got = df.as[Seq[String]].collect().toSeq
    assert(got(0) == Seq("a b", "b c", "c d"))
    assert(got(1) == Seq.empty)
    assert(got(3) == Seq("x x")) // distinct collapses repeats
  }

  test("jaccard of shingle sets") {
    val df = Seq(("a b c", "a b d")).toDF("x", "y")
      .select(jaccard(shingles(tokens($"x"), 1), shingles(tokens($"y"), 1)).as("j"))
    assert(math.abs(df.as[Double].head() - 0.5) < 1e-9) // {a,b} / {a,b,c,d}
  }

  test("exact dedup keeps smallest id per canonical content") {
    val df = Seq(
      (1L, "Hello  World"),
      (2L, "hello world"),   // same canonical content as 1
      (3L, "different doc")
    ).toDF("doc_id", "text")
    val fps = df.select(canonicalFingerprint($"text")).as[String].collect().toSeq
    assert(fps(0) == fps(1) && fps(0) != fps(2))
    val kept = df.groupBy(canonicalFingerprint($"text")).agg(min($"doc_id").as("doc_id"))
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("minhash LSH finds a planted near-dup and skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val nearDup = base.replace("today", "tomorrow")
    val other = "completely unrelated text about spark catalyst optimizer internals"
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = TextDedup.minhashLshPairs(df, "doc_id", "text",
      numHashes = 12, bands = 4, shingleN = 2, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("banded simhash equals brute-force hamming filter (pigeonhole recall)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").filter($"doc_id" < 60)
    val banded = TextDedup.simhashPairs(docs, "doc_id", "text", maxHamming = 10, shingleN = 2)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    val sim = docs.select($"doc_id",
      simhash60(hash60Array(shingles(tokens($"text"), 2))).as("sh"))
    val a = sim.select($"doc_id".as("id_a"), $"sh".as("ha"))
    val b = sim.select($"doc_id".as("id_b"), $"sh".as("hb"))
    val brute = a.crossJoin(b).filter($"id_a" < $"id_b")
      .withColumn("hamming", hamming($"ha", $"hb"))
      .filter($"hamming" <= 10)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    assert(banded == brute)
  }

  test("simhashPairs leaves no cached frame behind") {
    val cacheManager = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog every day"),
      (2L, "the quick brown fox jumps over the lazy cat every day"),
      (3L, "completely different content about spark shuffles and joins")
    ).toDF("doc_id", "text")
    assert(TextDedup.simhashPairs(docs, "doc_id", "text").collect().nonEmpty)
    assert(cacheManager.isEmpty, "simhashPairs left a cached frame behind")
  }

  test("cosine matches a hand-computed value") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f))).toDF("a", "b")
    val got = df.select(Similarity.cosine($"a", $"b").as("c")).as[Double].head()
    val want = 10.0 / (math.sqrt(14.0) * math.sqrt(14.0))
    assert(math.abs(got - want) < 1e-12)
  }

  test("LSH ANN recall vs brute force is usable (multi-probe, sf0.001)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
    // and the approximate result never invents neighbors outside the table
    assert(approx.forall { case (q, n) => q != n })
  }

  test("BestCentroid kernel is bit-for-bit the composed argmin, incl. degenerate inputs") {
    import graft.functions.GraftFunctions
    import org.apache.spark.sql.functions.{array_sort, coalesce, collect_list, isnan, slice, struct, transform, when, explode, broadcast}
    GraftFunctions.register(spark)
    // codebook with a zero-norm centroid (NaN cosine), a
    // dim-mismatched centroid (null cosine), a null-element centroid,
    // and two identical centroids (negsim tie → smaller cell wins)
    val cents = Seq(
      (3L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.5f, 0.5f, 0.0f)),
      (2L, Seq(0.5f, 0.5f, 0.0f)),       // tie with cell 1
      (4L, Seq(0.0f, 0.0f, 0.0f)),       // zero norm → NaN → -Inf negsim
      (5L, Seq(1.0f, 0.0f)),             // dim mismatch → +Inf
      (6L, Seq(1.0f, null.asInstanceOf[Float], 0.0f))
    ).toDF("cell", "cv")
      // re-introduce a REAL null element (Scala Float can't hold one)
      .withColumn("cv", transform($"cv", (x, i) =>
        when($"cell" === 6L && i === 1,
          org.apache.spark.sql.functions.lit(null).cast("float")).otherwise(x)))
    // vectors: normal, zero-norm (NaN against every finite centroid),
    // null vector, null element
    val vecs = Seq(
      (0L, Seq(1.0f, 0.2f, 0.0f)),
      (1L, Seq(0.0f, 0.0f, 0.0f)),
      (2L, null.asInstanceOf[Seq[Float]]),
      (3L, Seq(1.0f, 1.0f, 1.0f))
    ).toDF("vec_id", "v")
    val centArr = cents.agg(array_sort(collect_list(struct($"cell", $"cv"))).as("_cs"))
    def negsim(v: org.apache.spark.sql.Column, cv: org.apache.spark.sql.Column) = {
      val s = GraftFunctions.cosineFast(v, cv)
      coalesce(when(isnan(s), Double.NegativeInfinity).otherwise(-s),
        org.apache.spark.sql.functions.lit(Double.PositiveInfinity))
    }
    val composed = vecs.crossJoin(broadcast(centArr))
      .withColumn("_p", explode(slice(array_sort(transform($"_cs", c =>
        struct(negsim($"v", c.getField("cv")).as("negsim"),
          c.getField("cell").as("cell")))), 1, 1)))
      .select($"vec_id", $"_p.negsim".as("negsim"), $"_p.cell".as("cell"))
      .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    val fused = vecs.crossJoin(broadcast(centArr))
      .withColumn("_b", GraftFunctions.bestCentroid($"v", $"_cs"))
      .filter($"_b".isNotNull)
      .select($"vec_id", $"_b.negsim".as("negsim"), $"_b.cell".as("cell"))
      .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    assert(fused == composed, s"fused=$fused composed=$composed")
    // per-vector semantics: finite vectors (0, 3) see the zero-norm
    // centroid's NaN → -Inf negsim win; the zero-norm vector (1) is
    // NaN against EVERY intact centroid (-Inf tie → smallest cell 1);
    // the null vector (2) is +Inf against everything (tie → cell 1)
    assert(fused.map(r => r._1 -> r._3).toMap ==
      Map(0L -> 4L, 1L -> 1L, 2L -> 1L, 3L -> 4L))
    // empty codebook → null → filtered, matching the composed
    // explode's row drop
    val empty = cents.filter($"cell" < 0)
      .agg(collect_list(struct($"cell", $"cv")).as("_cs"))
    val dropped = vecs.crossJoin(broadcast(empty))
      .withColumn("_b", GraftFunctions.bestCentroid($"v", $"_cs"))
      .filter($"_b".isNotNull)
    assert(dropped.count() == 0)
  }

  test("IVF ANN recall vs brute force is usable (sf0.001)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, centroidStep = 10, nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall too low")
  }

  test("IVF cell assignment ranks degenerate sims like the old window (NaN first, null last)") {
    // centroid 5 is 3-dim (null sim vs 2-dim vectors), centroid 7 is
    // 2-dim. A zero-norm 2-dim query has sim NaN vs cell 7 and null vs
    // cell 5; the pre-rewrite (sim desc, NullsLast) window probed cell
    // 7 first — the raw struct sort would flip to cell 5.
    val centroids = Seq(
      (5L, Array(0.9f, 0.1f, 0.0f)), (7L, Array(1.0f, 0.0f)))
      .toDF("cell", "cv")
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),       // lands in cell 7 (null vs cell 5)
      (2L, Array(0.5f, 0.5f, 0.5f))) // lands in cell 5 (null vs cell 7)
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.ivfTopKCodebook(
      emb, queries, "vec_id", "embedding", k = 5, centroids, nProbe = 1)
      .select("neighbor_id").as[Long].collect().toSet
    assert(out == Set(1L),
      s"zero-norm query must probe the NaN-sim cell (7), got neighbors $out")
  }

  test("langId is deterministic and prefers the matching marker set") {
    val df = Seq(
      "the cat sat on a mat of straw",
      "el gato y la casa de madera",
      "der hund und die katze",
      "nothing matching here!"
    ).toDF("text").select(langId($"text").as("l"))
    assert(df.as[String].collect().toSeq == Seq("en", "es", "de", "und"))
  }

  test("occurrences counts padded word matches") {
    val df = Seq("the cat the dog then").toDF("t")
      .select(occurrences(lower($"t"), "the").as("n"))
    // "then" must not count; overlapping pads resolve left-to-right
    assert(df.as[Long].head() == 2L)
  }

  test("redact replaces every email and long digit run, keeps short numbers") {
    val df = Seq("mail a@b.com and c.d+x@e.org id 1234567 short 123").toDF("t")
      .select(redact($"t").as("r"))
    assert(df.as[String].head() == "mail <EMAIL> and <EMAIL> id <NUM> short 123")
  }

  test("exhaustive pair baselines refuse inputs over maxRows") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001") // 500 docs
    val ex1 = intercept[IllegalArgumentException] {
      TextDedup.ngramJaccardPairs(docs, "doc_id", "text", maxRows = 100)
    }
    assert(ex1.getMessage.contains("exhaustive"))
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.cosineDupPairs(emb, "vec_id", "embedding", threshold = 0.9, maxRows = 100)
    }
    assert(ex2.getMessage.contains("exhaustive"))
    // a bounded input passes the guard and still computes
    val ok = TextDedup.ngramJaccardPairs(
      docs.filter($"doc_id" < 20), "doc_id", "text", maxRows = 100)
    assert(ok.columns.contains("jaccard"))
  }
}
