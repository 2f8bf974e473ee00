package graft

import graft.operators.{Curation, Similarity}
import org.apache.spark.sql.functions._

/** Round-5 operators: content-defined chunking and product
  * quantization. The DuckDB oracles (q75/q76) certify cross-engine
  * value equality; these tests certify the algorithmic PROPERTIES the
  * operators exist for — boundary resynchronization for CDC, minimal
  * quantized distance for PQ.
  */
class CdcPqSpec extends SparkSpec {

  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and keeps on running far away"),
    (2L, "entirely different content with its own boundaries somewhere in here too"),
    (3L, "x")
  ).toDF("doc_id", "text")

  test("cdcChunks partitions each document: lengths sum to the doc, indexes contiguous") {
    val chunks = Curation.cdcChunks(docs, "doc_id", "text", window = 4, mask = 3L)
    val spans = chunks.groupBy("doc_id")
      .agg(sum("chunk_len").as("total"), count(lit(1)).as("n_chunks"),
        min("chunk_idx").as("first_idx"), max("chunk_idx").as("last_idx"))
      .join(docs.select(col("doc_id"), length(col("text")).cast("long").as("n")), "doc_id")
    assert(spans.filter(col("total") =!= col("n")).count() == 0,
      "chunk lengths must partition the document")
    assert(spans.filter(col("first_idx") =!= 0 || col("last_idx") =!= col("n_chunks") - 1)
      .count() == 0, "chunk indexes must be contiguous from 0")
  }

  test("cdcChunks boundaries resynchronize after an insertion (the CDC property)") {
    val original = "abcdefgh " * 12 + "tail of stable content that should rechunk identically"
    val shifted = "INSERTED-PREFIX " + original
    val two = Seq((1L, original), (2L, shifted)).toDF("doc_id", "text")
    val ch = Curation.cdcChunks(two, "doc_id", "text", window = 4, mask = 3L)
      .select("doc_id", "chunk_hash").as[(Long, Long)].collect()
    val h1 = ch.filter(_._1 == 1L).map(_._2).toSet
    val h2 = ch.filter(_._1 == 2L).map(_._2).toSet
    // fixed-size chunking would share ~nothing after the shift; CDC
    // re-syncs at the first content-defined boundary past the edit
    val shared = h1.intersect(h2).size.toDouble / h1.size
    assert(shared > 0.5, s"expected most chunks shared after resync, got $shared")
  }

  test("cdcChunks emits the whole doc as one chunk when no boundary fires") {
    val ch = Curation.cdcChunks(docs.filter($"doc_id" === 3L), "doc_id", "text",
      window = 8, mask = 15L)
    assert(ch.select("chunk_len").as[Long].collect().toSeq == Seq(1L))
  }

  test("pqTopK ranks an exact duplicate vector at the minimum possible ADC") {
    // 40 vectors, 8 dims; vec 20 duplicates vec 0 exactly
    val vecs = (0 until 40).map { i =>
      val base = if (i == 20) 0 else i
      (i.toLong, (0 until 8).map(dimj => ((base * 7 + dimj * 3) % 13).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val res = Similarity.pqTopK(
      vecs, vecs.filter($"vec_id" === 0), "vec_id", "embedding",
      k = 3, subvectors = 2, subDim = 4, numCentroids = 8, centroidStep = 5)
    val top = res.orderBy("rank").select("neighbor_id", "adc").as[(Long, Double)].collect()
    assert(top.length == 3)
    // the duplicate's codes equal the query's own argmin codes, so its
    // ADC is the global minimum — nothing can rank strictly above it
    val dupAdc = top.find(_._1 == 20L)
    assert(dupAdc.nonEmpty, s"duplicate not in top-3: ${top.toSeq}")
    assert(top.forall(_._2 >= dupAdc.get._2 - 1e-9))
  }

  test("semanticDedup removes duplicate directions, keeps orthogonal ones") {
    // 16 orthogonal unit vectors + exact duplicates of the first four
    // (identical points land in the same cell by construction;
    // orthogonal vectors have cosine 0, so no spurious pairs)
    val vecs = (0 until 20).map { i =>
      val unit = if (i < 16) i else i - 16
      (i.toLong, (0 until 16).map(dimj => if (dimj == unit) 1.0f else 0.0f).toArray)
    }.toDF("vec_id", "embedding")
    // a fixed 4-cell codebook: cell c spans dims 4c..4c+3, so unit
    // vector i lands in cell i / 4 (cosine 0.5 there, 0 elsewhere)
    val codebook = (0 until 4).map { c =>
      (c.toLong, (0 until 16).map(dimj => if (dimj / 4 == c) 1.0f else 0.0f).toArray)
    }.toDF("cell", "cv")
    val (survivors, removed) = Similarity.semanticDedupWith(
      vecs, "vec_id", "embedding", codebook, threshold = 0.99)
    val removedIds = removed.select("vec_id").as[Long].collect().toSet
    // each duplicate loses to the smaller id of its component
    assert(removedIds == Set(16L, 17L, 18L, 19L), s"got $removedIds")
    assert(survivors.count() == 16)
  }

  test("semanticDedupStride partitions the corpus; survivors and removed are disjoint") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (s, r) = Similarity.semanticDedupStride(emb, "vec_id", "embedding",
      centroidStep = 50, threshold = 0.40)
    assert(s.count() + r.count() == emb.count())
    assert(s.join(r, "vec_id").count() == 0)
    // every removed row has a surviving representative with a smaller id
    assert(r.select(min("vec_id")).as[Long].head() >
      s.select(min("vec_id")).as[Long].head())
  }

  test("semanticDedupBucketed agrees with exact assignment on the testdata corpus") {
    // the LSH-bucketed assignment is approximate ONLY in which cell a
    // vector lands in; everything is hash-derived, so the outcome is
    // deterministic and the agreement with the exact variant can be
    // pinned. Removal is conservative: a missed bucket collision can
    // only UNDER-remove (vector survives), never remove a non-dup.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (se, _) = Similarity.semanticDedupStride(emb, "vec_id", "embedding",
      centroidStep = 50, threshold = 0.40)
    val (sb, rb) = Similarity.semanticDedupBucketed(emb, "vec_id", "embedding",
      centroidStep = 50, threshold = 0.40, tables = 4, planesPerTable = 4)
    assert(sb.count() + rb.count() == emb.count())
    val n = emb.count()
    val inter = se.select("vec_id").join(sb.select("vec_id"), "vec_id").count()
    val union = se.select("vec_id").union(sb.select("vec_id")).distinct().count()
    val frac = (inter + n - union).toDouble / n // both-survive + both-removed
    assert(frac >= 0.9, f"bucketed/exact survivor agreement $frac%.3f below 0.9")
  }

  test("semanticDedupBucketed default auto-derives planesPerTable from the corpus") {
    // planes = max(4, round(log2(n/centroidStep)) - 2): at this corpus
    // size that is exactly 4, so the auto default must reproduce the
    // pinned planes=4 run bit-for-bit — and a user calling the
    // operator with defaults at 100× gets the scale-safe dial instead
    // of the fixed small-scale one (the r6 disk-exhaustion cliff)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val k = math.max(1L, emb.count() / 50)
    assert(math.max(4, (math.log(k.toDouble) / math.log(2)).round.toInt - 2) == 4,
      "fixture corpus should land in the planes=4 regime")
    val (sAuto, _) = Similarity.semanticDedupBucketed(emb, "vec_id", "embedding",
      centroidStep = 50, threshold = 0.40)
    val (sPinned, _) = Similarity.semanticDedupBucketed(emb, "vec_id", "embedding",
      centroidStep = 50, threshold = 0.40, tables = 4, planesPerTable = 4)
    // a caller handing in the count it already knows must get the same
    // dial with zero extra jobs (the free-auto path)
    val (sCounted, _) = Similarity.semanticDedupBucketed(emb, "vec_id", "embedding",
      centroidStep = 50, threshold = 0.40, corpusCount = emb.count())
    val auto = sAuto.select("vec_id").as[Long].collect().toSet
    val pinned = sPinned.select("vec_id").as[Long].collect().toSet
    val counted = sCounted.select("vec_id").as[Long].collect().toSet
    assert(auto == pinned)
    assert(counted == pinned)
  }

  test("qualityFilter: keep iff no reason fired; thresholds hit the right rules") {
    val d = Seq(
      (1L, ("the and that " * 20).trim),           // 60 tokens, stopword-rich, avg len 3.33 -> keep
      (2L, "tiny doc"),                            // too_short
      (3L, ("zzzz " * 40).trim)                    // 40 tokens, no stopwords -> low_stopword
    ).toDF("doc_id", "text")
    val r = Curation.qualityFilter(d, "doc_id", "text")
      .select("doc_id", "reasons", "keep").as[(Long, String, Boolean)].collect()
      .map(x => x._1 -> (x._2, x._3)).toMap
    assert(r(1L) == ("", true))
    assert(r(2L)._1.contains("too_short") && !r(2L)._2)
    assert(r(3L) == (("low_stopword", false)))
    // invariant: keep == reasons empty
    val bad = Curation.qualityFilter(Tables.documents(spark, "/root/testdata/sf0.001"),
      "doc_id", "text")
      .filter((col("reasons") === "") =!= col("keep")).count()
    assert(bad == 0)
  }

  test("packSequences fills sequences greedily and respects group boundaries") {
    val rows = Seq(
      ("a", 1L, 100L), ("a", 2L, 100L), ("a", 3L, 100L), // seq 0: 100+100, seq... cum walk
      ("a", 4L, 300L), // oversized row
      ("b", 1L, 10L), ("b", 2L, 10L)
    ).toDF("g", "ord", "w")
    val m = Curation.packSequences(rows, "g", "ord", "w", capacity = 256L)
      .select("g", "ord", "seq_id").as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // group a: preceding weights 0,100,200,300 -> seq 0,0,0,1
    assert(m(("a", 1L)) == 0L && m(("a", 2L)) == 0L && m(("a", 3L)) == 0L)
    assert(m(("a", 4L)) == 1L)
    // group b restarts at seq 0
    assert(m(("b", 1L)) == 0L && m(("b", 2L)) == 0L)
  }

  test("pqTopK is layout-invariant and returns k rows per query") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 3)
    val a = Similarity.pqTopK(emb, q, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect().toSet
    val b = Similarity.pqTopK(emb.repartition(9), q, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(a == b)
    assert(a.groupBy(_._1).forall(_._2.size == 3))
  }
}
