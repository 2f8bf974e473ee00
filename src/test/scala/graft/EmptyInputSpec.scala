package graft

import graft.operators._
import graft.sinks.Sinks
import org.apache.spark.sql.functions._

/** Empty-input robustness: every operator must return an empty (or
  * degenerate-but-well-formed) result on an empty frame, not throw —
  * a real corpus pipeline hits empty partitions, empty sources, and
  * filters-that-drop-everything constantly.
  */
class EmptyInputSpec extends SparkSpec {

  import spark.implicits._

  private def emptyDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")

  test("dedup family handles empty corpora") {
    val (surv, removed) = TextDedup.exact(emptyDocs, "doc_id", "text")
    assert(surv.count() == 0 && removed.count() == 0)
    assert(TextDedup.minhashLshPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(TextDedup.simhashPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(TextDedup.ngramJaccardPairs(emptyDocs, "doc_id", "text").count() == 0)
  }

  test("connected components and near-dedup handle empty edge lists") {
    val edges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(DupGraph.connectedComponents(edges).count() == 0)
    val corpus = Seq(1L, 2L).toDF("doc_id")
    val (s, r) = DupGraph.nearDedupSurvivors(corpus, "doc_id", edges)
    assert(s.count() == 2 && r.count() == 0)
  }

  test("curation operators handle empty frames") {
    assert(Curation.assignSplit(emptyDocs, "doc_id").count() == 0)
    assert(Curation.groupQuota(emptyDocs, "source", "doc_id", 10).count() == 0)
    assert(Curation.chunkTokens(emptyDocs, "doc_id", "text", 32).count() == 0)
    assert(Curation.vocabTopK(emptyDocs, "text", 5).count() == 0)
    assert(Curation.stratifiedSample(emptyDocs, "source", "doc_id", Map.empty, 1.0).count() == 0)
    val (curated, report) = Curation.curateCorpus(emptyDocs, "doc_id", "text")
    assert(curated.count() == 0)
    assert(report.filter($"rows_in" =!= 0L || $"rows_out" =!= 0L).count() == 0)
  }

  test("profiling, quantiles, and winsorize handle empty frames") {
    val e = Seq.empty[(String, Option[Double])].toDF("g", "v")
    assert(DataProfiler.profile(e).count() == 2) // one row per column, zero counts
    assert(DataProfiler.profile(e, minMax = true)
      .filter($"n_nulls" =!= 0L || $"n_distinct" =!= 0L).count() == 0)
    assert(Quantiles.groupPercentiles(e, "g", "v", Seq("p50" -> 0.5)).count() == 0)
    assert(Quantiles.winsorize(e, "g", Seq("v")).count() == 0)
  }

  test("similarity operators handle empty embedding sets") {
    val e = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.quantizeInt8(e, "vec_id", "embedding").count() == 0)
    assert(Similarity.cosineDupPairs(e, "vec_id", "embedding", 0.9).count() == 0)
  }

  test("range joins handle empty sides") {
    val pts = Seq.empty[(Long, Long)].toDF("pid", "p")
    val ivs = Seq((1L, 0L, 10L)).toDF("iid", "s", "e")
    assert(RangeJoin.pointInInterval(pts, "p", ivs, "s", "e", 5L).count() == 0)
    assert(RangeJoin.pointInInterval(
      Seq((1L, 3L)).toDF("pid", "p"), "p",
      Seq.empty[(Long, Long, Long)].toDF("iid", "s", "e"), "s", "e", 5L).count() == 0)
    assert(RangeJoin.intervalOverlap(
      ivs, "s", "e", Seq.empty[(Long, Long, Long)].toDF("jid", "s2", "e2"),
      "s2", "e2", 5L).count() == 0)
  }

  test("round-5 operators handle empty inputs") {
    val edges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(DupGraph.connectedComponentsStars(edges).count() == 0)
    val corpus = Seq((1L, "t", 2L)).toDF("doc_id", "text", "n_chars")
    val reps = DupGraph.pickRepresentatives(
      corpus, "doc_id", edges, Seq(col("n_chars").desc, col("doc_id").asc))
    assert(reps.count() == 1) // singleton cluster of itself
    assert(TextDedup.editDistance1Pairs(Seq.empty[String].toDF("w"), "w").count() == 0)
    assert(Curation.cdcChunks(emptyDocs, "doc_id", "text").count() == 0)
    val e = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.pqTopK(e, e, "vec_id", "embedding", k = 3).count() == 0)
  }

  test("round-5 session-2 operators handle empty inputs") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(DupGraph.triangleCounts(edges, "src", "dst").count() == 0)
    assert(DupGraph.kCore(edges, "src", "dst", k = 2).count() == 0)
    assert(DupGraph.pageRank(edges, "src", "dst").count() == 0)
    assert(DupGraph.pageRank(edges, "src", "dst",
      localEdgeThreshold = -1L).count() == 0)
    val seeds = Seq.empty[(Long, Long)].toDF("node", "lbl")
    assert(DupGraph.labelPropagate(
      edges, "src", "dst", seeds, "node", "lbl", iters = 2).count() == 0)
    assert(BpeTrainer.merges(emptyDocs, "text", iterations = 2).count() == 0)
    assert(BpeTrainer.symbolVocab(emptyDocs, "text", iterations = 1).count() == 0)
    assert(TextDedup.ngramNovelty(emptyDocs, "doc_id", "text").count() == 0)
    assert(TextDedup.minhashEstimateAccuracy(emptyDocs, "doc_id", "text").count() == 0)
    val toks = Seq.empty[String].toDF("tok")
    assert(Sketches.countMinSketch(toks, "tok").count() == 0)
    assert(Sketches.cmsEstimate(
      Sketches.countMinSketch(toks, "tok"), toks, "tok").count() == 0)
    val gv = Seq.empty[(String, Option[Double])].toDF("g", "v")
    assert(Quantiles.quantileGate(gv, "g", "v", 0.1).count() == 0)
    assert(Quantiles.madOutliers(gv, "g", "v").count() == 0)
    val ev = Seq.empty[(Long, java.sql.Timestamp, Double)].toDF("u", "ts", "value")
    assert(ev.select(SeriesStats.ewmaTrailing(
      Seq("u"), Seq("ts"), "value").as("e")).count() == 0)
    assert(SeriesStats.cohortRetention(ev, "u", "ts").count() == 0)
    val e = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.truncationRecall(e, e, "vec_id", "embedding", 2, 3).count() == 0)
    assert(Similarity.jlProject(e, "vec_id", "embedding", 4).count() == 0)
    assert(LanguageModel.interpolatedNegLogProb(emptyDocs, "doc_id", "text").count() == 0)
  }

  test("learned-scoring and placement operators handle empty frames") {
    val e = Seq.empty[(Long, Array[Float], Double)].toDF("id", "vec", "y")
    assert(Learning.logisticRegressionGD(e, "vec", "y", nDims = 2).count() == 0)
    assert(Learning.calibrationBins(
      Seq.empty[(Double, Double)].toDF("p", "y"), "p", "y").count() == 0)
    assert(Learning.bestStumpSplits(e, "vec", "y", nDims = 2).count() == 0)
    // scalar evaluators degrade to one well-formed all-null row
    val sv = Seq.empty[(Double, Int)].toDF("s", "y")
    assert(Learning.aucRankSum(sv, "s", "y").collect().head.isNullAt(0))
    val gv2 = Seq.empty[(String, Double)].toDF("g", "v")
    assert(Learning.ksTwoSample(gv2, "v", "g", "a", "b").count() == 1)
    assert(Learning.mutualInfo(emptyDocs, "source", "text").count() == 1)
    assert(Learning.naiveBayesConfusion(emptyDocs, "doc_id", "text", "source").count() == 0)
    assert(Learning.chi2Presence(
      Seq.empty[(String, String)].toDF("item", "cls"),
      Seq.empty[(String, Long)].toDF("cls", "n_cls")).count() == 0)
    val keys = Seq.empty[Long].toDF("k")
    assert(Curation.rendezvousShard(keys, "k", 8).count() == 0)
    assert(Curation.giniBySource(emptyDocs, "source", "doc_id").count() == 0)
    assert(Curation.paretoFront2D(
      Seq.empty[(Long, Double, Long)].toDF("id", "x", "y"), "x", "y", Seq("id")).count() == 0)
    assert(Sketches.bloomBuild(keys, "k").count() == 0)
    assert(Sketches.bloomProbe(Sketches.bloomBuild(keys, "k"), keys, "k").count() == 0)
    val emb = Seq.empty[(Long, Array[Float])].toDF("id", "v")
    assert(Clustering.kCenterGreedy(emb, "id", "v", k = 3).count() == 0)
    assert(Retrieval.ndcg(
      Seq.empty[(Long, Long, Double)].toDF("query_id", "rank", "rel")).count() == 0)
  }

  test("sinks handle empty frames") {
    val dir = tmpDir("empty-sinks")
    val e = Seq.empty[(Long, String)].toDF("id", "split")
    // empty partitioned write: no partition dirs, readable as empty via schema
    Sinks.writePartitioned(e, s"$dir/p", Seq("split"), filesPerPartition = 4)
    assert(spark.read.schema(e.schema).parquet(s"$dir/p").count() == 0)
  }
}
