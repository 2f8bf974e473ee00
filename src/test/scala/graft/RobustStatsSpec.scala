package graft

import graft.functions.{GraftFunctions, TextFunctions}
import graft.operators.{LanguageModel, Quantiles, SeriesStats, Similarity, TextDedup}
import org.apache.spark.sql.functions._

/** Round-5 additions: interpolated LM smoothing, minhash estimate
  * accuracy, JL projection, MAD outliers, cohort retention.
  */
class RobustStatsSpec extends SparkSpec {
  import spark.implicits._

  test("interpolatedNegLogProb matches hand arithmetic") {
    // corpus "a b" + "a c": N=4, c(a)=2, c(b)=c(c)=1; both docs score
    // one bigram with P = 0.5*(1/2) + 0.5*(1/4) = 0.375
    val docs = Seq((0L, "a b"), (1L, "a c")).toDF("doc_id", "text")
    val r = LanguageModel.interpolatedNegLogProb(docs, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Double)].collect()
    val expect = math.round(-math.log(0.375) * 1e4) / 1e4
    assert(r.toSeq == Seq((0L, 1L, expect), (1L, 1L, expect)))
  }

  test("codeSwitchProfile sees the language switch whole-doc langid hides") {
    val en = Seq.fill(20)("the cat of").mkString(" ") // en markers only
    val fr = Seq.fill(20)("le chat est").mkString(" ")
    val docs = Seq(
      (0L, s"$en $fr"), // 60 en tokens then 60 fr tokens → 6 windows
      (1L, en)          // monolingual control
    ).toDF("doc_id", "text")
    val r = LanguageModel.codeSwitchProfile(docs, "doc_id", "text", windowTokens = 20)
      .orderBy($"doc_id").as[(Long, Long, Long, Long)].collect()
    assert(r(0) == ((0L, 6L, 2L, 1L))) // one en→fr switch at the midpoint
    assert(r(1) == ((1L, 3L, 1L, 0L)))
  }

  test("minhash estimate is exact for identical docs and stays in [0,1]") {
    val same = "the quick brown fox jumps over the lazy dog again"
    val docs = Seq((0L, same), (1L, same), (2L, "completely different words here entirely now")).toDF("doc_id", "text")
    val r = TextDedup.minhashEstimateAccuracy(docs, "doc_id", "text")
      .as[(Long, Long, Double, Double, Double)].collect()
    // identical docs must surface as a candidate with est = exact = 1
    val ident = r.find(p => p._1 == 0L && p._2 == 1L).get
    assert(ident._3 == 1.0 && ident._4 == 1.0 && ident._5 == 0.0)
    assert(r.forall(p => p._3 >= 0 && p._3 <= 1 && p._5 >= 0))
  }

  test("jlProject is deterministic and linear") {
    val emb = Seq(
      (0L, Seq(1.0f, 2.0f, -3.0f, 0.5f)),
      (1L, Seq(2.0f, 4.0f, -6.0f, 1.0f)) // = 2 x vector 0
    ).toDF("vec_id", "embedding")
    val p1 = Similarity.jlProject(emb, "vec_id", "embedding", outDims = 3)
      .select($"vec_id", $"jl").as[(Long, Seq[Double])].collect().toMap
    val p2 = Similarity.jlProject(emb, "vec_id", "embedding", outDims = 3)
      .select($"vec_id", $"jl").as[(Long, Seq[Double])].collect().toMap
    assert(p1 == p2) // same hash-derived sign matrix every run
    p1(0L).zip(p1(1L)).foreach { case (a, b) =>
      assert(math.abs(b - 2 * a) < 1e-9) // projection is linear
    }
  }

  test("madOutliers flags only beyond k x MAD, including the degenerate MAD=0 group") {
    val df = (Seq.fill(4)(("a", 1.0)) :+ ("a", 100.0)) ++
      (1 to 7).map(v => ("b", v.toDouble))
    val r = Quantiles.madOutliers(df.toDF("grp", "v"), "grp", "v", k = 3.0)
      .select($"grp", $"v").as[(String, Double)].collect().toSeq
    // group a: med 1, MAD 0 → only the 100 deviates; group b: med 4,
    // MAD 2 → max dev 3 < 6, nothing flagged
    assert(r == Seq(("a", 100.0)))
  }

  test("perplexityBuckets splits on the quantile thresholds") {
    // 6 docs with distinct LM scores → 2 per bucket, ordered by score
    val docs = Seq(
      (0L, "a a a a"), (1L, "a a a b"), (2L, "a b a b"),
      (3L, "b b a c"), (4L, "c c b a"), (5L, "c d d c")
    ).toDF("doc_id", "text")
    val r = LanguageModel.perplexityBuckets(docs, "doc_id", "text")
      .orderBy($"min_nlp").as[(String, Long, Double, Double)].collect()
    assert(r.map(_._1).toSeq == Seq("head", "middle", "tail"))
    assert(r.map(_._2).sum == 6L)
    // buckets are score-ordered and non-overlapping
    assert(r(0)._4 <= r(1)._3 && r(1)._4 <= r(2)._3)
    // driver-local and distributed bucketing agree exactly
    val dist = LanguageModel.perplexityBuckets(docs, "doc_id", "text",
      maxLocalDocs = 0)
      .orderBy($"min_nlp").as[(String, Long, Double, Double)].collect()
    assert(r.toSeq == dist.toSeq, s"local=${r.toSeq} dist=${dist.toSeq}")
  }

  test("hardNegatives never returns a same-label neighbor and ranks by similarity") {
    val emb = Seq(
      (0L, 0L, Seq(1.0f, 0.0f)),
      (1L, 0L, Seq(0.99f, 0.1f)),  // same label — must be excluded
      (2L, 1L, Seq(0.9f, 0.2f)),   // different label, most similar
      (3L, 1L, Seq(0.0f, 1.0f))    // different label, orthogonal
    ).toDF("vec_id", "label", "embedding")
    val r = Similarity.hardNegatives(
      emb, emb.filter($"vec_id" === 0), "vec_id", "embedding", "label", k = 2)
      .orderBy($"rank")
      .select($"neighbor_id", $"neg_label", $"rank").as[(Long, Long, Long)].collect()
    assert(r.toSeq == Seq((2L, 1L, 1L), (3L, 1L, 2L)))
  }

  test("lshTuningTable: identical docs are found by every config, precision bounded") {
    val same = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (0L, same), (1L, same),
      (2L, "completely different tokens appear in this text here"),
      (3L, "yet another entirely unrelated document body goes here")
    ).toDF("doc_id", "text")
    val t = TextDedup.lshTuningTable(docs, "doc_id", "text")
      .orderBy($"bands").as[(Long, Long, Long, Long, Double)].collect()
    assert(t.length == 4)
    for ((b, r, cand, ver, prec) <- t) {
      assert(b * r == 12L)
      assert(ver >= 1L)          // the identical pair hits every banding
      assert(ver <= cand)
      assert(prec > 0.0 && prec <= 1.0)
    }
    // candidate count cannot shrink as bands increase on this fixture
    assert(t.map(_._3).toSeq == t.map(_._3).sorted.toSeq)
  }

  test("lshTuningTableSampled: rate 1.0 reproduces the exact table; rates bound the sample") {
    val same = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (0L, same), (1L, same),
      (2L, "completely different tokens appear in this text here"),
      (3L, "yet another entirely unrelated document body goes here")
    ).toDF("doc_id", "text")
    val exact = TextDedup.lshTuningTable(docs, "doc_id", "text")
      .orderBy($"bands").as[(Long, Long, Long, Long, Double)].collect().toSeq
    // rate 1.0 samples every distinct pair: the estimate IS the exact
    // table (n_sampled == n_candidates, verified and precision equal)
    val full = TextDedup.lshTuningTableSampled(docs, "doc_id", "text",
      sampleRate = 1.0)
      .orderBy($"bands").as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(full.map(r => (r._1, r._2, r._3, r._5, r._6)) == exact)
    assert(full.forall(r => r._4 == r._3))
    // a tiny rate keeps per-config sample within [0, candidates] and
    // verified within [0, sampled]; config rows still all emit
    val thin = TextDedup.lshTuningTableSampled(docs, "doc_id", "text",
      sampleRate = 1e-9)
      .orderBy($"bands").as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(thin.length == 4)
    assert(thin.map(r => (r._1, r._2, r._3)) == exact.map(r => (r._1, r._2, r._3)))
    assert(thin.forall(r => r._4 == 0L && r._5 == 0L && r._6 == 0.0))
    assert(intercept[IllegalArgumentException](
      TextDedup.lshTuningTableSampled(docs, "doc_id", "text", sampleRate = 0.0))
      .getMessage.contains("sampleRate"))
  }

  test("lsh tuning: fused refining-base path equals the all-pairs path (round 18)") {
    // both tuning tables against a brute-force all-pairs reference, for
    // the default configs and a non-refining set. The default split
    // self-joins its finest config's bands; a non-nesting split
    // self-joins every band of every config
    assert(TextDedup.tuningBands(Seq((2, 6), (3, 4), (4, 3), (6, 2))) ==
      (0 until 6).map(i => (2 * i, 2)))
    assert(TextDedup.tuningBands(Seq((3, 4), (4, 3))) ==
      Seq((0, 4), (4, 4), (8, 4), (0, 3), (3, 3), (6, 3), (9, 3)))
    assert(TextDedup.tuningBands(Seq((4, 3))) == Seq((0, 3), (3, 3), (6, 3), (9, 3)))
    // fixture with GRADED similarity so per-config candidacy genuinely
    // differs: pairs at every substitution distance 0..7 over a
    // 12-token base, unrelated chaff, and seeded families of 4 variants
    // of a 30-token root (many mid-similarity pairs, so some pair
    // matches a (3,4) band and no (4,3) band: asserted below)
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima".split(" ")
    val rng = new scala.util.Random(7)
    val families = (0 until 120).flatMap { f =>
      val root = Array.fill(30)(s"w${rng.nextInt(5000)}")
      (0 until 4).map { m =>
        val doc = root.clone()
        (0 to m).foreach(_ => doc(rng.nextInt(30)) = s"v${rng.nextInt(5000)}")
        (2000L + f * 10 + m, doc.mkString(" "))
      }
    }
    val docs = ((0 until 8).flatMap { k =>
      val mutated = base.zipWithIndex.map { case (t, i) =>
        if (i < k) s"sub${k}x$i" else t
      }.mkString(" ")
      Seq((k * 10L, base.mkString(" ")), (k * 10L + 1L, mutated))
    } ++ (0 until 6).map(i =>
      (900L + i, s"chaff$i totally unrelated words nr$i ${i * 7} end$i")) ++ families)
      .toDF("doc_id", "text")
    // driver-side reference: every pair of the collected signatures
    GraftFunctions.register(spark)
    val sigs = docs.select($"doc_id", GraftFunctions.hashedShingles($"text", 2).as("sh"))
      .filter(size($"sh") > 0)
      .select($"doc_id", $"sh", GraftFunctions.minhashSig($"sh", 12).as("sig"))
      .as[(Long, Seq[Long], Seq[Long])].collect().toSeq
      .map { case (id, sh, sig) => (id, sh.toSet, sig) }
    def roundHalfUp(x: Double, scale: Int) =
      BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pairs = for ((a, shA, sigA) <- sigs; (b, shB, sigB) <- sigs if a < b) yield {
      val jaccard = (shA & shB).size.toDouble / (shA | shB).size
      val sampled = TextFunctions.hash60Scala(s"lts5:${a}_$b").toDouble /
        1152921504606846976.0 < 0.5 // 2^60
      (sigA, sigB, roundHalfUp(jaccard, 4) >= 0.8, sampled)
    }
    def candidate(pair: (Seq[Long], Seq[Long], Boolean, Boolean), b: Int, r: Int) =
      (0 until b).exists(bd => pair._1.slice(bd * r, bd * r + r) == pair._2.slice(bd * r, bd * r + r))
    assert(pairs.exists(p => candidate(p, 3, 4) && !candidate(p, 4, 3)))
    for (cfgs <- Seq(Seq((2, 6), (3, 4), (4, 3), (6, 2)), Seq((3, 4), (4, 3)))) {
      val expected = cfgs.sortBy(_._1).map { case (b, r) =>
        val cand = pairs.filter(candidate(_, b, r))
        val samp = cand.filter(_._4)
        val (nc, nv) = (cand.size.toLong, cand.count(_._3).toLong)
        val (ns, nvs) = (samp.size.toLong, samp.count(_._3).toLong)
        ((b.toLong, r.toLong, nc, nv, roundHalfUp(nv.toDouble / math.max(nc, 1), 6)),
          (b.toLong, r.toLong, nc, ns, nvs, roundHalfUp(nvs.toDouble / math.max(ns, 1), 6)))
      }
      val exact = TextDedup.lshTuningTable(docs, "doc_id", "text", configs = cfgs)
        .orderBy($"bands").as[(Long, Long, Long, Long, Double)].collect().toSeq
      assert(exact == expected.map(_._1), s"$cfgs")
      val sampled = TextDedup.lshTuningTableSampled(docs, "doc_id", "text", configs = cfgs,
          sampleRate = 0.5)
        .orderBy($"bands").as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
      assert(sampled == expected.map(_._2), s"$cfgs")
      // the fixture exercises differing counts across configs, verified
      // pairs, and a half-rate sample that is a real subsample
      assert(exact.map(_._3).distinct.size > 1, s"$cfgs")
      assert(exact.exists(_._4 > 0), s"$cfgs")
      assert(sampled.exists(r => r._4 < r._3), s"$cfgs")
    }
  }

  test("cross-group dup matrix and dup rate agree with a planted fixture") {
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "one two three four five six seven eight"
    val docs = Seq(
      (0L, t1, "srcA"), (1L, t1, "srcB"), // cross-source dup pair
      (2L, t2, "srcA"), (3L, t2, "srcA"), // within-source dup pair
      (4L, "totally different words entirely unique here now", "srcB")
    ).toDF("doc_id", "text", "source")
    val m = TextDedup.crossGroupDupMatrix(docs, "doc_id", "text", "source")
      .as[(String, String, Long)].collect().toSet
    assert(m == Set(("srcA", "srcB", 1L), ("srcA", "srcA", 1L)))
    val r = TextDedup.groupDupRate(docs, "doc_id", "text", "source")
      .orderBy($"source").as[(String, Long, Long, Double)].collect()
    assert(r.toSeq == Seq(("srcA", 3L, 3L, 1.0), ("srcB", 2L, 1L, 0.5)))
  }

  test("pcaPowerIteration recovers a planted dominant direction") {
    import graft.operators.Clustering
    // variance concentrated on dim 0 (values ±10), noise ~1 on dim 1,
    // constant dim 2 → top component must be ±e0, eigenvalue ≈ 100
    val emb = Seq(
      (0L, Seq(10.0f, 0.5f, 3.0f)), (1L, Seq(-10.0f, -0.5f, 3.0f)),
      (2L, Seq(10.0f, -0.5f, 3.0f)), (3L, Seq(-10.0f, 0.5f, 3.0f)),
      (4L, Seq(10.0f, 0.5f, 3.0f)), (5L, Seq(-10.0f, -0.5f, 3.0f))
    ).toDF("vec_id", "embedding")
    val r = Clustering.pcaPowerIteration(emb, "vec_id", "embedding", iters = 3)
      .orderBy($"dim").as[(Long, Double, Double)].collect()
    assert(math.abs(math.abs(r(0)._2) - 1.0) < 1e-3) // component ≈ ±e0
    // the planted signs leave cov(0,1) = 5/3, so the true eigenvector
    // tilts ~0.017 toward dim 1 — the small loading is genuine
    assert(math.abs(r(1)._2) < 0.05 && math.abs(r(2)._2) < 1e-9)
    assert(math.abs(r(0)._3 - 100.0) < 1.0) // Rayleigh ≈ var(dim0) = 100
  }

  test("pcaPowerIteration survives ragged vectors (first row shortest)") {
    import graft.operators.Clustering
    // the local-matvec path probes dims from the FIRST row; a later,
    // longer vector used to index past the matrix bounds
    val emb = Seq(
      (0L, Seq(10.0f, 0.5f)),
      (1L, Seq(-10.0f, -0.5f, 3.0f, 7.0f)),
      (2L, Seq(10.0f, -0.5f, 3.0f)),
      (3L, Seq(-10.0f, 0.5f))
    ).toDF("vec_id", "embedding")
    val r = Clustering.pcaPowerIteration(emb, "vec_id", "embedding", iters = 2)
      .orderBy($"dim").as[(Long, Double, Double)].collect()
    assert(r.length == 4) // sized from the max index seen, not row 0
    assert(math.abs(math.abs(r(0)._2) - 1.0) < 0.05) // dim 0 still dominates
  }

  test("centroidShift computes the planted per-label drift") {
    val df = Seq(
      (0L, "even", Seq(0.0f, 0.0f)), (0L, "odd", Seq(3.0f, 4.0f)), // dist 5
      (1L, "even", Seq(1.0f, 1.0f)), (1L, "odd", Seq(1.0f, 1.0f))  // dist 0
    ).toDF("label", "half", "embedding")
    val r = graft.operators.Clustering.centroidShift(df, "label", "half", "embedding")
      .orderBy($"label").as[(Long, Double)].collect()
    assert(r.toSeq == Seq((0L, 5.0), (1L, 0.0)))
  }

  test("weightedSampleTopK is deterministic, excludes zero weights, favors heavy rows") {
    import graft.operators.Curation
    val df = ((1L to 40L).map(i => (i, 1L)) ++ Seq((100L, 50L), (101L, 0L)))
      .toDF("id", "w")
    val s1 = Curation.weightedSampleTopK(df, "id", "w", k = 10)
      .select($"id").as[Long].collect().toSet
    val s2 = Curation.weightedSampleTopK(df, "id", "w", k = 10)
      .select($"id").as[Long].collect().toSet
    assert(s1 == s2)            // hash-derived, no RNG
    assert(!s1.contains(101L))  // zero weight can never be drawn
    assert(s1.contains(100L))   // weight 50 vs 1 over 40 rivals: near-certain
    // k >= positive-weight population returns exactly that population
    val all = Curation.weightedSampleTopK(df, "id", "w", k = 100)
    assert(all.count() == 41)
  }

  test("cohortRetention builds the expected triangle") {
    val events = Seq(
      (1L, "2024-01-01 10:00:00"), (1L, "2024-01-08 10:00:00"),
      (2L, "2024-01-02 09:00:00")
    ).toDF("user_id", "ts_s").select($"user_id", to_timestamp($"ts_s").as("ts"))
    val r = SeriesStats.cohortRetention(events, "user_id", "ts")
      .orderBy($"week_offset")
      .select($"week_offset", $"active_users", $"cohort_n", $"retention")
      .as[(Long, Long, Long, Double)].collect()
    assert(r.toSeq == Seq((0L, 2L, 2L, 1.0), (1L, 1L, 2L, 0.5)))
  }
}
