package graft

import graft.operators.{DupGraph, TextDedup}
import org.apache.spark.sql.functions._

/** Round-5 operators: star-contraction connected components (the
  * O(log n)-round path for deep graphs), duplicate-cluster
  * representative selection, the deletion-neighborhood edit-distance-1
  * join, and streaming near-dup over the simhash ledger.
  */
class StarCCSpec extends SparkSpec {

  import spark.implicits._

  test("connectedComponentsStars equals union-find on seeded random graphs") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val edges = List.fill(25)((rnd.nextLong(30), rnd.nextLong(30)))
        .filter(e => e._1 != e._2)
      val got = DupGraph.connectedComponentsStars(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap

      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- edges) parent(find(a)) = find(b)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = nodes
        .groupBy(find)
        .flatMap { case (_, members) => members.map(_ -> members.min) }
      assert(got == expected, s"seed=$seed")
    }
  }

  test("connectedComponentsStars handles a deep path in logarithmic rounds") {
    // a 200-node path has diameter 199: min-label propagation would
    // need ~200 rounds; star contraction must finish far inside 30 (its
    // default cap — non-convergence throws, so passing proves O(log n))
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = DupGraph.connectedComponentsStars(chain).as[(Long, Long)].collect()
    assert(cc.length == 200)
    assert(cc.forall(_._2 == 0L))
    // layout invariance
    val cc2 = DupGraph.connectedComponentsStars(chain.repartition(7))
      .as[(Long, Long)].collect()
    assert(cc2.toMap == cc.toMap)
  }

  test("connectedComponentsStars matches the driver union-find on the same edges") {
    val rnd = new scala.util.Random(7)
    // keep self-loops in: both implementations must agree that a
    // self-loop node appears in the output as its own component
    val edges = List.fill(40)((rnd.nextLong(60), rnd.nextLong(60))).toDF("id_a", "id_b")
    val a = DupGraph.connectedComponentsStars(edges).as[(Long, Long)].collect().toMap
    val b = DupGraph.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("connectedComponents local fast path equals the distributed rounds") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val edges = (List.fill(60)((rnd.nextLong(80), rnd.nextLong(80))) :+
        (5L, 5L)).toDF("id_a", "id_b") // self-loop node must survive in both
      val local = DupGraph.connectedComponents(edges)
        .as[(Long, Long)].collect().toMap
      val dist = DupGraph.connectedComponents(edges, localEdgeThreshold = 0)
        .as[(Long, Long)].collect().toMap
      assert(local == dist, s"seed=$seed")
    }
  }

  test("pickRepresentatives keeps the best-scoring member per cluster, singletons included") {
    val corpus = Seq(
      (1L, "short", 5L), (2L, "longer text", 11L), (3L, "mid txt", 7L), // cluster {1,2,3}
      (4L, "alone", 5L) // singleton
    ).toDF("doc_id", "text", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val reps = DupGraph.pickRepresentatives(
      corpus, "doc_id", pairs, Seq(col("n_chars").desc, col("doc_id").asc))
    val byComponent = reps.select("component", "doc_id", "n_members")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byComponent == Map(1L -> (2L, 3L), 4L -> (4L, 1L)))
    // representative rows carry the full original row
    assert(reps.columns.toSet == Set("doc_id", "text", "n_chars", "component", "n_members"))
  }

  test("pickRepresentatives ties break deterministically on the id column") {
    val corpus = Seq((1L, 9L), (2L, 9L), (3L, 9L)).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val reps = DupGraph.pickRepresentatives(
      corpus, "doc_id", pairs, Seq(col("score").desc, col("doc_id").asc))
    assert(reps.select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("editDistance1Pairs finds substitutions, inserts, deletes; never distance-2") {
    val vocab = Seq("cat", "cut", "cart", "at", "dog", "dig", "table").toDF("w")
    val got = TextDedup.editDistance1Pairs(vocab, "w")
      .select("word_a", "word_b").as[(String, String)].collect().toSet
    assert(got == Set(
      ("cat", "cut"),   // substitution
      ("cart", "cat"),  // deletion (cart -> cat)
      ("at", "cat"),    // insertion (at -> cat)
      ("dig", "dog")))  // substitution; cut/cart etc. are distance 2
  }

  test("editDistance1Pairs equals the exhaustive levenshtein join on a random vocab") {
    val rnd = new scala.util.Random(11)
    val alphabet = "abc"
    val words = List.fill(120)(
      (0 until (3 + rnd.nextInt(3))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    ).distinct
    val vocab = words.toDF("w")
    val fast = TextDedup.editDistance1Pairs(vocab, "w")
      .select("word_a", "word_b").as[(String, String)].collect().toSet
    val brute = (for {
      a <- words; b <- words if a < b
    } yield (a, b)).filter { case (a, b) => lev(a, b) <= 1 }.toSet
    assert(fast == brute)
  }

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(
        math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

}
