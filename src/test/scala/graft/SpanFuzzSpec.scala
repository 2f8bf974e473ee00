package graft

import graft.operators.TextDedup
import scala.util.Random

/** Randomized equivalence fuzz for the substring-dedup span family
  * (q89 detect / q90 scrub): the distributed
  * duplicateNgramSpans/removeDuplicateSpans pipelines replay against
  * an obviously-correct sequential reference over many small random
  * corpora (fixed seeds — deterministic CI). Tiny alphabets force
  * heavy gram duplication, so island merging (overlap, adjacency,
  * containment), fully-covered documents, and sub-n documents all
  * occur naturally. Same discipline as Round5FuzzSpec.
  */
class SpanFuzzSpec extends SparkSpec {
  import spark.implicits._

  /** Mirror of TextFunctions.tokens: split(trim(text), "\\s+") — an
    * empty/whitespace-only text tokenizes to [""].
    */
  private def tokenize(text: String): Array[String] = {
    val t = text.trim
    if (t.isEmpty) Array("") else t.split("\\s+")
  }

  /** Sequential reference: corpus-wide gram frequency (counting
    * in-document repeats), per-doc covered windows, merged islands.
    */
  private def refSpans(
      docs: Seq[(Long, String)], n: Int): Seq[(Long, Long, Long)] = {
    val grams = for {
      (id, text) <- docs
      toks = tokenize(text)
      if toks.length >= n
      i <- 0 to toks.length - n
    } yield (id, i.toLong, toks.slice(i, i + n).mkString(" "))
    val freq = grams.groupBy(_._3).map { case (g, xs) => g -> xs.size }
    val wins = grams.collect { case (id, s, g) if freq(g) > 1 => (id, s, s + n - 1) }
    wins.groupBy(_._1).toSeq.flatMap { case (id, ws) =>
      val sorted = ws.map(w => (w._2, w._3)).sortBy(identity)
      val islands = Seq.newBuilder[(Long, Long, Long)]
      var (cs, ce) = sorted.head
      for ((s, e) <- sorted.tail) {
        if (s > ce) { islands += ((id, cs, ce)); cs = s; ce = e }
        else ce = math.max(ce, e)
      }
      islands += ((id, cs, ce))
      islands.result()
    }
  }

  /** Sequential scrub: drop tokens covered by any reference island,
    * stitch survivors; fully-scrubbed documents disappear.
    */
  private def refScrub(
      docs: Seq[(Long, String)], n: Int): Seq[(Long, Long, String)] = {
    val spans = refSpans(docs, n).groupBy(_._1)
    docs.flatMap { case (id, text) =>
      val toks = tokenize(text)
      val cov = spans.getOrElse(id, Nil)
      val kept = toks.zipWithIndex.collect {
        case (t, i) if !cov.exists(s => i >= s._2 && i <= s._3) => t
      }
      if (kept.isEmpty) None
      else Some((id, kept.length.toLong, kept.mkString(" ")))
    }
  }

  private def randomCorpus(rnd: Random): (Seq[(Long, String)], Int) = {
    val vocab = 2 + rnd.nextInt(4) // 2-5 letters → dense gram collisions
    val n = 2 + rnd.nextInt(3) // gram order 2-4
    def tok() = ('a' + rnd.nextInt(vocab)).toChar.toString
    val docs = Seq.tabulate(4 + rnd.nextInt(6)) { i =>
      val len = rnd.nextInt(14) // includes sub-n and empty documents
      // occasional double spaces exercise the \s+ tokenizer mirror
      val sep = if (rnd.nextInt(4) == 0) "  " else " "
      (i.toLong, Seq.fill(len)(tok()).mkString(sep))
    }
    (docs, n)
  }

  test("duplicateNgramSpans matches the sequential reference on random corpora") {
    for (seed <- 1 to 15) {
      val rnd = new Random(seed)
      val (docs, n) = randomCorpus(rnd)
      val got = TextDedup.duplicateNgramSpans(docs.toDF("doc_id", "text"), "doc_id", "text", n)
        .as[(Long, Long, Long)].collect().sorted.toSeq
      val want = refSpans(docs, n).sorted
      assert(got == want, s"seed=$seed n=$n docs=$docs")
    }
  }

  test("removeDuplicateSpans matches the sequential scrub on random corpora") {
    for (seed <- 101 to 115) {
      val rnd = new Random(seed)
      val (docs, n) = randomCorpus(rnd)
      val got = TextDedup.removeDuplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text", n)
        .as[(Long, Long, String)].collect().toSeq
      val want = refScrub(docs, n).sortBy(_._1)
      assert(got == want, s"seed=$seed n=$n docs=$docs")
    }
  }

  test("fully-duplicated corpus scrubs every document away") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"))
    assert(TextDedup.removeDuplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text", 2)
      .count() == 0)
    // and the spans cover each document end to end
    val spans = TextDedup.duplicateNgramSpans(docs.toDF("doc_id", "text"), "doc_id", "text", 2)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(spans == Seq((1L, 0L, 3L), (2L, 0L, 3L)))
  }
}
