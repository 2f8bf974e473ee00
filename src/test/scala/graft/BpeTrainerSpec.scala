package graft

import graft.operators.BpeTrainer
import org.apache.spark.sql.functions._

/** BPE merge training: pair statistics, greedy non-overlapping merge
  * application, and symbol-boundary safety (the classic failure mode
  * of string-level merge implementations).
  */
class BpeTrainerSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("merges reproduce hand-computed BPE on a tiny corpus") {
    // corpus: "low low low lower newest newest" — classic Sennrich toy.
    // char pairs weighted by word freq:
    //   (l,o) 3+1=4, (o,w) 4, (w,e) 1+2=3, (e,s) 2, (s,t) 2, (e,r) 1,
    //   (n,e) 2, (e,w) 2 — best is (l,o) cnt 4 (ties (o,w) broken to l)
    val df = docs("low low low lower newest newest")
    val m = BpeTrainer.merges(df, "text", iterations = 2)
      .orderBy($"it").as[(Long, String, String, Long)].collect()
    assert(m(0) == ((1L, "l", "o", 4L)))
    // after merging (l,o): "lo w", "lo w e r", "n e w e s t"x2 —
    // (lo,w) now 4, (e,s)/(s,t)/(n,e)/(e,w) 2, (w,e) 3 → best (lo,w)
    assert(m(1) == ((2L, "lo", "w", 4L)))
    // final certification row: after merging (lo,w): "low", "low e r",
    // "n e w e s t"x2 → (n,e)/(e,w)/(w,e)/(e,s)/(s,t) all cnt 2,
    // lexicographic tie-break lands on (e,s)
    assert(m(2) == ((3L, "e", "s", 2L)))
  }

  test("greedy merge is leftmost non-overlapping within symbol runs") {
    // "aaaa" and "aaa": merging (a,a) must give [aa,aa] and [aa,a] —
    // island parity, not all-pairs replacement
    val words = BpeTrainer.wordTable(docs("aaaa aaa"), "text")
    val best = BpeTrainer.bestPair(BpeTrainer.pairCounts(words))
    assert(best.as[(String, String, Long)].head() == (("a", "a", 5L)))
    val merged = BpeTrainer.applyMerge(words, best)
      .select($"word", $"syms").as[(String, Seq[String])].collect().toMap
    assert(merged("aaaa") == Seq("aa", "aa"))
    assert(merged("aaa") == Seq("aa", "a"))
  }

  test("merged symbols never match across their internal boundary") {
    // after merging (a,b), the sequence [ab, c] must NOT fire a
    // subsequent (b,c) merge — pairs are symbol-level, not char-level
    val words0 = BpeTrainer.wordTable(docs("abc abc ab ab bc"), "text")
    val b1 = BpeTrainer.bestPair(BpeTrainer.pairCounts(words0))
    assert(b1.as[(String, String, Long)].head() == (("a", "b", 4L)))
    val words1 = BpeTrainer.applyMerge(words0, b1)
    val pairs = BpeTrainer.pairCounts(words1)
      .as[(String, String, Long)].collect().toSet
    // "abc" is now [ab, c] → pair (ab, c) cnt 2; the raw (b, c) pair
    // survives only in the unmerged word "bc"? no — "bc" is [b, c]
    assert(pairs == Set(("ab", "c", 2L), ("b", "c", 1L)))
  }

  test("encodeStats applies the trained segmentation to every document") {
    // two docs over the q97 toy corpus; after 2 merges "low" is one
    // symbol, "lower" is [low, e, r], "newest" stays 6 chars
    val df = docs("low low low lower", "newest newest")
    val r = BpeTrainer.encodeStats(df, "doc_id", "text", iterations = 2)
      .orderBy($"doc_id").as[(Long, Long, Long, Double)].collect()
    // doc 0: low(1)x3 + lower(3) = 4 words, 6 symbols
    assert(r(0) == ((0L, 4L, 6L, 1.5)))
    // doc 1: newest = 6 single chars x2 = 12 symbols
    assert(r(1) == ((1L, 2L, 12L, 6.0)))
  }

  test("wordTable splits non-BMP text into whole codepoints, not surrogates") {
    // java.util.regex's '.' matches a full code point (a surrogate PAIR
    // for astral-plane chars), matching DuckDB's RE2 codepoint
    // semantics — pin that here so a regression to code-unit splitting
    // (malformed half-surrogate symbols) is caught.
    val emoji = new String(Character.toChars(0x1F600)) // astral-plane
    val df = docs(s"a${emoji}b")
    val syms = BpeTrainer.wordTable(df, "text")
      .select($"syms").as[Seq[String]].head()
    assert(syms == Seq("a", emoji, "b"))
    assert(syms.forall(s => !Character.isSurrogate(s.charAt(0)) || s.length == 2))
  }
}
