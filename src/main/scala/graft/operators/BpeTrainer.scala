package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding merge training (Sennrich et al.
  * 2016, arXiv:1508.07909) — the tokenizer-construction step of an
  * LLM data pipeline, run as pure DataFrame ops.
  *
  * The classic algorithm: collapse the corpus to a WORD-FREQUENCY
  * table, split each word into single-character symbols, then
  * repeatedly (1) count adjacent symbol pairs weighted by word
  * frequency — every adjacent occurrence counts, overlaps included —
  * (2) pick the most frequent pair, and (3) merge its occurrences
  * greedily left-to-right without overlap ("a a a" merges to
  * ["aa","a"]).
  *
  * Scale shape: the corpus is touched ONCE (token explode → word
  * count); every iteration after that runs on the distinct-word
  * table, whose size is vocabulary-bounded (tens of millions of rows
  * for 100 TB of text — trivially distributed, never collected). Pair
  * counting is a partial-aggregated groupBy; the chosen pair is a
  * 1-row broadcast, never a driver value; merge application is one
  * shuffle keyed by word. Lineage is cut per iteration with an eager
  * localCheckpoint so N merges don't stack N plans.
  *
  * The greedy non-overlap rule is the subtle part to distribute: a run
  * of consecutive match positions (e.g. "a a a a" for pair (a,a))
  * must merge at positions 0, 2, ... — expressed here as
  * gaps-and-islands over match positions (island = pos − row_number)
  * keeping even offsets from each island's start. Window functions
  * only, identical semantics in the DuckDB oracle replay.
  */
object BpeTrainer {

  /** Word-frequency table with each word as its initial
    * character-symbol array: (word, freq, syms). Lowercased
    * whitespace tokens — the baseline pretokenizer in this library.
    */
  def wordTable(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(lower(col(textCol)))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("syms", regexp_extract_all(col("word"), lit("."), lit(0)))

  /** Adjacent-pair counts over the current symbol sequences, weighted
    * by word frequency (all occurrences, overlaps included — the
    * get_stats convention): (l, r, cnt).
    */
  def pairCounts(words: DataFrame): DataFrame =
    words.filter(size(col("syms")) >= 2)
      .select(col("freq"),
        explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1).as("l"),
          slice(col("syms"), lit(2), size(col("syms")) - 1).as("r"))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))

  /** Most frequent pair, ties to the lexicographically smallest —
    * a deterministic 1-row frame (TakeOrderedAndProject, no collect).
    */
  def bestPair(pairs: DataFrame): DataFrame =
    pairs.orderBy(col("cnt").desc, col("l"), col("r")).limit(1)

  /** Apply one merge (the 1-row `best` frame is cross-broadcast):
    * replace greedy-leftmost non-overlapping (l, r) occurrences in
    * every word's symbol sequence with the concatenated symbol.
    */
  def applyMerge(words: DataFrame, best: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("word")).orderBy(col("pos"))
    val t = words
      .select(col("word"), col("freq"), posexplode(col("syms")).as(Seq("pos", "sym")))
      .withColumn("nxt", lead(col("sym"), 1).over(w))
      .crossJoin(broadcast(best.select(col("l"), col("r"))))
    // match positions → islands of consecutive pos → keep even offsets
    // from each island start = greedy leftmost non-overlap
    val m = t.filter(col("sym") === col("l") && col("nxt") === col("r"))
      .select(col("word"), col("pos"))
      .withColumn("grp", col("pos") - row_number().over(w))
    val keep = m
      .withColumn("mn", min(col("pos")).over(Window.partitionBy(col("word"), col("grp"))))
      .filter((col("pos") - col("mn")) % 2 === 0)
      .select(col("word"), col("pos"))
    val drop = keep.select(col("word"), (col("pos") + 1).as("pos"))
    t.join(keep.withColumn("_m", lit(true)), Seq("word", "pos"), "left")
      .join(drop.withColumn("_d", lit(true)), Seq("word", "pos"), "left")
      .filter(col("_d").isNull)
      .withColumn("sym2",
        when(col("_m"), concat(col("sym"), col("nxt"))).otherwise(col("sym")))
      .groupBy(col("word"))
      .agg(min(col("freq")).as("freq"),
        transform(array_sort(collect_list(struct(col("pos"), col("sym2")))),
          p => p.getField("sym2")).as("syms"))
  }

  /** Driver-local training guard: the word table is vocabulary-
    * bounded, and a closed vocabulary (the overwhelmingly common case
    * below web scale) is broadcast-sized — so, like the NB model grid
    * and the GD weight vector, the merge loop runs on the driver when
    * a limited collect shows the vocabulary fits, replacing
    * `iterations` × (pair-count job + 6-shuffle merge job) with one
    * collect. An open 100 TB vocabulary exceeds the probe and keeps
    * the distributed loop. Integer arithmetic throughout — the local
    * loop is bit-identical to the relational one (and to the oracle's
    * SQL replay; the one divergence is the degenerate all-single-char
    * corpus, where the distributed `applyMerge`'s cross join against
    * an EMPTY best pair empties the word table while the oracle — and
    * the local loop — keep it unchanged).
    */
  private val LocalVocabBound = 100000

  /** Split into code-point symbols, like regexp_extract_all(word, '.'). */
  private def codePoints(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.result()
  }

  private def collectWords(
      df: DataFrame, textCol: String): Option[Array[(String, Long, Array[String])]] = {
    val probe = df.select(explode(tokens(lower(col(textCol)))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .limit(LocalVocabBound + 1).collect()
    if (probe.length > LocalVocabBound)
      None
    else Some(probe.map(r => (r.getString(0), r.getLong(1), codePoints(r.getString(0)))))
  }

  /** All adjacent-pair counts (overlaps included), best by
    * (cnt desc, l, r) — the get_stats convention.
    */
  private def localBest(
      words: Array[(String, Long, Array[String])]): Option[(String, String, Long)] = {
    val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
    for ((_, f, s) <- words; i <- 0 until s.length - 1)
      cnt.updateWith((s(i), s(i + 1)))(o => Some(o.getOrElse(0L) + f))
    if (cnt.isEmpty) None
    else {
      val ((l, r), c) = cnt.minBy { case ((l, r), c) => (-c, l, r) }(
        Ordering.Tuple3(Ordering.Long, LocalOrder.utf8, LocalOrder.utf8))
      Some((l, r, c))
    }
  }

  /** Greedy leftmost non-overlapping merge — the scan the islands
    * window expresses relationally.
    */
  private def localMerge(s: Array[String], l: String, r: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (i < s.length - 1 && s(i) == l && s(i + 1) == r) { out += s(i) + s(i + 1); i += 2 }
      else { out += s(i); i += 1 }
    }
    out.result()
  }

  private def localTrain(
      w0: Array[(String, Long, Array[String])], iterations: Int)
      : (Array[(String, Long, Array[String])], Seq[(Long, String, String, Long)]) = {
    var words = w0
    val rows = Vector.newBuilder[(Long, String, String, Long)]
    for (it <- 1 to iterations) localBest(words).foreach { case (l, r, c) =>
      rows += ((it.toLong, l, r, c))
      words = words.map { case (w, f, s) => (w, f, localMerge(s, l, r)) }
    }
    localBest(words).foreach { case (l, r, c) =>
      rows += (((iterations + 1).toLong, l, r, c))
    }
    (words, rows.result())
  }

  /** Train `iterations` merges: the final word table (word, freq,
    * syms) and the merge rows (it, l, r, cnt), run on the driver when
    * the vocabulary fits ([[LocalVocabBound]]), else distributed. The
    * merge rows hold one row per iteration PLUS a final row it =
    * iterations + 1 with the best pair of the post-merge state.
    */
  private def train(df: DataFrame, textCol: String, iterations: Int): (DataFrame, DataFrame) =
    collectWords(df, textCol) match {
      case Some(w0) =>
        val spark = df.sparkSession
        import spark.implicits._
        val (words, rows) = localTrain(w0, iterations)
        (spark.createDataset(words.toSeq.map { case (w, f, s) => (w, f, s.toSeq) })
          .toDF("word", "freq", "syms"),
          spark.createDataset(rows).toDF("it", "l", "r", "cnt"))
      case None =>
        var words = wordTable(df, textCol).localCheckpoint(true)
        var out = Vector.empty[DataFrame]
        for (it <- 1 to iterations) {
          val best = bestPair(pairCounts(words)).localCheckpoint(true)
          out :+= best.withColumn("it", lit(it.toLong))
          words = applyMerge(words, best).localCheckpoint(true)
        }
        val fin = bestPair(pairCounts(words)).withColumn("it", lit((iterations + 1).toLong))
        (words, (out :+ fin).reduce(_ unionByName _)
          .select(col("it"), col("l"), col("r"), col("cnt")))
    }

  /** Train `iterations` merges. Returns one row per iteration
    * (it, l, r, cnt) PLUS a final row it = iterations + 1 holding the
    * best pair of the post-merge state — so the last merge's
    * application is certified by the output too, not just its
    * selection.
    */
  def merges(df: DataFrame, textCol: String, iterations: Int): DataFrame = {
    require(iterations >= 1, "need at least one merge iteration")
    train(df, textCol, iterations)._2
  }

  /** The word table after training `iterations` merges:
    * (word, freq, syms) with each word in its final symbol
    * segmentation — the lookup table the ENCODE side uses.
    */
  def trainedWords(df: DataFrame, textCol: String, iterations: Int): DataFrame =
    train(df, textCol, iterations)._1

  /** ENCODE side of the tokenizer: apply the trained segmentation to
    * every document and report its symbol-expansion stats —
    * (idCol, n_words, n_symbols, avg_syms_per_word r6). The corpus
    * re-joins the vocabulary-bounded word table on the word key (the
    * exact shape a production tokenizer pass has at 100 TB: fact
    * stream × broadcast-or-shuffled vocab, no per-row Python).
    */
  def encodeStats(
      df: DataFrame, idCol: String, textCol: String, iterations: Int): DataFrame = {
    val segLen = trainedWords(df, textCol, iterations)
      .select(col("word"), size(col("syms")).cast("long").as("_ns"))
    df.select(col(idCol), explode(tokens(lower(col(textCol)))).as("word"))
      .join(segLen, "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("_ns")).as("n_symbols"))
      .withColumn("avg_syms_per_word",
        round(col("n_symbols").cast("double") / col("n_words"), 6))
  }
}
