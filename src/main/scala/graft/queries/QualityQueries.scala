package graft.queries

import graft.{Q, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-quality operators for training-data curation, beyond the
  * per-doc ratios in TextQueries: repetition scoring (the Gopher-style
  * "fraction of duplicated n-grams" filters), benchmark-contamination
  * detection (n-gram overlap against a held-out set), TF-IDF salient
  * terms, and character-entropy scoring.
  *
  * Scale shapes: everything is explode → hash-aggregate on
  * (doc, gram) — one shuffle keyed by content, partial aggregation
  * map-side. Contamination joins the corpus against the benchmark
  * shingle set via BROADCAST (benchmark suites are MBs; the corpus is
  * the 100 TB side and is never shuffled for the probe).
  */
object QualityQueries {

  /** Non-distinct word n-grams (repetition needs every occurrence;
    * [[TextFunctions.shingles]] deduplicates).
    */
  private def grams(toks: Column, n: Int): Column = {
    val g = transform(
      sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*))
    when(size(toks) >= n, g).otherwise(array())
  }

  val all: Seq[Q] = Seq(

    // Gopher-style repetition signals: share of trigram occurrences
    // that are repeats within the doc, and the most frequent bigram's
    // share of all bigram occurrences. High values flag boilerplate /
    // degenerate text for filtering.
    Q.sql(
      "q53_repetition",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents
        |  WHERE len(string_split_regex(trim(text), '\s+')) >= 3),
        |bi AS (
        |  SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
        |    FROM t) GROUP BY doc_id, g),
        |tri AS (
        |  SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
        |    FROM t) GROUP BY doc_id, g),
        |ba AS (
        |  SELECT doc_id, round(max(c)::DOUBLE / sum(c), 4) AS top_bigram_frac FROM bi GROUP BY doc_id),
        |ta AS (
        |  SELECT doc_id, round(sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::DOUBLE / sum(c), 4) AS dup_trigram_frac
        |  FROM tri GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens, ba.top_bigram_frac, ta.dup_trigram_frac
        |FROM t JOIN ba USING (doc_id) JOIN ta USING (doc_id)
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      // ONE corpus pass: both gram sizes ride a single explode of
      // tagged (n, gram) pairs, both fracs come out of one (doc, n,
      // gram) roll-up, and n_tokens is recovered arithmetically
      // (bigram occurrences = len - 1 whenever len >= 3) — no second
      // scan, no joins. The previous form scanned/tokenized the corpus
      // three times and paid two joins for the same numbers.
      def tagged(n: Int) =
        transform(grams($"w", n), g => struct(lit(n).as("n"), g.as("g")))
      val isBi = col("n") === 2
      val isTri = col("n") === 3
      Tables.documents(s, d)
        .select($"doc_id", tokens($"text").as("w"))
        .filter(size($"w") >= 3)
        .select($"doc_id", explode(concat(tagged(2), tagged(3))).as("t"))
        .groupBy($"doc_id", $"t.n", $"t.g").agg(count("*").as("c"))
        .groupBy("doc_id").agg(
          (sum(when(isBi, col("c"))) + 1L).cast("long").as("n_tokens"),
          round(max(when(isBi, col("c"))).cast("double") / sum(when(isBi, col("c"))), 4)
            .as("top_bigram_frac"),
          round(sum(when(isTri && col("c") >= 2, col("c")).otherwise(0L)).cast("double") /
            sum(when(isTri, col("c"))), 4).as("dup_trigram_frac"))
        .orderBy($"doc_id")
    },

    // Benchmark contamination: which corpus documents share word
    // trigrams with a held-out "benchmark" subset (doc_id % 97 == 0
    // stands in for an eval suite). The benchmark shingle set is the
    // broadcast side; the corpus is never shuffled for the probe.
    Q.sql(
      "q54_contamination",
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS g
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 97 = 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM sh JOIN bench USING (g)
        |WHERE doc_id % 97 <> 0
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      def sh(df: org.apache.spark.sql.DataFrame) =
        df.select($"doc_id", explode(shingles(tokens($"text"), 3)).as("g"))
      // filter BEFORE the explode: the benchmark side shingles 1/97th
      // of the corpus (filter pushed to the scan), not everything
      val bench = sh(docs.filter($"doc_id" % 97 === 0)).select($"g").distinct()
      sh(docs.filter($"doc_id" % 97 =!= 0))
        .join(broadcast(bench), "g")
        .groupBy("doc_id").agg(count("*").as("n_hits"))
        .orderBy($"doc_id")
    },

    // Winnowing containment vs the benchmark subset — the
    // plagiarism-detection primitive: what fraction of a doc's
    // winnowed fingerprint sketch appears anywhere in the held-out
    // set. Robust to reordering/insertion in a way trigram overlap
    // (q54) is not; same broadcast-probe scale shape.
    Q.sql(
      "q70_winnow_containment",
      """WITH kg AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(text) - 8 + 2), i ->
        |      CAST(('0x'||substr(md5(substr(text, i, 8)),1,15)) AS BIGINT)) AS h
        |  FROM documents WHERE length(text) >= 11),
        |win AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(h) - 4 + 2), i ->
        |      list_min(h[i:i+3]))) AS fps
        |  FROM kg),
        |ex AS (SELECT doc_id, unnest(fps) AS fp FROM win),
        |bench AS (SELECT DISTINCT fp FROM ex WHERE doc_id % 97 = 0),
        |hits AS (
        |  SELECT doc_id, count(*) AS n_hits
        |  FROM ex JOIN bench USING (fp)
        |  WHERE doc_id % 97 <> 0 GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
        |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  round(COALESCE(h.n_hits, 0)::DOUBLE / len(fps), 4) AS containment
        |FROM win w LEFT JOIN hits h USING (doc_id)
        |WHERE w.doc_id % 97 <> 0
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      // >= 11 (k + w - 1), not >= 8: an 8-10 char doc has k-grams but
      // no winnow window, so n_fps would be 0 and the containment
      // division below would throw under ANSI. localCheckpoint: the
      // sketch roots THREE branches (bench, hits, n_fps) — unshared it
      // would be recomputed for each
      val fps = Tables.documents(s, d)
        .filter(length($"text") >= 11)
        .select($"doc_id",
          graft.functions.GraftFunctions.winnowFingerprints($"text", 8, 4).as("fps"))
        .localCheckpoint(eager = false)
      val ex = fps.select($"doc_id", explode($"fps").as("fp"))
      val bench = ex.filter($"doc_id" % 97 === 0).select($"fp").distinct()
      val hits = ex.filter($"doc_id" % 97 =!= 0)
        .join(broadcast(bench), "fp")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      fps.filter($"doc_id" % 97 =!= 0)
        .select($"doc_id", size($"fps").cast("long").as("n_fps"))
        .join(hits, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_hits"))
        .select($"doc_id", $"n_fps", $"n_hits",
          round($"n_hits" / $"n_fps", 4).as("containment"))
        .orderBy($"doc_id")
    },

    // TF-IDF top-3 salient terms per document (tf * ln(N/df),
    // deterministic term tie-break). df comes from the tf frame — one
    // extra aggregate, no second corpus scan; N is a broadcast scalar.
    Q.sql(
      "q55_tfidf",
      """WITH tfc AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents)
        |  GROUP BY doc_id, term),
        |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, round(score, 4) AS tfidf FROM (
        |  SELECT tfc.doc_id, tfc.term, tfc.tf * ln(n_docs::DOUBLE / df) AS score,
        |    row_number() OVER (PARTITION BY tfc.doc_id
        |      ORDER BY tfc.tf * ln(n_docs::DOUBLE / df) DESC, tfc.term) AS rank
        |  FROM tfc JOIN dfc USING (term) CROSS JOIN n) ranked
        |WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val tf = docs.select($"doc_id", explode(tokens($"text")).as("term"))
        .groupBy("doc_id", "term").agg(count("*").as("tf"))
      val df = tf.groupBy("term").agg(count("*").as("df"))
      val n = docs.agg(count("*").as("n_docs"))
      val scored = tf.join(df, "term").crossJoin(broadcast(n))
        .withColumn("score", $"tf" * log($"n_docs".cast("double") / $"df"))
      val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term")
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= 3)
        .select($"doc_id", $"rank", $"term", round($"score", 4).as("tfidf"))
        .orderBy($"doc_id", $"rank")
    },

    // Map-typed aggregation: per-source top-5 token map, built with
    // real MAP functions (struct collect → map_from_entries →
    // map_entries) and rendered "tok:cnt,…" so DuckDB (string_agg)
    // certifies the identical content
    Q.sql(
      "q61_token_topmap",
      """WITH tf AS (
        |  SELECT source, tok, count(*) AS c FROM (
        |    SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |    FROM documents)
        |  GROUP BY source, tok),
        |ranked AS (
        |  SELECT source, tok, c,
        |    row_number() OVER (PARTITION BY source ORDER BY c DESC, tok) AS rn
        |  FROM tf)
        |SELECT source,
        |  string_agg(tok || ':' || c, ',' ORDER BY rn) AS top_tokens
        |FROM ranked WHERE rn <= 5
        |GROUP BY source
        |ORDER BY source""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val tf = Tables.documents(s, d)
        .select($"source", explode(tokens(lower($"text"))).as("tok"))
        .groupBy("source", "tok").agg(count("*").as("c"))
      val w = Window.partitionBy($"source").orderBy($"c".desc, $"tok")
      tf.withColumn("rn", row_number().over(w)).filter($"rn" <= 5)
        .groupBy("source")
        .agg(map_from_entries(
          transform(sort_array(collect_list(struct($"rn", $"tok", $"c"))),
            e => struct(e("tok"), e("c")))).as("m"))
        .select($"source",
          array_join(
            transform(map_entries($"m"), e => concat(e("key"), lit(":"), e("value").cast("string"))),
            ",").as("top_tokens"))
        .orderBy($"source")
    },

    // Unigram LM quality score (the CCNet-style LM-filter stand-in):
    // per-doc mean negative log-probability of its tokens under the
    // corpus unigram distribution — high = rare/garbled text, low =
    // repetitive boilerplate. One token explode, one count aggregate,
    // a token-keyed join back, one scalar broadcast.
    Q.sql(
      "q66_unigram_logprob",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        |n AS (SELECT count(*) AS n_total FROM toks)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(avg(-ln(c::DOUBLE / n_total)), 4) AS avg_neg_logprob
        |FROM toks JOIN freq USING (tok) CROSS JOIN n
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select($"doc_id", explode(tokens(lower($"text"))).as("tok"))
      val freq = toks.groupBy("tok").agg(count("*").as("c"))
      // total tokens from the freq frame — a third explode of the
      // corpus would re-scan documents for a number freq already holds
      val n = freq.agg(sum($"c").as("n_total"))
      toks.join(freq, "tok").crossJoin(broadcast(n))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          round(avg(-log($"c".cast("double") / $"n_total")), 4).as("avg_neg_logprob"))
        .orderBy($"doc_id")
    },

    // Character-level Shannon entropy (nats) — low entropy flags
    // degenerate/repetitive payloads, very high flags binary-ish noise.
    Q.sql(
      "q56_char_entropy",
      """WITH cnt AS (
        |  SELECT doc_id, ch, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, length(text) + 1), i -> text[i])) AS ch
        |    FROM documents) GROUP BY doc_id, ch),
        |tot AS (SELECT doc_id, sum(c) AS n FROM cnt GROUP BY doc_id)
        |SELECT doc_id, CAST(min(n) AS BIGINT) AS n_chars,
        |  CAST(count(*) AS BIGINT) AS n_distinct_chars,
        |  round(-sum((c::DOUBLE / n) * ln(c::DOUBLE / n)), 4) AS entropy_nats
        |FROM cnt JOIN tot USING (doc_id)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val cnt = Tables.documents(s, d)
        .select($"doc_id", explode(split($"text", "")).as("ch"))
        .groupBy("doc_id", "ch").agg(count("*").as("c"))
      val tot = cnt.groupBy("doc_id").agg(sum($"c").as("n"))
      val p = $"c".cast("double") / $"n"
      cnt.join(tot, "doc_id")
        .groupBy("doc_id").agg(
          min($"n").cast("long").as("n_chars"),
          count("*").as("n_distinct_chars"),
          round(-sum(p * log(p)), 4).as("entropy_nats"))
        .orderBy($"doc_id")
    },

    // self-trained add-one bigram LM scoring (the KenLM/CCNet quality
    // signal, one model order above q66's unigram): the full count →
    // smooth → score chain replayed in SQL, so the hash-match
    // certifies identical smoothing arithmetic
    Q.sql(
      "q84_bigram_logprob",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
        |bb AS (
        |  SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
        |  FROM t WHERE len(w) >= 2),
        |uni AS (
        |  SELECT tok, count(*) AS c1 FROM (SELECT unnest(w) AS tok FROM t) GROUP BY tok),
        |bi AS (SELECT w1, w2, count(*) AS c12 FROM bb GROUP BY w1, w2),
        |v AS (SELECT count(*) AS v FROM uni)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(avg(-ln((c12 + 1.0) / (c1 + v))), 4) AS avg_neg_logprob
        |FROM bb JOIN bi USING (w1, w2) JOIN uni ON uni.tok = bb.w1 CROSS JOIN v
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      graft.operators.LanguageModel.bigramNegLogProb(
        Tables.documents(s, d), "doc_id", "text")
        .orderBy($"doc_id")
    },

    // adaptive per-language floor: flag docs under their OWN lang's
    // p10 token count (a single global cutoff over/under-prunes
    // mixed-language corpora); thresholds broadcast, fact filtered
    // in place
    Q.sql(
      "q101_quantile_gate",
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ntok
        |  FROM documents),
        |q AS (SELECT lang, round(quantile_cont(ntok, 0.1), 6) AS p10 FROM d GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.ntok, q.p10
        |FROM d JOIN q USING (lang)
        |WHERE CAST(d.ntok AS DOUBLE) < q.p10
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select($"doc_id", $"lang", tokenCount($"text").as("ntok"))
      graft.operators.Quantiles.quantileGate(docs, "lang", "ntok", 0.1, "p10")
        .select($"doc_id", $"lang", $"ntok", $"p10")
        .orderBy($"doc_id")
    },

    // Jelinek-Mercer interpolated bigram scoring (lambda = 1/2, exact
    // dyadic): backoff-to-unigram smoothing, the production flavor of
    // the q84 add-one baseline
    Q.sql(
      "q104_interp_logprob",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
        |bb AS (
        |  SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
        |  FROM t WHERE len(w) >= 2),
        |uni AS (
        |  SELECT tok, count(*) AS c FROM (SELECT unnest(w) AS tok FROM t) GROUP BY tok),
        |bi AS (SELECT w1, w2, count(*) AS c12 FROM bb GROUP BY w1, w2),
        |n AS (SELECT sum(c) AS n FROM uni)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(avg(-ln(0.5 * c12 / u1.c + 0.5 * u2.c / n.n)), 4) AS avg_neg_logprob
        |FROM bb JOIN bi USING (w1, w2)
        |JOIN uni u1 ON u1.tok = bb.w1
        |JOIN uni u2 ON u2.tok = bb.w2
        |CROSS JOIN n
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      graft.operators.LanguageModel.interpolatedNegLogProb(
        Tables.documents(s, d), "doc_id", "text")
        .orderBy($"doc_id")
    },

    // CCNet-style head/middle/tail perplexity buckets via broadcast
    // quantile thresholds (not a global ntile sort — the 100 TB shape)
    Q.sql(
      "q118_ccnet_buckets",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
        |bb AS (
        |  SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
        |  FROM t WHERE len(w) >= 2),
        |uni AS (
        |  SELECT tok, count(*) AS c1 FROM (SELECT unnest(w) AS tok FROM t) GROUP BY tok),
        |bi AS (SELECT w1, w2, count(*) AS c12 FROM bb GROUP BY w1, w2),
        |v AS (SELECT count(*) AS v FROM uni),
        |scored AS (
        |  SELECT doc_id, round(avg(-ln((c12 + 1.0) / (c1 + v))), 4) AS nlp
        |  FROM bb JOIN bi USING (w1, w2) JOIN uni ON uni.tok = bb.w1 CROSS JOIN v
        |  GROUP BY doc_id),
        |th AS (
        |  SELECT round(quantile_cont(nlp, 1.0/3), 6) AS t1,
        |         round(quantile_cont(nlp, 2.0/3), 6) AS t2 FROM scored)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(min(nlp), 4) AS min_nlp, round(max(nlp), 4) AS max_nlp
        |FROM (
        |  SELECT doc_id, nlp,
        |    CASE WHEN nlp <= t1 THEN 'head' WHEN nlp <= t2 THEN 'middle' ELSE 'tail' END AS bucket
        |  FROM scored, th)
        |GROUP BY bucket
        |ORDER BY min(nlp)""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      graft.operators.LanguageModel.perplexityBuckets(
        Tables.documents(s, d), "doc_id", "text")
        .orderBy($"min_nlp")
    }
  )
}
