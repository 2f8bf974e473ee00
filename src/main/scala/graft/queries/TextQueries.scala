package graft.queries

import graft.{Q, Tables}
import graft.functions.TextFunctions._
import graft.operators.{Learning, Sketches, TextDedup}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: token counting
  * (whitespace + BPE-ish regex), quality scoring, language-ID
  * heuristic, content fingerprinting, exact dedup, and exhaustive
  * n-gram Jaccard (the baseline the LSH operators approximate).
  *
  * Every query is hash-matched against DuckDB running the same
  * deterministic arithmetic (see TextFunctions for the cross-engine
  * conventions; DuckDB regexp_replace needs the 'g' flag where Spark
  * is global by default).
  */
object TextQueries {

  // DuckDB replay of the langId marker arithmetic, shared by the
  // lang_id and q71_lang_confidence oracles so the two can never
  // silently diverge: occurrence counts via the padded length-diff
  // trick, summed per language, argmax as a tie-ordered CASE chain.
  private def langOccSql(m: String): String =
    s"CAST((length(' '||lower(text)||' ') - length(replace(' '||lower(text)||' ', ' $m ', ' '))) / ${m.length + 1} AS BIGINT)"
  private val langScoreSqls: Seq[String] =
    LangMarkers.map { case (_, ms) => ms.map(langOccSql).mkString("(", " + ", ")") }
  private val langCaseChainSql: String = {
    val scores = LangMarkers.map(_._1).zip(langScoreSqls)
    scores.zipWithIndex.foldRight("'und'") { case (((lang, s), i), rest) =>
      val later = scores.drop(i + 1).map(_._2)
      val conds = (s"$s > 0" +: later.map(l => s"$s >= $l")).mkString(" AND ")
      s"CASE WHEN $conds THEN '$lang' ELSE $rest END"
    }
  }

  val all: Seq[Q] = Seq(
    Q.sql(
      "text_tokens",
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '\p{L}+|\d+|[^\s\p{L}\d]')) AS BIGINT) AS n_regex_tokens,
        |  CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_distinct
        |FROM documents
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      // tokenize AFTER the sort: the final orderBy's range-bounds
      // sampling re-executes its child in full, so the three regex
      // tokenizations below the sort ran twice per row (sample pass +
      // shuffle map); above it they run once, on the range partitions.
      // Per-row regex work is µs-scale vs ns-scale for the extra text
      // bytes through the exchange, so this wins at every scale
      // (round 17, guide §1.4/§2.3).
      Tables.documents(s, d).select($"doc_id", $"text")
        .orderBy($"doc_id")
        .select(
          $"doc_id",
          tokenCount($"text").as("n_tokens"),
          size(regexTokens($"text")).cast("long").as("n_regex_tokens"),
          size(array_distinct(tokens($"text"))).cast("long").as("n_distinct"))
    },

    Q.sql(
      "text_quality",
      """SELECT doc_id,
        |  round(list_sum(list_transform(string_split_regex(trim(text), '\s+'), x -> length(x)))::DOUBLE
        |        / len(string_split_regex(trim(text), '\s+')), 4) AS avg_word_len,
        |  round(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |        w -> list_contains(['the','a','an','of','to','and','in','is','it','that'], w)))::DOUBLE
        |        / len(string_split_regex(trim(lower(text)), '\s+')), 4) AS stop_ratio,
        |  round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
        |        / greatest(length(text), 1), 4) AS punct_ratio
        |FROM documents
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      // quality scores after the sort — same move as text_tokens (the
      // orderBy sampling pass re-ran every regex twice)
      Tables.documents(s, d).select($"doc_id", $"text")
        .orderBy($"doc_id")
        .select(
          $"doc_id",
          round(avgWordLen($"text"), 4).as("avg_word_len"),
          round(stopwordRatio($"text"), 4).as("stop_ratio"),
          round(punctRatio($"text"), 4).as("punct_ratio"))
    },

    Q.sql(
      "lang_id",
      s"""SELECT doc_id, $langCaseChainSql AS pred_lang FROM documents ORDER BY doc_id"""
    ) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", langId($"text").as("pred_lang"))
        .orderBy($"doc_id")
    },

    // language-ID confidence: the winning score, the runner-up, and
    // the margin between them (exact integers — the routing signal for
    // "confident enough to keep" corpus filters)
    Q.sql(
      "q71_lang_confidence", {
        val sorted = s"list_sort([${langScoreSqls.mkString(", ")}])"
        val n = langScoreSqls.size
        s"""SELECT doc_id, $langCaseChainSql AS pred_lang,
           |  $sorted[$n] AS top_score,
           |  $sorted[${n - 1}] AS second_score,
           |  $sorted[$n] - $sorted[${n - 1}] AS margin
           |FROM documents ORDER BY doc_id""".stripMargin
      }
    ) { (s, d) =>
      import s.implicits._
      val lowered = lower($"text")
      val scoreCols = LangMarkers.map { case (_, ms) =>
        ms.map(m => occurrences(lowered, m)).reduce(_ + _)
      }
      val sorted = array_sort(array(scoreCols: _*))
      Tables.documents(s, d).select(
        $"doc_id",
        langId($"text").as("pred_lang"),
        element_at(sorted, -1).as("top_score"),
        element_at(sorted, -2).as("second_score"),
        (element_at(sorted, -1) - element_at(sorted, -2)).as("margin"))
        .orderBy($"doc_id")
    },

    Q.sql(
      "doc_fingerprint",
      """SELECT doc_id, md5(text) AS fp,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS canonical_fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      // fingerprints after the sort — same move as text_tokens (md5 +
      // canonicalizing regex otherwise run twice under the sampling)
      Tables.documents(s, d).select($"doc_id", $"text")
        .orderBy($"doc_id")
        .select(
          $"doc_id",
          fingerprint($"text").as("fp"),
          canonicalFingerprint($"text").as("canonical_fp"))
    },

    Q.sql(
      "exact_dedup_docs",
      """SELECT doc_id, canonical_fp FROM (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS canonical_fp,
        |    row_number() OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |                       ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      // survivors-only, and the only surviving payload is doc_id
      // itself — so the keep-first window collapses to min(doc_id)
      // per fingerprint: a plain HashAggregate, partial map-side, no
      // per-group sort buffer anywhere (round 17, guide §2.3)
      Tables.documents(s, d)
        .select(canonicalFingerprint($"text").as("canonical_fp"), $"doc_id")
        .groupBy($"canonical_fp")
        .agg(min($"doc_id").as("doc_id"))
        .select($"doc_id", $"canonical_fp")
        .orderBy($"doc_id")
    },

    // winnowing fingerprints (char 8-grams, window 4): per-doc summary
    // of the distinct window-minima sketch — the rolling-fingerprint
    // containment/overlap primitive.
    Q.sql(
      "doc_winnow_fp",
      """WITH kg AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(text) - 8 + 2), i ->
        |      CAST(('0x'||substr(md5(substr(text, i, 8)),1,15)) AS BIGINT)) AS h
        |  FROM documents WHERE length(text) >= 8),
        |win AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(h) - 4 + 2), i ->
        |      list_min(h[i:i+3]))) AS fps
        |  FROM kg)
        |SELECT doc_id,
        |  CAST(len(fps) AS BIGINT) AS n_fps,
        |  list_min(fps) AS min_fp,
        |  list_max(fps) AS max_fp
        |FROM win
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      Tables.documents(s, d)
        .filter(length($"text") >= 8)
        .select(
          $"doc_id",
          graft.functions.GraftFunctions.winnowFingerprints($"text", 8, 4).as("fps"))
        .select(
          $"doc_id",
          size($"fps").cast("long").as("n_fps"),
          array_min($"fps").as("min_fp"),
          array_max($"fps").as("max_fp"))
        .orderBy($"doc_id")
    },

    // exhaustive bigram-shingle Jaccard within a bounded id range —
    // the exactness baseline for the MinHash/SimHash operators.
    Q.sql(
      "ngram_jaccard_pairs",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents WHERE doc_id < 200),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS sh
        |  FROM t)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(a.sh || b.sh)), 4) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(a.sh || b.sh)), 4) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      TextDedup.ngramJaccardPairs(
        Tables.documents(s, d).filter($"doc_id" < 200), "doc_id", "text",
        shingleN = 2, threshold = 0.8)
        .orderBy($"id_a", $"id_b")
    },

    // count-min sketch heavy hitters: 4x64 md5-seeded sketch, point
    // estimates for the exact top-20 tokens — estimates can only
    // overcount, and the whole sketch is 256 counters regardless of
    // corpus size
    Q.sql(
      "q100_cms_heavy",
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok FROM documents),
        |ex AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt FROM toks GROUP BY tok),
        |top AS (SELECT tok, exact_cnt FROM ex ORDER BY exact_cnt DESC, tok LIMIT 20),
        |rb AS (
        |  SELECT tok, j,
        |    ('0x' || substr(md5(tok || '#' || CAST(j AS VARCHAR)), 1, 15))::BIGINT % 64 AS bucket
        |  FROM (SELECT tok, unnest(range(0, 4)) AS j FROM toks)),
        |sk AS (SELECT j, bucket, CAST(count(*) AS BIGINT) AS cnt FROM rb GROUP BY j, bucket),
        |est AS (
        |  SELECT q.tok, min(s.cnt) AS cms_est
        |  FROM (SELECT tok, unnest(range(0, 4)) AS j FROM top) q
        |  JOIN sk s ON s.j = q.j
        |   AND s.bucket = ('0x' || substr(md5(q.tok || '#' || CAST(q.j AS VARCHAR)), 1, 15))::BIGINT % 64
        |  GROUP BY q.tok)
        |SELECT top.tok, top.exact_cnt, est.cms_est FROM top JOIN est USING (tok) ORDER BY tok""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select(explode(tokens(lower($"text"))).as("tok"))
      val exact = toks.groupBy($"tok").agg(count(lit(1)).as("exact_cnt"))
      val top = exact.orderBy($"exact_cnt".desc, $"tok").limit(20)
      val sketch = Sketches.countMinSketch(toks, "tok", rows = 4, width = 64)
      top.join(Sketches.cmsEstimate(sketch, top, "tok", rows = 4, width = 64), "tok")
        .select($"tok", $"exact_cnt", $"cms_est")
        .orderBy($"tok")
    },

    // code-switch profile: language-ID per 20-token window, count
    // windows / distinct window languages / consecutive switches —
    // mixed-language docs that whole-doc langid cannot see; reuses
    // the SAME marker CASE chain as lang_id so the two stay fused
    Q.sql(
      "q111_lang_mix",
      s"""WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
        |c AS (
        |  SELECT doc_id, chunk_idx,
        |    array_to_string(w[chunk_idx*20+1 : chunk_idx*20+20], ' ') AS text
        |  FROM (
        |    SELECT doc_id, w,
        |      unnest(range(greatest((len(w) + 19) // 20, 1))) AS chunk_idx
        |    FROM t)),
        |l AS (
        |  SELECT doc_id, chunk_idx, $langCaseChainSql AS wl,
        |    lag($langCaseChainSql) OVER (PARTITION BY doc_id ORDER BY chunk_idx) AS pl
        |  FROM c)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(count(DISTINCT wl) AS BIGINT) AS n_langs,
        |  CAST(sum(CASE WHEN pl IS NOT NULL AND pl <> wl THEN 1 ELSE 0 END) AS BIGINT) AS switches
        |FROM l
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      graft.operators.LanguageModel.codeSwitchProfile(
        Tables.documents(s, d), "doc_id", "text", windowTokens = 20)
        .orderBy($"doc_id")
    },

    // Zipf fit over the frequency-rank curve (regression on the
    // log-log top-1000 types) — natural corpora slope toward -1;
    // deviations flag synthetic or templated text. Windows run over
    // TYPES only, like q94
    Q.sql(
      "q123_zipf_slope",
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok FROM documents),
        |cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok),
        |r AS (SELECT tok, c, CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS rnk FROM cnt)
        |SELECT CAST(count(*) AS BIGINT) AS n_types,
        |  round(regr_slope(ln(c), ln(rnk)), 6) AS zipf_slope,
        |  round(regr_r2(ln(c), ln(rnk)), 6) AS r2
        |FROM r WHERE rnk <= 1000""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val cnt = Tables.documents(s, d)
        .select(explode(tokens(lower($"text"))).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window.orderBy($"c".desc, $"tok")
      cnt.withColumn("rnk", row_number().over(w).cast("long"))
        .filter($"rnk" <= 1000)
        .agg(
          count(lit(1)).as("n_types"),
          round(regr_slope(log($"c"), log($"rnk")), 6).as("zipf_slope"),
          round(regr_r2(log($"c"), log($"rnk")), 6).as("r2"))
    },

    // source-discriminative vocabulary: chi-squared association of
    // token presence with source over the 2xK contingency reduced
    // relationally (marginal broadcast, never the full table) —
    // degenerate everywhere-tokens (r1 = N) are excluded, top 20
    Q.sql(
      "q135_chi2_tokens",
      """WITH pairs AS (
        |  SELECT DISTINCT doc_id, source AS cls,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS item
        |  FROM documents),
        |tot AS (SELECT source AS cls, CAST(count(*) AS BIGINT) AS n_cls
        |  FROM documents GROUP BY 1),
        |present AS (SELECT item, cls, CAST(count(*) AS BIGINT) AS o1
        |  FROM pairs GROUP BY 1, 2),
        |items AS (SELECT DISTINCT item FROM present),
        |byitem AS (SELECT i.item, t.cls, t.n_cls, coalesce(p.o1, 0) AS o1
        |  FROM items i CROSS JOIN tot t
        |  LEFT JOIN present p ON p.item = i.item AND p.cls = t.cls),
        |n AS (SELECT CAST(sum(n_cls) AS BIGINT) AS nn FROM tot),
        |r1 AS (SELECT item, CAST(sum(o1) AS BIGINT) AS r1 FROM byitem GROUP BY 1),
        |cells AS (SELECT b.item, b.n_cls, b.o1, r1.r1, n.nn,
        |    b.n_cls * r1.r1 / n.nn AS e1,
        |    b.n_cls * (n.nn - r1.r1) / n.nn AS e0
        |  FROM byitem b JOIN r1 USING (item) CROSS JOIN n
        |  WHERE r1.r1 < n.nn)
        |SELECT item AS token,
        |  round(sum(pow(o1 - e1, 2) / e1 + pow(n_cls - o1 - e0, 2) / e0), 6) AS chi2,
        |  CAST(max(r1) AS BIGINT) AS doc_freq
        |FROM cells GROUP BY item ORDER BY chi2 DESC, token LIMIT 20""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val pairs = docs
        .select($"doc_id", $"source".as("cls"),
          explode(tokens(trim(lower($"text")))).as("item"))
        .distinct()
      val tot = docs.groupBy($"source".as("cls")).agg(count(lit(1)).as("n_cls"))
      Learning.chi2Presence(pairs.select($"item", $"cls"), tot)
        .select($"item".as("token"), $"chi2", $"doc_freq")
        .orderBy($"chi2".desc, $"token")
        .limit(20)
    },

    // multinomial Naive Bayes source classifier with add-one
    // smoothing, trained and resubstitution-scored relationally —
    // the model is the |vocab| x K logprob frame, never collected;
    // output is the source confusion matrix. The oracle scores off
    // per-doc token MULTIPLICITIES (sum cnt·ll == sum-over-instances
    // in real arithmetic; round-6 absorbs the fp order — same move
    // the Spark side's scoreAndConfuse makes) with the reused frames
    // MATERIALIZED: the instance-level scoring join replayed >80 GB
    // at the 5M-doc corpus, the multiplicity join is |distinct
    // doc-token pairs| × K. Verified row-identical to the
    // instance-level form at sf0.01 and sf0.1.
    Q.sql(
      "q140_naive_bayes",
      """WITH toks AS MATERIALIZED (SELECT doc_id AS id, source AS cls,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok FROM documents),
        |tm AS MATERIALIZED (SELECT id, cls, tok, CAST(count(*) AS BIGINT) AS cnt
        |  FROM toks GROUP BY 1, 2, 3),
        |clsdocs AS (SELECT source AS cls, CAST(count(*) AS BIGINT) AS nd
        |  FROM documents GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |prior AS (SELECT cls, ln(nd * 1.0 / n) AS lprior FROM clsdocs CROSS JOIN nn),
        |tokcls AS MATERIALIZED (SELECT tok, cls, CAST(sum(cnt) AS BIGINT) AS c
        |  FROM tm GROUP BY 1, 2),
        |clstok AS (SELECT cls, CAST(sum(c) AS BIGINT) AS tt FROM tokcls GROUP BY 1),
        |vocab AS (SELECT DISTINCT tok FROM tokcls),
        |vn AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
        |grid AS MATERIALIZED (SELECT vocab.tok, clstok.cls AS scls,
        |    ln((coalesce(tokcls.c, 0) + 1.0) / (clstok.tt + vn.v)) AS ll
        |  FROM vocab CROSS JOIN clstok
        |  LEFT JOIN tokcls ON tokcls.tok = vocab.tok AND tokcls.cls = clstok.cls
        |  CROSS JOIN vn),
        |scores AS (SELECT tm.id, tm.cls, grid.scls, sum(tm.cnt * grid.ll) AS s
        |  FROM tm JOIN grid ON grid.tok = tm.tok GROUP BY 1, 2, 3),
        |sc2 AS (SELECT scores.id, scores.cls, scores.scls,
        |    round(scores.s + prior.lprior, 6) AS score
        |  FROM scores JOIN prior ON prior.cls = scores.scls)
        |SELECT cls, scls AS pred, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT id, cls, scls,
        |    row_number() OVER (PARTITION BY id ORDER BY score DESC, scls) AS rk
        |  FROM sc2) WHERE rk = 1
        |GROUP BY 1, 2 ORDER BY cls, pred""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Learning.naiveBayesConfusion(Tables.documents(s, d), "doc_id", "text", "source")
        .orderBy($"cls", $"pred")
    }
  )
}
