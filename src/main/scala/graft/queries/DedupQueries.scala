package graft.queries

import graft.{Q, Tables}
import graft.operators.{DupGraph, Similarity, TextDedup}
import org.apache.spark.sql.functions._

/** Near-duplicate detection at the operator level: MinHash+LSH over
  * the full documents table, banded SimHash, and embedding-cosine
  * pairs. Each oracle replicates the *entire* algorithm (signatures,
  * banding, verification) in DuckDB SQL with the shared md5-based
  * 60-bit hash, so the hash-match certifies algorithmic identity, not
  * just plausible output.
  */
object DedupQueries {

  val all: Seq[Q] = Seq(
    Q.sql(
      "minhash_lsh_dup",
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]),
        |      s -> CAST(('0x'||substr(md5(s),1,15)) AS BIGINT))) AS sh
        |  FROM tok WHERE len(w) >= 2),
        |sig AS (
        |  SELECT doc_id, sh,
        |    list_transform(range(0, 12), j ->
        |      list_min(list_transform(sh, h ->
        |        ((xor(h, CAST(('0x'||substr(md5('a#'||j),1,15)) AS BIGINT))
        |          + CAST(('0x'||substr(md5('b#'||j),1,15)) AS BIGINT))
        |         & 1152921504606846975)))) AS sig
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, sh, b,
        |    md5(CAST(sig[b*3+1] AS VARCHAR) || '_' || CAST(sig[b*3+2] AS VARCHAR)
        |        || '_' || CAST(sig[b*3+3] AS VARCHAR)) AS bkey
        |  FROM sig, range(0,4) r(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |verified AS (
        |  SELECT c.id_a, c.id_b,
        |    round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(sa.sh || sb.sh)), 4) AS jaccard
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.id_a
        |  JOIN sh sb ON sb.doc_id = c.id_b)
        |SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.8
        |ORDER BY id_a, id_b""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      TextDedup.minhashLshPairs(
        Tables.documents(s, d), "doc_id", "text",
        numHashes = 12, bands = 4, shingleN = 2, threshold = 0.8)
        .orderBy($"id_a", $"id_b")
    },

    Q.sql(
      "simhash_dup",
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents WHERE doc_id < 200),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]),
        |      s -> CAST(('0x'||substr(md5(s),1,15)) AS BIGINT))) AS g
        |  FROM tok),
        |sim AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_transform(range(0, 60), b ->
        |        CASE WHEN list_sum(list_transform(g, h ->
        |          CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |        THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
        |      (acc, x) -> acc * 2 + x) AS sh
        |  FROM sh)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 10
        |ORDER BY id_a, id_b""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      TextDedup.simhashPairs(
        Tables.documents(s, d).filter($"doc_id" < 200), "doc_id", "text",
        maxHamming = 10, shingleN = 2)
        .orderBy($"id_a", $"id_b")
    },

    Q.sql(
      "embedding_cosine_dup",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 300)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v)
        |        / sqrt(list_dot_product(a.v, a.v))
        |        / sqrt(list_dot_product(b.v, b.v)), 6) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.v, b.v)
        |        / sqrt(list_dot_product(a.v, a.v))
        |        / sqrt(list_dot_product(b.v, b.v)), 6) >= 0.40
        |ORDER BY id_a, id_b""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Similarity.cosineDupPairs(
        Tables.embeddings(s, d).filter($"vec_id" < 300), "vec_id", "embedding",
        threshold = 0.40)
        .orderBy($"id_a", $"id_b")
    },

    // near-dup pairs → clusters: connected components by iterative
    // min-label propagation (Spark) vs a recursive-CTE transitive
    // closure (DuckDB) — one canonical id per dup family
    Q.sql(
      "dup_components",
      """WITH RECURSIVE
        |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        |      FROM embeddings WHERE vec_id < 300),
        |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib
        |      FROM v a JOIN v b ON a.vec_id < b.vec_id
        |      WHERE round(list_dot_product(a.vv, b.vv)
        |            / sqrt(list_dot_product(a.vv, a.vv))
        |            / sqrt(list_dot_product(b.vv, b.vv)), 6) >= 0.40),
        |edges AS (SELECT ia AS a, ib AS b FROM p UNION SELECT ib, ia FROM p),
        |walk AS (
        |  SELECT a AS node, a AS label FROM edges
        |  UNION
        |  SELECT e2.a AS node, w.label AS label FROM edges e2 JOIN walk w ON w.node = e2.b
        |)
        |SELECT node, CAST(min(label) AS BIGINT) AS component
        |FROM walk GROUP BY node ORDER BY node""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val pairs = Similarity.cosineDupPairs(
        Tables.embeddings(s, d).filter($"vec_id" < 300), "vec_id", "embedding",
        threshold = 0.40)
      DupGraph.connectedComponents(pairs).orderBy($"node")
    },

    // clusters → canonical survivors: one row per dup family (its min
    // id) plus everything unpaired — the complete near-dedup output
    Q.sql(
      "near_dedup_survivors",
      """WITH RECURSIVE
        |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        |      FROM embeddings WHERE vec_id < 300),
        |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib
        |      FROM v a JOIN v b ON a.vec_id < b.vec_id
        |      WHERE round(list_dot_product(a.vv, b.vv)
        |            / sqrt(list_dot_product(a.vv, a.vv))
        |            / sqrt(list_dot_product(b.vv, b.vv)), 6) >= 0.40),
        |edges AS (SELECT ia AS a, ib AS b FROM p UNION SELECT ib, ia FROM p),
        |walk AS (
        |  SELECT a AS node, a AS label FROM edges
        |  UNION
        |  SELECT e2.a AS node, w.label AS label FROM edges e2 JOIN walk w ON w.node = e2.b
        |)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id < 300 AND vec_id NOT IN (
        |  SELECT node FROM walk GROUP BY node HAVING min(label) <> node)
        |ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).filter($"vec_id" < 300)
      val pairs = Similarity.cosineDupPairs(emb, "vec_id", "embedding", threshold = 0.40)
      val (survivors, _) = DupGraph.nearDedupSurvivors(emb, "vec_id", pairs)
      survivors.select($"vec_id").orderBy($"vec_id")
    },

    // the O(log n)-round star-contraction CC (for graphs whose
    // DIAMETER rules out label propagation), certified against the
    // same recursive-CTE transitive closure — here over the MinHash
    // near-dup pair graph of the documents table, so the whole
    // shingle→signature→band→verify→cluster chain is replayed in SQL.
    // The chain CTEs are MATERIALIZED: DuckDB otherwise inlines them
    // into the recursive term and re-runs the full LSH chain once per
    // closure round (measured 18.0→2.5 s at sf0.1, identical rows —
    // and the difference between a multi-hour wall and minutes at the
    // 5M-doc replica, since rounds × chain is quadratic-ish there
    // while chain-once + the small per-family closure is linear)
    Q.sql(
      "q72_cc_stars",
      """WITH RECURSIVE
        |tok AS MATERIALIZED (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]),
        |      s -> CAST(('0x'||substr(md5(s),1,15)) AS BIGINT))) AS sh
        |  FROM tok WHERE len(w) >= 2),
        |sig AS MATERIALIZED (
        |  SELECT doc_id, sh,
        |    list_transform(range(0, 12), j ->
        |      list_min(list_transform(sh, h ->
        |        ((xor(h, CAST(('0x'||substr(md5('a#'||j),1,15)) AS BIGINT))
        |          + CAST(('0x'||substr(md5('b#'||j),1,15)) AS BIGINT))
        |         & 1152921504606846975)))) AS sig
        |  FROM sh),
        |bands AS MATERIALIZED (
        |  SELECT doc_id, sh, b,
        |    md5(CAST(sig[b*3+1] AS VARCHAR) || '_' || CAST(sig[b*3+2] AS VARCHAR)
        |        || '_' || CAST(sig[b*3+3] AS VARCHAR)) AS bkey
        |  FROM sig, range(0,4) r(b)),
        |cand AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |p AS MATERIALIZED (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.id_a
        |  JOIN sh sb ON sb.doc_id = c.id_b
        |  WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(sa.sh || sb.sh)), 4) >= 0.8),
        |edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
        |walk AS (
        |  SELECT a AS node, a AS label FROM edges
        |  UNION
        |  SELECT e2.a AS node, w2.label AS label FROM edges e2 JOIN walk w2 ON w2.node = e2.b
        |)
        |SELECT node, CAST(min(label) AS BIGINT) AS component
        |FROM walk GROUP BY node ORDER BY node""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val pairs = TextDedup.minhashLshPairs(
        Tables.documents(s, d), "doc_id", "text",
        numHashes = 12, bands = 4, shingleN = 2, threshold = 0.8)
      DupGraph.connectedComponentsStars(pairs).orderBy($"node")
    },

    // clusters → curation: keep the LONGEST member of each near-dup
    // family (deterministic doc_id tiebreak) — representative
    // selection by quality rather than by min id
    Q.sql(
      "q73_cluster_reps",
      """WITH RECURSIVE
        |tok AS MATERIALIZED (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]),
        |      s -> CAST(('0x'||substr(md5(s),1,15)) AS BIGINT))) AS sh
        |  FROM tok WHERE len(w) >= 2),
        |sig AS MATERIALIZED (
        |  SELECT doc_id, sh,
        |    list_transform(range(0, 12), j ->
        |      list_min(list_transform(sh, h ->
        |        ((xor(h, CAST(('0x'||substr(md5('a#'||j),1,15)) AS BIGINT))
        |          + CAST(('0x'||substr(md5('b#'||j),1,15)) AS BIGINT))
        |         & 1152921504606846975)))) AS sig
        |  FROM sh),
        |bands AS MATERIALIZED (
        |  SELECT doc_id, sh, b,
        |    md5(CAST(sig[b*3+1] AS VARCHAR) || '_' || CAST(sig[b*3+2] AS VARCHAR)
        |        || '_' || CAST(sig[b*3+3] AS VARCHAR)) AS bkey
        |  FROM sig, range(0,4) r(b)),
        |cand AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |p AS MATERIALIZED (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.id_a
        |  JOIN sh sb ON sb.doc_id = c.id_b
        |  WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(sa.sh || sb.sh)), 4) >= 0.8),
        |edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
        |walk AS (
        |  SELECT a AS node, a AS label FROM edges
        |  UNION
        |  SELECT e2.a AS node, w2.label AS label FROM edges e2 JOIN walk w2 ON w2.node = e2.b
        |),
        |comp AS MATERIALIZED (SELECT node, min(label) AS component FROM walk GROUP BY node),
        |lab AS MATERIALIZED (
        |  SELECT d.doc_id, d.n_chars, CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component
        |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
        |SELECT component, doc_id AS rep_id, n_members FROM (
        |  SELECT component, doc_id,
        |    row_number() OVER (PARTITION BY component ORDER BY n_chars DESC, doc_id) AS rn,
        |    CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS n_members
        |  FROM lab) WHERE rn = 1 AND n_members >= 2
        |ORDER BY component""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val pairs = TextDedup.minhashLshPairs(
        docs, "doc_id", "text", numHashes = 12, bands = 4, shingleN = 2, threshold = 0.8)
      DupGraph.pickRepresentatives(
        docs, "doc_id", pairs, Seq(col("n_chars").desc, col("doc_id").asc))
        .filter($"n_members" >= 2)
        .select($"component", $"doc_id".as("rep_id"), $"n_members")
        // materialize before the total sort (the range partitioner's
        // sampling pass would otherwise re-run CC + windows)
        .localCheckpoint(true)
        .orderBy($"component")
    },

    // fuzzy vocabulary join WITHOUT a cross product: deletion
    // neighborhoods (SymSpell/FastSS) — candidates from an equi-join
    // on (word ∪ single-char deletions), exact levenshtein verify.
    // q29's exhaustive pair space is the baseline this replaces at
    // scale.
    Q.sql(
      "q74_edit1_join",
      """WITH vv AS (SELECT DISTINCT c_name AS w FROM customer),
        |k AS (
        |  SELECT w, unnest(list_distinct(list_prepend(w,
        |    list_transform(range(1, len(w)+1),
        |      i -> substr(w, 1, i-1) || substr(w, i+1, len(w)))))) AS key
        |  FROM vv),
        |cand AS (
        |  SELECT DISTINCT a.w AS word_a, b.w AS word_b
        |  FROM k a JOIN k b ON a.key = b.key AND a.w < b.w)
        |SELECT word_a, word_b, CAST(levenshtein(word_a, word_b) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(word_a, word_b) <= 1
        |ORDER BY word_a, word_b""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val vocab = Tables.customer(s, d).select($"c_name".as("w")).distinct()
      // no checkpoint before the total sort: the expensive
      // candidate+verify work sits on the map side of the dedup
      // exchange, so under AQE the orderBy's range sampling reads the
      // materialized shuffle stage instead of recomputing the
      // neighborhood join (measured: the eager localCheckpoint now
      // COSTS ~1s at sf0.1 rather than saving a double-compute)
      TextDedup.editDistance1Pairs(vocab, "w")
        .orderBy($"word_a", $"word_b")
    },

    // Lee et al. substring-dedup, detection half: maximal token spans
    // covered by word 8-grams occurring >1× corpus-wide. The oracle
    // replays the Spark pipeline exactly — same hash60 n-gram keys
    // (so even a hash collision would reproduce), same running-max
    // island merge
    Q.sql(
      "q89_dup_ngram_spans",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
        |toks AS (
        |  SELECT doc_id, CAST(unnest(range(0, len(w))) AS BIGINT) AS pos, unnest(w) AS tok
        |  FROM t),
        |ng AS (
        |  SELECT doc_id, pos,
        |    CAST(('0x' || substr(md5(
        |      tok || ' ' || lead(tok,1) OVER w2 || ' ' || lead(tok,2) OVER w2
        |          || ' ' || lead(tok,3) OVER w2 || ' ' || lead(tok,4) OVER w2
        |          || ' ' || lead(tok,5) OVER w2 || ' ' || lead(tok,6) OVER w2
        |          || ' ' || lead(tok,7) OVER w2), 1, 15)) AS BIGINT) AS nh
        |  FROM toks WINDOW w2 AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok,7) OVER w2 IS NOT NULL),
        |dup AS (SELECT nh FROM ng GROUP BY nh HAVING count(*) > 1),
        |hits AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM ng JOIN dup USING (nh)),
        |isl AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS brk
        |  FROM hits),
        |grp AS (
        |  SELECT doc_id, s, e,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS g
        |  FROM isl)
        |SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start, CAST(max(e) AS BIGINT) AS span_end
        |FROM grp GROUP BY doc_id, g
        |ORDER BY doc_id, span_start""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      TextDedup.duplicateNgramSpans(Tables.documents(s, d), "doc_id", "text", n = 8)
        .orderBy($"doc_id", $"span_start")
    },

    // substring-dedup, scrub half: drop covered tokens, stitch the
    // rest in position order; certified by token count + a 12-hex md5
    // of the reassembled text (fully-covered documents vanish)
    Q.sql(
      "q90_span_scrub",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
        |toks AS (
        |  SELECT doc_id, CAST(unnest(range(0, len(w))) AS BIGINT) AS pos, unnest(w) AS tok
        |  FROM t),
        |ng AS (
        |  SELECT doc_id, pos,
        |    CAST(('0x' || substr(md5(
        |      tok || ' ' || lead(tok,1) OVER w2 || ' ' || lead(tok,2) OVER w2
        |          || ' ' || lead(tok,3) OVER w2 || ' ' || lead(tok,4) OVER w2
        |          || ' ' || lead(tok,5) OVER w2 || ' ' || lead(tok,6) OVER w2
        |          || ' ' || lead(tok,7) OVER w2), 1, 15)) AS BIGINT) AS nh
        |  FROM toks WINDOW w2 AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok,7) OVER w2 IS NOT NULL),
        |dup AS (SELECT nh FROM ng GROUP BY nh HAVING count(*) > 1),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos + off AS pos
        |  FROM ng JOIN dup USING (nh), range(0, 8) r(off)),
        |kept AS (
        |  SELECT t2.doc_id, t2.pos, t2.tok FROM toks t2
        |  ANTI JOIN cov c ON t2.doc_id = c.doc_id AND t2.pos = c.pos)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |  substr(md5(string_agg(tok, ' ' ORDER BY pos)), 1, 12) AS clean_sig
        |FROM kept GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      // the scrub supplies the terminal doc_id order with the
      // O(tokens × spans) scrub above the sort (computed once); this
      // projection — md5 of the stitched text — rides above it too
      TextDedup.removeDuplicateSpans(Tables.documents(s, d), "doc_id", "text", n = 8)
        .select($"doc_id", $"n_kept",
          substring(md5($"clean_text"), 1, 12).as("clean_sig"))
    },

    // per-doc 8-gram novelty: share of windows also seen in ANOTHER
    // document (distinct-doc frequency > 1) — the memorization /
    // boilerplate signal dual to the q89 span detector
    Q.sql(
      "q99_ngram_novelty",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
        |toks AS (
        |  SELECT doc_id, CAST(unnest(range(0, len(w))) AS BIGINT) AS pos, unnest(w) AS tok
        |  FROM t),
        |ng AS (
        |  SELECT doc_id, pos,
        |    CAST(('0x' || substr(md5(
        |      tok || ' ' || lead(tok,1) OVER w2 || ' ' || lead(tok,2) OVER w2
        |          || ' ' || lead(tok,3) OVER w2 || ' ' || lead(tok,4) OVER w2
        |          || ' ' || lead(tok,5) OVER w2 || ' ' || lead(tok,6) OVER w2
        |          || ' ' || lead(tok,7) OVER w2), 1, 15)) AS BIGINT) AS nh
        |  FROM toks WINDOW w2 AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok,7) OVER w2 IS NOT NULL),
        |ddf AS (SELECT nh, count(DISTINCT doc_id) AS d FROM ng GROUP BY nh)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS shared_grams,
        |  round(1.0 - CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS novelty
        |FROM ng JOIN ddf USING (nh)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      TextDedup.ngramNovelty(Tables.documents(s, d), "doc_id", "text", n = 8)
        .orderBy($"doc_id")
    },

    // sketch-quality probe: signature-estimated Jaccard (matching
    // minhash positions / 12) vs exact shingle Jaccard on every LSH
    // candidate pair — the "how many hashes do we need" measurement
    Q.sql(
      "q105_minhash_acc",
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]),
        |      s -> CAST(('0x'||substr(md5(s),1,15)) AS BIGINT))) AS sh
        |  FROM tok WHERE len(w) >= 2),
        |sig AS (
        |  SELECT doc_id, sh,
        |    list_transform(range(0, 12), j ->
        |      list_min(list_transform(sh, h ->
        |        ((xor(h, CAST(('0x'||substr(md5('a#'||j),1,15)) AS BIGINT))
        |          + CAST(('0x'||substr(md5('b#'||j),1,15)) AS BIGINT))
        |         & 1152921504606846975)))) AS sig
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, b,
        |    md5(CAST(sig[b*3+1] AS VARCHAR) || '_' || CAST(sig[b*3+2] AS VARCHAR)
        |        || '_' || CAST(sig[b*3+3] AS VARCHAR)) AS bkey
        |  FROM sig, range(0,4) r(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |scored AS (
        |  SELECT c.id_a, c.id_b,
        |    round(len(list_filter(range(0, 12), j -> sa.sig[j+1] = sb.sig[j+1]))::DOUBLE / 12, 4) AS est_jaccard,
        |    round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(sa.sh || sb.sh)), 4) AS jaccard
        |  FROM cand c
        |  JOIN sig sa ON sa.doc_id = c.id_a
        |  JOIN sig sb ON sb.doc_id = c.id_b)
        |SELECT id_a, id_b, est_jaccard, jaccard, round(abs(est_jaccard - jaccard), 4) AS abs_err
        |FROM scored
        |ORDER BY id_a, id_b""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      TextDedup.minhashEstimateAccuracy(
        Tables.documents(s, d), "doc_id", "text",
        numHashes = 12, bands = 4, shingleN = 2)
        .orderBy($"id_a", $"id_b")
    },

    // cross-source duplication matrix: verified near-dup pairs per
    // unordered source pair — the mirror/re-crawl leakage dashboard
    Q.sql(
      "q113_cross_source_dups",
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]),
        |      s -> CAST(('0x'||substr(md5(s),1,15)) AS BIGINT))) AS sh
        |  FROM tok WHERE len(w) >= 2),
        |sig AS (
        |  SELECT doc_id, sh,
        |    list_transform(range(0, 12), j ->
        |      list_min(list_transform(sh, h ->
        |        ((xor(h, CAST(('0x'||substr(md5('a#'||j),1,15)) AS BIGINT))
        |          + CAST(('0x'||substr(md5('b#'||j),1,15)) AS BIGINT))
        |         & 1152921504606846975)))) AS sig
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, sh, b,
        |    md5(CAST(sig[b*3+1] AS VARCHAR) || '_' || CAST(sig[b*3+2] AS VARCHAR)
        |        || '_' || CAST(sig[b*3+3] AS VARCHAR)) AS bkey
        |  FROM sig, range(0,4) r(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |verified AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.id_a
        |  JOIN sh sb ON sb.doc_id = c.id_b
        |  WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(sa.sh || sb.sh)), 4) >= 0.8)
        |SELECT least(da.source, db.source) AS src_a, greatest(da.source, db.source) AS src_b,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM verified v
        |JOIN documents da ON da.doc_id = v.id_a
        |JOIN documents db ON db.doc_id = v.id_b
        |GROUP BY 1, 2
        |ORDER BY src_a, src_b""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      TextDedup.crossGroupDupMatrix(
        Tables.documents(s, d), "doc_id", "text", "source")
        .orderBy($"src_a", $"src_b")
    },

    // per-source near-duplication rate: which crawls to down-weight
    Q.sql(
      "q114_source_dup_rate",
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]),
        |      s -> CAST(('0x'||substr(md5(s),1,15)) AS BIGINT))) AS sh
        |  FROM tok WHERE len(w) >= 2),
        |sig AS (
        |  SELECT doc_id, sh,
        |    list_transform(range(0, 12), j ->
        |      list_min(list_transform(sh, h ->
        |        ((xor(h, CAST(('0x'||substr(md5('a#'||j),1,15)) AS BIGINT))
        |          + CAST(('0x'||substr(md5('b#'||j),1,15)) AS BIGINT))
        |         & 1152921504606846975)))) AS sig
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, sh, b,
        |    md5(CAST(sig[b*3+1] AS VARCHAR) || '_' || CAST(sig[b*3+2] AS VARCHAR)
        |        || '_' || CAST(sig[b*3+3] AS VARCHAR)) AS bkey
        |  FROM sig, range(0,4) r(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |verified AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.id_a
        |  JOIN sh sb ON sb.doc_id = c.id_b
        |  WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(sa.sh || sb.sh)), 4) >= 0.8),
        |dup_docs AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT id_a AS doc_id FROM verified UNION ALL SELECT id_b FROM verified))
        |SELECT d.source AS source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(dd.doc_id) AS BIGINT) AS n_dup_docs,
        |  round(CAST(count(dd.doc_id) AS DOUBLE) / count(*), 6) AS dup_rate
        |FROM documents d LEFT JOIN dup_docs dd ON dd.doc_id = d.doc_id
        |GROUP BY d.source
        |ORDER BY source""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      TextDedup.groupDupRate(
        Tables.documents(s, d), "doc_id", "text", "source")
        .orderBy($"source")
    },

    // LSH banding tuning table: candidates/verified/precision for
    // every (bands x rows) split of ONE 12-hash signature frame — the
    // recall-vs-verify-cost dial read off real data before a big run
    Q.sql(
      "q125_lsh_tuning",
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]),
        |      s -> CAST(('0x'||substr(md5(s),1,15)) AS BIGINT))) AS sh
        |  FROM tok WHERE len(w) >= 2),
        |sig AS MATERIALIZED (
        |  SELECT doc_id, sh,
        |    list_transform(range(0, 12), j ->
        |      list_min(list_transform(sh, h ->
        |        ((xor(h, CAST(('0x'||substr(md5('a#'||j),1,15)) AS BIGINT))
        |          + CAST(('0x'||substr(md5('b#'||j),1,15)) AS BIGINT))
        |         & 1152921504606846975)))) AS sig
        |  FROM sh),
        |bands_2 AS (
        |  SELECT doc_id, b, md5(CAST(sig[b*6+1] AS VARCHAR) || '_' || CAST(sig[b*6+2] AS VARCHAR) || '_' || CAST(sig[b*6+3] AS VARCHAR) || '_' || CAST(sig[b*6+4] AS VARCHAR) || '_' || CAST(sig[b*6+5] AS VARCHAR) || '_' || CAST(sig[b*6+6] AS VARCHAR)) AS bkey
        |  FROM sig, range(0, 2) t(b)),
        |cand_2 AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b
        |  FROM bands_2 a JOIN bands_2 x ON a.b = x.b AND a.bkey = x.bkey AND a.doc_id < x.doc_id),
        |ver_2 AS (
        |  SELECT count(*) AS nv FROM cand_2 c
        |  JOIN sig sa ON sa.doc_id = c.id_a
        |  JOIN sig sb ON sb.doc_id = c.id_b
        |  WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(sa.sh || sb.sh)), 4) >= 0.8),
        |bands_3 AS (
        |  SELECT doc_id, b, md5(CAST(sig[b*4+1] AS VARCHAR) || '_' || CAST(sig[b*4+2] AS VARCHAR) || '_' || CAST(sig[b*4+3] AS VARCHAR) || '_' || CAST(sig[b*4+4] AS VARCHAR)) AS bkey
        |  FROM sig, range(0, 3) t(b)),
        |cand_3 AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b
        |  FROM bands_3 a JOIN bands_3 x ON a.b = x.b AND a.bkey = x.bkey AND a.doc_id < x.doc_id),
        |ver_3 AS (
        |  SELECT count(*) AS nv FROM cand_3 c
        |  JOIN sig sa ON sa.doc_id = c.id_a
        |  JOIN sig sb ON sb.doc_id = c.id_b
        |  WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(sa.sh || sb.sh)), 4) >= 0.8),
        |bands_4 AS (
        |  SELECT doc_id, b, md5(CAST(sig[b*3+1] AS VARCHAR) || '_' || CAST(sig[b*3+2] AS VARCHAR) || '_' || CAST(sig[b*3+3] AS VARCHAR)) AS bkey
        |  FROM sig, range(0, 4) t(b)),
        |cand_4 AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b
        |  FROM bands_4 a JOIN bands_4 x ON a.b = x.b AND a.bkey = x.bkey AND a.doc_id < x.doc_id),
        |ver_4 AS (
        |  SELECT count(*) AS nv FROM cand_4 c
        |  JOIN sig sa ON sa.doc_id = c.id_a
        |  JOIN sig sb ON sb.doc_id = c.id_b
        |  WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(sa.sh || sb.sh)), 4) >= 0.8),
        |bands_6 AS (
        |  SELECT doc_id, b, md5(CAST(sig[b*2+1] AS VARCHAR) || '_' || CAST(sig[b*2+2] AS VARCHAR)) AS bkey
        |  FROM sig, range(0, 6) t(b)),
        |cand_6 AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b
        |  FROM bands_6 a JOIN bands_6 x ON a.b = x.b AND a.bkey = x.bkey AND a.doc_id < x.doc_id),
        |ver_6 AS (
        |  SELECT count(*) AS nv FROM cand_6 c
        |  JOIN sig sa ON sa.doc_id = c.id_a
        |  JOIN sig sb ON sb.doc_id = c.id_b
        |  WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(sa.sh || sb.sh)), 4) >= 0.8)
        |SELECT CAST(2 AS BIGINT) AS bands, CAST(6 AS BIGINT) AS rows_per_band,
        |  (SELECT CAST(count(*) AS BIGINT) FROM cand_2) AS n_candidates,
        |  (SELECT CAST(nv AS BIGINT) FROM ver_2) AS n_verified,
        |  round((SELECT nv FROM ver_2)::DOUBLE / greatest((SELECT count(*) FROM cand_2), 1), 6) AS precision
        |UNION ALL SELECT CAST(3 AS BIGINT) AS bands, CAST(4 AS BIGINT) AS rows_per_band,
        |  (SELECT CAST(count(*) AS BIGINT) FROM cand_3) AS n_candidates,
        |  (SELECT CAST(nv AS BIGINT) FROM ver_3) AS n_verified,
        |  round((SELECT nv FROM ver_3)::DOUBLE / greatest((SELECT count(*) FROM cand_3), 1), 6) AS precision
        |UNION ALL SELECT CAST(4 AS BIGINT) AS bands, CAST(3 AS BIGINT) AS rows_per_band,
        |  (SELECT CAST(count(*) AS BIGINT) FROM cand_4) AS n_candidates,
        |  (SELECT CAST(nv AS BIGINT) FROM ver_4) AS n_verified,
        |  round((SELECT nv FROM ver_4)::DOUBLE / greatest((SELECT count(*) FROM cand_4), 1), 6) AS precision
        |UNION ALL SELECT CAST(6 AS BIGINT) AS bands, CAST(2 AS BIGINT) AS rows_per_band,
        |  (SELECT CAST(count(*) AS BIGINT) FROM cand_6) AS n_candidates,
        |  (SELECT CAST(nv AS BIGINT) FROM ver_6) AS n_verified,
        |  round((SELECT nv FROM ver_6)::DOUBLE / greatest((SELECT count(*) FROM cand_6), 1), 6) AS precision
        |ORDER BY bands""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      TextDedup.lshTuningTable(Tables.documents(s, d), "doc_id", "text")
        .orderBy($"bands")
    },

    // the tuning table's SCALE path: exact per-config candidate
    // counts, verify on a deterministic hash-sample of the distinct
    // candidate pairs (hash60(seed:a_b)/2^60 < 0.02 — RNG-free, so
    // DuckDB replays the same sampled set exactly), precision
    // estimated with the sample size in the row. The exact-count
    // q125 is measured infeasible on both engines at the 5M-doc
    // replica; this is what a production tuning run executes there.
    Q.sql(
      "q164_lsh_tuning_sampled",
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]),
        |      s -> CAST(('0x'||substr(md5(s),1,15)) AS BIGINT))) AS sh
        |  FROM tok WHERE len(w) >= 2),
        |sig AS MATERIALIZED (
        |  SELECT doc_id, sh,
        |    list_transform(range(0, 12), j ->
        |      list_min(list_transform(sh, h ->
        |        ((xor(h, CAST(('0x'||substr(md5('a#'||j),1,15)) AS BIGINT))
        |          + CAST(('0x'||substr(md5('b#'||j),1,15)) AS BIGINT))
        |         & 1152921504606846975)))) AS sig
        |  FROM sh),
        |banded AS (
        |  SELECT 2 AS cfg, doc_id, b, md5(CAST(sig[b*6+1] AS VARCHAR) || '_' || CAST(sig[b*6+2] AS VARCHAR) || '_' || CAST(sig[b*6+3] AS VARCHAR) || '_' || CAST(sig[b*6+4] AS VARCHAR) || '_' || CAST(sig[b*6+5] AS VARCHAR) || '_' || CAST(sig[b*6+6] AS VARCHAR)) AS bkey
        |  FROM sig, range(0, 2) t(b)
        |  UNION ALL
        |  SELECT 3, doc_id, b, md5(CAST(sig[b*4+1] AS VARCHAR) || '_' || CAST(sig[b*4+2] AS VARCHAR) || '_' || CAST(sig[b*4+3] AS VARCHAR) || '_' || CAST(sig[b*4+4] AS VARCHAR))
        |  FROM sig, range(0, 3) t(b)
        |  UNION ALL
        |  SELECT 4, doc_id, b, md5(CAST(sig[b*3+1] AS VARCHAR) || '_' || CAST(sig[b*3+2] AS VARCHAR) || '_' || CAST(sig[b*3+3] AS VARCHAR))
        |  FROM sig, range(0, 4) t(b)
        |  UNION ALL
        |  SELECT 6, doc_id, b, md5(CAST(sig[b*2+1] AS VARCHAR) || '_' || CAST(sig[b*2+2] AS VARCHAR))
        |  FROM sig, range(0, 6) t(b)),
        |cand AS MATERIALIZED (
        |  SELECT DISTINCT a.cfg, a.doc_id AS id_a, x.doc_id AS id_b
        |  FROM banded a JOIN banded x
        |    ON a.cfg = x.cfg AND a.b = x.b AND a.bkey = x.bkey AND a.doc_id < x.doc_id),
        |samp AS MATERIALIZED (
        |  SELECT DISTINCT id_a, id_b FROM cand
        |  WHERE ('0x' || substr(md5('lts5:' || CAST(id_a AS VARCHAR) || '_' || CAST(id_b AS VARCHAR)), 1, 15))::BIGINT::DOUBLE
        |        / 1152921504606846976::DOUBLE < 0.02),
        |ver AS MATERIALIZED (
        |  SELECT s.id_a, s.id_b,
        |    (round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(sa.sh || sb.sh)), 4) >= 0.8) AS ok
        |  FROM samp s
        |  JOIN sig sa ON sa.doc_id = s.id_a
        |  JOIN sig sb ON sb.doc_id = s.id_b),
        |agg AS (
        |  SELECT c.cfg, CAST(count(*) AS BIGINT) AS n_candidates,
        |    CAST(count(v.ok) AS BIGINT) AS n_sampled,
        |    CAST(sum(CASE WHEN v.ok THEN 1 ELSE 0 END) AS BIGINT) AS n_verified_sampled
        |  FROM cand c LEFT JOIN ver v ON v.id_a = c.id_a AND v.id_b = c.id_b
        |  GROUP BY c.cfg),
        |cfgs AS (SELECT * FROM (VALUES (2), (3), (4), (6)) c(cfg))
        |SELECT CAST(f.cfg AS BIGINT) AS bands, CAST((12 // f.cfg) AS BIGINT) AS rows_per_band,
        |  CAST(coalesce(a.n_candidates, 0) AS BIGINT) AS n_candidates,
        |  CAST(coalesce(a.n_sampled, 0) AS BIGINT) AS n_sampled,
        |  CAST(coalesce(a.n_verified_sampled, 0) AS BIGINT) AS n_verified_sampled,
        |  round(CAST(coalesce(a.n_verified_sampled, 0) AS DOUBLE) / greatest(coalesce(a.n_sampled, 0), 1), 6) AS precision_est
        |FROM cfgs f LEFT JOIN agg a ON a.cfg = f.cfg
        |ORDER BY bands""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      TextDedup.lshTuningTableSampled(Tables.documents(s, d), "doc_id", "text")
        .orderBy($"bands")
    },

    // dedup economics: the near-dup cluster SIZE distribution — how
    // many families of each size exist and how many rows deduping to
    // one-per-family would remove; two aggregations over the
    // already-certified component labeling
    Q.sql(
      "q144_cluster_sizes",
      """WITH RECURSIVE
        |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        |      FROM embeddings WHERE vec_id < 300),
        |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib
        |      FROM v a JOIN v b ON a.vec_id < b.vec_id
        |      WHERE round(list_dot_product(a.vv, b.vv)
        |            / sqrt(list_dot_product(a.vv, a.vv))
        |            / sqrt(list_dot_product(b.vv, b.vv)), 6) >= 0.40),
        |edges AS (SELECT ia AS a, ib AS b FROM p UNION SELECT ib, ia FROM p),
        |walk AS (
        |  SELECT a AS node, a AS label FROM edges
        |  UNION
        |  SELECT e2.a AS node, w.label AS label FROM edges e2 JOIN walk w ON w.node = e2.b
        |),
        |comp AS (SELECT node, min(label) AS component FROM walk GROUP BY node),
        |sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS csize
        |  FROM comp GROUP BY component)
        |SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(count(*) * (csize - 1) AS BIGINT) AS removable
        |FROM sizes GROUP BY csize ORDER BY csize""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val pairs = graft.operators.Similarity.cosineDupPairs(
        Tables.embeddings(s, d).filter($"vec_id" < 300), "vec_id", "embedding",
        threshold = 0.40)
      graft.operators.DupGraph.connectedComponents(pairs)
        .groupBy($"component").agg(count(lit(1)).as("csize"))
        .groupBy($"csize").agg(count(lit(1)).as("n_clusters"))
        .select($"csize", $"n_clusters",
          ($"n_clusters" * ($"csize" - 1)).as("removable"))
        .orderBy($"csize")
    }
  )
}
