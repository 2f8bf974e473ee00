package graft.queries

import graft.{Q, Tables}
import graft.operators.{BpeTrainer, Curation, DataProfiler, Sketches}
import org.apache.spark.sql.functions._

/** Training-data curation over `documents`: deterministic dataset
  * splitting, source quotas, token chunking, vocabulary — each fully
  * replayed in DuckDB SQL (md5-based hash60 convention; tokens =
  * whitespace split of trimmed text, as in TextQueries).
  */
object CurationQueries {

  val all: Seq[Q] = Seq(
    // md5-bucket train/val/test assignment — stable across runs,
    // engines, partitionings
    Q.sql(
      "q41_hash_split",
      """SELECT doc_id,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      // split assignment after the sort: the orderBy sampling pass
      // otherwise runs the md5 bucket hash twice per row, and the
      // exchange carries just doc_id (round 17, guide §1.4/§2.3)
      Curation.assignSplit(
        Tables.documents(s, d).select($"doc_id").orderBy($"doc_id"), "doc_id")
        .select($"doc_id", $"split")
    },

    // per-source document quota (keep lowest 50 ids per source)
    Q.sql(
      "q42_source_quota",
      """WITH r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |SELECT doc_id, source, rn FROM r WHERE rn <= 50
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Curation.groupQuota(Tables.documents(s, d), "source", "doc_id", quota = 50)
        .select($"doc_id", $"source", $"rn")
        .orderBy($"doc_id")
    },

    // fixed 32-token chunks with content hash (sequence packing prep)
    Q.sql(
      "q43_chunk_tokens",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |c AS (
        |  SELECT doc_id, w,
        |    unnest(range(greatest((len(w) + 31) // 32, 1))) AS chunk_idx
        |  FROM t)
        |SELECT doc_id, chunk_idx,
        |  CAST(len(w[chunk_idx*32+1 : chunk_idx*32+32]) AS BIGINT) AS chunk_len,
        |  ('0x' || substr(md5(array_to_string(w[chunk_idx*32+1 : chunk_idx*32+32], ' ')), 1, 15))::BIGINT AS chunk_hash
        |FROM c
        |ORDER BY doc_id, chunk_idx""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Curation.chunkTokens(Tables.documents(s, d), "doc_id", "text", chunkSize = 32)
        .orderBy($"doc_id", $"chunk_idx")
    },

    // PII-ish redaction (emails, long digit runs): the 60-bit hash of
    // the redacted text proves byte-identical replacement cross-engine
    Q.sql(
      "q45_redact",
      """SELECT doc_id,
        |  CAST(length(r) AS BIGINT) AS redacted_len,
        |  ('0x' || substr(md5(r), 1, 15))::BIGINT AS redacted_hash
        |FROM (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\d{6,}', '<NUM>', 'g') AS r
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      import graft.functions.TextFunctions
      // redaction after the sort: two regexp_replace passes + md5 per
      // row otherwise run twice under the orderBy's range-bounds
      // sampling (round 17, guide §1.4/§2.3)
      Tables.documents(s, d)
        .select($"doc_id", $"text")
        .orderBy($"doc_id")
        .select($"doc_id", TextFunctions.redact($"text").as("r"))
        .select(
          $"doc_id",
          length($"r").cast("long").as("redacted_len"),
          TextFunctions.hash60($"r").as("redacted_hash"))
    },

    // uniform mixture reweighting: per-source sampling weight that
    // flattens the observed source mix (weight = N / (G * n_g))
    Q.sql(
      "q47_mixture_weights",
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source)
        |SELECT source, n_docs,
        |  round((SELECT count(*) FROM documents)::DOUBLE
        |        / ((SELECT count(*) FROM c) * n_docs), 6) AS weight
        |FROM c
        |ORDER BY source""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Curation.uniformMixtureWeights(Tables.documents(s, d), "source")
        .orderBy($"source")
    },

    // one-scan schema-driven profile of orders (nulls + exact distinct
    // per column); the oracle recomputes per column — Spark's single
    // multi-aggregate pass is the scale-correct formulation
    Q.sql(
      "q48_profile_orders", {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority")
        cols.map(c =>
          s"""SELECT '$c' AS column_name,
             |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
             |FROM orders""".stripMargin)
          .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
      }
    ) { (s, d) =>
      import s.implicits._
      DataProfiler.profile(Tables.orders(s, d)).orderBy($"column_name")
    },

    // global top-100 vocabulary by frequency (ties: token asc)
    Q.sql(
      "q44_vocab_topk",
      """SELECT token, CAST(count(*) AS BIGINT) AS freq
        |FROM (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents)
        |GROUP BY token
        |ORDER BY freq DESC, token
        |LIMIT 100""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Curation.vocabTopK(Tables.documents(s, d), "text", k = 100)
        .orderBy($"freq".desc, $"token")
    },

    // JSONL-style record encoding (the export shape training corpora
    // ship in) — Spark's to_json and DuckDB's struct to_json emit the
    // same compact key:value rendering, so the payloads hash-match
    Q.sql(
      "q57_json_encode",
      """SELECT doc_id,
        |  to_json(struct_pack(doc_id := doc_id, lang := lang, source := source, n_chars := n_chars))::VARCHAR AS doc_json
        |FROM documents
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      // JSON rendering after the sort (sampling otherwise renders
      // every row twice, and the exchange carries the four raw fields
      // instead of the wider JSON string)
      Tables.documents(s, d)
        .select($"doc_id", $"lang", $"source", $"n_chars")
        .orderBy($"doc_id")
        .select($"doc_id",
          to_json(struct($"doc_id", $"lang", $"source", $"n_chars")).as("doc_json"))
    },

    // deterministic per-source sampling: src0 keeps 50%, src1 20%,
    // every other source 10% — the mixture-thinning primitive; no RNG,
    // so the kept set is identical on any layout/engine
    Q.sql(
      "q58_stratified_sample",
      """SELECT doc_id, source, b AS sample_bucket FROM (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || source), 1, 15))::BIGINT % 1000 AS b
        |  FROM documents)
        |WHERE b < CASE WHEN source = 'src0' THEN 500 WHEN source = 'src1' THEN 200 ELSE 100 END
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Curation.stratifiedSample(Tables.documents(s, d), "source", "doc_id",
        Map("src0" -> 0.5, "src1" -> 0.2), defaultFraction = 0.1)
        .select($"doc_id", $"source", $"sample_bucket")
        .orderBy($"doc_id")
    },

    // typed profile: nulls/distinct plus min/max rendered as strings
    // (fixed-point for doubles — raw double→string formatting is not
    // engine-portable); still ONE scan for all columns
    Q.sql(
      "q59_profile_typed", {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority")
        def mm(c: String): (String, String) =
          if (c == "o_totalprice")
            (s"min($c)::DECIMAL(24,4)::VARCHAR", s"max($c)::DECIMAL(24,4)::VARCHAR")
          else (s"min($c)::VARCHAR", s"max($c)::VARCHAR")
        cols.map { c =>
          val (mn, mx) = mm(c)
          s"""SELECT '$c' AS column_name,
             |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  $mn AS min_value, $mx AS max_value
             |FROM orders""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
      }
    ) { (s, d) =>
      import s.implicits._
      DataProfiler.profile(Tables.orders(s, d), minMax = true)
        .orderBy($"column_name")
    },

    // content-defined chunking → cross-document shared chunks: the
    // rolling-hash boundary rule is replayed gram-by-gram in SQL, so
    // the hash-match certifies identical chunking, not just counts
    Q.sql(
      "q75_cdc_chunks",
      """WITH t AS (
        |  SELECT doc_id, text, len(text) AS n FROM documents WHERE len(text) >= 1),
        |b AS (
        |  SELECT doc_id, text,
        |    [0] || list_filter(list_transform(range(8, n+1), i ->
        |      CASE WHEN (CAST(('0x'||substr(md5(substr(text, i-7, 8)),1,15)) AS BIGINT) & 15) = 0 THEN i END),
        |      x -> x IS NOT NULL) || [n] AS bounds
        |  FROM t),
        |c AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(bounds)), j ->
        |    substr(text, bounds[j]+1, bounds[j+1]-bounds[j]))) AS chunk
        |  FROM b),
        |h AS (
        |  SELECT doc_id, ('0x'||substr(md5(chunk),1,15))::BIGINT AS chunk_hash
        |  FROM c WHERE len(chunk) > 0)
        |SELECT chunk_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occ, min(doc_id) AS min_doc
        |FROM h GROUP BY chunk_hash HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY chunk_hash""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Curation.cdcChunks(Tables.documents(s, d), "doc_id", "text", window = 8, mask = 15L)
        .groupBy($"chunk_hash")
        .agg(
          countDistinct($"doc_id").as("n_docs"),
          count(lit(1)).as("n_occ"),
          min($"doc_id").as("min_doc"))
        .filter($"n_docs" >= 2)
        .orderBy($"chunk_hash")
    },

    // greedy contiguous sequence packing: per-source token cumsum →
    // capacity-boundary sequence ids — the training-batch construction
    // step, one window shuffle
    Q.sql(
      "q77_seq_pack",
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS w
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, w,
        |    CAST(sum(w) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum
        |  FROM t)
        |SELECT source, CAST((cum - w) // 256 AS BIGINT) AS seq_id,
        |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(w) AS BIGINT) AS tokens
        |FROM c GROUP BY source, seq_id
        |ORDER BY source, seq_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      import graft.functions.TextFunctions
      val t = Tables.documents(s, d)
        .select($"source", $"doc_id", TextFunctions.tokenCount($"text").as("w"))
      Curation.packSequences(t, "source", "doc_id", "w", capacity = 256L)
        .groupBy($"source", $"seq_id")
        .agg(count(lit(1)).as("n_docs"), sum($"w").as("tokens"))
        .orderBy($"source", $"seq_id")
    },

    // composite C4/Gopher-style quality gate WITH per-rule reasons —
    // the failed-rule list is certified, not just the keep bit
    Q.sql(
      "q79_quality_filter",
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    round(list_sum(list_transform(string_split_regex(trim(text), '\s+'), x -> length(x)))::DOUBLE
        |      / len(string_split_regex(trim(text), '\s+')), 4) AS awl,
        |    round(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      w -> list_contains(['the','a','an','of','to','and','in','is','it','that'], w)))::DOUBLE
        |      / len(string_split_regex(trim(lower(text)), '\s+')), 4) AS sr,
        |    round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
        |      / greatest(length(text), 1), 4) AS pr
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |    list_filter([
        |      CASE WHEN n_tokens < 30 THEN 'too_short' END,
        |      CASE WHEN n_tokens > 1000 THEN 'too_long' END,
        |      CASE WHEN awl < 3.0 OR awl > 10.0 THEN 'word_len' END,
        |      CASE WHEN sr < 0.02 THEN 'low_stopword' END,
        |      CASE WHEN pr > 0.2 THEN 'high_punct' END], x -> x IS NOT NULL) AS rs
        |  FROM s)
        |SELECT doc_id, n_tokens,
        |  COALESCE(array_to_string(rs, ';'), '') AS reasons, len(rs) = 0 AS keep
        |FROM r ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Curation.qualityFilter(Tables.documents(s, d), "doc_id", "text")
        .orderBy($"doc_id")
    },

    // temperature-scaled mixture: sampling share ∝ n_g^0.7 — the
    // multilingual/multi-source rebalancing scheme (τ<1 upsamples
    // tail sources); complements q47's uniform target
    Q.sql(
      "q80_temperature_mix",
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source)
        |SELECT source, n_docs,
        |  round(pow(n_docs, 0.7) / sum(pow(n_docs, 0.7)) OVER (), 6) AS mix_frac
        |FROM c ORDER BY source""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Curation.temperatureMixtureWeights(Tables.documents(s, d), "source", tau = 0.7)
        .orderBy($"source")
    },

    // sliding-window chunking WITH overlap (32-token windows every 24
    // tokens — consecutive chunks share 8 tokens): the context-window
    // prep shape; q43 is the stride==size special case
    Q.sql(
      "q81_overlap_chunks",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |c AS (
        |  SELECT doc_id, w,
        |    unnest(range(greatest((len(w) + 23) // 24, 1))) AS chunk_idx
        |  FROM t)
        |SELECT doc_id, chunk_idx,
        |  CAST(len(w[chunk_idx*24+1 : chunk_idx*24+32]) AS BIGINT) AS chunk_len,
        |  ('0x' || substr(md5(array_to_string(w[chunk_idx*24+1 : chunk_idx*24+32], ' ')), 1, 15))::BIGINT AS chunk_hash
        |FROM c
        |ORDER BY doc_id, chunk_idx""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Curation.chunkTokensOverlap(Tables.documents(s, d), "doc_id", "text",
        chunkSize = 32, stride = 24)
        .orderBy($"doc_id", $"chunk_idx")
    },

    // per-source cap in salted-HASH order — unbiased deterministic
    // downsampling (q42's quota keeps the lowest ids, which biases
    // toward early-crawled documents)
    Q.sql(
      "q82_group_cap",
      """WITH r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '@' || source), 1, 15))::BIGINT, doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |SELECT doc_id, source, rn FROM r WHERE rn <= 15
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Curation.groupCapByHash(Tables.documents(s, d), "source", "doc_id", cap = 15)
        .select($"doc_id", $"source", $"rn")
        .orderBy($"doc_id")
    },

    // corpus snapshot diff by content hash: two simulated versions of
    // the documents table (v1 drops doc_id%7==0; v2 drops %5==0 and
    // edits %11==0) → added/removed/changed ids — the incremental-
    // refresh primitive; the join carries (id, hash), never bodies
    Q.sql(
      "q83_snapshot_diff",
      """WITH v1 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 <> 0),
        |h1 AS (SELECT doc_id, ('0x'||substr(md5(text),1,15))::BIGINT AS h FROM v1),
        |h2 AS (SELECT doc_id, ('0x'||substr(md5(text),1,15))::BIGINT AS h FROM v2),
        |d AS (
        |  SELECT COALESCE(h1.doc_id, h2.doc_id) AS doc_id,
        |    CASE WHEN h1.doc_id IS NULL THEN 'added'
        |         WHEN h2.doc_id IS NULL THEN 'removed'
        |         WHEN h1.h <> h2.h THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM h1 FULL JOIN h2 ON h1.doc_id = h2.doc_id)
        |SELECT doc_id, status FROM d WHERE status <> 'unchanged'
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      import graft.functions.TextFunctions.hash60
      // Both snapshots derive from the SAME table keyed by the same
      // unique doc_id, so the full-outer join is per-row algebra
      // (round 18, guide §8): membership is the two modulo filters and
      // the hash comparison only matters where the texts can differ
      // (doc_id % 11 = 0) — identical statuses to a full-outer join
      // of the two (id, hash) sides at zero joins/exchanges, with
      // the md5s computed for ~9% of rows instead of ~166%.
      val docs = Tables.documents(s, d)
      val in1 = $"doc_id" % 7 =!= 0
      val in2 = $"doc_id" % 5 =!= 0
      val h1 = hash60($"text")
      val h2 = hash60(when($"doc_id" % 11 === 0, concat($"text", lit(" [rev2]")))
        .otherwise($"text"))
      docs.filter(in1 || in2)
        .select($"doc_id",
          when(!in1, lit("added"))
            .when(!in2, lit("removed"))
            .when($"doc_id" % 11 === 0 && h1 =!= h2, lit("changed"))
            .otherwise(lit("unchanged")).as("status"))
        .filter($"status" =!= "unchanged")
        .orderBy($"doc_id")
    },

    // deterministic epoch shuffle: seeded hash → shard + position, the
    // dataloader manifest for one training epoch — bit-reproducible
    // across engines, runs, and cluster layouts
    Q.sql(
      "q91_epoch_shuffle",
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('ep0:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
        |  FROM documents)
        |SELECT doc_id, CAST(hv % 8 AS BIGINT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS BIGINT) AS pos
        |FROM h
        |ORDER BY shard, pos""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Curation.epochShuffle(Tables.documents(s, d), "doc_id", "ep0", numShards = 8)
        .orderBy($"shard", $"pos")
    },

    // deterministic importance sampling: acceptance = md5-uniform <
    // per-row weight (here length-derived, clamped to [0,1]) — the
    // quality-weighted downsample, RNG-free so the kept set is exact
    // on any engine/layout
    Q.sql(
      "q92_importance_sample",
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |WHERE ('0x' || substr(md5('is0:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT::DOUBLE
        |      / 1152921504606846976::DOUBLE
        |  < least(greatest(CAST(n_chars AS DOUBLE) / 500, 0.0::DOUBLE), 1.0::DOUBLE)
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Curation.importanceSample(
        Tables.documents(s, d).select($"doc_id", $"n_chars".cast("long").as("n_chars")),
        "doc_id", $"n_chars".cast("double") / 500, "is0")
        .orderBy($"doc_id")
    },

    // cumulative vocabulary coverage: top-50 tokens with their running
    // share of all occurrences — the vocabulary-sizing curve; the
    // rank/cumsum windows run over types, not the corpus
    Q.sql(
      "q94_vocab_coverage",
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok FROM documents),
        |cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok),
        |tot AS (SELECT sum(c) AS t FROM cnt),
        |r AS (SELECT tok, c, CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS rnk FROM cnt)
        |SELECT rnk, tok, c,
        |  round(CAST(sum(c) OVER (ORDER BY rnk) AS DOUBLE) / tot.t, 6) AS cum_share
        |FROM r, tot WHERE rnk <= 50
        |ORDER BY rnk""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Curation.vocabCoverage(Tables.documents(s, d), "text", k = 50)
        .orderBy($"rnk")
    },

    // distributed BPE merge training (Sennrich 2016): 3 merges over the
    // word-frequency table plus the post-merge best pair (it = 4), so
    // every merge APPLICATION is certified, not just its selection;
    // replayed move-for-move in SQL (pair counts -> argmax -> greedy
    // leftmost non-overlap merge via gaps-and-islands parity)
    Q.sql(
      "q97_bpe_merges",
      """WITH w0 AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq, regexp_extract_all(word, '.') AS syms
        |  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word FROM documents)
        |  GROUP BY word),
        |p1 AS (
        |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM w0)
        |  GROUP BY 1, 2),
        |b1 AS (SELECT l, r, cnt FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
        |t1 AS (
        |  SELECT word, freq, i AS pos, syms[i] AS sym, syms[i+1] AS nxt
        |  FROM (SELECT word, freq, syms, unnest(range(1, len(syms)+1)) AS i FROM w0)),
        |m1 AS (
        |  SELECT word, pos,
        |    pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
        |  FROM t1, b1 WHERE t1.sym = b1.l AND t1.nxt = b1.r),
        |k1 AS (
        |  SELECT word, pos FROM (
        |    SELECT word, pos, min(pos) OVER (PARTITION BY word, grp) AS mn FROM m1)
        |  WHERE (pos - mn) % 2 = 0),
        |w1 AS (
        |  SELECT t.word, min(t.freq) AS freq,
        |    list(CASE WHEN k.pos IS NOT NULL THEN t.sym || t.nxt ELSE t.sym END ORDER BY t.pos) AS syms
        |  FROM t1 t
        |  LEFT JOIN k1 k ON t.word = k.word AND t.pos = k.pos
        |  LEFT JOIN k1 d ON t.word = d.word AND t.pos = d.pos + 1
        |  WHERE d.pos IS NULL
        |  GROUP BY t.word),
        |p2 AS (
        |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM w1)
        |  GROUP BY 1, 2),
        |b2 AS (SELECT l, r, cnt FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
        |t2 AS (
        |  SELECT word, freq, i AS pos, syms[i] AS sym, syms[i+1] AS nxt
        |  FROM (SELECT word, freq, syms, unnest(range(1, len(syms)+1)) AS i FROM w1)),
        |m2 AS (
        |  SELECT word, pos,
        |    pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
        |  FROM t2, b2 WHERE t2.sym = b2.l AND t2.nxt = b2.r),
        |k2 AS (
        |  SELECT word, pos FROM (
        |    SELECT word, pos, min(pos) OVER (PARTITION BY word, grp) AS mn FROM m2)
        |  WHERE (pos - mn) % 2 = 0),
        |w2 AS (
        |  SELECT t.word, min(t.freq) AS freq,
        |    list(CASE WHEN k.pos IS NOT NULL THEN t.sym || t.nxt ELSE t.sym END ORDER BY t.pos) AS syms
        |  FROM t2 t
        |  LEFT JOIN k2 k ON t.word = k.word AND t.pos = k.pos
        |  LEFT JOIN k2 d ON t.word = d.word AND t.pos = d.pos + 1
        |  WHERE d.pos IS NULL
        |  GROUP BY t.word),
        |p3 AS (
        |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM w2)
        |  GROUP BY 1, 2),
        |b3 AS (SELECT l, r, cnt FROM p3 ORDER BY cnt DESC, l, r LIMIT 1),
        |t3 AS (
        |  SELECT word, freq, i AS pos, syms[i] AS sym, syms[i+1] AS nxt
        |  FROM (SELECT word, freq, syms, unnest(range(1, len(syms)+1)) AS i FROM w2)),
        |m3 AS (
        |  SELECT word, pos,
        |    pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
        |  FROM t3, b3 WHERE t3.sym = b3.l AND t3.nxt = b3.r),
        |k3 AS (
        |  SELECT word, pos FROM (
        |    SELECT word, pos, min(pos) OVER (PARTITION BY word, grp) AS mn FROM m3)
        |  WHERE (pos - mn) % 2 = 0),
        |w3 AS (
        |  SELECT t.word, min(t.freq) AS freq,
        |    list(CASE WHEN k.pos IS NOT NULL THEN t.sym || t.nxt ELSE t.sym END ORDER BY t.pos) AS syms
        |  FROM t3 t
        |  LEFT JOIN k3 k ON t.word = k.word AND t.pos = k.pos
        |  LEFT JOIN k3 d ON t.word = d.word AND t.pos = d.pos + 1
        |  WHERE d.pos IS NULL
        |  GROUP BY t.word),
        |p4 AS (
        |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM w3)
        |  GROUP BY 1, 2),
        |b4 AS (SELECT l, r, cnt FROM p4 ORDER BY cnt DESC, l, r LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS it, l, r, cnt FROM b1
        |UNION ALL SELECT 2, l, r, cnt FROM b2
        |UNION ALL SELECT 3, l, r, cnt FROM b3
        |UNION ALL SELECT 4, l, r, cnt FROM b4
        |ORDER BY it""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      BpeTrainer.merges(Tables.documents(s, d), "text", iterations = 3)
        .orderBy($"it")
    },

    // the ENCODE side of the trained tokenizer: per-doc symbol
    // expansion after the 3 learned merges (corpus re-joined to the
    // vocabulary-bounded segmentation table — the production
    // tokenizer-pass shape)
    Q.sql(
      "q112_bpe_encode",
      """WITH w0 AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq, regexp_extract_all(word, '.') AS syms
        |  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word FROM documents)
        |  GROUP BY word),
        |p1 AS (
        |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM w0)
        |  GROUP BY 1, 2),
        |b1 AS (SELECT l, r, cnt FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
        |t1 AS (
        |  SELECT word, freq, i AS pos, syms[i] AS sym, syms[i+1] AS nxt
        |  FROM (SELECT word, freq, syms, unnest(range(1, len(syms)+1)) AS i FROM w0)),
        |m1 AS (
        |  SELECT word, pos,
        |    pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
        |  FROM t1, b1 WHERE t1.sym = b1.l AND t1.nxt = b1.r),
        |k1 AS (
        |  SELECT word, pos FROM (
        |    SELECT word, pos, min(pos) OVER (PARTITION BY word, grp) AS mn FROM m1)
        |  WHERE (pos - mn) % 2 = 0),
        |w1 AS (
        |  SELECT t.word, min(t.freq) AS freq,
        |    list(CASE WHEN k.pos IS NOT NULL THEN t.sym || t.nxt ELSE t.sym END ORDER BY t.pos) AS syms
        |  FROM t1 t
        |  LEFT JOIN k1 k ON t.word = k.word AND t.pos = k.pos
        |  LEFT JOIN k1 d ON t.word = d.word AND t.pos = d.pos + 1
        |  WHERE d.pos IS NULL
        |  GROUP BY t.word),
        |p2 AS (
        |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM w1)
        |  GROUP BY 1, 2),
        |b2 AS (SELECT l, r, cnt FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
        |t2 AS (
        |  SELECT word, freq, i AS pos, syms[i] AS sym, syms[i+1] AS nxt
        |  FROM (SELECT word, freq, syms, unnest(range(1, len(syms)+1)) AS i FROM w1)),
        |m2 AS (
        |  SELECT word, pos,
        |    pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
        |  FROM t2, b2 WHERE t2.sym = b2.l AND t2.nxt = b2.r),
        |k2 AS (
        |  SELECT word, pos FROM (
        |    SELECT word, pos, min(pos) OVER (PARTITION BY word, grp) AS mn FROM m2)
        |  WHERE (pos - mn) % 2 = 0),
        |w2 AS (
        |  SELECT t.word, min(t.freq) AS freq,
        |    list(CASE WHEN k.pos IS NOT NULL THEN t.sym || t.nxt ELSE t.sym END ORDER BY t.pos) AS syms
        |  FROM t2 t
        |  LEFT JOIN k2 k ON t.word = k.word AND t.pos = k.pos
        |  LEFT JOIN k2 d ON t.word = d.word AND t.pos = d.pos + 1
        |  WHERE d.pos IS NULL
        |  GROUP BY t.word),
        |p3 AS (
        |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM w2)
        |  GROUP BY 1, 2),
        |b3 AS (SELECT l, r, cnt FROM p3 ORDER BY cnt DESC, l, r LIMIT 1),
        |t3 AS (
        |  SELECT word, freq, i AS pos, syms[i] AS sym, syms[i+1] AS nxt
        |  FROM (SELECT word, freq, syms, unnest(range(1, len(syms)+1)) AS i FROM w2)),
        |m3 AS (
        |  SELECT word, pos,
        |    pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
        |  FROM t3, b3 WHERE t3.sym = b3.l AND t3.nxt = b3.r),
        |k3 AS (
        |  SELECT word, pos FROM (
        |    SELECT word, pos, min(pos) OVER (PARTITION BY word, grp) AS mn FROM m3)
        |  WHERE (pos - mn) % 2 = 0),
        |w3 AS (
        |  SELECT t.word, min(t.freq) AS freq,
        |    list(CASE WHEN k.pos IS NOT NULL THEN t.sym || t.nxt ELSE t.sym END ORDER BY t.pos) AS syms
        |  FROM t3 t
        |  LEFT JOIN k3 k ON t.word = k.word AND t.pos = k.pos
        |  LEFT JOIN k3 d ON t.word = d.word AND t.pos = d.pos + 1
        |  WHERE d.pos IS NULL
        |  GROUP BY t.word),
        |enc AS (SELECT word, CAST(len(syms) AS BIGINT) AS ns FROM w3),
        |dt AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        |  FROM documents)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, CAST(sum(ns) AS BIGINT) AS n_symbols,
        |  round(CAST(sum(ns) AS DOUBLE) / count(*), 6) AS avg_syms_per_word
        |FROM dt JOIN enc USING (word)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      BpeTrainer.encodeStats(Tables.documents(s, d), "doc_id", "text", iterations = 3)
        .orderBy($"doc_id")
    },

    // padding-waste accounting: 8-row batches per source, arrival
    // order vs length-sorted order, each batch padded to its max —
    // the integer-exact measurement behind length-bucketed batching
    Q.sql(
      "q120_padding_waste",
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ntok
        |  FROM documents),
        |arr AS (
        |  SELECT source, sum(p) AS padded_arrival, sum(t) AS total_tokens FROM (
        |    SELECT source, max(ntok) * count(*) AS p, sum(ntok) AS t FROM (
        |      SELECT source, ntok,
        |        (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1) // 8 AS b
        |      FROM d)
        |    GROUP BY source, b)
        |  GROUP BY source),
        |srt AS (
        |  SELECT source, sum(p) AS padded_sorted FROM (
        |    SELECT source, max(ntok) * count(*) AS p FROM (
        |      SELECT source, ntok,
        |        (row_number() OVER (PARTITION BY source ORDER BY ntok, doc_id) - 1) // 8 AS b
        |      FROM d)
        |    GROUP BY source, b)
        |  GROUP BY source)
        |SELECT source, CAST(total_tokens AS BIGINT) AS total_tokens,
        |  CAST(padded_arrival AS BIGINT) AS padded_arrival,
        |  CAST(padded_sorted AS BIGINT) AS padded_sorted
        |FROM arr JOIN srt USING (source)
        |ORDER BY source""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      import graft.functions.TextFunctions.tokenCount
      Curation.paddingWaste(
        Tables.documents(s, d)
          .select($"source", $"doc_id", tokenCount($"text").as("ntok")),
        "source", "doc_id", "ntok", batchSize = 8)
        .orderBy($"source")
    },

    // the one-scan corpus datasheet: sizes, language/source mix, and
    // exact-dup count off the canonical fingerprint — the "dataset
    // card" row a curation run publishes
    Q.sql(
      "q121_corpus_card",
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  round(avg(len(string_split_regex(trim(text), '\s+'))), 6) AS mean_ntok,
        |  round(avg(n_chars), 6) AS mean_chars,
        |  CAST(count(*) - count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS BIGINT) AS exact_dup_docs
        |FROM documents""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      import graft.functions.TextFunctions.{canonicalFingerprint, tokenCount}
      Tables.documents(s, d).agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCount($"text")).as("total_tokens"),
        countDistinct($"lang").as("n_langs"),
        countDistinct($"source").as("n_sources"),
        round(avg(tokenCount($"text")), 6).as("mean_ntok"),
        round(avg($"n_chars"), 6).as("mean_chars"),
        (count(lit(1)) - countDistinct(canonicalFingerprint($"text")))
          .as("exact_dup_docs"))
    },

    // Efraimidis-Spirakis weighted sampling: top-50 by ln(u)/w with a
    // hash-derived uniform — weight-proportional, RNG-free, global
    // top-k as TakeOrderedAndProject (partial per-partition top-k)
    Q.sql(
      "q122_weighted_sample",
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS w,
        |    ('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT::DOUBLE
        |      / 1152921504606846976::DOUBLE AS u
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, w, round(ln(u) / w, 6) AS key
        |  FROM d WHERE w > 0)
        |SELECT doc_id, w, key FROM (
        |  SELECT doc_id, w, key, row_number() OVER (ORDER BY key DESC, doc_id) AS rn FROM k)
        |WHERE rn <= 50
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      import graft.functions.TextFunctions.tokenCount
      Curation.weightedSampleTopK(
        Tables.documents(s, d)
          .select($"doc_id", tokenCount($"text").as("w")),
        "doc_id", "w", k = 50)
        .orderBy($"doc_id")
    },

    // rendezvous (HRW) sharding: per-shard doc counts at 8 and 9
    // shards plus how many docs each shard gained in the 8→9 split —
    // only ~1/9 of keys move, vs ~8/9 under mod-N. Both assignments
    // come from ONE narrow pass (two in-row argmaxes, no shuffle
    // until the count)
    Q.sql(
      "q129_rendezvous",
      """WITH x AS (
        |  SELECT doc_id, CAST(unnest(range(0, 9)) AS BIGINT) AS s,
        |    md5(CAST(doc_id AS VARCHAR) || '#' || CAST(unnest(range(0, 9)) AS VARCHAR)) AS h
        |  FROM documents),
        |a8 AS (SELECT doc_id, arg_max(s, h) AS shard8 FROM x WHERE s < 8 GROUP BY doc_id),
        |a9 AS (SELECT doc_id, arg_max(s, h) AS shard9 FROM x GROUP BY doc_id),
        |j AS (SELECT a8.shard8, a9.shard9 FROM a8 JOIN a9 USING (doc_id)),
        |c8 AS (SELECT shard8 AS shard, CAST(count(*) AS BIGINT) AS cnt8 FROM j GROUP BY 1),
        |c9 AS (SELECT shard9 AS shard, CAST(count(*) AS BIGINT) AS cnt9,
        |  CAST(sum(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END) AS BIGINT) AS moved_in
        |  FROM j GROUP BY 1)
        |SELECT c9.shard AS shard, coalesce(c8.cnt8, 0) AS cnt8, c9.cnt9 AS cnt9,
        |  c9.moved_in AS moved_in
        |FROM c9 LEFT JOIN c8 USING (shard) ORDER BY shard""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val assigned = Curation.rendezvousShard(
        Tables.documents(s, d).select($"doc_id"), "doc_id", 8)
        .withColumnRenamed("shard", "shard8")
        .transform(Curation.rendezvousShard(_, "doc_id", 9))
        .withColumnRenamed("shard", "shard9")
      // ONE corpus aggregation by the 8×9 (shard8, shard9) pairs; the
      // two marginals come from the 72-row pair table, so the 17
      // md5 weights per doc are computed once, not once per marginal
      // (the old c8/c9 subtrees each re-ran `assigned` — round 17,
      // guide §2.4: two aggregations keyed differently share the one
      // pair-keyed exchange)
      val pairs = assigned.groupBy($"shard8", $"shard9")
        .agg(count(lit(1)).as("n"))
      val c8 = pairs.groupBy($"shard8".as("shard"))
        .agg(sum($"n").as("cnt8"))
      val c9 = pairs.groupBy($"shard9".as("shard"))
        .agg(sum($"n").as("cnt9"),
          sum(when($"shard8" =!= $"shard9", $"n").otherwise(0L)).as("moved_in"))
      c9.join(c8, Seq("shard"), "left")
        .select($"shard", coalesce($"cnt8", lit(0L)).as("cnt8"), $"cnt9", $"moved_in")
        .orderBy($"shard")
    },

    // corpus concentration: per-source Gini coefficient of document
    // lengths — one per-source sort-rank window + one aggregation;
    // the inequality audit a mixture rebalance starts from
    Q.sql(
      "q130_gini",
      """WITH r AS (SELECT source, CAST(n_chars AS DOUBLE) AS x,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars) AS i FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(2.0 * sum(i * x) / (count(*) * sum(x))
        |    - (count(*) + 1.0) / count(*), 6) AS gini
        |FROM r GROUP BY source ORDER BY source""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Curation.giniBySource(Tables.documents(s, d), "source", "n_chars")
        .orderBy($"source")
    },

    // Bloom-filter membership pruning: a 4096-bit / 5-hash filter over
    // orders' customer keys probed by every customer — the broadcast
    // summary that replaces a shuffle semi-join at 100 TB, with its
    // false-positive cost measured against exact membership
    Q.sql(
      "q131_bloom",
      """WITH keys AS (SELECT DISTINCT o_custkey AS key FROM orders),
        |bits AS (SELECT DISTINCT
        |    ('0x' || substr(md5(CAST(key AS VARCHAR) || '#' || CAST(j AS VARCHAR)), 1, 15))::BIGINT % 4096 AS bit
        |  FROM keys CROSS JOIN (SELECT unnest(range(0, 5)) AS j) js),
        |probe AS (SELECT c_custkey AS key FROM customer),
        |pb AS (SELECT DISTINCT key,
        |    ('0x' || substr(md5(CAST(key AS VARCHAR) || '#' || CAST(j AS VARCHAR)), 1, 15))::BIGINT % 4096 AS bit
        |  FROM probe CROSS JOIN (SELECT unnest(range(0, 5)) AS j) js),
        |flag AS (SELECT pb.key,
        |    CASE WHEN count(*) = sum(CASE WHEN bits.bit IS NOT NULL THEN 1 ELSE 0 END)
        |      THEN 1 ELSE 0 END AS pos
        |  FROM pb LEFT JOIN bits ON pb.bit = bits.bit GROUP BY pb.key),
        |truth AS (SELECT key, CASE WHEN key IN (SELECT key FROM keys)
        |    THEN 1 ELSE 0 END AS is_mem FROM probe)
        |SELECT CAST(count(*) AS BIGINT) AS n_probe,
        |  CAST(sum(flag.pos) AS BIGINT) AS bloom_pos,
        |  CAST(sum(truth.is_mem) AS BIGINT) AS true_pos,
        |  CAST(sum(CASE WHEN flag.pos = 1 AND truth.is_mem = 0 THEN 1 ELSE 0 END) AS BIGINT) AS false_pos
        |FROM flag JOIN truth USING (key)""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val keys = Tables.orders(s, d).select($"o_custkey".as("key")).distinct()
      val bloom = Sketches.bloomBuild(keys, "key", k = 5, m = 4096)
      val probe = Tables.customer(s, d).select($"c_custkey".as("key"))
      val flags = Sketches.bloomProbe(bloom, probe, "key", k = 5, m = 4096)
      val truth = probe.join(keys.withColumn("_mem", lit(1)), Seq("key"), "left")
        .select($"key", coalesce($"_mem", lit(0)).as("is_mem"))
      flags.join(truth, "key").agg(
        count(lit(1)).as("n_probe"),
        sum(when($"bloom_pos", 1L).otherwise(0L)).as("bloom_pos"),
        sum($"is_mem".cast("long")).as("true_pos"),
        sum(when($"bloom_pos" && $"is_mem" === 0, 1L).otherwise(0L)).as("false_pos"))
    },

    // Pareto frontier of customers on (total spend, order count):
    // the non-dominated set via one sort + exclusive running max —
    // no quadratic dominance self-join
    Q.sql(
      "q132_pareto",
      """WITH agg AS (SELECT o_custkey AS custkey, round(sum(o_totalprice), 2) AS spend,
        |  CAST(count(*) AS BIGINT) AS n_orders FROM orders GROUP BY 1),
        |r AS (SELECT custkey, spend, n_orders, max(n_orders) OVER (
        |  ORDER BY spend DESC, n_orders DESC, custkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best FROM agg)
        |SELECT custkey, spend, n_orders FROM r WHERE best IS NULL OR n_orders > best
        |ORDER BY spend DESC, custkey""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val agg = Tables.orders(s, d).groupBy($"o_custkey".as("custkey"))
        .agg(round(sum($"o_totalprice"), 2).as("spend"), count(lit(1)).as("n_orders"))
      Curation.paretoFront2D(agg, "spend", "n_orders", Seq("custkey"))
        .orderBy($"spend".desc, $"custkey")
    },

    // corpus-composition dependence: mutual information (nats)
    // between source and lang plus both marginal entropies — high MI
    // means language mix is not exchangeable across sources, so
    // per-source language quotas are load-bearing
    Q.sql(
      "q136_mutual_info",
      """WITH joint AS (SELECT source AS a, lang AS b, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM joint),
        |ma AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM joint GROUP BY 1),
        |mb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM joint GROUP BY 1),
        |mi AS (SELECT round(sum((c * 1.0 / n.n) * ln(c * 1.0 * n.n / (ca * 1.0 * cb))), 6) AS mi
        |  FROM joint JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN n),
        |ha AS (SELECT round(-sum((ca * 1.0 / n.n) * ln(ca * 1.0 / n.n)), 6) AS h_a
        |  FROM ma CROSS JOIN n),
        |hb AS (SELECT round(-sum((cb * 1.0 / n.n) * ln(cb * 1.0 / n.n)), 6) AS h_b
        |  FROM mb CROSS JOIN n)
        |SELECT mi.mi AS mi, ha.h_a AS h_a, hb.h_b AS h_b
        |FROM mi CROSS JOIN ha CROSS JOIN hb""".stripMargin
    ) { (s, d) =>
      graft.operators.Learning.mutualInfo(Tables.documents(s, d), "source", "lang")
    },

    // release-safety audit: k-anonymity of the (nation, segment)
    // quasi-identifier over customers — how many equivalence classes
    // fall under k=10 and what fraction of rows they expose; one
    // groupBy + one summary agg
    Q.sql(
      "q141_k_anon",
      """WITH g AS (SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |  CAST(min(n) AS BIGINT) AS min_class,
        |  CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
        |  round(sum(CASE WHEN n < 10 THEN n ELSE 0 END) * 1.0 / sum(n), 6) AS frac_at_risk
        |FROM g""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Tables.customer(s, d)
        .groupBy($"c_nationkey", $"c_mktsegment").agg(count(lit(1)).as("n"))
        .agg(
          count(lit(1)).as("n_classes"),
          sum(when($"n" < 10, 1L).otherwise(0L)).as("n_violating"),
          min($"n").as("min_class"),
          sum(when($"n" < 10, $"n").otherwise(0L)).as("rows_at_risk"),
          round(sum(when($"n" < 10, $"n").otherwise(0L)) / sum($"n"), 6).as("frac_at_risk"))
    },

    // cross-source score comparability: per-source percentile-rank
    // normalization of document lengths — scores from different
    // sources become mixable on a common [0,1] scale (one per-source
    // sort window, id tie-breaks make ranks exact)
    Q.sql(
      "q145_rank_normalize",
      """SELECT doc_id, source,
        |  round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars, doc_id), 6)
        |    AS pct_rank
        |FROM documents ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, d)
        .select($"doc_id", $"source",
          round(percent_rank().over(
            Window.partitionBy($"source").orderBy($"n_chars", $"doc_id")), 6)
            .as("pct_rank"))
        .orderBy($"doc_id")
    },

    // data-constrained scaling planner (Muennighoff et al. 2023): a
    // 1M-token training budget split equally across sources — how
    // many EPOCHS of each source that implies and which sources
    // exceed the ~4-epoch band where repeated data stops helping
    Q.sql(
      "q146_epoch_budget",
      """WITH t AS (SELECT source,
        |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS toks
        |  FROM documents GROUP BY 1),
        |k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM t)
        |SELECT source, toks,
        |  CAST(floor(1000000.0 / k.k) AS BIGINT) AS alloc_toks,
        |  round(floor(1000000.0 / k.k) / toks, 6) AS epochs,
        |  CAST(CASE WHEN floor(1000000.0 / k.k) / toks > 4 THEN 1 ELSE 0 END AS BIGINT)
        |    AS over_four
        |FROM t CROSS JOIN k ORDER BY source""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val t = Tables.documents(s, d)
        .groupBy($"source")
        .agg(sum(size(split(trim($"text"), "\\s+")).cast("long")).as("toks"))
      val k = t.agg(count(lit(1)).as("k"))
      t.crossJoin(broadcast(k))
        .select($"source", $"toks",
          floor(lit(1000000.0) / $"k").cast("long").as("alloc_toks"),
          round(floor(lit(1000000.0) / $"k") / $"toks", 6).as("epochs"),
          when(floor(lit(1000000.0) / $"k") / $"toks" > 4, 1L).otherwise(0L)
            .as("over_four"))
        .orderBy($"source")
    }
  )
}
