package graft.queries

import graft.{Q, Tables}
import graft.operators.{Clustering, DupGraph, Learning, Retrieval, Similarity}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embeddings table.
  * The brute-force top-k is the exact baseline with a full DuckDB
  * oracle; the LSH variant is the scale path, oracle-matched too, and
  * its recall against the brute-force answer is SimilaritySpec's.
  */
object SimilarityQueries {

  val all: Seq[Q] = Seq(
    Q.sql(
      "ann_topk_brute",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT query_id, neighbor_id, sim, rank FROM (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    round(list_dot_product(q.v, n.v)
        |          / sqrt(list_dot_product(q.v, q.v))
        |          / sqrt(list_dot_product(n.v, n.v)), 6) AS sim,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_dot_product(q.v, n.v)
        |            / sqrt(list_dot_product(q.v, q.v))
        |            / sqrt(list_dot_product(n.v, n.v)), 6) DESC, n.vec_id) AS rank
        |  FROM e q JOIN e n ON q.vec_id <> n.vec_id
        |  WHERE q.vec_id < 5) t
        |WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(
        emb, emb.filter($"vec_id" < 5), "vec_id", "embedding", k = 3)
        .orderBy($"query_id", $"rank")
    },

    // LSH-bucketed ANN, oracle-matched end-to-end: the full multi-table
    // multiprobe pipeline (bucketing, 1-bit-flip probes, candidate
    // union, exact re-rank) replayed in DuckDB SQL; additionally bound
    // by TextOpsSpec's recall check vs brute force.
    Q.sql(
      "ann_topk_lsh",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |buck AS (
        |  SELECT vec_id, v, t,
        |    CAST(list_sum(list_transform(range(0, 6), p ->
        |      CASE WHEN list_sum(list_transform(range(0, len(v)), i ->
        |        v[i+1] * ((CAST(('0x'||substr(md5(t||'_'||p||'_'||i),1,15)) AS BIGINT) % 2001 - 1000)/1000.0))) >= 0
        |      THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
        |  FROM e, (SELECT CAST(range AS BIGINT) AS t FROM range(8)) tt),
        |probes AS (
        |  SELECT b.vec_id AS query_id, b.v AS qv, b.t,
        |    CASE WHEN f.f = -1 THEN b.bucket ELSE xor(b.bucket, (CAST(1 AS BIGINT) << f.f)) END AS bucket
        |  FROM buck b, (SELECT CAST(range AS BIGINT) AS f FROM range(-1, 6)) f
        |  WHERE b.vec_id < 5),
        |cand AS (
        |  SELECT DISTINCT p.query_id, n.vec_id AS neighbor_id
        |  FROM probes p JOIN buck n ON p.t = n.t AND p.bucket = n.bucket
        |  WHERE p.query_id <> n.vec_id),
        |scored AS (
        |  SELECT c.query_id, c.neighbor_id,
        |    round(list_dot_product(q.v, n.v)/sqrt(list_dot_product(q.v, q.v))/sqrt(list_dot_product(n.v, n.v)), 6) AS sim
        |  FROM cand c JOIN e q ON q.vec_id = c.query_id JOIN e n ON n.vec_id = c.neighbor_id)
        |SELECT query_id, neighbor_id, sim, rank FROM (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(
        emb, emb.filter($"vec_id" < 5), "vec_id", "embedding",
        k = 3, tables = 8, planesPerTable = 6)
        .orderBy($"query_id", $"rank")
    },

    // the LSH transform itself, oracle-matched: per-table sign-bit
    // buckets under the deterministic md5-derived hyperplanes — the
    // double-precision dots are computed in identical index order.
    Q.sql(
      "ann_lsh_buckets",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 100)
        |SELECT vec_id, t AS tbl,
        |  CAST(list_sum(list_transform(range(0, 6), p ->
        |    CASE WHEN list_sum(list_transform(range(0, len(v)), i ->
        |      v[i+1] * ((CAST(('0x'||substr(md5(t||'_'||p||'_'||i),1,15)) AS BIGINT) % 2001 - 1000)/1000.0))) >= 0
        |    THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
        |FROM e, (SELECT CAST(range AS BIGINT) AS t FROM range(8)) tt
        |ORDER BY vec_id, tbl""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      Tables.embeddings(s, d).filter($"vec_id" < 100)
        .select($"vec_id",
          posexplode(graft.functions.GraftFunctions.lshBuckets($"embedding", 8, 6)))
        .select($"vec_id", $"pos".cast("long").as("tbl"), $"col".as("bucket"))
        .orderBy($"vec_id", $"tbl")
    },

    // array/nested-type element statistics over the embedding column —
    // the array-column manipulation primitive (sizes, element min/max,
    // in-order mean, L2 norm), all on the double-cast lists
    Q.sql(
      "q35_array_stats",
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  round(list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS el_min,
        |  round(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS el_max,
        |  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) / len(embedding), 6) AS el_mean,
        |  round(sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |                              list_transform(embedding, x -> CAST(x AS DOUBLE)))), 6) AS l2
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val dbl = transform($"embedding", x => x.cast("double"))
      def sumEl(c: org.apache.spark.sql.Column) = aggregate(c, lit(0.0), (a, x) => a + x)
      Tables.embeddings(s, d)
        .select($"vec_id",
          size($"embedding").cast("long").as("dim"),
          round(array_min(dbl), 6).as("el_min"),
          round(array_max(dbl), 6).as("el_max"),
          round(sumEl(dbl) / size($"embedding"), 6).as("el_mean"),
          round(sqrt(sumEl(zip_with(dbl, dbl, (a, b) => a * b))), 6).as("l2"))
        .orderBy($"vec_id")
    },

    // IVF ANN, oracle-matched end-to-end: deterministic coarse
    // quantizer (every 50th vector), nearest-cell inversion, 4-cell
    // probe, exact re-rank. The oracle's corpus-side assignment is a
    // STREAMING min over a lexicographic (negsim, cell) struct — the
    // windowed row_number replay materializes the corpus × centroid
    // grid (cells ∝ n ⇒ n²/50 rows carrying two vectors each) and
    // dies on disk at the 100× replica; min(STRUCT) replays the same
    // (csim DESC, cell ASC) pick-1 through a 1-row-per-vector hash
    // aggregate. The probe side keeps the window on the 5-query grid.
    // ASSUMES no zero-norm embeddings: a NaN similarity would sort
    // greatest under the window (DuckDB NaN-is-largest) but be skipped
    // by the struct min — the generated corpus has no zero vectors
    // (certified at 100×); re-check if the generator ever changes.
    Q.sql(
      "ann_topk_ivf",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id % 50 = 0),
        |inv0 AS (
        |  SELECT n.vec_id,
        |    min({'negsim': -(list_dot_product(n.v, c.cv)/sqrt(list_dot_product(n.v, n.v))/sqrt(list_dot_product(c.cv, c.cv))),
        |         'cell': c.cell}) AS b
        |  FROM e n, c
        |  GROUP BY n.vec_id),
        |inv AS (
        |  SELECT i.vec_id AS neighbor_id, e.v AS nv, struct_extract(i.b, 'cell') AS cell
        |  FROM inv0 i JOIN e ON e.vec_id = i.vec_id),
        |qasgn AS (
        |  SELECT n.vec_id, n.v, c.cell,
        |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |      list_dot_product(n.v, c.cv)/sqrt(list_dot_product(n.v, n.v))/sqrt(list_dot_product(c.cv, c.cv)) DESC,
        |      c.cell) AS crank
        |  FROM e n, c WHERE n.vec_id < 5),
        |probed AS (SELECT vec_id AS query_id, v AS qv, cell FROM qasgn WHERE crank <= 4)
        |SELECT query_id, neighbor_id, sim, rank FROM (
        |  SELECT p.query_id, i.neighbor_id,
        |    round(list_dot_product(p.qv, i.nv)/sqrt(list_dot_product(p.qv, p.qv))/sqrt(list_dot_product(i.nv, i.nv)), 6) AS sim,
        |    row_number() OVER (PARTITION BY p.query_id ORDER BY
        |      round(list_dot_product(p.qv, i.nv)/sqrt(list_dot_product(p.qv, p.qv))/sqrt(list_dot_product(i.nv, i.nv)), 6) DESC,
        |      i.neighbor_id) AS rank
        |  FROM probed p JOIN inv i ON p.cell = i.cell AND p.query_id <> i.neighbor_id) t
        |WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(
        emb, emb.filter($"vec_id" < 5), "vec_id", "embedding",
        k = 3, centroidStep = 50, nProbe = 4)
        .orderBy($"query_id", $"rank")
    },

    // int8 scalar quantization (the 4× compression step before ANN
    // distance evaluation): per-dim min/max buckets, floor — pure IEEE
    // arithmetic, so codes match DuckDB bit-for-bit with NO rounding
    Q.sql(
      "q68_embed_quantize",
      """WITH e AS (
        |  SELECT vec_id,
        |    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v,
        |    CAST(unnest(range(len(embedding))) AS BIGINT) AS dim
        |  FROM embeddings),
        |st AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM e GROUP BY dim)
        |SELECT vec_id, dim,
        |  CAST(CASE WHEN mx = mn THEN 0
        |       ELSE least(floor((v - mn) / (mx - mn) * 255), 254) - 127 END AS BIGINT) AS code
        |FROM e JOIN st USING (dim)
        |ORDER BY vec_id, dim""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Similarity.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding")
        .orderBy($"vec_id", $"dim")
    },

    // product-quantization ADC top-k: codebook build, per-block
    // encoding, and the asymmetric distance sum are all replayed in
    // SQL — the hash-match certifies identical codes and ranking
    Q.sql(
      "q76_pq_topk",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cent AS (
        |  SELECT CAST(vec_id // 20 AS BIGINT) AS cid, v AS cv
        |  FROM e WHERE vec_id % 20 = 0 AND vec_id // 20 < 16),
        |sub AS (SELECT j FROM range(0, 4) r(j)),
        |es AS (SELECT vec_id, j, v[j*16+1 : j*16+16] AS vs FROM e, sub),
        |cs AS (SELECT cid, j, cv[j*16+1 : j*16+16] AS csv FROM cent, sub),
        |dist AS (
        |  SELECT es.vec_id, es.j, cs.cid,
        |    list_sum(list_transform(range(1, 17), t -> (es.vs[t]-cs.csv[t])*(es.vs[t]-cs.csv[t]))) AS d
        |  FROM es JOIN cs ON es.j = cs.j),
        |codes AS (
        |  SELECT vec_id, j, cid FROM (
        |    SELECT vec_id, j, cid, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rn
        |    FROM dist) WHERE rn = 1),
        |qd AS (SELECT vec_id AS query_id, j, cid, d FROM dist WHERE vec_id < 5),
        |adc AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id, round(sum(q.d), 4) AS adc
        |  FROM codes c JOIN qd q ON q.j = c.j AND q.cid = c.cid
        |  WHERE q.query_id <> c.vec_id
        |  GROUP BY q.query_id, c.vec_id)
        |SELECT query_id, neighbor_id, adc, rank FROM (
        |  SELECT query_id, neighbor_id, adc,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
        |  FROM adc) t WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      Similarity.pqTopK(
        emb, emb.filter($"vec_id" < 5), "vec_id", "embedding",
        k = 3, subvectors = 4, subDim = 16, numCentroids = 16, centroidStep = 20)
        .orderBy($"query_id", $"rank")
    },

    // SemDeDup end to end with the deterministic stride codebook:
    // cluster assignment, within-cell cosine pairs, connected
    // components, canonical survivors — the full semantic-dedup chain
    // replayed in SQL
    Q.sql(
      "q78_semantic_dedup",
      """WITH RECURSIVE
        |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id % 50 = 0),
        |asgn AS (
        |  SELECT n.vec_id, n.v, c.cell,
        |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |      list_dot_product(n.v, c.cv)/sqrt(list_dot_product(n.v, n.v))/sqrt(list_dot_product(c.cv, c.cv)) DESC,
        |      c.cell) AS crank
        |  FROM e n, c),
        |m AS (SELECT vec_id, v, cell FROM asgn WHERE crank = 1),
        |p AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib
        |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.v, b.v)
        |        / sqrt(list_dot_product(a.v, a.v))
        |        / sqrt(list_dot_product(b.v, b.v)), 6) >= 0.40),
        |edges AS (SELECT ia AS a, ib AS b FROM p UNION SELECT ib, ia FROM p),
        |walk AS (
        |  SELECT a AS node, a AS label FROM edges
        |  UNION
        |  SELECT e2.a AS node, w2.label AS label FROM edges e2 JOIN walk w2 ON w2.node = e2.b
        |)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (
        |  SELECT node FROM walk GROUP BY node HAVING min(label) <> node)
        |ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val (survivors, _) = Similarity.semanticDedupStride(
        emb, "vec_id", "embedding", centroidStep = 50, threshold = 0.40)
      survivors.select($"vec_id").orderBy($"vec_id")
    },

    // q78's assignment-stage scale path: the stride codebook grows
    // k ∝ n, so exact assignment (corpus × all k) is quadratic;
    // here vectors and centroids share sign-bit LSH buckets and each
    // vector takes its most-similar BUCKET-MATE centroid (no-candidate
    // vectors survive unpaired, like a singleton cell). The oracle
    // replays the full bucket→assign→pair→component→survivor chain.
    Q.sql(
      "q150_semdedup_bucketed",
      """WITH RECURSIVE
        |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |vb AS (
        |  SELECT vec_id, v, t,
        |    CAST(list_sum(list_transform(range(0, 4), p ->
        |      CASE WHEN list_sum(list_transform(range(0, len(v)), i ->
        |        v[i+1] * ((CAST(('0x'||substr(md5(t||'_'||p||'_'||i),1,15)) AS BIGINT) % 2001 - 1000)/1000.0))) >= 0
        |      THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
        |  FROM e, (SELECT CAST(range AS BIGINT) AS t FROM range(4)) tt),
        |cand AS (
        |  SELECT DISTINCT a.vec_id, a.v, c.vec_id AS cell, c.v AS cv
        |  FROM vb a JOIN vb c ON a.t = c.t AND a.bucket = c.bucket
        |  WHERE c.vec_id % 50 = 0),
        |asgn AS (
        |  SELECT vec_id, v, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY
        |      list_dot_product(v, cv)/sqrt(list_dot_product(v, v))/sqrt(list_dot_product(cv, cv)) DESC,
        |      cell) AS crank
        |  FROM cand),
        |m AS (SELECT vec_id, v, cell FROM asgn WHERE crank = 1),
        |p AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib
        |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.v, b.v)
        |        / sqrt(list_dot_product(a.v, a.v))
        |        / sqrt(list_dot_product(b.v, b.v)), 6) >= 0.40),
        |edges AS (SELECT ia AS a, ib AS b FROM p UNION SELECT ib, ia FROM p),
        |walk AS (
        |  SELECT a AS node, a AS label FROM edges
        |  UNION
        |  SELECT e2.a AS node, w2.label AS label FROM edges e2 JOIN walk w2 ON w2.node = e2.b
        |)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (
        |  SELECT node FROM walk GROUP BY node HAVING min(label) <> node)
        |ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val (survivors, _) = Similarity.semanticDedupBucketed(
        emb, "vec_id", "embedding", centroidStep = 50, threshold = 0.40,
        tables = 4, planesPerTable = 4)
      survivors.select($"vec_id").orderBy($"vec_id")
    },

    // Lloyd's k-means, oracle-certified end to end: stride init, one
    // full assign→update iteration, final re-assignment — per-cell
    // membership and inertia replayed in SQL (round-6 distances and
    // centroid means make every iteration bit-identical cross-engine)
    Q.sql(
      "q88_kmeans_lloyd",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |c0 AS (SELECT CAST(vec_id // 50 AS BIGINT) AS cell, v AS cv FROM e WHERE vec_id % 50 = 0),
        |a1 AS (SELECT vec_id, v, cell FROM (
        |  SELECT e.vec_id, e.v, c.cell,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      round(list_sum(list_transform(range(1,65), i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))), 6),
        |      c.cell) AS rn
        |  FROM e, c0 c) WHERE rn = 1),
        |c1 AS (SELECT cell, list(m ORDER BY dim) AS cv FROM (
        |  SELECT cell, dim, round(avg(v[dim]), 6) AS m
        |  FROM a1, range(1,65) r(dim) GROUP BY cell, dim) GROUP BY cell),
        |a2 AS (SELECT vec_id, cell, d FROM (
        |  SELECT e.vec_id, c.cell,
        |    round(list_sum(list_transform(range(1,65), i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))), 6) AS d,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      round(list_sum(list_transform(range(1,65), i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))), 6),
        |      c.cell) AS rn
        |  FROM e, c1 c) WHERE rn = 1)
        |SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
        |  round(sum(CAST(round(d * 1000000, 0) AS BIGINT)) / 1000000.0, 3) AS inertia
        |FROM a2 GROUP BY cell
        |ORDER BY cell""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val cents = Clustering.kmeansLloyd(emb, "vec_id", "embedding",
        centroidStep = 50, iters = 1)
      Clustering.cellSummary(Clustering.assignCells(emb, "vec_id", "embedding", cents))
        .orderBy($"cell")
    },

    // q88 with the SCALE-CERTIFIABLE dial: the stride is derived from
    // the corpus size as floor(sqrt(n)), so k ∝ sqrt(n) and the
    // oracle's corpus × centroid grid grows n^1.5 instead of n² —
    // single-node-replayable even at the 100× (~sf10) replica, which
    // closes the clustering family's last uncertified decade. Same
    // Lloyd iteration, same round-6 / exact-micro-integer arithmetic.
    // (oracle note: the corpus × centroid windows keep their inputs
    // NARROW — (vec_id, cell, d) only, vectors re-joined for the
    // centroid update — so the single-node replay streams ~90M thin
    // rows at the 100× replica instead of materializing 64-double
    // lists per grid row, which OOMs)
    Q.sql(
      "q151_kmeans_sqrtk",
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS MATERIALIZED (SELECT greatest(CAST(floor(sqrt(count(*))) AS BIGINT), 1) AS step FROM embeddings),
        |c0 AS MATERIALIZED (SELECT CAST(vec_id // s.step AS BIGINT) AS cell, v AS cv FROM e, s WHERE vec_id % s.step = 0),
        |d1 AS MATERIALIZED (SELECT e.vec_id, c.cell,
        |    round(list_sum(list_transform(range(1,65), i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))), 6) AS d
        |  FROM e, c0 c),
        |a1 AS MATERIALIZED (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        |  FROM d1) WHERE rn = 1),
        |c1 AS MATERIALIZED (SELECT cell, list(m ORDER BY dim) AS cv FROM (
        |  SELECT a1.cell, dim, round(avg(e.v[dim]), 6) AS m
        |  FROM a1 JOIN e ON e.vec_id = a1.vec_id, range(1,65) r(dim)
        |  GROUP BY a1.cell, dim) GROUP BY cell),
        |d2 AS MATERIALIZED (SELECT e.vec_id, c.cell,
        |    round(list_sum(list_transform(range(1,65), i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))), 6) AS d
        |  FROM e, c1 c),
        |a2 AS MATERIALIZED (SELECT vec_id, cell, d FROM (
        |  SELECT vec_id, cell, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        |  FROM d2) WHERE rn = 1)
        |SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
        |  round(sum(CAST(round(d * 1000000, 0) AS BIGINT)) / 1000000.0, 3) AS inertia
        |FROM a2 GROUP BY cell
        |ORDER BY cell""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val n = emb.select($"vec_id").count()
      val step = math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong).toInt
      val cents = Clustering.kmeansLloyd(emb, "vec_id", "embedding",
        centroidStep = step, iters = 1)
      Clustering.cellSummary(Clustering.assignCells(emb, "vec_id", "embedding", cents))
        .orderBy($"cell")
    },

    // q150's bucketed semantic dedup with the same sqrt(n) stride:
    // codebook k ∝ sqrt(n) keeps the oracle's bucket-join replay
    // sub-quadratic, certifiable at the 100× replica.
    //
    // The dup-component min-label is computed by UNROLLED pointer-
    // jumping rounds (l1..l24), NOT a recursive transitive-closure
    // walk: the walk's (node, reachable-label) fixpoint is quadratic
    // in component size and blew past 65 GB / 95 min on the 100×
    // replica's ~450-member cells, while each jumping round is one
    // linear (node, lbl) table. Min-label + label-chase converges in
    // O(log n) rounds; 24 rounds cover any component this corpus can
    // produce, and under-provisioning is loud (hash mismatch against
    // the engine's exact union-find CC), never silent.
    Q.sql(
      "q152_semdedup_sqrtk",
      """WITH
        |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT greatest(CAST(floor(sqrt(count(*))) AS BIGINT), 1) AS step FROM embeddings),
        |vb AS (
        |  SELECT vec_id, v, t,
        |    CAST(list_sum(list_transform(range(0, 4), p ->
        |      CASE WHEN list_sum(list_transform(range(0, len(v)), i ->
        |        v[i+1] * ((CAST(('0x'||substr(md5(t||'_'||p||'_'||i),1,15)) AS BIGINT) % 2001 - 1000)/1000.0))) >= 0
        |      THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
        |  FROM e, (SELECT CAST(range AS BIGINT) AS t FROM range(4)) tt),
        |cand AS (
        |  SELECT DISTINCT a.vec_id, c.vec_id AS cell
        |  FROM vb a JOIN vb c ON a.t = c.t AND a.bucket = c.bucket, s
        |  WHERE c.vec_id % s.step = 0),
        |sims AS (
        |  SELECT cand.vec_id, cand.cell,
        |    list_dot_product(ea.v, ec.v)/sqrt(list_dot_product(ea.v, ea.v))/sqrt(list_dot_product(ec.v, ec.v)) AS sim
        |  FROM cand JOIN e ea ON ea.vec_id = cand.vec_id JOIN e ec ON ec.vec_id = cand.cell),
        |asgn AS (
        |  SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS crank
        |  FROM sims),
        |m AS (SELECT vec_id, cell FROM asgn WHERE crank = 1),
        |p AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib
        |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
        |  WHERE round(list_dot_product(ea.v, eb.v)
        |        / sqrt(list_dot_product(ea.v, ea.v))
        |        / sqrt(list_dot_product(eb.v, eb.v)), 6) >= 0.40),
        |edges AS MATERIALIZED (SELECT ia AS a, ib AS b FROM p UNION SELECT ib, ia FROM p),
        |l0 AS MATERIALIZED (SELECT a AS node, least(a, min(b)) AS lbl FROM edges GROUP BY a),
        |""".stripMargin +
      // MATERIALIZED is load-bearing: each round references the prior
      // one three times, and an inlining planner would otherwise
      // expand l24 into 3^24 scans (DuckDB 1.0 inlines CTEs by default)
      (1 to 24).map { i =>
        s"""l$i AS MATERIALIZED (SELECT v.node, least(v.lbl, coalesce(nb.m, v.lbl), coalesce(ch.lbl, v.lbl)) AS lbl
           |  FROM l${i - 1} v
           |  LEFT JOIN (SELECT e2.a AS node, min(l.lbl) AS m FROM edges e2
           |             JOIN l${i - 1} l ON l.node = e2.b GROUP BY e2.a) nb ON nb.node = v.node
           |  LEFT JOIN l${i - 1} ch ON ch.node = v.lbl)""".stripMargin
      }.mkString(",\n") +
      """
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT node FROM l24 WHERE lbl <> node)
        |ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val n = emb.select($"vec_id").count()
      val step = math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong).toInt
      val (survivors, _) = Similarity.semanticDedupBucketed(
        emb, "vec_id", "embedding", centroidStep = step, threshold = 0.40,
        tables = 4, planesPerTable = 4, corpusCount = n)
      survivors.select($"vec_id").orderBy($"vec_id")
    },

    // PageRank over the exact cosine 3-NN graph of the first 500
    // embeddings: 3 power iterations, damping 17/20, FIXED-POINT
    // integer arithmetic (scale 1e9, floor divisions) — the whole
    // trajectory is bit-exact in SQL, no floating rounding grain to
    // flip on. Graph-centrality scoring for similarity graphs.
    Q.sql(
      "q93_pagerank",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings WHERE vec_id < 500),
        |scored AS (
        |  SELECT a.vec_id AS src, b.vec_id AS dst,
        |    round(list_dot_product(a.v, b.v)
        |          / sqrt(list_dot_product(a.v, a.v))
        |          / sqrt(list_dot_product(b.v, b.v)), 6) AS sim
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |edges AS (
        |  SELECT src, dst FROM (
        |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rnk
        |    FROM scored) WHERE rnk <= 3),
        |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
        |r0 AS (SELECT node, 1000000000 // n AS rr FROM nodes, nn),
        |r1 AS (
        |  SELECT n2.node,
        |    3000000000 // (20 * n2.n) + (17 * coalesce(c.c, 0)) // 20 AS rr
        |  FROM (SELECT node, n FROM nodes, nn) n2
        |  LEFT JOIN (
        |    SELECT ed.dst AS node, sum(ra.rr // d.outdeg) AS c
        |    FROM edges ed JOIN r0 ra ON ed.src = ra.node JOIN deg d ON ed.src = d.node
        |    GROUP BY ed.dst) c ON n2.node = c.node),
        |r2 AS (
        |  SELECT n2.node,
        |    3000000000 // (20 * n2.n) + (17 * coalesce(c.c, 0)) // 20 AS rr
        |  FROM (SELECT node, n FROM nodes, nn) n2
        |  LEFT JOIN (
        |    SELECT ed.dst AS node, sum(ra.rr // d.outdeg) AS c
        |    FROM edges ed JOIN r1 ra ON ed.src = ra.node JOIN deg d ON ed.src = d.node
        |    GROUP BY ed.dst) c ON n2.node = c.node),
        |r3 AS (
        |  SELECT n2.node,
        |    3000000000 // (20 * n2.n) + (17 * coalesce(c.c, 0)) // 20 AS rr
        |  FROM (SELECT node, n FROM nodes, nn) n2
        |  LEFT JOIN (
        |    SELECT ed.dst AS node, sum(ra.rr // d.outdeg) AS c
        |    FROM edges ed JOIN r2 ra ON ed.src = ra.node JOIN deg d ON ed.src = d.node
        |    GROUP BY ed.dst) c ON n2.node = c.node)
        |SELECT node, CAST(rr AS BIGINT) AS pagerank_e9 FROM r3
        |ORDER BY node""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).filter($"vec_id" < 500)
      val edges = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 3)
        .select($"query_id".as("src"), $"neighbor_id".as("dst"))
      DupGraph.pageRank(edges, "src", "dst", iters = 3)
        .select($"node", $"pagerank_e9")
        .orderBy($"node")
    },

    // k-NN majority-vote classification of the first 50 vectors
    // against the labeled corpus (5-NN, vote ties to the smaller
    // label) — the weak-supervision/label-propagation primitive
    Q.sql(
      "q95_knn_classify",
      """WITH e AS MATERIALIZED (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |nn AS MATERIALIZED (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        round(list_dot_product(q.v, n.v)/sqrt(list_dot_product(q.v, q.v))/sqrt(list_dot_product(n.v, n.v)), 6) DESC,
        |        n.vec_id) AS rank
        |    FROM e q JOIN e n ON q.vec_id <> n.vec_id
        |    WHERE q.vec_id < 50) WHERE rank <= 5),
        |votes AS MATERIALIZED (
        |  SELECT nn.query_id, CAST(e.label AS BIGINT) AS lbl, CAST(count(*) AS BIGINT) AS votes
        |  FROM nn JOIN e ON e.vec_id = nn.neighbor_id
        |  GROUP BY nn.query_id, e.label),
        |win AS MATERIALIZED (
        |  SELECT query_id, lbl, votes,
        |    row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, lbl) AS rn
        |  FROM votes)
        |SELECT w.query_id, CAST(e.label AS BIGINT) AS true_label, w.lbl AS pred_label, w.votes
        |FROM win w JOIN e ON e.vec_id = w.query_id
        |WHERE w.rn = 1
        |ORDER BY w.query_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      Similarity.knnClassify(
        emb, emb.filter($"vec_id" < 50), "vec_id", "embedding", "label", k = 5)
        .orderBy($"query_id")
    },

    // q95's SCALE path (the q164 sampled-verify pattern on the QUERY
    // side): exact 5-NN majority vote for a deterministic hash-RANKED
    // 20-query sample — hash60('knnq5:'||id) smallest-20, RNG-free,
    // so DuckDB regenerates the identical query set — bounding the
    // query×corpus grid to 20·n by construction at every decade. The
    // exact q95's fixed-50-query oracle materializes ~84 GB in DuckDB
    // at the 2M-vector replica (measured pin failure); this oracle
    // also stages the scores as a narrow MATERIALIZED CTE so the
    // window never re-derives pair vectors.
    Q.sql(
      "q165_knn_classify_sampled",
      """WITH e AS MATERIALIZED (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS MATERIALIZED (
        |  SELECT vec_id, v FROM (
        |    SELECT vec_id, v, row_number() OVER (ORDER BY
        |      ('0x'||substr(md5('knnq5:'||CAST(vec_id AS VARCHAR)),1,15))::BIGINT, vec_id) AS _qrn
        |    FROM e) WHERE _qrn <= 20),
        |scored AS MATERIALIZED (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    round(list_dot_product(q.v, n.v)/sqrt(list_dot_product(q.v, q.v))/sqrt(list_dot_product(n.v, n.v)), 6) AS sim
        |  FROM e n JOIN q ON q.vec_id <> n.vec_id),
        |nn AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |    FROM scored) WHERE rank <= 5),
        |votes AS (
        |  SELECT nn.query_id, CAST(e.label AS BIGINT) AS lbl, CAST(count(*) AS BIGINT) AS votes
        |  FROM nn JOIN e ON e.vec_id = nn.neighbor_id
        |  GROUP BY nn.query_id, e.label),
        |win AS (
        |  SELECT query_id, lbl, votes,
        |    row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, lbl) AS rn
        |  FROM votes)
        |SELECT w.query_id, CAST(e.label AS BIGINT) AS true_label, w.lbl AS pred_label, w.votes
        |FROM win w JOIN e ON e.vec_id = w.query_id
        |WHERE w.rn = 1
        |ORDER BY w.query_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val q = Similarity.sampleQueriesByHashRank(emb, "vec_id", "knnq5", 20)
      Similarity.knnClassify(emb, q, "vec_id", "embedding", "label", k = 5)
        .orderBy($"query_id")
    },

    // nearest-centroid (Rocchio) classification: per-label round-6
    // mean centroids, round-6 squared-distance assignment, confusion
    // matrix — broadcast centroids × one corpus scan
    Q.sql(
      "q96_centroid_confusion",
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cent AS (SELECT label AS cl, list(m ORDER BY dim) AS cv FROM (
        |  SELECT label, dim, round(avg(v[dim]), 6) AS m
        |  FROM e, range(1,65) r(dim) GROUP BY label, dim) GROUP BY label),
        |asgn AS (SELECT vec_id, cl FROM (
        |  SELECT e.vec_id, c.cl,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      round(list_sum(list_transform(range(1,65), i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))), 6),
        |      c.cl) AS rn
        |  FROM e, cent c) WHERE rn = 1)
        |SELECT e.label, a.cl AS pred, CAST(count(*) AS BIGINT) AS n
        |FROM asgn a JOIN e ON e.vec_id = a.vec_id
        |GROUP BY e.label, a.cl
        |ORDER BY e.label, pred""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Clustering.nearestCentroidConfusion(
        Tables.embeddings(s, d), "vec_id", "embedding", "label")
        .orderBy($"label", $"pred")
    },

    // triangle count + local clustering coefficient over the exact
    // cosine 3-NN graph (same edge set as q93): near-dup transitivity
    // probe, each triangle counted once as an oriented 3-way equi-join
    Q.sql(
      "q98_triangles",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings WHERE vec_id < 500),
        |scored AS (
        |  SELECT a.vec_id AS src, b.vec_id AS dst,
        |    round(list_dot_product(a.v, b.v)
        |          / sqrt(list_dot_product(a.v, a.v))
        |          / sqrt(list_dot_product(b.v, b.v)), 6) AS sim
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |edges AS (
        |  SELECT src, dst FROM (
        |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rnk
        |    FROM scored) WHERE rnk <= 3),
        |ue AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
        |tri AS (
        |  SELECT e1.a, e1.b, e2.c
        |  FROM ue e1
        |  JOIN (SELECT a AS b, b AS c FROM ue) e2 USING (b)
        |  JOIN (SELECT a, b AS c FROM ue) e3 USING (a, c)),
        |tpn AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
        |    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |  GROUP BY node),
        |deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        |    SELECT a AS node FROM ue UNION ALL SELECT b FROM ue)
        |  GROUP BY node)
        |SELECT d.node AS node, d.degree, coalesce(t.triangles, 0) AS triangles,
        |  round(CASE WHEN d.degree >= 2
        |    THEN 2.0 * coalesce(t.triangles, 0) / (d.degree * (d.degree - 1))
        |    ELSE 0.0 END, 6) AS clustering_coeff
        |FROM deg d LEFT JOIN tpn t ON d.node = t.node
        |ORDER BY node""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).filter($"vec_id" < 500)
      val edges = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 3)
        .select($"query_id".as("src"), $"neighbor_id".as("dst"))
      DupGraph.triangleCounts(edges, "src", "dst")
        .orderBy($"node")
    },

    // matryoshka truncation probe: recall@10 of first-16-dims exact
    // search vs full 64-dim exact search, per query — the
    // embedding-storage sizing measurement
    Q.sql(
      "q103_mrl_recall",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id, v FROM e WHERE vec_id % 50 = 0),
        |fl AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        round(list_dot_product(q.v, n.v)/sqrt(list_dot_product(q.v, q.v))/sqrt(list_dot_product(n.v, n.v)), 6) DESC,
        |        n.vec_id) AS rnk
        |    FROM e n JOIN q ON q.vec_id <> n.vec_id) WHERE rnk <= 10),
        |et AS (SELECT vec_id, v[1:16] AS v FROM e),
        |qt AS (SELECT vec_id, v FROM et WHERE vec_id % 50 = 0),
        |tr AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        round(list_dot_product(q.v, n.v)/sqrt(list_dot_product(q.v, q.v))/sqrt(list_dot_product(n.v, n.v)), 6) DESC,
        |        n.vec_id) AS rnk
        |    FROM et n JOIN qt q ON q.vec_id <> n.vec_id) WHERE rnk <= 10)
        |SELECT fl.query_id AS query_id, CAST(count(tr.neighbor_id) AS BIGINT) AS n_common,
        |  round(CAST(count(tr.neighbor_id) AS DOUBLE) / 10, 6) AS recall
        |FROM fl LEFT JOIN tr ON fl.query_id = tr.query_id AND fl.neighbor_id = tr.neighbor_id
        |GROUP BY fl.query_id
        |ORDER BY query_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      Similarity.truncationRecall(
        emb, emb.filter($"vec_id" % 50 === 0), "vec_id", "embedding",
        prefixDims = 16, k = 10)
        .orderBy($"query_id")
    },

    // q103's SCALE path: the same recall@10 probe over a
    // deterministic hash-RANKED 20-query sample (seed 'mrlq5') — the
    // exact q103's `vec_id % 50` query side grows WITH the corpus
    // (n/50 queries × n corpus = n²/50 on both engines), while the
    // fixed-count sample bounds both brute-force grids to 20·n at
    // every decade; exact answers over the sampled set, and both
    // score stages staged narrow-MATERIALIZED so DuckDB's windows
    // never re-derive pair vectors.
    Q.sql(
      "q166_mrl_recall_sampled",
      """WITH e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS MATERIALIZED (
        |  SELECT vec_id, v FROM (
        |    SELECT vec_id, v, row_number() OVER (ORDER BY
        |      ('0x'||substr(md5('mrlq5:'||CAST(vec_id AS VARCHAR)),1,15))::BIGINT, vec_id) AS _qrn
        |    FROM e) WHERE _qrn <= 20),
        |sf AS MATERIALIZED (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    round(list_dot_product(q.v, n.v)/sqrt(list_dot_product(q.v, q.v))/sqrt(list_dot_product(n.v, n.v)), 6) AS sim
        |  FROM e n JOIN q ON q.vec_id <> n.vec_id),
        |fl AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |    FROM sf) WHERE rnk <= 10),
        |et AS (SELECT vec_id, v[1:16] AS v FROM e),
        |qt AS (SELECT vec_id, v[1:16] AS v FROM q),
        |st AS MATERIALIZED (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    round(list_dot_product(q.v, n.v)/sqrt(list_dot_product(q.v, q.v))/sqrt(list_dot_product(n.v, n.v)), 6) AS sim
        |  FROM et n JOIN qt q ON q.vec_id <> n.vec_id),
        |tr AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |    FROM st) WHERE rnk <= 10)
        |SELECT fl.query_id AS query_id, CAST(count(tr.neighbor_id) AS BIGINT) AS n_common,
        |  round(CAST(count(tr.neighbor_id) AS DOUBLE) / 10, 6) AS recall
        |FROM fl LEFT JOIN tr ON fl.query_id = tr.query_id AND fl.neighbor_id = tr.neighbor_id
        |GROUP BY fl.query_id
        |ORDER BY query_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val q = Similarity.sampleQueriesByHashRank(emb, "vec_id", "mrlq5", 20)
      Similarity.truncationRecall(
        emb, q, "vec_id", "embedding", prefixDims = 16, k = 10)
        .orderBy($"query_id")
    },

    // Johnson-Lindenstrauss 64->16 projection with the deterministic
    // +-1 hash-sign matrix; per-pair distance-preservation ratio on a
    // bounded id range (the projection itself is narrow and unbounded)
    Q.sql(
      "q106_jl_ratio",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 100),
        |p AS (
        |  SELECT vec_id, v,
        |    list_transform(range(0, 16), k ->
        |      list_sum(list_transform(range(1, len(v)+1), i ->
        |        v[i] * (CASE WHEN ('0x'||substr(md5('jl_' || CAST(k AS VARCHAR) || '_' || CAST(i-1 AS VARCHAR)),1,15))::BIGINT % 2 = 0
        |          THEN 1.0 ELSE -1.0 END))) / 4.0) AS jl
        |  FROM e)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(
        |    sqrt(list_sum(list_transform(range(1,17), i -> (a.jl[i]-b.jl[i])*(a.jl[i]-b.jl[i]))))
        |    / sqrt(list_sum(list_transform(range(1,len(a.v)+1), i -> (a.v[i]-b.v[i])*(a.v[i]-b.v[i])))), 4) AS dist_ratio
        |FROM p a JOIN p b ON a.vec_id < b.vec_id
        |ORDER BY id_a, id_b""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      def l2(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        sqrt(aggregate(
          zip_with(x, y, (p, q) =>
            (p.cast("double") - q.cast("double")) * (p.cast("double") - q.cast("double"))),
          lit(0.0), (acc, v) => acc + v))
      val proj = Similarity.jlProject(
        Tables.embeddings(s, d).filter($"vec_id" < 100), "vec_id", "embedding", outDims = 16)
      val a = proj.select($"vec_id".as("id_a"), $"embedding".as("va"), $"jl".as("ja"))
      val b = proj.select($"vec_id".as("id_b"), $"embedding".as("vb"), $"jl".as("jb"))
      a.join(b, $"id_a" < $"id_b")
        .select($"id_a", $"id_b",
          round(l2($"ja", $"jb") / l2($"va", $"vb"), 4).as("dist_ratio"))
        .orderBy($"id_a", $"id_b")
    },

    // semi-supervised label propagation: 20 percent trusted seeds
    // spread over the 3-NN graph for two frontier rounds (majority
    // vote, ties to the smaller label) — the weak-supervision
    // primitive; round column certifies WHEN each node was reached
    Q.sql(
      "q109_label_prop",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings WHERE vec_id < 500),
        |scored AS (
        |  SELECT a.vec_id AS src, b.vec_id AS dst,
        |    round(list_dot_product(a.v, b.v)
        |          / sqrt(list_dot_product(a.v, a.v))
        |          / sqrt(list_dot_product(b.v, b.v)), 6) AS sim
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |edges AS (
        |  SELECT src, dst FROM (
        |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rnk
        |    FROM scored) WHERE rnk <= 3),
        |sym AS (SELECT DISTINCT node, nbr FROM (
        |  SELECT src AS node, dst AS nbr FROM edges UNION ALL SELECT dst, src FROM edges)),
        |l0 AS (
        |  SELECT vec_id AS node, CAST(label AS BIGINT) AS label, CAST(0 AS BIGINT) AS round
        |  FROM embeddings WHERE vec_id < 500 AND vec_id % 5 = 0),
        |v1 AS (
        |  SELECT s.node, l.label, count(*) AS v
        |  FROM sym s JOIN l0 l ON l.node = s.nbr
        |  WHERE s.node NOT IN (SELECT node FROM l0)
        |  GROUP BY s.node, l.label),
        |n1 AS (
        |  SELECT node, label, CAST(1 AS BIGINT) AS round FROM (
        |    SELECT node, label, row_number() OVER (PARTITION BY node ORDER BY v DESC, label) AS rn
        |    FROM v1) WHERE rn = 1),
        |l1 AS (SELECT * FROM l0 UNION ALL SELECT * FROM n1),
        |v2 AS (
        |  SELECT s.node, l.label, count(*) AS v
        |  FROM sym s JOIN l1 l ON l.node = s.nbr
        |  WHERE s.node NOT IN (SELECT node FROM l1)
        |  GROUP BY s.node, l.label),
        |n2 AS (
        |  SELECT node, label, CAST(2 AS BIGINT) AS round FROM (
        |    SELECT node, label, row_number() OVER (PARTITION BY node ORDER BY v DESC, label) AS rn
        |    FROM v2) WHERE rn = 1),
        |l2 AS (SELECT * FROM l1 UNION ALL SELECT * FROM n2)
        |SELECT node, label, round FROM l2 ORDER BY node""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).filter($"vec_id" < 500)
      val edges = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 3)
        .select($"query_id".as("src"), $"neighbor_id".as("dst"))
      val seeds = emb.filter($"vec_id" % 5 === 0)
        .select($"vec_id", $"label".cast("long").as("label"))
      DupGraph.labelPropagate(edges, "src", "dst", seeds, "vec_id", "label", iters = 2)
        .orderBy($"node")
    },

    // 3-core of the mutual-5NN graph by iterative peeling (9-round
    // cascade at sf0.01; extra replay rounds are no-ops so the
    // early-exit Spark run and the fixed-round oracle agree) — the
    // density filter separating real duplicate clusters from chains
    Q.sql(
      "q110_kcore",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings WHERE vec_id < 500),
        |scored AS (
        |  SELECT a.vec_id AS src, b.vec_id AS dst,
        |    round(list_dot_product(a.v, b.v)
        |          / sqrt(list_dot_product(a.v, a.v))
        |          / sqrt(list_dot_product(b.v, b.v)), 6) AS sim
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |knn AS (
        |  SELECT src, dst FROM (
        |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rnk
        |    FROM scored) WHERE rnk <= 5),
        |ue AS MATERIALIZED (
        |  SELECT a.src AS a, a.dst AS b FROM knn a
        |  JOIN knn b ON a.src = b.dst AND a.dst = b.src
        |  WHERE a.src < a.dst),
        |k1 AS MATERIALIZED (SELECT node FROM (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM ue UNION ALL SELECT b FROM ue) GROUP BY node)
        |  WHERE d >= 3),
        |e1 AS MATERIALIZED (SELECT a, b FROM ue
        |  WHERE a IN (SELECT node FROM k1) AND b IN (SELECT node FROM k1)),
        |k2 AS MATERIALIZED (SELECT node FROM (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1) GROUP BY node)
        |  WHERE d >= 3),
        |e2 AS MATERIALIZED (SELECT a, b FROM e1
        |  WHERE a IN (SELECT node FROM k2) AND b IN (SELECT node FROM k2)),
        |k3 AS MATERIALIZED (SELECT node FROM (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2) GROUP BY node)
        |  WHERE d >= 3),
        |e3 AS MATERIALIZED (SELECT a, b FROM e2
        |  WHERE a IN (SELECT node FROM k3) AND b IN (SELECT node FROM k3)),
        |k4 AS MATERIALIZED (SELECT node FROM (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3) GROUP BY node)
        |  WHERE d >= 3),
        |e4 AS MATERIALIZED (SELECT a, b FROM e3
        |  WHERE a IN (SELECT node FROM k4) AND b IN (SELECT node FROM k4)),
        |k5 AS MATERIALIZED (SELECT node FROM (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e4 UNION ALL SELECT b FROM e4) GROUP BY node)
        |  WHERE d >= 3),
        |e5 AS MATERIALIZED (SELECT a, b FROM e4
        |  WHERE a IN (SELECT node FROM k5) AND b IN (SELECT node FROM k5)),
        |k6 AS MATERIALIZED (SELECT node FROM (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e5 UNION ALL SELECT b FROM e5) GROUP BY node)
        |  WHERE d >= 3),
        |e6 AS MATERIALIZED (SELECT a, b FROM e5
        |  WHERE a IN (SELECT node FROM k6) AND b IN (SELECT node FROM k6)),
        |k7 AS MATERIALIZED (SELECT node FROM (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e6 UNION ALL SELECT b FROM e6) GROUP BY node)
        |  WHERE d >= 3),
        |e7 AS MATERIALIZED (SELECT a, b FROM e6
        |  WHERE a IN (SELECT node FROM k7) AND b IN (SELECT node FROM k7)),
        |k8 AS MATERIALIZED (SELECT node FROM (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e7 UNION ALL SELECT b FROM e7) GROUP BY node)
        |  WHERE d >= 3),
        |e8 AS MATERIALIZED (SELECT a, b FROM e7
        |  WHERE a IN (SELECT node FROM k8) AND b IN (SELECT node FROM k8)),
        |k9 AS MATERIALIZED (SELECT node FROM (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e8 UNION ALL SELECT b FROM e8) GROUP BY node)
        |  WHERE d >= 3),
        |e9 AS MATERIALIZED (SELECT a, b FROM e8
        |  WHERE a IN (SELECT node FROM k9) AND b IN (SELECT node FROM k9)),
        |k10 AS MATERIALIZED (SELECT node FROM (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e9 UNION ALL SELECT b FROM e9) GROUP BY node)
        |  WHERE d >= 3),
        |e10 AS MATERIALIZED (SELECT a, b FROM e9
        |  WHERE a IN (SELECT node FROM k10) AND b IN (SELECT node FROM k10)),
        |k11 AS MATERIALIZED (SELECT node FROM (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e10 UNION ALL SELECT b FROM e10) GROUP BY node)
        |  WHERE d >= 3),
        |e11 AS MATERIALIZED (SELECT a, b FROM e10
        |  WHERE a IN (SELECT node FROM k11) AND b IN (SELECT node FROM k11)),
        |k12 AS MATERIALIZED (SELECT node FROM (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e11 UNION ALL SELECT b FROM e11) GROUP BY node)
        |  WHERE d >= 3),
        |e12 AS MATERIALIZED (SELECT a, b FROM e11
        |  WHERE a IN (SELECT node FROM k12) AND b IN (SELECT node FROM k12))
        |SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        |  SELECT a AS node FROM e12 UNION ALL SELECT b FROM e12) GROUP BY node
        |HAVING count(*) >= 3
        |ORDER BY node""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).filter($"vec_id" < 500)
      val knn = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 5)
        .select($"query_id".as("src"), $"neighbor_id".as("dst"))
      val mutual = knn.select($"src".as("a"), $"dst".as("b"))
        .join(knn.select($"dst".as("a"), $"src".as("b")), Seq("a", "b"), "left_semi")
        .filter($"a" < $"b")
      DupGraph.kCore(mutual, "a", "b", k = 3, maxIters = 12)
        .orderBy($"node")
    },

    // distribution-shift probe: per-label centroid distance between
    // the even/odd halves of the embedding table (stand-ins for two
    // snapshots) — rounded per-dim means, so the drift replays exactly
    Q.sql(
      "q115_centroid_drift",
      """WITH e AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CASE WHEN vec_id % 2 = 0 THEN 'even' ELSE 'odd' END AS half,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |d AS (
        |  SELECT label, half, CAST(unnest(range(1, len(v)+1)) AS BIGINT) AS i, unnest(v) AS x
        |  FROM e),
        |cents AS (
        |  SELECT label, half, i, round(avg(x), 6) AS c FROM d GROUP BY label, half, i)
        |SELECT a.label AS label,
        |  round(sqrt(sum((a.c - b.c) * (a.c - b.c))), 6) AS centroid_dist
        |FROM cents a JOIN cents b ON a.label = b.label AND a.i = b.i
        |WHERE a.half = 'even' AND b.half = 'odd'
        |GROUP BY a.label
        |ORDER BY label""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val halves = Tables.embeddings(s, d).select(
        $"label".cast("long").as("label"),
        when(pmod($"vec_id", lit(2)) === 0, "even").otherwise("odd").as("half"),
        $"embedding")
      Clustering.centroidShift(halves, "label", "half", "embedding")
        .orderBy($"label")
    },

    // contrastive hard-negative mining: per query, top-5 most similar
    // vectors with a DIFFERENT label — the near misses that define
    // the decision boundary
    Q.sql(
      "q119_hard_negatives",
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id, label, v FROM e WHERE vec_id < 30),
        |scored AS (
        |  SELECT q.vec_id AS query_id, q.label AS query_label,
        |    n.vec_id AS neighbor_id, n.label AS neg_label,
        |    round(list_dot_product(q.v, n.v)/sqrt(list_dot_product(q.v, q.v))/sqrt(list_dot_product(n.v, n.v)), 6) AS sim
        |  FROM e n JOIN q ON q.vec_id <> n.vec_id
        |  WHERE n.label <> q.label)
        |SELECT query_id, neighbor_id, query_label, neg_label, sim, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored) WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegatives(
        emb, emb.filter($"vec_id" < 30), "vec_id", "embedding", "label", k = 5)
        .orderBy($"query_id", $"rank")
    },

    // distributed PCA: top principal component by 3 power-iteration
    // steps over the dim^2-bounded covariance self-join — every
    // rounded iterate and the Rayleigh quotient replayed in SQL
    Q.sql(
      "q124_pca_power",
      """WITH d AS (
        |  SELECT vec_id, CAST(unnest(range(0, len(embedding))) AS BIGINT) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |m AS (SELECT i, avg(x) AS mu FROM d GROUP BY i),
        |c AS (SELECT d.vec_id, d.i, d.x - m.mu AS x FROM d JOIN m USING (i)),
        |n AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM d),
        |cov AS MATERIALIZED (
        |  SELECT a.i AS i, b.i AS j, round(sum(a.x * b.x) / n.n, 6) AS cv
        |  FROM c a JOIN c b USING (vec_id) CROSS JOIN n
        |  GROUP BY a.i, b.i, n.n),
        |v0 AS (SELECT i, 0.125 AS v FROM m),
        |w1 AS (SELECT cov.i AS i, sum(cov.cv * v0.v) AS w FROM cov JOIN v0 ON cov.j = v0.i GROUP BY cov.i),
        |n1 AS (SELECT sqrt(sum(w * w)) AS nrm FROM w1),
        |v1 AS (SELECT i, round(w / nrm, 6) AS v FROM w1, n1),
        |w2 AS (SELECT cov.i AS i, sum(cov.cv * v1.v) AS w FROM cov JOIN v1 ON cov.j = v1.i GROUP BY cov.i),
        |n2 AS (SELECT sqrt(sum(w * w)) AS nrm FROM w2),
        |v2 AS (SELECT i, round(w / nrm, 6) AS v FROM w2, n2),
        |w3 AS (SELECT cov.i AS i, sum(cov.cv * v2.v) AS w FROM cov JOIN v2 ON cov.j = v2.i GROUP BY cov.i),
        |n3 AS (SELECT sqrt(sum(w * w)) AS nrm FROM w3),
        |v3 AS (SELECT i, round(w / nrm, 6) AS v FROM w3, n3),
        |ray AS (
        |  SELECT round(sum(v3a.v * cov.cv * v3b.v), 4) AS eigenvalue
        |  FROM cov JOIN v3 v3a ON cov.i = v3a.i JOIN v3 v3b ON cov.j = v3b.i)
        |SELECT v3.i AS dim, v3.v AS component, ray.eigenvalue
        |FROM v3, ray
        |ORDER BY dim""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Clustering.pcaPowerIteration(
        Tables.embeddings(s, d), "vec_id", "embedding", iters = 3)
        .orderBy($"dim")
    },

    // distributed logistic regression: 3 full-batch gradient steps on
    // 4 embedding dims + bias predicting label >= 5, every weight
    // iterate rounded to 6 dp and replayed in SQL — the learned
    // quality-classifier primitive, as one scan per step
    Q.sql(
      "q126_logreg_gd",
      """WITH f AS (
        |  SELECT vec_id, CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y,
        |    list_append(list_transform(embedding[1:4], x -> CAST(x AS DOUBLE)), 1.0) AS xs
        |  FROM embeddings),
        |d AS (SELECT vec_id, y, CAST(unnest(range(0, len(xs))) AS BIGINT) AS dim,
        |  unnest(xs) AS x FROM f),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
        |w0 AS (SELECT DISTINCT dim, 0.0 AS w FROM d),
        |p1 AS (SELECT m.vec_id, m.y, 1 / (1 + exp(-m.m)) AS p FROM (
        |  SELECT d.vec_id, any_value(d.y) AS y, round(sum(d.x * w0.w), 6) AS m
        |  FROM d JOIN w0 USING (dim) GROUP BY d.vec_id) m),
        |g1 AS (SELECT d.dim, sum((p1.p - p1.y) * d.x) / n.n AS g
        |  FROM d JOIN p1 USING (vec_id) CROSS JOIN n GROUP BY d.dim, n.n),
        |w1 AS (SELECT w0.dim, round(w0.w - 0.5 * g1.g, 6) AS w FROM w0 JOIN g1 USING (dim)),
        |p2 AS (SELECT m.vec_id, m.y, 1 / (1 + exp(-m.m)) AS p FROM (
        |  SELECT d.vec_id, any_value(d.y) AS y, round(sum(d.x * w1.w), 6) AS m
        |  FROM d JOIN w1 USING (dim) GROUP BY d.vec_id) m),
        |g2 AS (SELECT d.dim, sum((p2.p - p2.y) * d.x) / n.n AS g
        |  FROM d JOIN p2 USING (vec_id) CROSS JOIN n GROUP BY d.dim, n.n),
        |w2 AS (SELECT w1.dim, round(w1.w - 0.5 * g2.g, 6) AS w FROM w1 JOIN g2 USING (dim)),
        |p3 AS (SELECT m.vec_id, m.y, 1 / (1 + exp(-m.m)) AS p FROM (
        |  SELECT d.vec_id, any_value(d.y) AS y, round(sum(d.x * w2.w), 6) AS m
        |  FROM d JOIN w2 USING (dim) GROUP BY d.vec_id) m),
        |g3 AS (SELECT d.dim, sum((p3.p - p3.y) * d.x) / n.n AS g
        |  FROM d JOIN p3 USING (vec_id) CROSS JOIN n GROUP BY d.dim, n.n),
        |w3 AS (SELECT w2.dim, round(w2.w - 0.5 * g3.g, 6) AS w FROM w2 JOIN g3 USING (dim)),
        |p4 AS (SELECT m.vec_id, m.y, 1 / (1 + exp(-m.m)) AS p FROM (
        |  SELECT d.vec_id, any_value(d.y) AS y, round(sum(d.x * w3.w), 6) AS m
        |  FROM d JOIN w3 USING (dim) GROUP BY d.vec_id) m),
        |acc AS (SELECT round(avg(CASE WHEN (p >= 0.5) = (y > 0.5) THEN 1.0 ELSE 0.0 END), 4)
        |  AS accuracy FROM p4)
        |SELECT w3.dim AS dim, w3.w AS weight, acc.accuracy AS accuracy
        |FROM w3 CROSS JOIN acc ORDER BY dim""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).select($"embedding",
        when($"label" >= 5, 1.0).otherwise(0.0).as("y"))
      Learning.logisticRegressionGD(emb, "embedding", "y", nDims = 4, iters = 3, lr = 0.5)
        .orderBy($"dim")
    },

    // classifier evaluation without a threshold sweep: AUC by the
    // tie-corrected Mann-Whitney rank-sum over one global sort —
    // score = first embedding dim, label = label >= 5
    Q.sql(
      "q127_auc",
      """WITH s AS (SELECT round(CAST(embedding[1] AS DOUBLE), 6) AS s,
        |  CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y FROM embeddings),
        |r AS (SELECT s, y, row_number() OVER (ORDER BY s) AS rn FROM s),
        |a AS (SELECT s, y, avg(rn) OVER (PARTITION BY s) AS r FROM r)
        |SELECT round((sum(CASE WHEN y = 1 THEN r END)
        |    - sum(CASE WHEN y = 1 THEN 1.0 ELSE 0.0 END)
        |      * (sum(CASE WHEN y = 1 THEN 1.0 ELSE 0.0 END) + 1) / 2)
        |  / (sum(CASE WHEN y = 1 THEN 1.0 ELSE 0.0 END)
        |     * sum(CASE WHEN y = 0 THEN 1.0 ELSE 0.0 END)), 6) AS auc,
        |  CAST(sum(y) AS BIGINT) AS n_pos,
        |  CAST(count(*) - sum(y) AS BIGINT) AS n_neg
        |FROM a""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).select(
        round($"embedding" (0).cast("double"), 6).as("score"),
        when($"label" >= 5, 1).otherwise(0).as("y"))
      Learning.aucRankSum(emb, "score", "y")
    },

    // reliability diagram for the q126 classifier: predictions
    // bucketed into 10 probability bins, each with count, mean
    // confidence, and empirical positive rate — the calibration
    // check before learned scores gate data
    Q.sql(
      "q133_calibration",
      """WITH f AS (
        |  SELECT vec_id, CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y,
        |    list_append(list_transform(embedding[1:64], x -> CAST(x AS DOUBLE)), 1.0) AS xs
        |  FROM embeddings),
        |d AS (SELECT vec_id, y, CAST(unnest(range(0, len(xs))) AS BIGINT) AS dim,
        |  unnest(xs) AS x FROM f),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
        |w0 AS (SELECT DISTINCT dim, 0.0 AS w FROM d),
        |p1 AS (SELECT m.vec_id, m.y, 1 / (1 + exp(-m.m)) AS p FROM (
        |  SELECT d.vec_id, any_value(d.y) AS y, round(sum(d.x * w0.w), 6) AS m
        |  FROM d JOIN w0 USING (dim) GROUP BY d.vec_id) m),
        |g1 AS (SELECT d.dim, sum((p1.p - p1.y) * d.x) / n.n AS g
        |  FROM d JOIN p1 USING (vec_id) CROSS JOIN n GROUP BY d.dim, n.n),
        |w1 AS (SELECT w0.dim, round(w0.w - 8.0 * g1.g, 6) AS w FROM w0 JOIN g1 USING (dim)),
        |p2 AS (SELECT m.vec_id, m.y, 1 / (1 + exp(-m.m)) AS p FROM (
        |  SELECT d.vec_id, any_value(d.y) AS y, round(sum(d.x * w1.w), 6) AS m
        |  FROM d JOIN w1 USING (dim) GROUP BY d.vec_id) m),
        |g2 AS (SELECT d.dim, sum((p2.p - p2.y) * d.x) / n.n AS g
        |  FROM d JOIN p2 USING (vec_id) CROSS JOIN n GROUP BY d.dim, n.n),
        |w2 AS (SELECT w1.dim, round(w1.w - 8.0 * g2.g, 6) AS w FROM w1 JOIN g2 USING (dim)),
        |p3 AS (SELECT m.vec_id, m.y, 1 / (1 + exp(-m.m)) AS p FROM (
        |  SELECT d.vec_id, any_value(d.y) AS y, round(sum(d.x * w2.w), 6) AS m
        |  FROM d JOIN w2 USING (dim) GROUP BY d.vec_id) m),
        |g3 AS (SELECT d.dim, sum((p3.p - p3.y) * d.x) / n.n AS g
        |  FROM d JOIN p3 USING (vec_id) CROSS JOIN n GROUP BY d.dim, n.n),
        |w3 AS (SELECT w2.dim, round(w2.w - 8.0 * g3.g, 6) AS w FROM w2 JOIN g3 USING (dim)),
        |p4 AS (SELECT m.vec_id, m.y, 1 / (1 + exp(-m.m)) AS p FROM (
        |  SELECT d.vec_id, any_value(d.y) AS y, round(sum(d.x * w3.w), 6) AS m
        |  FROM d JOIN w3 USING (dim) GROUP BY d.vec_id) m)
        |SELECT CAST(least(floor(p * 50), 49) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(avg(p), 6) AS mean_p, round(avg(y), 6) AS frac_pos
        |FROM p4 GROUP BY 1 ORDER BY bin""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).select($"embedding",
        when($"label" >= 5, 1.0).otherwise(0.0).as("y"))
      val preds = Learning.logisticPredict(
        emb, "embedding", "y", nDims = 64, iters = 3, lr = 8.0)
      Learning.calibrationBins(preds, "p", "y", bins = 50)
        .orderBy($"bin")
    },

    // ranking-quality audit of the exact ANN path: NDCG@10 with
    // same-label relevance — per-query DCG against its ideal
    // re-ranking, two windows, no global sort
    Q.sql(
      "q134_ndcg",
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id, label, v FROM e WHERE vec_id < 30),
        |topk AS (SELECT query_id, rel, rank FROM (
        |  SELECT q.vec_id AS query_id,
        |    CASE WHEN q.label = n.label THEN 1.0 ELSE 0.0 END AS rel,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      round(list_dot_product(q.v, n.v) / sqrt(list_dot_product(q.v, q.v))
        |            / sqrt(list_dot_product(n.v, n.v)), 6) DESC, n.vec_id)
        |      AS BIGINT) AS rank
        |  FROM e n JOIN q ON q.vec_id <> n.vec_id) WHERE rank <= 10),
        |i AS (SELECT query_id, rel, rank,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, rank)
        |    AS BIGINT) AS irank FROM topk),
        |agg AS (SELECT query_id,
        |  round(sum(rel / log2(rank + 1)), 6) AS dcg,
        |  round(sum(rel / log2(irank + 1)), 6) AS idcg
        |  FROM i GROUP BY query_id)
        |SELECT query_id, dcg, idcg,
        |  CASE WHEN idcg = 0 THEN 0.0 ELSE round(dcg / idcg, 6) END AS ndcg
        |FROM agg ORDER BY query_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val topk = Similarity.bruteForceTopK(
        emb, emb.filter($"vec_id" < 30), "vec_id", "embedding", k = 10)
      val withRel = topk
        .join(emb.select($"vec_id".as("query_id"), $"label".as("_ql")), Seq("query_id"))
        .join(emb.select($"vec_id".as("neighbor_id"), $"label".as("_nl")),
          Seq("neighbor_id"))
        .select($"query_id", $"rank",
          when($"_ql" === $"_nl", 1.0).otherwise(0.0).as("rel"))
      Retrieval.ndcg(withRel).orderBy($"query_id")
    },

    // diversity-maximizing data selection: k-center greedy
    // (farthest-first traversal) — 5 centers over the embeddings with
    // the coverage radius after each pick; per-step cost is one
    // narrow corpus pass + a global top-1
    Q.sql(
      "q137_kcenter",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |c1 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 1),
        |d1 AS (SELECT e.vec_id, e.v, round(list_distance(e.v, c1.cv), 6) AS d
        |  FROM e CROSS JOIN c1),
        |r1 AS (SELECT 1 AS step, c1.cid AS center_id,
        |  (SELECT max(d) FROM d1) AS radius FROM c1),
        |c2 AS (SELECT vec_id AS cid, v AS cv FROM d1 ORDER BY d DESC, vec_id LIMIT 1),
        |d2 AS (SELECT d1.vec_id, d1.v,
        |  least(d1.d, round(list_distance(d1.v, c2.cv), 6)) AS d FROM d1 CROSS JOIN c2),
        |r2 AS (SELECT 2 AS step, c2.cid AS center_id,
        |  (SELECT max(d) FROM d2) AS radius FROM c2),
        |c3 AS (SELECT vec_id AS cid, v AS cv FROM d2 ORDER BY d DESC, vec_id LIMIT 1),
        |d3 AS (SELECT d2.vec_id, d2.v,
        |  least(d2.d, round(list_distance(d2.v, c3.cv), 6)) AS d FROM d2 CROSS JOIN c3),
        |r3 AS (SELECT 3 AS step, c3.cid AS center_id,
        |  (SELECT max(d) FROM d3) AS radius FROM c3),
        |c4 AS (SELECT vec_id AS cid, v AS cv FROM d3 ORDER BY d DESC, vec_id LIMIT 1),
        |d4 AS (SELECT d3.vec_id, d3.v,
        |  least(d3.d, round(list_distance(d3.v, c4.cv), 6)) AS d FROM d3 CROSS JOIN c4),
        |r4 AS (SELECT 4 AS step, c4.cid AS center_id,
        |  (SELECT max(d) FROM d4) AS radius FROM c4),
        |c5 AS (SELECT vec_id AS cid, v AS cv FROM d4 ORDER BY d DESC, vec_id LIMIT 1),
        |d5 AS (SELECT d4.vec_id,
        |  least(d4.d, round(list_distance(d4.v, c5.cv), 6)) AS d FROM d4 CROSS JOIN c5),
        |r5 AS (SELECT 5 AS step, c5.cid AS center_id,
        |  (SELECT max(d) FROM d5) AS radius FROM c5)
        |SELECT CAST(step AS BIGINT) AS step, center_id, radius FROM (
        |  SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
        |  UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r5)
        |ORDER BY step""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Clustering.kCenterGreedy(Tables.embeddings(s, d), "vec_id", "embedding", k = 5)
        .orderBy($"step")
    },

    // histogram split-finder (the distributed-GBDT primitive): per
    // feature dim, the information-gain-maximizing stump threshold
    // from ONE collapsed (dim, t, y) count frame + cumulative windows
    // — no per-threshold corpus rescan
    Q.sql(
      "q139_best_split",
      """WITH f AS (SELECT CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y,
        |    CAST(unnest(range(0, 4)) AS BIGINT) AS dim,
        |    round(CAST(unnest(embedding[1:4]) AS DOUBLE), 1) AS t
        |  FROM embeddings),
        |counts AS (SELECT dim, t, CAST(count(*) AS BIGINT) AS c, sum(y) AS pos
        |  FROM f GROUP BY 1, 2),
        |cum AS (SELECT dim, t,
        |    sum(c) OVER (PARTITION BY dim ORDER BY t) AS nl,
        |    sum(pos) OVER (PARTITION BY dim ORDER BY t) AS posl,
        |    sum(c) OVER (PARTITION BY dim) AS n,
        |    sum(pos) OVER (PARTITION BY dim) AS post
        |  FROM counts),
        |g AS (SELECT dim, t, CAST(nl AS BIGINT) AS n_left,
        |    CAST(n - nl AS BIGINT) AS n_right,
        |    round(
        |      (CASE WHEN post / n <= 0 OR post / n >= 1 THEN 0
        |        ELSE -((post / n) * ln(post / n) + (1 - post / n) * ln(1 - post / n)) END)
        |      - (nl * 1.0 / n) *
        |      (CASE WHEN posl / nl <= 0 OR posl / nl >= 1 THEN 0
        |        ELSE -((posl / nl) * ln(posl / nl) + (1 - posl / nl) * ln(1 - posl / nl)) END)
        |      - ((n - nl) * 1.0 / n) *
        |      (CASE WHEN (post - posl) / (n - nl) <= 0 OR (post - posl) / (n - nl) >= 1 THEN 0
        |        ELSE -(((post - posl) / (n - nl)) * ln((post - posl) / (n - nl))
        |          + (1 - (post - posl) / (n - nl)) * ln(1 - (post - posl) / (n - nl))) END),
        |      6) AS gain
        |  FROM cum WHERE nl < n)
        |SELECT dim, t AS threshold, gain, n_left, n_right FROM (
        |  SELECT *, row_number() OVER (PARTITION BY dim ORDER BY gain DESC, t) AS rk
        |  FROM g) WHERE rk = 1
        |ORDER BY dim""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).select($"embedding",
        when($"label" >= 5, 1.0).otherwise(0.0).as("y"))
      Learning.bestStumpSplits(emb, "embedding", "y", nDims = 4)
        .orderBy($"dim")
    },

    // distribution-free uncertainty: split-conformal threshold from
    // the even-id calibration half (the ⌈(n+1)(1−α)⌉-th smallest
    // nonconformity score) and the coverage it achieves on the odd-id
    // test half — ≥ 90% in expectation with NO distributional
    // assumption on the score
    Q.sql(
      "q142_conformal",
      """WITH s AS (SELECT vec_id, round(abs(CAST(embedding[1] AS DOUBLE)), 6) AS sc
        |  FROM embeddings),
        |cal AS (SELECT sc FROM s WHERE vec_id % 2 = 0),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
        |q AS (SELECT sc AS qhat FROM (
        |    SELECT sc, row_number() OVER (ORDER BY sc) AS rk FROM cal) r
        |  CROSS JOIN n
        |  WHERE rk = least(n.n_cal, CAST(ceil((n.n_cal + 1) * 0.9) AS BIGINT))),
        |t AS (SELECT sc FROM s WHERE vec_id % 2 = 1)
        |SELECT n.n_cal AS n_cal, CAST(count(*) AS BIGINT) AS n_test,
        |  max(q.qhat) AS qhat,
        |  round(avg(CASE WHEN t.sc <= q.qhat THEN 1.0 ELSE 0.0 END), 6) AS coverage
        |FROM t CROSS JOIN q CROSS JOIN n GROUP BY n.n_cal""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val scored = Tables.embeddings(s, d).select($"vec_id",
        abs($"embedding" (0).cast("double")).as("sc"))
      Learning.splitConformal(
        scored.filter(pmod($"vec_id", lit(2)) === 0),
        scored.filter(pmod($"vec_id", lit(2)) === 1), "sc", alpha = 0.1)
    },

    // diversity-aware top-k: maximal marginal relevance over each
    // query's brute-force top-10 — 3 greedy picks trading relevance
    // (λ=0.7) against similarity to already-picked results, the
    // redundancy cut a dedup-heavy corpus needs at retrieval time
    Q.sql(
      "q143_mmr",
      """WITH e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id < 6),
        |cand AS MATERIALIZED (SELECT query_id, cand_id,
        |    CAST(round(rel * 1000000) AS BIGINT) AS reli FROM (
        |  SELECT q.vec_id AS query_id, n.vec_id AS cand_id,
        |    round(list_dot_product(q.v, n.v) / sqrt(list_dot_product(q.v, q.v))
        |          / sqrt(list_dot_product(n.v, n.v)), 6) AS rel,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      round(list_dot_product(q.v, n.v) / sqrt(list_dot_product(q.v, q.v))
        |            / sqrt(list_dot_product(n.v, n.v)), 6) DESC, n.vec_id) AS rk
        |  FROM e n JOIN q ON q.vec_id <> n.vec_id) WHERE rk <= 10),
        |sym AS MATERIALIZED (SELECT c1.query_id, c1.cand_id AS a, c2.cand_id AS b,
        |    CAST(round(round(list_dot_product(ea.v, eb.v) / sqrt(list_dot_product(ea.v, ea.v))
        |          / sqrt(list_dot_product(eb.v, eb.v)), 6) * 1000000) AS BIGINT) AS svi
        |  FROM cand c1 JOIN cand c2
        |    ON c1.query_id = c2.query_id AND c1.cand_id <> c2.cand_id
        |  JOIN e ea ON ea.vec_id = c1.cand_id
        |  JOIN e eb ON eb.vec_id = c2.cand_id),
        |s1 AS MATERIALIZED (SELECT query_id, cand_id, 1 AS step, score FROM (
        |  SELECT query_id, cand_id, 7 * reli AS score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY 7 * reli DESC, cand_id) AS rk FROM cand)
        |  WHERE rk = 1),
        |r1 AS MATERIALIZED (SELECT c.* FROM cand c LEFT JOIN s1
        |  ON s1.query_id = c.query_id AND s1.cand_id = c.cand_id
        |  WHERE s1.cand_id IS NULL),
        |m2 AS MATERIALIZED (SELECT r.query_id, r.cand_id, any_value(r.reli) AS reli, max(sym.svi) AS ms
        |  FROM r1 r JOIN sym ON sym.query_id = r.query_id AND sym.a = r.cand_id
        |  JOIN s1 ON s1.query_id = sym.query_id AND s1.cand_id = sym.b
        |  GROUP BY 1, 2),
        |s2 AS MATERIALIZED (SELECT query_id, cand_id, 2 AS step, score FROM (
        |  SELECT query_id, cand_id, 7 * reli - 3 * ms AS score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY 7 * reli - 3 * ms DESC, cand_id) AS rk FROM m2)
        |  WHERE rk = 1),
        |r2 AS MATERIALIZED (SELECT c.* FROM r1 c LEFT JOIN s2
        |  ON s2.query_id = c.query_id AND s2.cand_id = c.cand_id
        |  WHERE s2.cand_id IS NULL),
        |sel2 AS MATERIALIZED (SELECT query_id, cand_id FROM s1 UNION ALL SELECT query_id, cand_id FROM s2),
        |m3 AS MATERIALIZED (SELECT r.query_id, r.cand_id, any_value(r.reli) AS reli, max(sym.svi) AS ms
        |  FROM r2 r JOIN sym ON sym.query_id = r.query_id AND sym.a = r.cand_id
        |  JOIN sel2 ON sel2.query_id = sym.query_id AND sel2.cand_id = sym.b
        |  GROUP BY 1, 2),
        |s3 AS MATERIALIZED (SELECT query_id, cand_id, 3 AS step, score FROM (
        |  SELECT query_id, cand_id, 7 * reli - 3 * ms AS score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY 7 * reli - 3 * ms DESC, cand_id) AS rk FROM m3)
        |  WHERE rk = 1)
        |SELECT query_id, cand_id, CAST(step AS BIGINT) AS step,
        |  CAST(score AS BIGINT) AS score FROM (
        |  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
        |ORDER BY query_id, step""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      import graft.functions.GraftFunctions
      val emb = Tables.embeddings(s, d)
      val cand = Similarity.bruteForceTopK(
        emb, emb.filter($"vec_id" < 6), "vec_id", "embedding", k = 10)
        .select($"query_id", $"neighbor_id".as("cand_id"), $"sim".as("rel"))
        .localCheckpoint(true)
      val withVec = cand
        .join(emb.select($"vec_id".as("cand_id"), $"embedding".as("_v")), Seq("cand_id"))
        .select($"query_id", $"cand_id", $"_v")
      val sym = withVec.alias("x")
        .join(withVec.alias("y"),
          col("x.query_id") === col("y.query_id") &&
            col("x.cand_id") =!= col("y.cand_id"))
        .select(col("x.query_id").as("query_id"), col("x.cand_id").as("a"),
          col("y.cand_id").as("b"),
          round(GraftFunctions.cosineFast(col("x._v"), col("y._v")), 6).as("s"))
      Retrieval.mmrSelect(cand, sym, k = 3)
        .orderBy($"query_id", $"step")
},

    // learned quality gate with a coverage guarantee: the q133 model's
    // positive-class nonconformity (1 - p) conformally calibrated on
    // the even-id half — the threshold that admits >= 90% of true
    // positives, and the coverage it actually achieves on the odd half
    Q.sql(
      "q147_learned_gate",
      """WITH f AS MATERIALIZED (
        |  SELECT vec_id, CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y,
        |    list_append(list_transform(embedding[1:64], x -> CAST(x AS DOUBLE)), 1.0) AS xs
        |  FROM embeddings),
        |d AS MATERIALIZED (SELECT vec_id, y, CAST(unnest(range(0, len(xs))) AS BIGINT) AS dim,
        |  unnest(xs) AS x FROM f),
        |n AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
        |w0 AS MATERIALIZED (SELECT DISTINCT dim, 0.0 AS w FROM d),
        |p1 AS MATERIALIZED (SELECT m.vec_id, m.y, 1 / (1 + exp(-m.m)) AS p FROM (
        |  SELECT d.vec_id, any_value(d.y) AS y, round(sum(d.x * w0.w), 6) AS m
        |  FROM d JOIN w0 USING (dim) GROUP BY d.vec_id) m),
        |g1 AS MATERIALIZED (SELECT d.dim, sum((p1.p - p1.y) * d.x) / n.n AS g
        |  FROM d JOIN p1 USING (vec_id) CROSS JOIN n GROUP BY d.dim, n.n),
        |w1 AS MATERIALIZED (SELECT w0.dim, round(w0.w - 8.0 * g1.g, 6) AS w FROM w0 JOIN g1 USING (dim)),
        |p2 AS MATERIALIZED (SELECT m.vec_id, m.y, 1 / (1 + exp(-m.m)) AS p FROM (
        |  SELECT d.vec_id, any_value(d.y) AS y, round(sum(d.x * w1.w), 6) AS m
        |  FROM d JOIN w1 USING (dim) GROUP BY d.vec_id) m),
        |g2 AS MATERIALIZED (SELECT d.dim, sum((p2.p - p2.y) * d.x) / n.n AS g
        |  FROM d JOIN p2 USING (vec_id) CROSS JOIN n GROUP BY d.dim, n.n),
        |w2 AS MATERIALIZED (SELECT w1.dim, round(w1.w - 8.0 * g2.g, 6) AS w FROM w1 JOIN g2 USING (dim)),
        |p3 AS MATERIALIZED (SELECT m.vec_id, m.y, 1 / (1 + exp(-m.m)) AS p FROM (
        |  SELECT d.vec_id, any_value(d.y) AS y, round(sum(d.x * w2.w), 6) AS m
        |  FROM d JOIN w2 USING (dim) GROUP BY d.vec_id) m),
        |g3 AS MATERIALIZED (SELECT d.dim, sum((p3.p - p3.y) * d.x) / n.n AS g
        |  FROM d JOIN p3 USING (vec_id) CROSS JOIN n GROUP BY d.dim, n.n),
        |w3 AS MATERIALIZED (SELECT w2.dim, round(w2.w - 8.0 * g3.g, 6) AS w FROM w2 JOIN g3 USING (dim)),
        |p4 AS MATERIALIZED (SELECT m.vec_id, m.y, 1 / (1 + exp(-m.m)) AS p FROM (
        |  SELECT d.vec_id, any_value(d.y) AS y, round(sum(d.x * w3.w), 6) AS m
        |  FROM d JOIN w3 USING (dim) GROUP BY d.vec_id) m),
        |scored AS MATERIALIZED (SELECT vec_id, round(1 - p, 6) AS sc FROM p4 WHERE y = 1.0),
        |cal AS MATERIALIZED (SELECT sc FROM scored WHERE vec_id % 2 = 0),
        |n2 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
        |qh AS MATERIALIZED (SELECT sc AS qhat FROM (
        |    SELECT sc, row_number() OVER (ORDER BY sc) AS rk FROM cal) r
        |  CROSS JOIN n2
        |  WHERE rk = least(n2.n_cal, CAST(ceil((n2.n_cal + 1) * 0.9) AS BIGINT))),
        |t2 AS MATERIALIZED (SELECT sc FROM scored WHERE vec_id % 2 = 1)
        |SELECT n2.n_cal AS n_cal, CAST(count(*) AS BIGINT) AS n_test,
        |  max(qh.qhat) AS qhat,
        |  round(avg(CASE WHEN t2.sc <= qh.qhat THEN 1.0 ELSE 0.0 END), 6) AS coverage
        |FROM t2 CROSS JOIN qh CROSS JOIN n2 GROUP BY n2.n_cal""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding",
        when($"label" >= 5, 1.0).otherwise(0.0).as("y"))
      val preds = Learning.logisticPredict(
        emb, "embedding", "y", nDims = 64, iters = 3, lr = 8.0,
        keepCols = Seq("vec_id"))
      val scored = preds.filter($"y" === 1.0)
        .select($"vec_id", round(lit(1.0) - $"p", 6).as("sc"))
      Learning.splitConformal(
        scored.filter(pmod($"vec_id", lit(2)) === 0),
        scored.filter(pmod($"vec_id", lit(2)) === 1), "sc", alpha = 0.1)
},

    // the ANN quality curve as a first-class query: recall@k of the
    // multiprobe LSH path against the exact brute-force top-10, for
    // k = 1/5/10 — both sides are the already-certified pipelines,
    // joined on (query, neighbor) and cut at each k
    Q.sql(
      "q148_ann_recall",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |buck AS (
        |  SELECT vec_id, v, t,
        |    CAST(list_sum(list_transform(range(0, 6), p ->
        |      CASE WHEN list_sum(list_transform(range(0, len(v)), i ->
        |        v[i+1] * ((CAST(('0x'||substr(md5(t||'_'||p||'_'||i),1,15)) AS BIGINT) % 2001 - 1000)/1000.0))) >= 0
        |      THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
        |  FROM e, (SELECT CAST(range AS BIGINT) AS t FROM range(8)) tt),
        |probes AS (
        |  SELECT b.vec_id AS query_id, b.v AS qv, b.t,
        |    CASE WHEN f.f = -1 THEN b.bucket ELSE xor(b.bucket, (CAST(1 AS BIGINT) << f.f)) END AS bucket
        |  FROM buck b, (SELECT CAST(range AS BIGINT) AS f FROM range(-1, 6)) f
        |  WHERE b.vec_id < 5),
        |cand AS (
        |  SELECT DISTINCT p.query_id, n.vec_id AS neighbor_id
        |  FROM probes p JOIN buck n ON p.t = n.t AND p.bucket = n.bucket
        |  WHERE p.query_id <> n.vec_id),
        |scored AS (
        |  SELECT c.query_id, c.neighbor_id,
        |    round(list_dot_product(q.v, n.v)/sqrt(list_dot_product(q.v, q.v))/sqrt(list_dot_product(n.v, n.v)), 6) AS sim
        |  FROM cand c JOIN e q ON q.vec_id = c.query_id JOIN e n ON n.vec_id = c.neighbor_id),
        |lsh AS (SELECT query_id, neighbor_id, rank FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored) t WHERE rank <= 10),
        |brute AS (SELECT query_id, neighbor_id, rank FROM (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      round(list_dot_product(q.v, n.v)/sqrt(list_dot_product(q.v, q.v))/sqrt(list_dot_product(n.v, n.v)), 6) DESC,
        |      n.vec_id) AS rank
        |  FROM e n JOIN e q ON q.vec_id < 5 AND q.vec_id <> n.vec_id) t
        |  WHERE rank <= 10),
        |hits AS (SELECT l.query_id, l.rank AS lr, b.rank AS br
        |  FROM lsh l JOIN brute b
        |    ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id),
        |ks AS (SELECT CAST(unnest([1, 5, 10]) AS BIGINT) AS kk)
        |SELECT kk AS k,
        |  round(sum(CASE WHEN lr <= kk AND br <= kk THEN 1 ELSE 0 END) * 1.0 / (5 * kk), 6) AS recall
        |FROM ks CROSS JOIN hits GROUP BY kk ORDER BY k""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter($"vec_id" < 5)
      val lsh = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
        k = 10, tables = 8, planesPerTable = 6)
        .select($"query_id", $"neighbor_id", $"rank".as("lr"))
      val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
        .select($"query_id", $"neighbor_id", $"rank".as("br"))
      val hits = lsh.join(brute, Seq("query_id", "neighbor_id"))
      val ks = Seq(1L, 5L, 10L).toDF("kk")
      broadcast(ks).crossJoin(hits)
        .groupBy($"kk")
        .agg(round(sum(when($"lr" <= $"kk" && $"br" <= $"kk", 1L).otherwise(0L)) * lit(1.0)
          / (lit(5) * $"kk"), 6).as("recall"))
        .select($"kk".as("k"), $"recall")
        .orderBy($"k")
},

    // proper-scoring-rule audit: the q133 model's Brier score with
    // the Murphy decomposition — reliability (miscalibration, lower
    // better) - resolution (discrimination, higher better) +
    // uncertainty (data-inherent), over the same 50 bins
    Q.sql(
      "q149_brier",
      """WITH f AS MATERIALIZED (
        |  SELECT vec_id, CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y,
        |    list_append(list_transform(embedding[1:64], x -> CAST(x AS DOUBLE)), 1.0) AS xs
        |  FROM embeddings),
        |d AS MATERIALIZED (SELECT vec_id, y, CAST(unnest(range(0, len(xs))) AS BIGINT) AS dim,
        |  unnest(xs) AS x FROM f),
        |n AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
        |w0 AS MATERIALIZED (SELECT DISTINCT dim, 0.0 AS w FROM d),
        |p1 AS MATERIALIZED (SELECT m.vec_id, m.y, 1 / (1 + exp(-m.m)) AS p FROM (
        |  SELECT d.vec_id, any_value(d.y) AS y, round(sum(d.x * w0.w), 6) AS m
        |  FROM d JOIN w0 USING (dim) GROUP BY d.vec_id) m),
        |g1 AS MATERIALIZED (SELECT d.dim, sum((p1.p - p1.y) * d.x) / n.n AS g
        |  FROM d JOIN p1 USING (vec_id) CROSS JOIN n GROUP BY d.dim, n.n),
        |w1 AS MATERIALIZED (SELECT w0.dim, round(w0.w - 8.0 * g1.g, 6) AS w FROM w0 JOIN g1 USING (dim)),
        |p2 AS MATERIALIZED (SELECT m.vec_id, m.y, 1 / (1 + exp(-m.m)) AS p FROM (
        |  SELECT d.vec_id, any_value(d.y) AS y, round(sum(d.x * w1.w), 6) AS m
        |  FROM d JOIN w1 USING (dim) GROUP BY d.vec_id) m),
        |g2 AS MATERIALIZED (SELECT d.dim, sum((p2.p - p2.y) * d.x) / n.n AS g
        |  FROM d JOIN p2 USING (vec_id) CROSS JOIN n GROUP BY d.dim, n.n),
        |w2 AS MATERIALIZED (SELECT w1.dim, round(w1.w - 8.0 * g2.g, 6) AS w FROM w1 JOIN g2 USING (dim)),
        |p3 AS MATERIALIZED (SELECT m.vec_id, m.y, 1 / (1 + exp(-m.m)) AS p FROM (
        |  SELECT d.vec_id, any_value(d.y) AS y, round(sum(d.x * w2.w), 6) AS m
        |  FROM d JOIN w2 USING (dim) GROUP BY d.vec_id) m),
        |g3 AS MATERIALIZED (SELECT d.dim, sum((p3.p - p3.y) * d.x) / n.n AS g
        |  FROM d JOIN p3 USING (vec_id) CROSS JOIN n GROUP BY d.dim, n.n),
        |w3 AS MATERIALIZED (SELECT w2.dim, round(w2.w - 8.0 * g3.g, 6) AS w FROM w2 JOIN g3 USING (dim)),
        |p4 AS MATERIALIZED (SELECT m.vec_id, m.y, 1 / (1 + exp(-m.m)) AS p FROM (
        |  SELECT d.vec_id, any_value(d.y) AS y, round(sum(d.x * w3.w), 6) AS m
        |  FROM d JOIN w3 USING (dim) GROUP BY d.vec_id) m),
        |scored AS MATERIALIZED (SELECT CAST(least(floor(p * 50), 49) AS BIGINT) AS bin, p, y FROM p4),
        |b AS MATERIALIZED (SELECT round(avg(pow(p - y, 2)), 6) AS brier, avg(y) AS obar,
        |  CAST(count(*) AS BIGINT) AS n FROM scored),
        |bs AS MATERIALIZED (SELECT bin, CAST(count(*) AS BIGINT) AS nk, avg(p) AS pbar,
        |  avg(y) AS obar_k FROM scored GROUP BY bin)
        |SELECT max(b.brier) AS brier,
        |  round(sum(bs.nk * pow(bs.pbar - bs.obar_k, 2)) / max(b.n), 6) AS reliability,
        |  round(sum(bs.nk * pow(bs.obar_k - b.obar, 2)) / max(b.n), 6) AS resolution,
        |  round(max(b.obar) * (1 - max(b.obar)), 6) AS uncertainty
        |FROM bs CROSS JOIN b""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).select($"embedding",
        when($"label" >= 5, 1.0).otherwise(0.0).as("y"))
      val preds = Learning.logisticPredict(
        emb, "embedding", "y", nDims = 64, iters = 3, lr = 8.0)
      Learning.brierDecomposition(preds, "p", "y", bins = 50)
    }
  )
}
