package graft.queries

import graft.{Q, Tables}
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing over `documents` (text bytes standing in
  * for media payloads): metadata extraction and frame sampling are
  * oracle-matched (byte lengths + sha256 are engine-agnostic), and so
  * is the stubbed per-partition decode (its determinism is asserted by
  * MultimodalSpec as well).
  */
object MultimodalQueries {

  val all: Seq[Q] = Seq(
    Q.sql(
      "multimodal_meta",
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha
        |FROM documents
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Multimodal.attachPayload(Tables.documents(s, d), "doc_id", "text")
        .select($"doc_id", $"meta.n_bytes".as("n_bytes"), $"meta.sha256".as("sha"))
        .orderBy($"doc_id")
    },

    Q.sql(
      "multimodal_frames",
      """SELECT doc_id, frame_idx,
        |  ((frame_idx + 1) * n // 4) - (frame_idx * n // 4) AS frame_len
        |FROM (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
        |  FROM documents) t,
        |  (SELECT CAST(range AS BIGINT) AS frame_idx FROM range(4)) f
        |ORDER BY doc_id, frame_idx""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Multimodal.sampleFrames(
        Multimodal.attachPayload(Tables.documents(s, d), "doc_id", "text"),
        "doc_id", "payload", n = 4)
        .select($"doc_id", $"frame_idx", $"frame_len")
        .orderBy($"doc_id", $"frame_idx")
    },

    // resize-to-byte-budget (truncate + zero-pad): DuckDB 1.0 can't
    // slice/hash blobs, so both engines compare in hex space — Spark
    // hashes hex(resized payload), DuckDB replays the truncate+pad on
    // the hex string (2 chars/byte, '0'-pad == 0x00-pad)
    Q.sql(
      "q46_resize",
      """SELECT doc_id,
        |  CAST(64 AS BIGINT) AS resized_len,
        |  ('0x' || substr(md5(rpad(substr(hex(encode(text)), 1, 128), 128, '0')), 1, 15))::BIGINT AS resized_hash
        |FROM documents
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      import graft.functions.TextFunctions
      Multimodal.resizePayload(
        Multimodal.attachPayload(Tables.documents(s, d), "doc_id", "text"),
        "payload", targetBytes = 64)
        .select(
          $"doc_id",
          length($"payload_resized").cast("long").as("resized_len"),
          TextFunctions.hash60(hex($"payload_resized")).as("resized_hash"))
        .orderBy($"doc_id")
    },

    // per-partition stub decode (mapPartitions path). The stub feature
    // vector is a normalized byte histogram, so its integer counts are
    // recoverable (round(feature * n_bytes)) and fully expressible in
    // SQL over the utf8 bytes — posexplode to scalar BIGINT columns so
    // the driver compare can sort + hash them.
    Q.sql(
      "multimodal_decode",
      """WITH b AS (
        |  SELECT doc_id AS id, hex(encode(text)) AS h,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents
        |),
        |bytes AS (
        |  SELECT id AS bid, unnest(range(1, n_bytes + 1)) AS i, h FROM b
        |),
        |counts AS (
        |  SELECT bid, (('0x' || substr(h, CAST(2*i - 1 AS BIGINT), 2))::BIGINT % 8) AS bucket,
        |         COUNT(*) AS cnt
        |  FROM bytes GROUP BY 1, 2
        |)
        |SELECT b.id, b.n_bytes, f.feature_idx, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS byte_count
        |FROM b
        |CROSS JOIN (SELECT CAST(range AS BIGINT) AS feature_idx FROM range(8)) f
        |LEFT JOIN counts c ON c.bid = b.id AND c.bucket = f.feature_idx
        |ORDER BY id, feature_idx""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Multimodal.decodeFeatures(
        Multimodal.attachPayload(Tables.documents(s, d), "doc_id", "text"),
        "doc_id", "payload", dim = 8)
        .select($"id", $"n_bytes", posexplode($"features"))
        .select(
          $"id", $"n_bytes",
          $"pos".cast("long").as("feature_idx"),
          round($"col".cast("double") * $"n_bytes").cast("long").as("byte_count"))
        .orderBy($"id", $"feature_idx")
    },

    // REAL image codec round-trip: deterministic PNGs rendered from
    // doc_id (closed-form pixel channels), encoded AND decoded through
    // javax.imageio — the oracle predicts width/height/channel-sums
    // arithmetically, so any codec defect (wrong size, channel order,
    // lossy re-encode) breaks the hash match. PNG is lossless; the
    // decode must recover the exact closed-form pixels.
    Q.sql(
      "multimodal_imgcodec",
      """WITH d AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 5 AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, xs.range AS x, ys.range AS y
        |  FROM d, range(16) xs, range(12) ys
        |  WHERE xs.range < w AND ys.range < h),
        |s AS (
        |  SELECT doc_id,
        |    sum((doc_id * 31 + 7 * x + 13 * y) % 256) AS sum_r,
        |    sum((doc_id * 17 + 5 * x + 11 * y) % 256) AS sum_g,
        |    sum((doc_id * 13 + 3 * x + 19 * y) % 256) AS sum_b,
        |    sum((1 + x + 17 * y) * (
        |      (doc_id * 31 + 7 * x + 13 * y) % 256 +
        |      (doc_id * 17 + 5 * x + 11 * y) % 256 +
        |      (doc_id * 13 + 3 * x + 19 * y) % 256)) AS wsum
        |  FROM px GROUP BY doc_id)
        |SELECT d.doc_id, CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
        |  CAST(s.sum_r AS BIGINT) AS sum_r, CAST(s.sum_g AS BIGINT) AS sum_g,
        |  CAST(s.sum_b AS BIGINT) AS sum_b, CAST(s.wsum AS BIGINT) AS wsum
        |FROM d JOIN s USING (doc_id)
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Multimodal.decodeImages(
        Multimodal.attachPngPayload(Tables.documents(s, d), "doc_id"),
        "id", "payload")
        .select($"id".as("doc_id"), $"width", $"height",
          $"sum_r", $"sum_g", $"sum_b", $"wsum")
        .orderBy($"doc_id")
    },

    // REAL audio codec round-trip: deterministic 16-bit stereo PCM WAV
    // rendered from doc_id (closed-form samples), encoded AND decoded
    // through javax.sound.sampled — the oracle predicts frame count,
    // per-channel sample sums, and a frame-position-weighted sum
    // arithmetically, so any codec defect (wrong frame width, swapped
    // channels, dropped/reordered frames, endianness) breaks the hash
    // match. PCM WAV is lossless; the decode must recover the exact
    // closed-form samples.
    Q.sql(
      "multimodal_audiocodec",
      """WITH d AS (
        |  SELECT doc_id, 64 + doc_id % 33 AS n
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, n, fs.range AS i
        |  FROM d, range(97) fs
        |  WHERE fs.range < n),
        |s AS (
        |  SELECT doc_id,
        |    sum((doc_id * 31 + 7 * i) % 4096 - 2048) AS sum_l,
        |    sum((doc_id * 31 + 7 * i + 13) % 4096 - 2048) AS sum_r,
        |    sum((1 + i) * (
        |      (doc_id * 31 + 7 * i) % 4096 +
        |      (doc_id * 31 + 7 * i + 13) % 4096 - 4096)) AS wsum
        |  FROM f GROUP BY doc_id)
        |SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_frames,
        |  CAST(2 AS BIGINT) AS channels,
        |  CAST(s.sum_l AS BIGINT) AS sum_l, CAST(s.sum_r AS BIGINT) AS sum_r,
        |  CAST(s.wsum AS BIGINT) AS wsum
        |FROM d JOIN s USING (doc_id)
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Multimodal.decodeAudio(
        Multimodal.attachWavPayload(Tables.documents(s, d), "doc_id"),
        "id", "payload")
        .select($"id".as("doc_id"), $"n_frames", $"channels",
          $"sum_l", $"sum_r", $"wsum")
        .orderBy($"doc_id")
    },

    // REAL multi-frame (video-shaped) codec round-trip: deterministic
    // GIF89a payloads rendered from doc_id (indexed frames over an
    // id-derived 64-color palette), encoded AND decoded through
    // javax.imageio's GIF writer/reader — the oracle predicts frame
    // count, per-channel sums, and a voxel-weighted sum arithmetically,
    // so any container/codec defect (dropped/reordered frames, palette
    // remap, raster flip, interlace round-trip) breaks the hash match.
    // Indexed GIF is lossless; the decode must recover the exact
    // closed-form palette entries.
    Q.sql(
      "multimodal_vidcodec",
      """WITH d AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
        |         2 + doc_id % 3 AS nf
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, w, h, nf, xs.range AS x, ys.range AS y, fs.range AS f,
        |    (doc_id * 31 + 3 * xs.range + 5 * ys.range + 11 * fs.range) % 64 AS ci
        |  FROM d, range(8) xs, range(6) ys, range(4) fs
        |  WHERE xs.range < w AND ys.range < h AND fs.range < nf),
        |px AS (
        |  SELECT doc_id, x, y, f,
        |    (doc_id * 5 + 4 * ci) % 256 AS r,
        |    (doc_id * 3 + 2 * ci + 1) % 256 AS g,
        |    (doc_id * 7 + 3 * ci + 2) % 256 AS b
        |  FROM v),
        |s AS (
        |  SELECT doc_id, sum(r) AS sum_r, sum(g) AS sum_g, sum(b) AS sum_b,
        |    sum((1 + x + 17 * y + 173 * f) * (r + g + b)) AS wsum
        |  FROM px GROUP BY doc_id)
        |SELECT d.doc_id, CAST(d.nf AS BIGINT) AS n_frames,
        |  CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
        |  CAST(s.sum_r AS BIGINT) AS sum_r, CAST(s.sum_g AS BIGINT) AS sum_g,
        |  CAST(s.sum_b AS BIGINT) AS sum_b, CAST(s.wsum AS BIGINT) AS wsum
        |FROM d JOIN s USING (doc_id)
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Multimodal.decodeVideo(
        Multimodal.attachGifPayload(Tables.documents(s, d), "doc_id"),
        "id", "payload")
        .select($"id".as("doc_id"), $"n_frames", $"width", $"height",
          $"sum_r", $"sum_g", $"sum_b", $"wsum")
        .orderBy($"doc_id")
    },

    // codec-free near-dup for BINARY payloads: simhash over distinct
    // 4-byte grams, computed in hex space (2 chars/byte) so DuckDB
    // replays it without blob slicing; pairs via the same pigeonhole
    // block join as text simhash
    Q.sql(
      "q69_payload_simhash_dup",
      """WITH h AS (
        |  SELECT doc_id, hex(encode(text)) AS hx
        |  FROM documents WHERE doc_id < 200),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      list_transform(range(1, length(hx) - 6), i -> substr(hx, i, 8)),
        |      s -> CAST(('0x'||substr(md5(s),1,15)) AS BIGINT))) AS gr
        |  FROM h WHERE length(hx) >= 8),
        |sim AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_transform(range(0, 60), b ->
        |        CASE WHEN list_sum(list_transform(gr, v ->
        |          CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |        THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
        |      (acc, x) -> acc * 2 + x) AS sh
        |  FROM g)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 8
        |ORDER BY id_a, id_b""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val payloads = Multimodal.attachPayload(
        Tables.documents(s, d).filter($"doc_id" < 200), "doc_id", "text")
        .filter(length($"payload") >= 4) // sub-gram payloads: oracle excludes them too
      graft.operators.TextDedup.simhashPairsOf(
        // localCheckpoint: the pair join's a/b branches would otherwise
        // each re-run the hex-gram md5 simhash, the dominant cost
        Multimodal.payloadSimhash(payloads, "doc_id", "payload")
          .localCheckpoint(eager = false), maxHamming = 8)
        .orderBy($"id_a", $"id_b")
    }
  )
}
