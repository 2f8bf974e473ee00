package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import java.security.MessageDigest

/** Native Catalyst expressions for the hash-heavy dedup/similarity
  * operators. Each computes bit-for-bit the same value as the
  * composed-builtin formulation in TextFunctions/Similarity (and hence
  * the DuckDB oracles), but in one pass over the input array with a
  * reused MessageDigest — no hex-string round-trips (md5 → substring →
  * conv → cast) and no per-seed re-walk of the array.
  *
  * The 60-bit hash convention: first 15 hex chars of md5 == first 8
  * digest bytes as a big-endian long, unsigned-shifted right 4.
  *
  * These are eval-based (CodegenFallback): each call does real work
  * over a whole array, so the virtual-call overhead codegen would
  * remove is noise, and falling back keeps the surrounding projection
  * in whole-stage codegen.
  */
object Md5Util {
  def hash60(md: MessageDigest, bytes: Array[Byte]): Long = {
    val d = md.digest(bytes)
    val be = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
      ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    be >>> 4
  }

  def hash60(s: String): Long =
    hash60(MessageDigest.getInstance("MD5"), s.getBytes("UTF-8"))
}

/** Element-wise 60-bit md5 hash of a string array — the ONE place the
  * dedup pipeline touches md5: shingles are hashed once, and every
  * downstream step (signatures, banding, Jaccard verification) works
  * on the long values. DuckDB mirror:
  * list_transform(xs, s -> ('0x'||substr(md5(s),1,15))::BIGINT).
  */
case class Hash60Array(child: Expression)
    extends UnaryExpression with CodegenFallback {

  // null elements map to null, like the composed transform+md5 form
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_hash60_array"

  @transient private lazy val md = MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = new Array[Any](arr.numElements())
    var i = 0
    while (i < out.length) {
      val s = arr.getUTF8String(i)
      out(i) = if (s == null) null else java.lang.Long.valueOf(Md5Util.hash60(md, s.getBytes))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Hash60Array =
    copy(child = newChild)
}

/** Fused tokenize → word-n-gram shingle → distinct → hash60 in one
  * pass over the raw text: trim, split on \s+, adjacent n-grams joined
  * with single spaces, first-occurrence-order dedup, md5/60-bit hash
  * per distinct shingle. Value-identical to
  * hash60Array(shingles(tokens(text), n)) (and the DuckDB mirror) but
  * avoids materializing token/shingle string arrays per row — the
  * interpreted composed chain was the dedup pipeline's hot spot.
  */
case class HashedShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hashed_shingles"

  @transient private lazy val md = MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString.trim
    val toks = if (text.isEmpty) Array("") else text.split("\\s+")
    if (toks.length < n) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[Long]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var o = 0
      while (o < n) {
        if (o > 0) sb.append(' ')
        sb.append(toks(i + o))
        o += 1
      }
      seen.add(Md5Util.hash60(md, sb.toString.getBytes("UTF-8")))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): HashedShingles =
    copy(child = newChild)
}

/** MinHash signature over PRE-HASHED shingles (see Hash60Array):
  * sig[j] = min over elements h of ((h XOR A_j) + B_j) & (2^60-1),
  * A_j = hash60("a#j"), B_j = hash60("b#j") — k bijective mixes of the
  * 60-bit space, which is all min-statistics need, with no hashing at
  * all in this expression. Everything stays below 2^62 so the same
  * arithmetic runs overflow-free in DuckDB.
  */
object MinHashSig {
  val Mask60: Long = (1L << 60) - 1
  def mixA(j: Int): Long = Md5Util.hash60(s"a#$j")
  def mixB(j: Int): Long = Md5Util.hash60(s"b#$j")
}

case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  import MinHashSig._

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  @transient private lazy val as: Array[Long] = (0 until numHashes).map(mixA).toArray
  @transient private lazy val bs: Array[Long] = (0 until numHashes).map(mixB).toArray

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      val base = arr.getLong(i)
      var j = 0
      while (j < numHashes) {
        val h = ((base ^ as(j)) + bs(j)) & Mask60
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** 60-bit SimHash over PRE-HASHED shingles (see Hash60Array): +1/-1
  * bit votes from each hash value, packed MSB-first (bit 0 highest).
  * Identical to TextFunctions.simhash60 / the DuckDB list_reduce
  * formulation over the hashed list.
  */
case class SimHash60(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counters = new Array[Int](60)
    var i = 0
    while (i < arr.numElements()) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 60) {
        if (((h >> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
        b += 1
      }
      i += 1
    }
    var acc = 0L
    var b = 0
    while (b < 60) {
      acc = acc * 2 + (if (counters(b) > 0) 1L else 0L)
      b += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

/** Per-table hyperplane LSH buckets of a float vector: buckets[t] =
  * sum over planes p of (dot(vec, plane(t,p)) >= 0 ? 1<<p : 0), with
  * plane components (hash60("t_p_i") mod 2001 - 1000)/1000 — the same
  * deterministic pseudo-random planes as Similarity.lshBucket, all
  * tables in one pass with the plane matrix precomputed.
  */
case class HyperplaneBuckets(child: Expression, tables: Int, planesPerTable: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_buckets"

  // plane matrix, grown on demand to the observed dimensionality
  @transient private var planeMatrix: Array[Array[Double]] = _
  @transient private var planeDim: Int = 0

  private def ensurePlanes(dim: Int): Unit = {
    if (planeMatrix == null) planeMatrix = Array.fill(tables * planesPerTable)(Array.emptyDoubleArray)
    if (dim > planeDim) {
      var t = 0
      while (t < tables) {
        var p = 0
        while (p < planesPerTable) {
          val idx = t * planesPerTable + p
          val old = planeMatrix(idx)
          val grown = java.util.Arrays.copyOf(old, dim)
          var i = old.length
          while (i < dim) {
            grown(i) = ((Md5Util.hash60(s"${t}_${p}_$i") % 2001) - 1000).toDouble / 1000.0
            i += 1
          }
          planeMatrix(idx) = grown
          p += 1
        }
        t += 1
      }
      planeDim = dim
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData].toFloatArray()
    ensurePlanes(vec.length)
    val buckets = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < planesPerTable) {
        val plane = planeMatrix(t * planesPerTable + p)
        var dot = 0.0
        var i = 0
        while (i < vec.length) { dot += vec(i).toDouble * plane(i); i += 1 }
        if (dot >= 0) bucket |= (1L << p)
        p += 1
      }
      buckets(t) = bucket
      t += 1
    }
    new GenericArrayData(buckets)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBuckets =
    copy(child = newChild)
}

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
  * hash60 of every char k-gram, minimum per sliding window of w
  * consecutive k-gram hashes, distinct survivors. The guarantees are
  * positional — any shared substring of length >= k+w-1 contributes a
  * shared fingerprint — which makes the distinct set a compact
  * containment/overlap sketch. DuckDB mirror uses list slicing +
  * list_min over the same hash60 values. Texts shorter than k yield
  * an empty set.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1 && w >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow_fp"

  @transient private lazy val md = MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    // window over CODEPOINTS, not UTF-16 units — DuckDB's substr is
    // per-character, and splitting surrogate pairs would desync every
    // k-gram after the first non-BMP character
    val cps = input.asInstanceOf[UTF8String].toString.codePoints().toArray
    val n = cps.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      hashes(i) = Md5Util.hash60(md, new String(cps, i, k).getBytes("UTF-8"))
      i += 1
    }
    // strictly full windows (texts with fewer than w k-grams yield an
    // empty set) — mirrors the oracle's range(1, n-w+2)
    val windows = n - w + 1
    if (windows <= 0) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.TreeSet[java.lang.Long]()
    var s = 0
    while (s < windows) {
      var m = Long.MaxValue
      var j = s
      val end = s + w
      while (j < end) { if (hashes(j) < m) m = hashes(j); j += 1 }
      seen.add(m)
      s += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

/** Content-defined chunking in one pass: boundary after codepoint i
  * (window <= i <= n) whenever hash60 of the window-gram ending at i
  * has its `mask` bits zero; emits (chunk_len, chunk_hash) per
  * non-empty chunk between consecutive bounds {0, boundaries…, n}.
  * Value-identical to the composed transform/sequence/substr form in
  * Curation.cdcChunksComposed and its DuckDB mirror, but one reused
  * digest and zero per-gram Column machinery — the composed
  * higher-order-function chain is interpreted per element and was the
  * chunking query's hot spot.
  */
case class CdcChunks(child: Expression, window: Int, mask: Long)
    extends UnaryExpression with CodegenFallback {
  require(window >= 1 && mask >= 0)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("chunk_len", LongType, nullable = false),
      StructField("chunk_hash", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_cdc_chunks"

  @transient private lazy val md = MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    // codepoints, like WinnowFingerprints: DuckDB substr/len are
    // per-character, and UTF-16 unit slicing would desync after any
    // non-BMP character
    val cps = input.asInstanceOf[UTF8String].toString.codePoints().toArray
    val n = cps.length
    val bounds = scala.collection.mutable.ArrayBuffer(0)
    var i = window
    while (i <= n) {
      val gram = new String(cps, i - window, window)
      if ((Md5Util.hash60(md, gram.getBytes("UTF-8")) & mask) == 0L) bounds += i
      i += 1
    }
    bounds += n
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var j = 1
    while (j < bounds.length) {
      val len = bounds(j) - bounds(j - 1)
      if (len > 0) {
        val chunk = new String(cps, bounds(j - 1), len)
        out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](len.toLong, Md5Util.hash60(md, chunk.getBytes("UTF-8"))))
      }
      j += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

/** Cosine similarity of two float arrays in double precision, summing
  * in index order — identical to Similarity.cosine and DuckDB
  * list_dot_product over double-cast lists, one fused pass.
  */
/** Squared euclidean distance over two double arrays — the k-means /
  * IVF assignment kernel. Value-identical to the composed
  * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0.0, +)` (same
  * left-to-right IEEE accumulation from 0.0, null on dimension
  * mismatch OR on any null element — null arithmetic nulls the
  * composed fold) and to the DuckDB list_  formulation the oracles
  * replay,
  * but a tight primitive loop instead of per-element lambda
  * evaluation: inside `assignCells`' per-row argmin the composed form
  * is evaluated centroids-per-row times, and its ~µs/call object
  * overhead — not arithmetic — dominated the √k clustering family at
  * the fourth decade (2M rows × 1.4k centroids).
  */
case class SquaredDist(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sqdist"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    // mismatched dimensionality is corrupt input — null, like the
    // composed zip_with form (its null-padded tail nulls the fold)
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      // a null ELEMENT nulls the composed fold too (null arithmetic
      // propagates through the aggregate) — return null rather than
      // silently reading the slot as 0.0, keeping the bit-for-bit
      // contract on every input, not just null-free arrays
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SquaredDist =
    copy(left = newLeft, right = newRight)
}

case class CosineSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    // mismatched dimensionality is corrupt input — surface it as null
    // (matching the composed zip_with form) instead of silently
    // scoring a truncated prefix
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      // null elements null the composed fold — propagate, don't read 0
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / math.sqrt(na) / math.sqrt(nb))
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid argmin over a broadcast codebook, fused: for one
  * corpus vector and the collected `array<struct<cell, cv>>`, returns
  * `struct(negsim, cell)` = the MIN of the composed per-centroid
  * `struct(coalesce(when(isnan(s), -Inf).otherwise(-s), +Inf), cell)`
  * under struct ordering — exactly what
  * `explode(slice(array_sort(transform(_cs, ...)), 1, 1))` computed in
  * `Similarity.ivfTopKCodebook`'s keep=1 assignment, with two costs removed
  * that made the 2M-vector IVF assignment infeasible (round 16):
  * the per-row materialization + O(C log C) sort of a C-element
  * struct array, and the C redundant recomputations of the ROW
  * vector's norm (CosineSim recomputes |v| per call; here it is
  * accumulated once and reused across all centroids).
  *
  * Bit-for-bit contract with the composed form: per centroid the
  * cosine is `dot / sqrt(nv) / sqrt(nc)` in index order (identical
  * IEEE sequence to CosineSim — hoisting |v| changes WHERE it is
  * computed, not any operand or operation order); a null vector /
  * null cv / dimension mismatch / null element maps to +Inf negsim
  * (the composed null → coalesce path), NaN (zero norm) to -Inf; ties
  * on negsim resolve to the smaller cell. Null/empty codebook returns
  * null so the caller's explode-drop semantics can be replayed with a
  * filter. Null ELEMENTS inside the codebook array cannot occur (it
  * is built by collect_list) and are skipped defensively.
  */
case class BestCentroid(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("negsim", DoubleType, nullable = false),
    StructField("cell", LongType, nullable = false)))
  override def prettyName: String = "graft_best_centroid"

  // null is produced for a null/EMPTY codebook even when both children
  // are non-nullable (collect_list output is non-nullable), so the
  // inherited left.nullable || right.nullable would let the optimizer
  // fold the caller's IsNotNull replay-filter to true and leak a null
  // struct where the composed explode dropped the row
  override def nullable: Boolean = true

  // the composed form is not null-short-circuiting on the VECTOR side
  // (a null vector still yields (+Inf, smallest cell)), so eval is
  // overridden instead of nullSafeEval
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val centsAny = right.eval(input)
    if (centsAny == null) return null
    val cents = centsAny.asInstanceOf[ArrayData]
    val m = cents.numElements()
    if (m == 0) return null
    val vecAny = left.eval(input)
    val vec = if (vecAny == null) null else vecAny.asInstanceOf[ArrayData]
    // |v|² once per row — identical VALUE to CosineSim's per-call na
    // accumulation (same index order from 0.0); NaN-free by IEEE (sums
    // of squares), may be 0 (zero vector → 0/0 = NaN cosine → -Inf)
    var nv = 0.0
    var vecHasNull = false
    if (vec != null) {
      val n = vec.numElements()
      var i = 0
      while (i < n && !vecHasNull) {
        if (vec.isNullAt(i)) vecHasNull = true
        else { val x = vec.getFloat(i).toDouble; nv += x * x }
        i += 1
      }
    }
    var bestNeg = Double.PositiveInfinity
    var bestCell = Long.MaxValue
    var any = false
    var c = 0
    while (c < m) {
      if (!cents.isNullAt(c)) {
        val row = cents.getStruct(c, 2)
        val cell = row.getLong(0)
        var neg = Double.PositiveInfinity
        if (vec != null && !vecHasNull && !row.isNullAt(1)) {
          val cv = row.getArray(1)
          val n = vec.numElements()
          if (cv.numElements() == n) {
            var dot = 0.0; var nc = 0.0
            var i = 0
            var nullElem = false
            while (i < n && !nullElem) {
              if (cv.isNullAt(i)) nullElem = true
              else {
                val x = vec.getFloat(i).toDouble
                val y = cv.getFloat(i).toDouble
                dot += x * y; nc += y * y
              }
              i += 1
            }
            if (!nullElem) {
              val s = dot / math.sqrt(nv) / math.sqrt(nc)
              neg = if (java.lang.Double.isNaN(s)) Double.NegativeInfinity else -s
            }
          }
        }
        if (!any || neg < bestNeg || (neg == bestNeg && cell < bestCell)) {
          bestNeg = neg; bestCell = cell; any = true
        }
      }
      c += 1
    }
    if (!any) return null
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestNeg, bestCell))
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): BestCentroid =
    copy(left = newLeft, right = newRight)
}
