package graft.operators

import graft.functions.TextFunctions.canonicalFingerprint
import graft.sinks.Sinks.{markerExists, writeMarker}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-batch exact dedup for incremental ingestion: a persistent
  * parquet LEDGER of canonical content fingerprints accumulates across
  * batches, and each new batch drops rows whose fingerprint was seen
  * in ANY earlier batch (then dedups within itself), durably writes
  * its survivors, and only then appends their fingerprints.
  *
  * Scale shape: one anti-join of the batch against the ledger on the
  * fingerprint (shuffle keyed by hash) plus one within-batch window.
  * The ledger stores only (fingerprint) — bytes per document, not the
  * document.
  *
  * Failure semantics — a two-marker commit protocol per batch
  * (markers are `_`-prefixed files in the ledger directory, keyed by
  * the batch's output path, so parquet readers ignore them):
  *
  *   write output → out-marker → ledger append → ledger-marker
  *
  * Once the out-marker exists the batch's output directory is never
  * rewritten, so a retry after the ledger append committed can NOT
  * clobber the already-published survivors with an empty overwrite.
  * A crash between the append and the ledger-marker re-appends on
  * retry — duplicate fingerprints in the ledger are harmless to the
  * anti-join. A crash before the out-marker recomputes from scratch
  * (the ledger does not yet hold the batch's hashes), overwriting the
  * partial output with identical content. Every window is either a
  * clean recompute or an idempotent replay; committed output is never
  * dropped or emptied.
  */
object IncrementalDedup {

  /** Process one batch: anti-join the ledger, dedup within the batch,
    * write survivors to `outputDir`, then append their fingerprints to
    * the ledger. Retries are idempotent per batch directory (see the
    * commit protocol above); re-running a fully committed batch is a
    * read-only no-op returning the published survivors. The durable
    * output carries only the caller's columns — the internal `_fp`
    * fingerprint is recomputed from the written rows for the ledger
    * append, never persisted to `outputDir`.
    */
  def ingestBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      ledgerPath: String,
      outputDir: String): DataFrame = {
    val spark = batch.sparkSession
    commit(spark, ledgerPath, outputDir,
      _.select(canonicalFingerprint(col(textCol)).as("_fp"))) {
      val hashed = batch.withColumn("_fp", canonicalFingerprint(col(textCol)))
      val unseen =
        if (ledgerExists(spark, ledgerPath))
          hashed.join(spark.read.parquet(ledgerPath), Seq("_fp"), "left_anti")
        else hashed
      // within-batch exact dedup: keep the smallest id per fingerprint
      val w = Window.partitionBy(col("_fp")).orderBy(col(idCol))
      unseen
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .drop("_rn", "_fp")
    }
  }

  /** Cross-batch NEAR-duplicate dedup: the ledger stores one 60-bit
    * simhash per admitted document, and a new batch drops any row
    * within `maxHamming` of an already-admitted hash, then near-dedups
    * within itself: [[TextDedup.simhashPairsOf]] over the rows the
    * probe kept, resolved by [[DupGraph.nearDedupSurvivors]], which
    * keeps each cluster's smallest id.
    *
    * Scale shape: the batch↔ledger probe is the same pigeonhole
    * equi-join as [[TextDedup.simhashPairs]] — (maxHamming+1) block
    * keys per side, shuffle on (block, bits), exact `bit_count`
    * verify — never batch × ledger. Ledger cost: 8 bytes per document
    * ever admitted.
    *
    * Durability: the same two-marker commit protocol as
    * [[ingestBatch]] (and the same ledger directory can NOT be shared
    * between the exact and near-dup operators — the schemas differ).
    * `idCol` must be integral: the within-batch cluster resolution
    * ([[DupGraph.nearDedupSurvivors]]) keys components by long ids.
    */
  def ingestBatchNearDup(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      ledgerPath: String,
      outputDir: String,
      maxHamming: Int = 10,
      shingleN: Int = 2): DataFrame = {
    val spark = batch.sparkSession
    // the probe and the within-batch pairs both read the hashes
    val sim = TextDedup.simhashOf(batch, idCol, textCol, shingleN)
      .localCheckpoint(eager = false)
    commit(spark, ledgerPath, outputDir,
      TextDedup.simhashOf(_, idCol, textCol, shingleN).select(col("sh").as("_sh"))) {
      // 1. cross-batch: drop batch rows near ANY ledgered hash
      val seenIds =
        if (ledgerExists(spark, ledgerPath)) {
          val ledgerBlocks = TextDedup.simhashBlocks(
            spark.read.parquet(ledgerPath).select(col("_sh").as("doc_id"), col("_sh").as("sh")),
            maxHamming)
            .select(col("blk"), col("bits"), col("sh").as("sh_l"))
          TextDedup.simhashBlocks(sim, maxHamming).join(ledgerBlocks, Seq("blk", "bits"))
            .filter(graft.functions.TextFunctions.hamming(col("sh"), col("sh_l")) <= maxHamming)
            .select(col("doc_id")).distinct()
        } else sim.select(col("doc_id")).limit(0) // keeps idCol's type
      val fresh = batch.join(
        seenIds.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti")
      // 2. within-batch, among the rows the probe kept
      val pairs = TextDedup.simhashPairsOf(
        sim.join(seenIds, Seq("doc_id"), "left_anti"), maxHamming)
      DupGraph.nearDedupSurvivors(fresh, idCol, pairs)._1
    }
  }

  /** The two-marker commit protocol (see the object doc): replay a
    * sealed batch, finish the ledger append of a written one, or write
    * `survivors` and then append `ledgerRows` of the WRITTEN rows, so
    * the appended keys exactly match what `outputDir` holds. Markers
    * are keyed by the output path. Returns the batch's output.
    */
  private def commit(
      spark: SparkSession,
      ledgerPath: String,
      outputDir: String,
      ledgerRows: DataFrame => DataFrame)(survivors: => DataFrame): DataFrame = {
    val batchId = graft.plans.Md5Util.hex(outputDir).take(16)
    val outMarker = s"_commit_${batchId}_out"
    val ledgerMarker = s"_commit_${batchId}_ledger"
    def appendLedger(): DataFrame = {
      val written = spark.read.parquet(outputDir)
      // duplicates from a replayed append are harmless to the anti-join
      ledgerRows(written).write.mode("append").parquet(ledgerPath)
      writeMarker(spark, ledgerPath, ledgerMarker)
      written
    }
    if (markerExists(spark, ledgerPath, ledgerMarker)) {
      // fully committed: read-only replay
      spark.read.parquet(outputDir)
    } else if (markerExists(spark, ledgerPath, outMarker)) {
      // output durable but the ledger append may not have committed:
      // re-append from the written rows, then seal. Never touches
      // outputDir.
      appendLedger()
    } else {
      survivors.write.mode("overwrite").parquet(outputDir)
      writeMarker(spark, ledgerPath, outMarker)
      appendLedger()
    }
  }

  /** True only if the ledger holds committed data files (not just job
    * debris like _temporary/_SUCCESS from a killed first append).
    */
  private def ledgerExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }
}
