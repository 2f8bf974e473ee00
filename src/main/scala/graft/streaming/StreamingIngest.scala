package graft.streaming

import graft.config.EntitySpec
import graft.dedup.Dedup
import graft.ingest.CsvIngest
import graft.plans.SqlIdent
import graft.validate.SchemaValidator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming form of the import pipeline: a file-source
  * stream of CSVs flows through the same validation/dedup stages via
  * foreachBatch, appending survivors and errors to parquet sinks.
  *
  * foreachBatch is the right integration point here: the batch
  * pipeline stages are pure DataFrame→DataFrame functions, so each
  * micro-batch reuses them unchanged (one code path for batch and
  * streaming), while cross-batch duplicate suppression composes via
  * `EventStream.dedupWithinWatermark` upstream when the source has
  * event-time.
  */
object StreamingIngest {

  /** Start the streaming import for an entity: watch `spec.source`
    * (a directory) for new CSV files, validate + dedup each
    * micro-batch, append to `outDir/stage` and `outDir/errors`.
    *
    * Files are read with the batch reader's csv options
    * ([[CsvIngest.csvOptions]]): RFC 4180 records, each file one
    * unsplittable read unit, a ragged record captured as a schema error
    * row. The schema is the config's fields in declaration order, all
    * strings (typed casts stay inside the validator), and every file's
    * header must name exactly those fields in that order: a file whose
    * columns come in another order, or with extra or missing columns,
    * stops the query with an error naming the file.
    *
    * Row identity is DETERMINISTIC: rows are tagged with their
    * [[CsvIngest.sourceKey]], so `_row_id` = (lexical file order within
    * the batch, in-file position) — exactly the batch reader's ids,
    * never partition-layout-dependent. Keep-first/keep-last dedup
    * inside a micro-batch is therefore reproducible across replays and
    * cluster layouts.
    */
  def start(
      spark: SparkSession,
      spec: EntitySpec,
      outDir: String,
      checkpoint: String): StreamingQuery = {
    val names = spec.fields.map(_.name)
    val corrupt = SqlIdent.freshName("_corrupt_record", names)
    val schema = CsvIngest.csvSchema(names, corrupt)
    val stream = spark.readStream
      .options(CsvIngest.csvOptions(corrupt))
      .schema(schema)
      .csv(spec.source)
      .select(schema.fieldNames.map(c => col(SqlIdent.quote(c))) :+
        CsvIngest.sourceKey.as(CsvIngest.FileTag): _*)
    startFromSource(stream, spec, outDir, checkpoint)
  }

  /** Run the validate + dedup ingest over ANY streaming source — a
    * Kafka topic (`readStream.format("kafka")` + a value-parsing
    * select), a rate source, a socket — whose columns carry the
    * entity's fields as strings. The file-watching [[start]] is just
    * this with a CSV directory source; a log-bus deployment swaps the
    * source expression and nothing downstream changes.
    *
    * `_row_id` minting, in preference order:
    *   1. the source carries [[CsvIngest.FileTag]] (the file-watching
    *      [[start]] tags it) → the batch reader's (file, position)
    *      ids, layout-independent;
    *   2. `orderCols` names a deterministic per-batch ordering (Kafka
    *      `partition, offset`; an event id) → `row_number` over it.
    *      The global window shuffles the micro-batch to one partition
    *      — fine at micro-batch sizes; at very large batches prefer a
    *      file/offset tag;
    *   3. neither → `monotonically_increasing_id`, which is ordering-
    *      only-within-a-partition: first/last dedup INSIDE a
    *      micro-batch then depends on partition layout. Documented
    *      weaker guarantee — supply 1. or 2. when within-batch
    *      duplicate resolution order matters.
    */
  def startFromSource(
      source: DataFrame,
      spec: EntitySpec,
      outDir: String,
      checkpoint: String,
      orderCols: Seq[String] = Nil): StreamingQuery = {
    require(source.isStreaming, "startFromSource needs a streaming DataFrame (readStream)")
    val missing = spec.fields.map(_.name).filterNot(source.columns.contains)
    require(missing.isEmpty,
      s"streaming source is missing entity fields: ${missing.mkString(", ")}")
    val missingOrder = orderCols.filterNot(source.columns.contains)
    require(missingOrder.isEmpty,
      s"orderCols not present in streaming source: ${missingOrder.mkString(", ")}")

    source.writeStream
      .queryName(s"graft-ingest-${spec.name}")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val withIds =
          if (batch.columns.contains(CsvIngest.FileTag))
            CsvIngest.mintRowIds(batch, col(CsvIngest.FileTag),
              batch.columns.filterNot(_ == CsvIngest.FileTag).map(c => col(SqlIdent.quote(c))))
          else if (orderCols.nonEmpty)
            batch.withColumn(CsvIngest.RowId,
              row_number().over(Window.orderBy(orderCols.map(col): _*)).cast("long"))
          else
            batch.withColumn(CsvIngest.RowId, monotonically_increasing_id())
        val vr = SchemaValidator.validate(withIds, spec.fields)
        val dd = Dedup(vr.valid, spec.settings.uniqueComposite, spec.settings.effectiveResolution)
        dd.survivors
          .withColumn("_batch_id", lit(batchId))
          .write.mode("append").parquet(s"$outDir/stage")
        val errs = vr.errors.select(col("row"), concat_ws("; ", col("errors")).as("errors"))
        if (!errs.isEmpty)
          errs.withColumn("_batch_id", lit(batchId))
            .write.mode("append").parquet(s"$outDir/errors")
        ()
      }
      .start()
  }

  /** Streaming NEAR-duplicate suppression: every micro-batch flows
    * through [[graft.operators.IncrementalDedup.ingestBatchNearDup]] —
    * cross-batch dedup against the simhash ledger (8 bytes per
    * document ever admitted), then within-batch pigeonhole pairs +
    * connected components. Survivors land under
    * `outDir/batch_<id>`; the ledger grows by the admitted hashes.
    *
    * Why foreachBatch and not a stateful operator: near-dup state is
    * the FULL history of admitted signatures — unbounded, so it can't
    * live in watermark-evicted streaming state. The ledger is that
    * state made durable and cheap (a probe is a block equi-join, never
    * batch × history), and the two-marker commit protocol makes each
    * batch idempotent: a replay after a crash resumes exactly where
    * the markers say, so the stream is effectively-once end to end.
    */
  def startNearDup(
      source: DataFrame,
      idCol: String,
      textCol: String,
      outDir: String,
      ledgerPath: String,
      checkpoint: String,
      maxHamming: Int = 10,
      shingleN: Int = 2): StreamingQuery = {
    require(source.isStreaming, "startNearDup needs a streaming DataFrame (readStream)")
    source.writeStream
      .queryName("graft-near-dup")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.operators.IncrementalDedup.ingestBatchNearDup(
            batch, idCol, textCol, ledgerPath,
            outputDir = s"$outDir/batch_$batchId",
            maxHamming = maxHamming, shingleN = shingleN)
          ()
        }
      }
      .start()
  }
}
