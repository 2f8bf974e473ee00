package graft.streaming

import graft.config.EntitySpec
import graft.ingest.CsvIngest
import graft.pipeline.Pipeline
import graft.plans.SqlIdent
import graft.sinks.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.{Files, Paths}

/** Structured-Streaming form of the import pipeline: each micro-batch
  * of a stream is one [[Pipeline.runMinted]] into `outDir/batch_<id>`,
  * which holds the batch import's layout (`errors/` and `exports/`).
  *
  * foreachBatch is at-least-once: a batch that fails, or whose commit
  * Spark did not record, runs again on restart. A marker,
  * `outDir/_committed/batch_<id>`, is written once the batch's pipeline
  * has returned, and makes each batch exactly-once: a replay that finds
  * it skips the batch, and one that does not clears `batch_<id>` and
  * runs the batch again. Cross-batch duplicate suppression composes via
  * `EventStream.dedupWithinWatermark` upstream when the source has
  * event-time.
  */
object StreamingIngest {

  /** Start the streaming import for an entity: watch `spec.source`
    * (a directory) for new CSV files and run the import on each
    * micro-batch.
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

  /** Run the import over ANY streaming source — a Kafka topic
    * (`readStream.format("kafka")` + a value-parsing select), a rate
    * source, a socket — whose columns carry the entity's fields as
    * strings. The file-watching [[start]] is just this with a CSV
    * directory source; a log-bus deployment swaps the source expression
    * and nothing downstream changes.
    *
    * `_row_id` minting:
    *   1. the source carries [[CsvIngest.FileTag]] (the file-watching
    *      [[start]] tags it) → the batch reader's (file, position)
    *      ids, layout-independent;
    *   2. otherwise → `monotonically_increasing_id`, which is ordering-
    *      only-within-a-partition: first/last dedup INSIDE a
    *      micro-batch then depends on partition layout. Documented
    *      weaker guarantee — tag the rows with their read unit as
    *      [[CsvIngest.FileTag]] (see [[CsvIngest.mintRowIds]]) when
    *      within-batch duplicate resolution order matters.
    *
    * A source column named like an error file's own column (`row`,
    * `errors`, or `rn` under first/last dedup) fails the first batch
    * before it writes anything, as in the batch import. Outputs are
    * written to the local filesystem, as [[Sinks]] writes them.
    */
  def startFromSource(
      source: DataFrame,
      spec: EntitySpec,
      outDir: String,
      checkpoint: String): StreamingQuery = {
    require(source.isStreaming, "startFromSource needs a streaming DataFrame (readStream)")
    val missing = spec.fields.map(_.name).filterNot(source.columns.contains)
    require(missing.isEmpty,
      s"streaming source is missing entity fields: ${missing.mkString(", ")}")

    source.writeStream
      .queryName(s"graft-ingest-${spec.name}")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marker = Paths.get(outDir, "_committed", s"batch_$batchId")
        if (!Files.exists(marker)) {
          val dir = s"$outDir/batch_$batchId"
          // a failed attempt's partial output
          Sinks.deleteTree(Paths.get(dir))
          val minted =
            if (batch.columns.contains(CsvIngest.FileTag))
              CsvIngest.mintRowIds(batch, col(CsvIngest.FileTag),
                batch.columns.filterNot(_ == CsvIngest.FileTag).map(c => col(SqlIdent.quote(c))))
            else
              batch.withColumn(CsvIngest.RowId, monotonically_increasing_id())
          val result = Pipeline.runMinted(minted, spec, dir)
          try Sinks.writeMarker(marker)
          finally result.unpersist()
        }
      }
      .start()
  }
}
