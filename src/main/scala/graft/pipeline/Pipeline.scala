package graft.pipeline

import graft.config.{EntitySpec, PipelineConfig}
import graft.dedup.Dedup
import graft.ingest.CsvIngest
import graft.project.Projections
import graft.rules.CustomRules
import graft.sinks.Sinks
import graft.validate.SchemaValidator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import java.time.LocalDate

/** End-to-end entity pipeline orchestration (reference main.py:401-505):
  *
  *   read CSV → schema validation (vectorized) → raw → dedup →
  *   custom rules → projections → CSV exports + error CSVs → summary
  *
  * Each stage runs once. The reference materializes raw/stage as
  * DuckDB tables (CTAS, main.py:90-95); here only this module persists
  * (besides a `table` projection's CTAS cache), three frames:
  *   - the validated input, read by the error and valid splits;
  *   - the flagged dedup frame, read by the rule counts, the rule issue
  *     writes and the stage;
  *   - the stage, sorted by row id once for every projection.
  * The first write over a held frame builds it, under AQE in a
  * table-cache job of its own at the frame's partitioning (the scan's,
  * or the dedup window's), so a single-file write's one task reads the
  * cache rather than running ingest, validation or the window.
  * The row id mint counts the input rows, every output is one write
  * job, one aggregate job counts every rule, and the other summary
  * counts are the row counts the writes observe.
  *
  * Quirks kept for parity:
  *   - `custom_validation_mode == "stop"` also gates *schema* errors
  *     (main.py:435-439) — the flag's name notwithstanding;
  *   - error CSVs are written before the stop-gate fires;
  *   - a `stop` custom rule raises before any rule issue set is written.
  */
object Pipeline {

  final case class PipelineSummary(
      totalRows: Long,
      validRows: Long,
      schemaErrorRows: Long,
      customInvalidRows: Long,
      duplicateRowsRemoved: Long,
      projectionRows: Map[String, Long],
      stoppedAtSchemaErrors: Boolean)

  final case class PipelineResult(
      summary: PipelineSummary,
      stage: Option[DataFrame],
      /** a filter over the persisted validated input, not itself
        * persisted: each action on it re-runs that filter
        */
      schemaErrors: DataFrame,
      /** the dedup's removed rows: a filter over the persisted dedup
        * frame, not itself persisted — each action on it re-runs that
        * filter, not the dedup windows
        */
      duplicates: Option[DataFrame],
      ruleIssues: Seq[CustomRules.RuleIssue],
      projections: Seq[Projections.ProjectionResult],
      /** every frame the run persisted: the validated input, the
        * flagged dedup frame, the stage and the table projections
        */
      intermediateCaches: Seq[DataFrame] = Seq.empty) {

    /** Release every DataFrame this run cached — call when done
      * consuming the result in a long-lived session: a cache left
      * behind would also serve its stale rows to the next run over the
      * same source path.
      */
    def unpersist(): Unit = intermediateCaches.foreach(_.unpersist())
  }

  def run(
      spark: SparkSession,
      config: PipelineConfig,
      entityName: String,
      outputDir: String,
      asOf: LocalDate = LocalDate.now(),
      sourceOverride: Option[String] = None): PipelineResult = {

    val spec0 = config.entity(entityName)
    val spec: EntitySpec = sourceOverride.fold(spec0)(src => spec0.copy(source = src))
    // every frame this run persists; released here if the run fails
    val cached = Seq.newBuilder[DataFrame]
    def hold(df: DataFrame): DataFrame = {
      if (df.storageLevel == StorageLevel.NONE) cached += df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    }

    try {
      // 1. ingest + 2. schema validation. The id mint counts the input
      // rows; the validated frame is held for both splits and built by
      // its own table-cache job at the scan's partitioning, ahead of the
      // error file's one-task write. The dedup plan is built before any
      // write, so a reserved column name fails the run with no output.
      val input = CsvIngest.read(spark, spec)
      val totalRows = CsvIngest.rowCount(input)
      val vr = SchemaValidator.validate(input, spec.fields)
      hold(vr.flagged)
      val dd = Dedup(vr.valid, spec.settings.uniqueComposite, spec.settings.effectiveResolution)
      val schemaErrorRows = Sinks.saveErrors(vr.errors, "schema_validation", entityName, outputDir)
      val validRows = totalRows - schemaErrorRows

      // the stop gate needs only the counts taken so far
      if (schemaErrorRows > 0 && spec.settings.customValidationMode == "stop")
        PipelineResult(
          PipelineSummary(totalRows, validRows, schemaErrorRows, 0, 0,
            Map.empty, stoppedAtSchemaErrors = true),
          None, vr.errors, None, Seq.empty, Seq.empty, cached.result())
      else {
        // 3. raw (the valid split) + 4. dedup raw → stage (main.py:97-159).
        // The duplicates write builds the held flagged frame; the
        // survivors are a filter over it.
        hold(dd.flagged)
        val duplicateRowsRemoved = Sinks.saveErrors(dd.removed, "duplicates", entityName, outputDir)

        // 5. custom rules (main.py:161-197); stop mode raises out of here
        // after the one counting job, like the reference's ValueError.
        val rr = CustomRules.execute(
          dd.survivors, spec.rules, spec.settings.customValidationMode, asOf)
        for (issue <- rr.issues)
          Sinks.saveErrors(issue.invalidRows, s"custom_${issue.field}", entityName, outputDir)

        // 6. projections (user SQL over the stage view). The stage is
        // sorted by _row_id once, before it is persisted and before the
        // id is dropped, so projection output (and therefore the
        // exports) comes out in input order, matching the reference's
        // ROWID-ordered table scans (main.py:323). For plain SELECT
        // projections the order survives to the single-file writer;
        // queries that aggregate define their own order, exactly as in
        // the reference.
        val stage = hold(rr.survivors.orderBy(CsvIngest.RowId))
        val projections = Projections.run(spark, stage.drop(CsvIngest.RowId), spec)
        cached ++= projections.map(_.df).filter(_.storageLevel != StorageLevel.NONE)

        // 7. exports
        val projectionRows = projections.map { p =>
          p.spec.name -> Sinks.exportProjection(p.df, p.spec.name, outputDir, format = spec.exportFormat)
        }.toMap

        PipelineResult(
          PipelineSummary(
            totalRows = totalRows,
            validRows = validRows,
            schemaErrorRows = schemaErrorRows,
            customInvalidRows = rr.totalInvalidRows,
            duplicateRowsRemoved = duplicateRowsRemoved,
            projectionRows = projectionRows,
            stoppedAtSchemaErrors = false),
          Some(stage), vr.errors, Some(dd.removed), rr.issues, projections, cached.result())
      }
    } catch {
      case t: Throwable =>
        cached.result().foreach(_.unpersist())
        throw t
    }
  }
}
