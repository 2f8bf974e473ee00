package graft.pipeline

import graft.config.{EntitySpec, PipelineConfig}
import graft.dedup.Dedup
import graft.ingest.CsvIngest
import graft.project.Projections
import graft.rules.CustomRules
import graft.sinks.Sinks
import graft.validate.SchemaValidator
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, count_if, lit}
import org.apache.spark.storage.StorageLevel
import java.time.LocalDate

/** End-to-end entity pipeline orchestration (reference main.py:401-505):
  *
  *   read CSV → schema validation (vectorized) → raw → dedup →
  *   custom rules → projections → CSV exports + error CSVs → summary
  *
  * [[run]] is the read, then [[runMinted]], every later stage; the
  * streaming import runs [[runMinted]] on each micro-batch.
  *
  * Each stage runs once. The reference materializes raw/stage as
  * DuckDB tables (CTAS, main.py:90-95); here only this module persists
  * (besides a `table` projection's CTAS cache), three frames:
  *   - the validated input, read by the error and valid splits;
  *   - the flagged dedup frame, read by the duplicates write, the rule
  *     issue writes and the stage;
  *   - the stage, sorted by row id once for every projection.
  * The first write over a held frame builds it. Under AQE a frame whose
  * plan shuffles (the dedup window, the stage's sort) is built by a
  * table-cache job of its own at its partitioning, so a single-file
  * write's one task reads the cache rather than running the window.
  * The validated frame's plan does not shuffle, so the error file's
  * one-task write would build it in that one task: when it spans more
  * than one scan partition, a no-op write builds it first, one task
  * per partition.
  *
  * Every output is one write job, and every summary count is a row
  * count a write observes: the schema-error write also counts the
  * held validated frame below its error filter (the total), and the
  * duplicates write counts each rule's invalid survivors below its
  * own, so only a rule with failing rows is written. No job only
  * counts. The other jobs are the row-id mint's aggregate for a
  * multi-file or non-csv source, the multi-partition build above, and
  * the rules' one aggregate when the config has rules but no key set.
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

  /** Reads the entity's source ([[CsvIngest.read]]), then runs
    * [[runMinted]] over it.
    */
  def run(
      spark: SparkSession,
      config: PipelineConfig,
      entityName: String,
      outputDir: String,
      asOf: LocalDate = LocalDate.now(),
      sourceOverride: Option[String] = None): PipelineResult = {
    val spec0 = config.entity(entityName)
    val spec = sourceOverride.fold(spec0)(src => spec0.copy(source = src))
    runMinted(CsvIngest.read(spark, spec), spec, outputDir, asOf)
  }

  /** Every stage after the read, over `input`: the entity's fields as
    * strings (plus a csv read's corrupt-record column) and a minted
    * [[CsvIngest.RowId]]. Runs in `input`'s session, which is where the
    * projections' temp views land.
    */
  def runMinted(
      input: DataFrame,
      spec: EntitySpec,
      outputDir: String,
      asOf: LocalDate = LocalDate.now()): PipelineResult = {
    val spark = input.sparkSession
    val entityName = spec.name
    // every frame this run persists; released here if the run fails
    val cached = Seq.newBuilder[DataFrame]
    def hold(df: DataFrame): DataFrame = {
      if (df.storageLevel == StorageLevel.NONE) cached += df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    }

    try {
      // 2. schema validation, held for both splits. The dedup plan is
      // built before any write, so a reserved column name fails the run
      // with no output. The error file's one-task write counts every row
      // read, below its error filter.
      val vr = SchemaValidator.validate(input, spec.fields)
      hold(vr.flagged)
      val dd = Dedup(vr.valid, spec.settings.uniqueComposite, spec.settings.effectiveResolution)
      // the held frame's own plan, a scan of the cache, has one partition
      // per scan partition
      if (vr.flagged.queryExecution.toRdd.getNumPartitions > 1)
        vr.flagged.write.format("noop").mode("overwrite").save()
      val read = Observation()
      val schemaErrors = SchemaValidator.errorRows(vr.flagged.observe(read, count(lit(1)).as("rows")))
      val schemaErrorRows = Sinks.saveErrors(schemaErrors, "schema_validation", entityName, outputDir)
      val totalRows = read.get("rows").asInstanceOf[Long]
      val validRows = totalRows - schemaErrorRows

      // the stop gate needs only the counts taken so far
      if (schemaErrorRows > 0 && spec.settings.customValidationMode == "stop")
        PipelineResult(
          PipelineSummary(totalRows, validRows, schemaErrorRows, 0, 0,
            Map.empty, stoppedAtSchemaErrors = true),
          None, schemaErrors, None, Seq.empty, Seq.empty, cached.result())
      else {
        // 3. raw (the valid split) + 4. dedup raw → stage (main.py:97-159)
        // + 5. custom rules (main.py:161-197). The duplicates write builds
        // the held flagged frame and, below its filter, counts each
        // rule's invalid rows among the survivors. With no key set that
        // filter is a constant false, which the optimizer prunes with
        // anything under it, so the rules' one aggregate counts them.
        hold(dd.flagged)
        val rr = CustomRules.compile(
          dd.survivors, spec.rules, spec.settings.customValidationMode, asOf)
        val ruleCounts = rr.invalid.zipWithIndex.map { case (inv, i) =>
          count_if(dd.survives && inv).as(s"rule_$i")
        }
        val observed = spec.settings.uniqueComposite.nonEmpty && ruleCounts.nonEmpty
        val counted = Observation()
        val duplicateRowsRemoved = Sinks.saveErrors(
          if (observed) dd.removedFrom(dd.flagged.observe(counted, ruleCounts.head, ruleCounts.tail: _*))
          else dd.removed,
          "duplicates", entityName, outputDir)
        // stop mode raises here, before any rule issue write, like the
        // reference's ValueError
        val ruleIssues =
          if (observed) rr.issuesOf(ruleCounts.indices.map(i => counted.get(s"rule_$i").asInstanceOf[Long]))
          else rr.issues
        for (issue <- ruleIssues)
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
            customInvalidRows = ruleIssues.map(_.invalidCount).sum,
            duplicateRowsRemoved = duplicateRowsRemoved,
            projectionRows = projectionRows,
            stoppedAtSchemaErrors = false),
          Some(stage), schemaErrors, Some(dd.removed), ruleIssues, projections, cached.result())
      }
    } catch {
      case t: Throwable =>
        cached.result().foreach(_.unpersist())
        throw t
    }
  }
}
