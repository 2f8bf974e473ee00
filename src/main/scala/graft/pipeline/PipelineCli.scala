package graft.pipeline

import graft.config.PipelineConfig
import graft.rules.ValidationStopException
import java.time.LocalDate

/** CLI entry with the reference's surface (main.py:401-505):
  *
  *   runMain graft.pipeline.PipelineCli <entity> [--config path]
  *     [--output_dir dir] [--as_of yyyy-mm-dd]
  *
  * `--as_of` is the one addition: the reference interpolates the run
  * date into its age rule (main.py:169), which made results
  * run-date-dependent; defaulting to today preserves that behavior
  * while letting tests pin it.
  *
  * Error envelope parity (main.py:496-505): config/validation/file
  * errors are reported to stdout and exit the run, not the JVM stack.
  */
object PipelineCli {

  def main(args: Array[String]): Unit = {
    var entity: Option[String] = None
    var config = "config.yaml"
    var outputDir = "output"
    var asOf = LocalDate.now()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--config"     => config = args(i + 1); i += 2
        case "--output_dir" => outputDir = args(i + 1); i += 2
        case "--as_of"      => asOf = LocalDate.parse(args(i + 1)); i += 2
        case other          => entity = Some(other); i += 1
      }
    }
    val entityName = entity.getOrElse {
      System.err.println(
        "usage: PipelineCli <entity> [--config path] [--output_dir dir] [--as_of yyyy-mm-dd]")
      sys.exit(2)
    }

    // SPARK_MASTER points the run at a cluster; default local[cpus]
    val spark = graft.Session(master = sys.env.get("SPARK_MASTER"))

    try {
      val result = Pipeline.run(spark, PipelineConfig.load(config), entityName, outputDir, asOf)
      try {
        report(result)
      } finally result.unpersist()
    } catch {
      case ke: NoSuchElementException => println(s"Configuration Error: ${ke.getMessage}")
      case ve: ValidationStopException => println(s"Validation Error: ${ve.getMessage}")
      case fe: java.nio.file.NoSuchFileException => println(s"File Error: ${fe.getMessage}")
    } finally {
      spark.stop()
    }
  }

  private def report(result: Pipeline.PipelineResult): Unit = {
    val s = result.summary
    println("\nProcessing Summary:")
    println(s"Total rows processed: ${s.totalRows}")
    println(s"Total valid rows inserted into raw table: ${s.validRows}")
    println(s"Total rows with schema validation errors: ${s.schemaErrorRows}")
    println(s"Total rows with custom validation errors: ${s.customInvalidRows}")
    println(s"Total duplicate rows removed: ${s.duplicateRowsRemoved}")
    if (s.stoppedAtSchemaErrors)
      println("Schema validation errors found; stopped before load (custom_validation_mode=stop).")
    else {
      println("\nProjection Summary:")
      for (p <- result.projections)
        println(s"  ${p.spec.name} (${p.spec.projType}): ${s.projectionRows(p.spec.name)} rows")
    }
  }
}
