package graft.sinks

import graft.ingest.CsvIngest
import graft.ingest.CsvIngest.RowId
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** CSV sinks matching the reference's output layout:
  * `output/exports/{name}.csv` per projection (main.py:300-326) and
  * `output/errors/{entity}_{type}_errors.csv` per error set
  * (main.py:367-399).
  *
  * Each output is one write job, and each write returns the rows it
  * wrote, counted on that job with an `Observation`, so callers need
  * no separate `count()`.
  *
  * csv and json exports and every error file are single files, as the
  * reference writes them: `coalesce(1)` and a rename of the one part
  * file. The write runs in one task over whatever part of its input's
  * plan comes after the last exchange or cache; under AQE a held input
  * not yet built is built first by its own table-cache job, in
  * parallel. parquet and orc exports are standard sharded directories.
  */
object Sinks {

  /** Writes `{outputDir}/exports/{name}.{format}` in the order of `df`'s
    * rows (for the importer, the stage's row-id order); returns the
    * rows written.
    */
  def exportProjection(df: DataFrame, name: String, outputDir: String,
      format: String = "csv"): Long = format match {
    case "csv" | "json" =>
      write(df.coalesce(1), s"$outputDir/exports", s"$name.$format", format,
        singleFile = true, keepEmpty = true)
    case "parquet" | "orc" =>
      write(df, s"$outputDir/exports", s"$name.$format", format,
        singleFile = false, keepEmpty = true)
    case other =>
      throw new IllegalArgumentException(s"unsupported export format '$other'")
  }

  /** save_errors parity: an `errors` array column is flattened to a
    * "; "-joined string (main.py:391); rows ordered by the original
    * row id; `row`/`errors` lead the column list like the reference's
    * structured error records (main.py:388-394); the internal
    * `_row_id` never reaches the file (the reference exports its `rn`
    * but not its ROWID).
    *
    * Returns the rows written. An empty error set leaves no file, like
    * the reference, which writes only non-empty error lists.
    */
  def saveErrors(df: DataFrame, errorType: String, entity: String, outputDir: String): Long = {
    val flat = df.schema.find(_.name == "errors") match {
      case Some(f) if f.dataType.typeName == "array" =>
        df.withColumn("errors", concat_ws("; ", col("errors")))
      case _ => df
    }
    val lead = Seq("row", "errors").filter(flat.columns.contains)
    val rest = flat.columns.filterNot(c => lead.contains(c) || c == RowId)
    // sorted inside the one partition: no range sample job, no exchange
    val one = flat.coalesce(1)
    val sorted = Seq(RowId, "row").find(flat.columns.contains)
      .fold(one)(key => one.sortWithinPartitions(col(key)))
    write(sorted.select((lead ++ rest).map(col): _*), s"$outputDir/errors",
      s"${entity}_${errorType}_errors.csv", "csv", singleFile = true, keepEmpty = false)
  }

  /** Writes a commit marker: an empty file at `marker` (parents
    * created), written once the output it seals is durable, so a replay
    * can tell finished output from a failed attempt's partial one.
    * Readers of parquet and csv directories skip `_`-prefixed paths.
    */
  def writeMarker(marker: Path): Unit = {
    Files.createDirectories(marker.getParent)
    Files.write(marker, Array.emptyByteArray)
  }

  /** Writes `df` to `dir/fileName` and returns the rows written. A
    * single-file write goes to a temp directory whose one part file is
    * then moved to the target; with `keepEmpty=false` a write of no
    * rows leaves nothing behind, not even a directory it created.
    */
  private def write(df: DataFrame, dir: String, fileName: String, format: String,
      singleFile: Boolean, keepEmpty: Boolean): Long = {
    val fresh = Files.notExists(Paths.get(dir))
    val target = Paths.get(dir, fileName)
    val out = if (singleFile) Paths.get(dir, s".tmp_$fileName") else target
    val written = Observation()
    val w = df.observe(written, count(lit(1)).as("rows")).write.mode("overwrite").format(format)
    (if (format == "csv") w.options(CsvIngest.Dialect) else w).save(out.toString)
    val rows = written.get("rows").asInstanceOf[Long]
    if (singleFile && (rows > 0 || keepEmpty)) {
      val part = Files.list(out).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(s"no part file written under $out"))
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    }
    // the temp dir (part metadata, _SUCCESS), or an empty sharded output
    // and the directory the write created for it
    if (singleFile || (rows == 0 && !keepEmpty)) deleteTree(out)
    if (rows == 0 && !keepEmpty && fresh) Files.deleteIfExists(Paths.get(dir))
    rows
  }

  /** Deletes `p` and everything under it, if it exists. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
}
