package graft.ingest

import graft.config.EntitySpec
import graft.plans.SqlIdent
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** CSV source (reference main.py:432 pd.read_csv).
  *
  * All columns are read as strings so type errors are catchable per
  * row downstream (the reference gets this from pandas+Pydantic; we
  * get it by deferring the cast to the validator's expressions).
  *
  * Row identity: the reference relies on DuckDB ROWID / pandas index
  * (main.py:78,135). Spark has no stable implicit order, so every read
  * gets an explicit dense 1-based `_row_id` (pandas `index + 1`,
  * main.py:78) from one mint, [[mintRowIds]]: each group's offset
  * (group = scan partition, so ids follow partition order, or source
  * file for file-aware reads) added to `monotonically_increasing_id`.
  * No `.rdd` lineage break, no shuffle of the data, no global sort.
  */
object CsvIngest {

  val RowId = "_row_id"

  /** Column under which [[readPathFileAware]] / the streaming ingest
    * tag each row's source file before minting ids.
    */
  val FileTag = "_file"

  /** Format-dispatching source reader (the "universal importer"
    * surface): csv is the reference's path; json/parquet/orc sources are
    * normalized to all-string columns so the same lexical validation
    * pipeline applies regardless of the wire format.
    *
    * `fileAware=true` (csv only) mints layout-independent multi-file
    * ids via [[readPathFileAware]]. Unsupported format+fileAware
    * combinations throw rather than silently handing back
    * layout-dependent ids the caller asked to avoid.
    */
  def read(spark: SparkSession, spec: EntitySpec, fileAware: Boolean = false): DataFrame =
    spec.format match {
      case "csv" if fileAware => readPathFileAware(spark, spec.source)
      case other if fileAware =>
        throw new IllegalArgumentException(
          s"file_aware row ids are only supported for csv sources (entity '${spec.name}' has format '$other')")
      case "csv" => readPath(spark, spec.source)
      case "json" | "parquet" | "orc" =>
        val raw = spark.read.format(spec.format).load(spec.source)
        withPartitionRowIds(raw.select(raw.columns.map(c => col(c).cast("string").as(c)): _*))
      case other =>
        throw new IllegalArgumentException(s"unsupported source format '$other' for entity '${spec.name}'")
    }

  def readPath(spark: SparkSession, path: String): DataFrame =
    withPartitionRowIds(csvReader(spark).csv(path))

  /** Multi-file CSV read with FILE-AWARE dense 1-based `_row_id`:
    * identity = (file path order, row order within file), so
    * keep-first/keep-last dedup is reproducible no matter how Spark
    * parallelizes the read — the property SURVEY §7.4(1) asks for at
    * the 100 TB multi-file scale, where partition-order ids would
    * depend on partition layout.
    *
    * `multiLine=true` makes each CSV file a single unsplittable read
    * unit, so a file's rows are contiguous in one partition in input
    * order, and the mint groups by the file tag: a file's ids start
    * after all rows of the files before it.
    *
    * Files are ordered by lexical path (name multi-part inputs
    * part-00000, part-00001, … as writers already do).
    */
  def readPathFileAware(spark: SparkSession, path: String): DataFrame = {
    val raw = csvReader(spark).option("multiLine", "true").csv(path)
    val tagged = raw
      .select(raw.columns.map(col) :+ col("_metadata.file_path").as(FileTag): _*)
    mintFileAwareIds(tagged, raw.columns.toSeq)
  }

  /** Mint file-aware ids over a frame tagged with [[FileTag]], where
    * each file was read as an UNSPLITTABLE unit (`multiLine=true`).
    * Shared by the batch multi-file reader and the streaming
    * micro-batch ingest — identity = (lexical file path order, row
    * order within file), independent of partition layout.
    */
  def mintFileAwareIds(tagged: DataFrame, dataCols: Seq[String]): DataFrame =
    mintRowIds(tagged, col(FileTag), dataCols)

  private def csvReader(spark: SparkSession) =
    spark.read.option("header", "true").option("mode", "PERMISSIVE")

  private def withPartitionRowIds(df: DataFrame): DataFrame =
    mintRowIds(df, spark_partition_id(), df.columns.toSeq)

  /** The one row-id mint: `_row_id` = the row's 1-based position in
    * (group key order, position within group), returned over
    * `dataCols :+ _row_id`. Each `key` group's rows must be contiguous,
    * in input order, in one partition, so `monotonically_increasing_id`
    * minus the group's first id is the in-group offset.
    *
    * One small aggregate job collects each group's count and first id;
    * the key-ordered counts sum into bases, broadcast-joined back on the
    * key (one hash lookup per row).
    *
    * The offsets are computed eagerly against the scan's partition
    * layout, which is a function of the input files, the
    * `spark.sql.files.*` split settings and the default parallelism;
    * keep those fixed until the frame's last action (or persist it).
    */
  private def mintRowIds(df: DataFrame, key: Column, dataCols: Seq[String]): DataFrame = {
    val Seq(g, seq, off) = Seq("_g", "_seq", "_offset").map(SqlIdent.freshName(_, df.columns))
    val keyed = df.select(col("*"), key.as(g), monotonically_increasing_id().as(seq))
    // one row per group, sorted in one task in Spark's own key order
    // (file paths byte-wise)
    val groups = keyed.groupBy(g).agg(count(lit(1)), min(seq))
      .coalesce(1).sortWithinPartitions(g).collect()
    val offsets = groups.zip(groups.scanLeft(0L)(_ + _.getLong(1)))
      .map { case (r, base) => Row(r.get(0), base - r.getLong(2) + 1) }
    val table = df.sparkSession.createDataFrame(java.util.Arrays.asList(offsets: _*),
      StructType(Seq(keyed.schema(g), StructField(off, LongType))))
    keyed.join(broadcast(table), Seq(g), "left")
      .select(dataCols.map(c => col(SqlIdent.quote(c))) :+ (col(seq) + col(off)).as(RowId): _*)
  }
}
