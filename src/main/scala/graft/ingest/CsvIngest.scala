package graft.ingest

import com.univocity.parsers.csv.CsvParser
import graft.config.EntitySpec
import graft.plans.SqlIdent
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MetadataBuilder, StringType, StructField, StructType}

/** Source reader (reference main.py:432 pd.read_csv).
  *
  * All columns are read as strings so type errors are catchable per
  * row downstream (the reference gets this from pandas+Pydantic; we
  * get it by deferring the cast to the validator's expressions).
  *
  * CSV is read as RFC 4180 records, like pandas: a quoted field may hold
  * the delimiter, doubled quotes or newlines, and every file is one
  * unsplittable read unit (`multiLine`). The header is read on the
  * driver from the lexically first file that has one (no Spark job) and
  * made safe the way Spark's own inference does it (an empty name
  * becomes `_c<i>`, a case-insensitive duplicate gets its index
  * appended); a leading UTF-8 BOM is dropped. Every later file's header
  * must carry the same names in the same order, else the read fails
  * naming the file (a header Spark had to rename is mapped by position
  * instead, unchecked). A record whose field count is not the header's is
  * not dropped, split or padded: its raw text lands in a corrupt-record
  * column, tagged [[MalformedRecord]], that
  * [[graft.validate.SchemaValidator]] turns into a schema error on that
  * row (pandas instead fails the whole file on too many fields and pads
  * too few with NaN).
  *
  * Row identity: the reference relies on DuckDB ROWID / pandas index
  * (main.py:78,135). Spark has no stable implicit order, so every read
  * gets an explicit dense 1-based `_row_id` (pandas `index + 1`,
  * main.py:78) in (lexical source file, position in file) order, from
  * one mint, [[mintRowIds]]. No `.rdd` lineage break, no shuffle of the
  * data, no global sort.
  */
object CsvIngest {

  val RowId = "_row_id"

  /** Column under which the streaming ingest tags each row's
    * [[sourceKey]] before minting ids.
    */
  val FileTag = "_file"

  /** Metadata key marking a csv read's corrupt-record column; its value
    * is the header's field count.
    */
  val MalformedRecord = "graft.malformedRecord"

  /** The mint's group key: a row's source file and the start of the
    * read block holding it. A csv file is one block (start 0); a
    * json/parquet/orc split is one contiguous, in-order chunk of its
    * file inside one scan partition.
    */
  def sourceKey: Column = struct(col("_metadata.file_path"), col("_metadata.file_block_start"))

  /** Format-dispatching source reader (the "universal importer"
    * surface): csv is the reference's path; json/parquet/orc sources are
    * normalized to all-string columns so the same lexical validation
    * pipeline applies regardless of the wire format.
    */
  def read(spark: SparkSession, spec: EntitySpec): DataFrame =
    spec.format match {
      case "csv" => readPath(spark, spec.source)
      case "json" | "parquet" | "orc" =>
        val raw = spark.read.format(spec.format).load(spec.source)
        mintRowIds(raw, sourceKey, raw.columns.map(c => col(SqlIdent.quote(c)).cast("string").as(c)))
      case other =>
        throw new IllegalArgumentException(s"unsupported source format '$other' for entity '${spec.name}'")
    }

  /** Every read already mints file-ordered ids: `fileAware` is ignored. */
  @deprecated("ignored: every read mints ids in (file, position) order", "0.1.0")
  def read(spark: SparkSession, spec: EntitySpec, fileAware: Boolean): DataFrame = read(spark, spec)

  def readPath(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.conf
    val options = new CSVOptions(
      RecordOptions, false, conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    // the first record of the lexically first file with a non-empty line
    val hadoopConf = spark.sessionState.newHadoopConf()
    val header = spark.read.text(path).inputFiles.sorted.iterator
      .flatMap(f => CSVUtils.readHeaderLine(new Path(f), options, hadoopConf))
      .nextOption()
      .fold(Array.empty[String])(line =>
        new CsvParser(options.asParserSettings).parseLine(line.stripPrefix("\uFEFF")))
    val names = CSVUtils.makeSafeHeader(header, conf.caseSensitiveAnalysis, options).toSeq
    val corrupt = SqlIdent.freshName("_corrupt_record", names)
    // Spark checks each file's header against the schema by raw name, so
    // a header it had to rename can only be mapped by position
    val raw = spark.read.options(csvOptions(corrupt, enforceSchema = names != header.toSeq))
      .schema(csvSchema(names, corrupt)).csv(path)
    mintRowIds(raw, sourceKey, raw.columns.map(c => col(SqlIdent.quote(c))))
  }

  private val RecordOptions = Map("header" -> "true", "multiLine" -> "true", "escape" -> "\"")

  /** The reader options of every csv read, batch and streaming. */
  def csvOptions(corrupt: String, enforceSchema: Boolean = false): Map[String, String] =
    RecordOptions ++ Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corrupt,
      "enforceSchema" -> enforceSchema.toString)

  /** All-string `names` plus the corrupt-record column `corrupt`, tagged
    * [[MalformedRecord]] with the field count. No names means no file
    * has a record, and Spark refuses a scan of the corrupt-record column
    * alone, so then there is none.
    */
  def csvSchema(names: Seq[String], corrupt: String): StructType =
    StructType(names.map(StructField(_, StringType)) ++ Option.when(names.nonEmpty)(
      StructField(corrupt, StringType,
        metadata = new MetadataBuilder().putLong(MalformedRecord, names.size).build())))

  /** The one row-id mint: `_row_id` = the row's 1-based position in
    * (group key order, position within group), returned over
    * `data :+ _row_id`. Each `key` group's rows must be contiguous, in
    * input order, in one partition, so `monotonically_increasing_id`
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
  def mintRowIds(df: DataFrame, key: Column, data: Seq[Column]): DataFrame = {
    val Seq(g, seq, off) = Seq("_g", "_seq", "_offset").map(SqlIdent.freshName(_, df.columns))
    val keyed = df.select(col("*"), key.as(g), monotonically_increasing_id().as(seq))
    // one row per group, sorted in one task in Spark's own key order
    // (file paths byte-wise, then block start)
    val groups = keyed.groupBy(g).agg(count(lit(1)), min(seq))
      .coalesce(1).sortWithinPartitions(g).collect()
    val offsets = groups.zip(groups.scanLeft(0L)(_ + _.getLong(1)))
      .map { case (r, base) => Row(r.get(0), base - r.getLong(2) + 1) }
    val table = df.sparkSession.createDataFrame(java.util.Arrays.asList(offsets: _*),
      StructType(Seq(keyed.schema(g), StructField(off, LongType))))
    keyed.join(broadcast(table), Seq(g), "left")
      .select(data :+ (col(seq) + col(off)).as(RowId): _*)
  }
}
