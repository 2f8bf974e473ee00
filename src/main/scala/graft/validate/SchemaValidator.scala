package graft.validate

import graft.config.FieldSpec
import graft.ingest.CsvIngest.{MalformedRecord, RowId}
import graft.plans.SqlIdent
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.VectorMap

/** Schema validation as an expression compiler.
  *
  * The reference validates row-at-a-time with a dynamic Pydantic model
  * (reference main.py:35-88, loop at 68-78) — its scalability cliff.
  * Here every field rule compiles to a vectorized `Column` predicate;
  * the validation is one projection that appends an error-message
  * array, a `concat` of one `when(fails, array(message))` per check
  * (built-in expressions with generated code: no lambda, which Spark
  * would evaluate row by row), then one filter each way to split
  * valid/invalid. No UDFs, no row loop — Catalyst sees everything.
  *
  * Error-message parity is by row-set and category, not byte-exact
  * Pydantic text (SURVEY.md §7 risk 4).
  *
  * A csv record whose field count is not the header's (its raw text in
  * the read's corrupt-record column, see [[graft.ingest.CsvIngest]]) is
  * one more schema error on that row, carrying the expected field count
  * and the raw text. The corrupt-record column is in `flagged` only,
  * never in either split.
  *
  * A source column named `row` or `errors` (in any case) is rejected:
  * the error split writes its own columns under those names.
  */
object SchemaValidator {

  val ErrorsCol = "_errors"

  final case class ValidationResult(
      /** rows with no errors, columns cast to the declared types */
      valid: DataFrame,
      /** rows with >=1 error: row (1-based id), errors array, original string data */
      errors: DataFrame,
      /** the input plus the `_errors` array; both splits filter it, so a
        * caller that reads both persists it to run the checks once
        */
      flagged: DataFrame)

  /** Pydantic lax-mode-ish parse acceptance for string input. */
  private val IntPattern = "^[+-]?\\d+(\\.0*)?$"
  private val FloatPattern = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"
  private val BoolPattern = "(?i)^(true|false|0|1)$"

  def sparkType(typeName: String): DataType = typeName match {
    case "int"   => LongType
    case "float" => DoubleType
    case "bool"  => BooleanType
    case _       => StringType
  }

  /** Fill declared defaults before validation. Generalizes the
    * reference's hardcoded fillna (main.py:58-63); the reference parses
    * but drops config `default`s (config.yaml:39 vs main.py:40-52) — we
    * honor them, which is the documented intent.
    */
  def fillDefaults(df: DataFrame, fields: Seq[FieldSpec]): DataFrame = {
    val filled = fields.collect {
      case f if f.default.isDefined && df.columns.contains(f.name) =>
        f.name -> f.default.get.toString
    }.toMap
    if (filled.isEmpty) df else df.na.fill(filled)
  }

  /** One failure predicate + message per rule of one field. */
  def fieldChecks(f: FieldSpec): Seq[(Column, String)] = {
    val c = col(f.name)
    val present = c.isNotNull
    val checks = Seq.newBuilder[(Column, String)]
    if (f.required)
      checks += ((c.isNull, s"${f.name}: field required"))
    f.typeName match {
      case "int" =>
        checks += ((present && !c.rlike(IntPattern), s"${f.name}: value is not a valid integer"))
      case "float" =>
        checks += ((present && !c.rlike(FloatPattern), s"${f.name}: value is not a valid number"))
      case "bool" =>
        checks += ((present && !c.rlike(BoolPattern), s"${f.name}: value is not a valid boolean"))
      case _ => ()
    }
    // Pydantic v2 `pattern` uses re.search; Spark rlike is also a
    // search — semantics coincide with no anchor rewriting needed.
    f.pattern.foreach { p =>
      checks += ((present && !c.rlike(p), s"${f.name}: string does not match pattern '$p'"))
    }
    f.min.foreach { m =>
      if (f.typeName == "int" || f.typeName == "float")
        // try_cast: ANSI-mode cast throws on malformed strings; the
        // parse failure is already reported by the type check above.
        checks += ((present && expr(s"try_cast(`${f.name}` AS DOUBLE)") < m,
          s"${f.name}: input should be greater than or equal to $m"))
    }
    checks.result()
  }

  /** The error split's own columns, which the error files write: a
    * source column of the same name (in any case) would clash with it.
    */
  private val ReservedNames = Seq("row", "errors")

  def validate(input: DataFrame, fields: Seq[FieldSpec]): ValidationResult = {
    for (c <- input.columns; r <- ReservedNames.find(_.equalsIgnoreCase(c)))
      throw new IllegalArgumentException(s"source column '$c' clashes with the '$r' column " +
        "that the schema_validation error file writes; rename the source column")
    // Fields declared but absent from the CSV behave as all-null
    // (Pydantic sees a missing key); extra CSV columns pass through
    // untouched (SURVEY.md §1.2 — Pydantic ignores extras).
    val filled = fillDefaults(input, fields)
    val withDeclared = filled.withColumns(VectorMap.from(
      fields.filterNot(f => filled.columns.contains(f.name))
        .map(f => f.name -> lit(null).cast(StringType))))
    val malformed = input.schema.find(_.metadata.contains(MalformedRecord))
    val checks: Seq[(Column, Column)] = malformed.map { f =>
      val raw = col(SqlIdent.quote(f.name))
      (raw.isNotNull, concat(
        lit(s"record: expected ${f.metadata.getLong(MalformedRecord)} fields: "), raw))
    }.toSeq ++ fields.flatMap(fieldChecks).map { case (failPred, msg) => (failPred, lit(msg)) }
    // a null verdict passes; zero-arg array() would be array<null>, so
    // the empty-errors type is pinned explicitly
    val none = array().cast("array<string>")
    val errorsExpr =
      if (checks.isEmpty) none
      else concat(checks.map { case (fails, msg) => when(fails, array(msg)).otherwise(none) }: _*)
    val flagged = withDeclared.withColumn(ErrorsCol, errorsExpr)

    val valid = dataColumns(flagged)
      .filter(size(col(ErrorsCol)) === 0)
      .drop(ErrorsCol)
    val typed = valid.withColumns(fields.flatMap { f =>
      val c = col(f.name)
      val target = sparkType(f.typeName)
      if (target == StringType) None
      else if (target == BooleanType)
        // accept 0/1 spellings that a plain string->boolean cast rejects
        Some(f.name -> when(c.isNull, lit(null).cast(BooleanType))
          .otherwise(c.rlike("(?i)^(true|1)$")))
      else if (target == LongType)
        // direct bigint cast first (lossless for any 64-bit value);
        // the double path only for the ".0"-suffixed spellings
        // IntPattern admits, which the ANSI string→bigint cast rejects
        Some(f.name -> coalesce(
          expr(s"try_cast(`${f.name}` AS BIGINT)"),
          expr(s"try_cast(`${f.name}` AS DOUBLE)").cast(LongType)))
      else Some(f.name -> expr(s"try_cast(`${f.name}` AS DOUBLE)"))
    }.toMap)
    ValidationResult(typed, errorRows(flagged), flagged)
  }

  /** The error split of a validation's flagged frame, or of a frame
    * over it with the same columns: the rows with at least one error,
    * `_row_id` renamed `row` and the message array `errors`, without
    * the corrupt-record column.
    */
  def errorRows(flagged: DataFrame): DataFrame =
    dataColumns(flagged)
      .filter(size(col(ErrorsCol)) > 0)
      .withColumnRenamed(RowId, "row")
      .withColumnRenamed(ErrorsCol, "errors")

  /** `df` without its corrupt-record column, if it has one. */
  private def dataColumns(df: DataFrame): DataFrame =
    df.drop(df.schema.filter(_.metadata.contains(MalformedRecord)).map(_.name): _*)
}
