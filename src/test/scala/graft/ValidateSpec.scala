package graft

import graft.config.{FieldSpec, PipelineConfig}
import graft.ingest.CsvIngest
import graft.validate.SchemaValidator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType}

class ValidateSpec extends SparkSpec {

  private lazy val entity = {
    val dir = tmpDir("validate")
    val (cfg, csv) = Fixtures.materialize(dir)
    PipelineConfig.load(cfg).entity("employees")
  }

  test("splits valid and invalid rows with per-field messages") {
    val input = CsvIngest.readPath(spark, entityCsv)
    val vr = SchemaValidator.validate(input, entity.fields)
    assert(vr.valid.count() == 12) // 14 data rows - 2 schema-invalid
    val errs = vr.errors.select("row", "errors").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(errs.size == 2)
    assert(errs(13).exists(_.contains("email")))   // not-an-email
    assert(errs(14).exists(_.contains("birthday_on"))) // 1980-13-45
  }

  test("valid rows are cast to declared types") {
    val input = CsvIngest.readPath(spark, entityCsv)
    val vr = SchemaValidator.validate(input, entity.fields)
    val schema = vr.valid.schema
    assert(schema("employee_id").dataType == LongType)
    assert(schema("email").dataType.typeName == "string")
  }

  test("required/int/float/bool/min checks each fire") {
    import spark.implicits._
    val fields = Seq(
      FieldSpec("a", "int", required = true),
      FieldSpec("b", "float"),
      FieldSpec("c", "bool"),
      FieldSpec("d", "int", min = Some(10)))
    val df = Seq(
      (null.asInstanceOf[String], "1.5", "true", "11"),  // ok except a required
      ("3", "not-a-num", "TRUE", "10"),                  // b fails
      ("3.0", "2e3", "0", "9"),                          // d fails (3.0 is int-ok)
      ("x", "1", "maybe", "abc")                         // a, c, d all fail
    ).toDF("a", "b", "c", "d")
    val vr = SchemaValidator.validate(df.withColumn("_row_id", lit(0L)), fields)
    val errors = vr.errors.select(explode($"errors").as("e")).as[String].collect()
    assert(errors.count(_.startsWith("a:")) == 2) // required-null + 'x'
    assert(errors.count(_.startsWith("b:")) == 1)
    assert(errors.count(_.startsWith("c:")) == 1)
    assert(errors.count(_.startsWith("d:")) == 2) // 9 < 10 and 'abc'
    assert(vr.valid.count() == 0)
  }

  test("declared defaults are filled before validation (generalizing main.py:58-63)") {
    import spark.implicits._
    val fields = Seq(
      FieldSpec("a", "str", required = true, default = Some("")),
      FieldSpec("b", "int"))
    val df = Seq((null.asInstanceOf[String], "1")).toDF("a", "b")
    val vr = SchemaValidator.validate(df.withColumn("_row_id", lit(1L)), fields)
    assert(vr.valid.count() == 1) // default rescued the required null
  }

  test("empty field list validates everything (typed empty-errors array)") {
    import spark.implicits._
    val df = Seq(("x", "y")).toDF("a", "b")
    val vr = SchemaValidator.validate(df.withColumn("_row_id", lit(1L)), Seq.empty)
    assert(vr.valid.count() == 1 && vr.errors.count() == 0)
  }

  test("fields absent from the CSV validate as null; extra columns pass through") {
    import spark.implicits._
    val fields = Seq(FieldSpec("missing", "int", required = true))
    val df = Seq(("keep", "1")).toDF("extra", "b")
    val vr = SchemaValidator.validate(df.withColumn("_row_id", lit(1L)), fields)
    assert(vr.valid.count() == 0)
    assert(vr.errors.columns.contains("extra"))
  }

  test("the error array is built in generated code, in check order, a null verdict passing") {
    import spark.implicits._
    val vr = SchemaValidator.validate(CsvIngest.readPath(spark, entityCsv), entity.fields)
    // a lambda (`filter(array, m -> ...)`) is a HigherOrderFunction,
    // which Spark evaluates row by row outside generated code
    val plan = vr.flagged.queryExecution.optimizedPlan
    assert(!plan.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.HigherOrderFunction]))), plan)

    val fields = Seq(
      FieldSpec("a", "int", required = true),
      FieldSpec("c", "bool"),
      FieldSpec("d", "int", min = Some(10)))
    val df = Seq((1L, "x", "maybe", "abc"), (2L, "3", null, "9"), (3L, "4", "1", "12"))
      .toDF("_row_id", "a", "c", "d")
    val errors = SchemaValidator.validate(df, fields).errors
      .select("row", "errors").as[(Long, Seq[String])].collect().toMap
    // row 1: 'abc' fails d's integer check; its min check's try_cast is
    // null, a null verdict, which passes
    assert(errors(1L) == Seq("a: value is not a valid integer", "c: value is not a valid boolean",
      "d: value is not a valid integer"))
    assert(errors(2L).map(_.takeWhile(_ != ':')) == Seq("d") &&
      errors(2L).head.contains("greater than or equal to 10"))
    assert(errors.keySet == Set(1L, 2L))
  }

  private lazy val entityCsv: String = {
    val dir = tmpDir("validate-csv")
    val (_, csv) = Fixtures.materialize(dir)
    csv
  }
}
