package graft

import graft.config.PipelineConfig
import graft.ingest.CsvIngest
import graft.pipeline.Pipeline
import java.time.LocalDate
import scala.jdk.CollectionConverters._

/** Universal-importer surface: the same pipeline over json/parquet
  * sources and non-csv export formats.
  */
class FormatsSpec extends SparkSpec {

  import spark.implicits._

  test("json source flows through the full pipeline") {
    val dir = tmpDir("fmt-json")
    // same logical rows as the CSV fixture's first entries, as JSONL
    val json = Seq(
      """{"company_id": 1, "employee_id": 1, "first_name": "Ada", "last_name": "Smith", "email": "ada@example.com", "gender": "female", "birthday_on": "1980-03-01", "country": "ES"}""",
      """{"company_id": 1, "employee_id": 2, "first_name": "Ben", "last_name": "Jones", "email": "bad-email", "gender": "male", "birthday_on": "1985-07-15", "country": "ES"}""",
      """{"company_id": 1, "employee_id": 1, "first_name": "Ada", "last_name": "Smith", "email": "ada2@example.com", "gender": "female", "birthday_on": "1980-03-01", "country": "ES"}"""
    ).mkString("\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/employees.json"), json)
    val (cfgPath, _) = Fixtures.materialize(dir)
    val yaml = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(cfgPath)), "UTF-8")
      .replaceAll("source: \".*\"", s"""source: "$dir/employees.json"\n    format: "json"""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), yaml)
    val r = Pipeline.run(spark, PipelineConfig.load(cfgPath), "employees", s"$dir/out",
      asOf = LocalDate.parse("2026-01-01"))
    assert(r.summary.totalRows == 3)
    assert(r.summary.schemaErrorRows == 1)     // bad-email
    assert(r.summary.duplicateRowsRemoved == 1) // dup employee 1 (keep last: ada2)
    val emails = r.stage.get.select("email").as[String].collect().toSet
    assert(emails == Set("ada2@example.com"))
  }

  test("json round-trips through CsvIngest.read with dense row ids in input order") {
    val dir = tmpDir("fmt-ids")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/d.json"),
      (1 to 5).map(i => s"""{"v": $i}""").mkString("\n"))
    val spec = graft.config.EntitySpec(
      "d", s"$dir/d.json", graft.config.Settings("first", "skip"),
      Seq.empty, Seq.empty, Seq.empty, format = "json")
    val got = CsvIngest.read(spark, spec).select($"v", col("_row_id"))
      .as[(String, Long)].collect().toSeq.sortBy(_._2)
    assert(got == (1 to 5).map(i => (i.toString, i.toLong)))
  }

  test("gzipped csv ingests transparently through the codec-aware reader") {
    val dir = tmpDir("fmt-gz")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(s"$dir/d.csv.gz")))
    gz.write("v,name\n1,a\n2,b\n3,c\n".getBytes("UTF-8")); gz.close()
    val spec = graft.config.EntitySpec(
      "d", s"$dir/d.csv.gz", graft.config.Settings("first", "skip"),
      Seq.empty, Seq.empty, Seq.empty)
    val got = CsvIngest.read(spark, spec).select($"v", $"name", col("_row_id"))
      .as[(String, String, Long)].collect().toSeq.sortBy(_._3)
    assert(got == Seq(("1", "a", 1L), ("2", "b", 2L), ("3", "c", 3L)))
  }

  test("orc sources ingest through the same dispatch with row ids") {
    val dir = tmpDir("fmt-orc")
    (1 to 4).map(i => (i.toLong, s"name$i")).toDF("v", "name")
      .coalesce(1).write.orc(s"$dir/d.orc")
    val spec = graft.config.EntitySpec(
      "d", s"$dir/d.orc", graft.config.Settings("first", "skip"),
      Seq.empty, Seq.empty, Seq.empty, format = "orc")
    val got = CsvIngest.read(spark, spec).select($"v", col("_row_id"))
      .as[(String, Long)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._1) == (1 to 4).map(_.toString))
    assert(got.map(_._2).sorted == Seq(1L, 2L, 3L, 4L))
  }

  test("parquet export format writes readable parquet") {
    val dir = tmpDir("fmt-parquet")
    val (cfgPath, _) = Fixtures.materialize(dir)
    val yaml = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(cfgPath)), "UTF-8")
      .replace("settings:", "export_format: \"parquet\"\n    settings:")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), yaml)
    val r = Pipeline.run(spark, PipelineConfig.load(cfgPath), "employees", s"$dir/out",
      asOf = LocalDate.parse("2026-01-01"))
    val back = spark.read.parquet(s"$dir/out/exports/personal_data.parquet")
    assert(back.count() == r.summary.projectionRows("personal_data"))
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
