package graft

import graft.config.{EntitySpec, FieldSpec, ProjectionSpec, Settings}
import graft.project.Projections
import graft.sinks.Sinks
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class SinksProjectionsSpec extends SparkSpec {

  import spark.implicits._

  private def entity(projections: ProjectionSpec*): EntitySpec =
    EntitySpec("ent", "unused", Settings("first", "skip"),
      Seq(FieldSpec("id", "int"), FieldSpec("v", "str")),
      Seq.empty, projections)

  test("view projections stay lazy; table projections are cached") {
    val stage = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val rs = Projections.run(spark, stage, entity(
      ProjectionSpec("p_view", "view", "SELECT id, v FROM ent"),
      ProjectionSpec("p_table", "table", "SELECT id FROM ent")))
    assert(rs.map(_.spec.name) == Seq("p_view", "p_table"))
    val byName = rs.map(r => r.spec.name -> r.df).toMap
    assert(byName("p_table").storageLevel.useMemory)   // CTAS-like materialization
    assert(!byName("p_view").storageLevel.useMemory)   // lazy view
    byName.values.foreach(_.unpersist())
  }

  test("unsupported projection type and broken SQL warn and skip, others proceed") {
    val stage = Seq((1L, "a")).toDF("id", "v")
    val warnings = scala.collection.mutable.Buffer[String]()
    val rs = Projections.run(spark, stage, entity(
      ProjectionSpec("p_bad_type", "materialized", "SELECT 1"),
      ProjectionSpec("p_bad_sql", "view", "SELECT no_such_col FROM ent"),
      ProjectionSpec("p_ok", "view", "SELECT id FROM ent")),
      warn = warnings.append(_))
    assert(rs.map(_.spec.name) == Seq("p_ok"))
    assert(warnings.size == 2)
  }

  test("parquet export writes a sharded directory") {
    val dir = tmpDir("sink-sharded")
    val df = (1L to 100L).toDF("n").repartition(4)
    assert(Sinks.exportProjection(df, "big", dir, format = "parquet") == 100)
    val path = s"$dir/exports/big.parquet"
    val parts = java.nio.file.Files.list(java.nio.file.Paths.get(path))
      .iterator().asScala.count(_.getFileName.toString.startsWith("part-"))
    assert(parts > 1) // no single-node merge bottleneck
    assert(spark.read.parquet(path).count() == 100)
  }

  test("a csv export keeps its frame's row order, also with a column named row") {
    val dir = tmpDir("sink-row-order")
    // three rows over three partitions, in an order that is not the
    // `row` column's
    val df = Seq(("c", 1L), ("a", 2L), ("b", 3L)).toDF("row", "seat")
    assert(Sinks.exportProjection(df, "seats", dir) == 3)
    assert(java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"$dir/exports/seats.csv"))
      .asScala.toSeq == Seq("row,seat", "c,1", "a,2", "b,3"))
  }

  test("json single-file export round-trips") {
    val dir = tmpDir("sink-json")
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    assert(Sinks.exportProjection(df, "j", dir, format = "json") == 2)
    assert(spark.read.json(s"$dir/exports/j.json").count() == 2)
  }

  test("csv exports and error files quote the RFC 4180 way and read back unchanged") {
    val dir = tmpDir("sink-quotes")
    val value = "say \"hi\", then\nbye"
    val quoted = "\"say \"\"hi\"\", then\nbye\""
    def bytes(p: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), java.nio.charset.StandardCharsets.UTF_8)
    def readBack(p: String) = graft.ingest.CsvIngest.readPath(spark, p)
      .select("v").as[String].collect().toSeq

    assert(Sinks.exportProjection(Seq((1L, value)).toDF("id", "v"), "q", dir) == 1)
    val export = s"$dir/exports/q.csv"
    assert(bytes(export) == s"id,v\n1,$quoted\n")
    assert(readBack(export) == Seq(value))

    val errors = Seq((1L, 1L, Seq("bad"), value)).toDF("_row_id", "row", "errors", "v")
    assert(Sinks.saveErrors(errors, "schema", "ent", dir) == 1)
    val errorFile = s"$dir/errors/ent_schema_errors.csv"
    assert(bytes(errorFile) == s"row,errors,v\n1,bad,$quoted\n")
    assert(readBack(errorFile) == Seq(value))
  }
}
