package graft

import graft.config.PipelineConfig
import graft.pipeline.Pipeline
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.LocalDate

/** Malformed-CSV fuzz over `Pipeline.run`: seeded multi-file sources with
  * ragged records (too many and too few fields), quoted delimiters,
  * doubled quotes and quoted newlines, UTF-8 BOMs, CRLF line ends,
  * invalid UTF-8, and empty and header-only files. The generator counts
  * its own records; every record must come out as exactly one valid or
  * schema-error row, with `_row_id` = its 1-based position in (file,
  * position) order, which each record also carries in its `rid` field.
  */
class CsvFuzzSpec extends SparkSpec {

  import spark.implicits._

  private val asOf = LocalDate.parse("2026-01-01")

  private def config(dir: String, fields: String): PipelineConfig = {
    val path = Paths.get(dir, "config.yaml")
    Files.writeString(path,
      s"""transformations_config:
         |  items:
         |    source: "$dir/src"
         |    settings:
         |      duplicate_resolution: "first"
         |      custom_validation_mode: "skip"
         |    validations:
         |      schema:
         |        fields:
         |$fields""".stripMargin)
    PipelineConfig.load(path.toString)
  }

  private val fuzzFields =
    """          rid: {"type": "int", "required": true}
      |          name: {"type": "str"}
      |          note: {"type": "str"}
      |          age: {"type": "int"}
      |""".stripMargin

  private def writeSource(dir: String, files: Seq[(String, Array[Byte])]): Unit = {
    Files.createDirectories(Paths.get(dir, "src"))
    files.foreach { case (name, bytes) => Files.write(Paths.get(dir, "src", name), bytes) }
  }

  /** Seeded files under the header `rid,name,note,age`, and the field
    * count of each record in (file, position) order.
    */
  private def generate(seed: Long): (Seq[(String, Array[Byte])], Seq[Int]) = {
    val rng = new scala.util.Random(seed)
    val widths = Seq.newBuilder[Int]
    var rid = 0
    val files = (0 until 1 + rng.nextInt(4)).map { i =>
      val eol = if (rng.nextBoolean()) "\r\n" else "\n"
      val out = new ByteArrayOutputStream()
      def put(s: String): Unit = out.write(s.getBytes(UTF_8))
      val kind = rng.nextInt(8) // 0: empty file, 1: header only
      if (kind > 0) {
        if (rng.nextInt(4) == 0) out.write(Array(0xEF, 0xBB, 0xBF).map(_.toByte))
        put("rid,name,note,age")
        for (_ <- 0 until (if (kind == 1) 0 else 1 + rng.nextInt(12))) {
          rid += 1
          put(eol)
          val width = rng.nextInt(8) match {
            case 0 => 1 + rng.nextInt(3)
            case 1 => 5 + rng.nextInt(2)
            case _ => 4
          }
          widths += width
          val name = rng.nextInt(5) match {
            case 0 => "\"a,b\""
            case 1 => "\"say \"\"hi\"\"\""
            case 2 => s"\"dan${eol}smith\""
            case _ => "plain"
          }
          val cells: Seq[Array[Byte]] = Seq(rid.toString.getBytes(UTF_8), name.getBytes(UTF_8),
            if (rng.nextInt(4) == 0) Array(0x6E, 0xC3, 0x28, 0xFF).map(_.toByte)
            else "note".getBytes(UTF_8),
            rng.nextInt(90).toString.getBytes(UTF_8), "EXTRA".getBytes(UTF_8), "MORE".getBytes(UTF_8))
          cells.take(width).zipWithIndex.foreach { case (c, j) =>
            if (j > 0) put(",")
            out.write(c)
          }
        }
        if (rng.nextBoolean()) put(eol)
      }
      (f"part-$i%05d.csv", out.toByteArray)
    }
    (files, widths.result())
  }

  test("every generated record is one valid or schema-error row, with ids in file order") {
    for (seed <- 1L to 8L) {
      val dir = tmpDir(s"csvfuzz-$seed")
      val (files, widths) = generate(seed)
      writeSource(dir, files)
      val records = widths.size
      val r = Pipeline.run(spark, config(dir, fuzzFields), "items", s"$dir/out", asOf)
      try {
        val s = r.summary
        val ragged = widths.count(_ != 4)
        assert(s.totalRows == records, s"seed $seed")
        assert(s.validRows + s.schemaErrorRows == records, s"seed $seed")
        assert(s.schemaErrorRows == ragged, s"seed $seed")
        // each record's own ordinal is its id
        val valid = r.stage.toSeq.flatMap(_.select($"rid", $"_row_id").as[(Long, Long)].collect())
        val errors = r.schemaErrors.select($"rid".cast("long"), $"row", $"errors")
          .as[(Long, Long, Seq[String])].collect().toSeq
        assert(valid.forall { case (rid, id) => rid == id }, s"seed $seed")
        assert(errors.forall { case (rid, row, _) => rid == row }, s"seed $seed")
        assert((valid.map(_._2) ++ errors.map(_._2)).sorted == (1L to records.toLong), s"seed $seed")
        assert(errors.map(_._2).toSet ==
          widths.zipWithIndex.collect { case (w, i) if w != 4 => i + 1L }.toSet, s"seed $seed")
        assert(errors.forall(_._3.head.startsWith("record: expected 4 fields: ")), s"seed $seed")
      } finally r.unpersist()
    }
  }

  test("the 5-record probe: ragged rows are schema errors with their raw text, a quoted newline stays") {
    val dir = tmpDir("csvfuzz-probe")
    writeSource(dir, Seq("probe.csv" ->
      "id,name,age\n1,al,30\n2,bob,40,EXTRA,MORE\n3,cat\n4,\"dan\nsmith\",50\n5,eve,60\n".getBytes(UTF_8)))
    val r = Pipeline.run(spark, config(dir,
      """          id: {"type": "int", "required": true}
        |          name: {"type": "str"}
        |          age: {"type": "int"}
        |""".stripMargin), "items", s"$dir/out", asOf)
    try {
      assert(r.summary.totalRows == 5)
      assert(r.summary.validRows == 3)
      assert(r.summary.schemaErrorRows == 2)
      assert(r.stage.get.select($"_row_id", $"name").as[(Long, String)].collect().toSeq ==
        Seq((1L, "al"), (4L, "dan\nsmith"), (5L, "eve")))
      assert(r.schemaErrors.select($"row", $"errors").as[(Long, Seq[String])].collect()
        .sortBy(_._1).toSeq == Seq(
          (2L, Seq("record: expected 3 fields: 2,bob,40,EXTRA,MORE")),
          (3L, Seq("record: expected 3 fields: 3,cat"))))
      // the corrupt-record column reaches no output file
      val errorHeader = Files.readAllLines(
        Paths.get(s"$dir/out/errors/items_schema_validation_errors.csv")).get(0)
      assert(errorHeader == "row,errors,id,name,age")
    } finally r.unpersist()
  }

  test("a file whose header drifts from the first file's fails naming the file") {
    val dir = tmpDir("csvfuzz-drift")
    writeSource(dir, Seq(
      "a.csv" -> "rid,name,note,age\n1,x,y,2\n".getBytes(UTF_8),
      "b.csv" -> "rid,note,name,age\n2,y,x,3\n".getBytes(UTF_8)))
    val ex = intercept[Exception] {
      Pipeline.run(spark, config(dir, fuzzFields), "items", s"$dir/out", asOf)
    }
    val messages = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(messages.contains("b.csv"), messages)
  }

  test("header names match Spark's inference, duplicate and empty names included; a BOM is dropped") {
    val dir = tmpDir("csvfuzz-names")
    writeSource(dir, Seq("a.csv" -> "a,A,,b,_corrupt_record\n1,2,3,4,5\n".getBytes(UTF_8)))
    val inferred = spark.read.option("header", "true").csv(s"$dir/src").columns.toSeq
    val read = graft.ingest.CsvIngest.readPath(spark, s"$dir/src")
    assert(inferred == Seq("a0", "A1", "_c2", "b", "_corrupt_record"))
    assert(read.columns.toSeq == inferred ++ Seq("_corrupt_record_", "_row_id"))
    assert(read.collect().map(_.toSeq).toSeq == Seq(Seq("1", "2", "3", "4", "5", null, 1L)))

    val bom = tmpDir("csvfuzz-bom")
    writeSource(bom, Seq("a.csv" -> (Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ "id,name\n1,x\n".getBytes(UTF_8))))
    assert(graft.ingest.CsvIngest.readPath(spark, s"$bom/src").columns.toSeq ==
      Seq("id", "name", "_corrupt_record", "_row_id"))
  }

  test("a source of empty files imports nothing") {
    val dir = tmpDir("csvfuzz-empty")
    writeSource(dir, Seq("a.csv" -> Array.emptyByteArray, "b.csv" -> Array.emptyByteArray))
    val r = Pipeline.run(spark, config(dir, fuzzFields), "items", s"$dir/out", asOf)
    try {
      assert(r.summary.totalRows == 0)
      assert(r.summary.validRows == 0 && r.summary.schemaErrorRows == 0)
    } finally r.unpersist()
  }
}
