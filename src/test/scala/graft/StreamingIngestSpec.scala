package graft

import graft.config.{EntitySpec, PipelineConfig}
import graft.ingest.CsvIngest
import graft.pipeline.Pipeline
import graft.streaming.StreamingIngest
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import scala.jdk.CollectionConverters._

class StreamingIngestSpec extends SparkSpec {

  import spark.implicits._

  private val header = "company_id,employee_id,first_name,last_name,email,gender,birthday_on,country"

  /** The fixture's employees entity, watching a fresh `dir/incoming`. */
  private def watched(dir: String): EntitySpec = {
    val srcDir = s"$dir/incoming"
    Files.createDirectories(Paths.get(srcDir))
    val (cfgPath, _) = Fixtures.materialize(dir)
    PipelineConfig.load(cfgPath).entity("employees").copy(source = srcDir)
  }

  private def drop(dir: String, file: String, rows: String*): Unit =
    Files.writeString(Paths.get(s"$dir/incoming/$file"), (header +: rows).mkString("\n"))

  /** The rows of one of a batch's csv outputs, by column. */
  private def rows(file: String, cols: String*): Seq[Seq[String]] =
    spark.read.options(CsvIngest.Dialect + ("multiLine" -> "true"))
      .csv(file).select(cols.map(col): _*).collect().toSeq.map(r => cols.indices.map(r.getString))

  /** `personal_data` export rows of micro-batch `id`, as (employee_id, email). */
  private def personal(out: String, id: Long): Seq[(String, String)] =
    rows(s"$out/batch_$id/exports/personal_data.csv", "employee_id", "email").map(r => (r(0), r(1)))

  /** Every file under `root`, by relative path, with its bytes. */
  private def files(root: String): Map[String, Seq[Byte]] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => base.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  test("file-source streaming ingest validates and dedups arriving CSVs") {
    val dir = tmpDir("stream-ingest")
    val out = s"$dir/out"
    val query = StreamingIngest.start(spark, watched(dir), out, s"$dir/ckpt")
    try {
      drop(dir, "batch1.csv",
        "1,1,Ada,Smith,ada@example.com,female,1980-03-01,ES",
        "1,1,Ada,Smith,ada2@example.com,female,1980-03-01,ES",
        "1,2,Bad,Row,not-an-email,male,1985-07-15,ES")
      query.processAllAvailable()
      // dup on (employee_id, company_id) resolved keep-last; bad email rejected
      assert(personal(out, 0) == Seq(("1", "ada2@example.com")))
      assert(rows(s"$out/batch_0/errors/employees_schema_validation_errors.csv", "row")
        == Seq(Seq("3")))
      assert(rows(s"$out/batch_0/errors/employees_duplicates_errors.csv", "email")
        == Seq(Seq("ada@example.com")))

      // a second file arrives: processed incrementally as its own batch
      drop(dir, "batch2.csv", "1,3,Cai,Brown,cai@example.com,male,1990-12-31,FR")
      query.processAllAvailable()
      assert(personal(out, 1) == Seq(("3", "cai@example.com")))
      assert(Files.notExists(Paths.get(s"$out/batch_1/errors")))
    } finally query.stop()
  }

  test("one micro-batch writes the batch import's error files and exports byte for byte") {
    val dir = tmpDir("stream-parity")
    val spec = watched(dir)
    Files.writeString(Paths.get(s"${spec.source}/employees.csv"), Fixtures.employeesCsv)
    val cfg = PipelineConfig.load(s"$dir/config.yaml")
    Pipeline.run(spark, cfg, "employees", s"$dir/batch", sourceOverride = Some(spec.source))
      .unpersist()
    val query = StreamingIngest.start(spark, spec, s"$dir/stream", s"$dir/ckpt")
    try query.processAllAvailable() finally query.stop()

    val batch = files(s"$dir/batch")
    // schema errors, duplicates, the age rule's issues and both exports
    assert(batch.keySet.count(_.startsWith("errors")) == 3, batch.keySet)
    assert(batch.keySet.count(_.startsWith("exports")) == 2, batch.keySet)
    assert(files(s"$dir/stream/batch_0") == batch)
  }

  test("micro-batches with two key sets leave no cached frame behind") {
    val dir = tmpDir("stream-cache")
    val (cfgPath, _) = Fixtures.materialize(dir)
    Files.writeString(Paths.get(cfgPath), Files.readString(Paths.get(cfgPath)).replace(
      """- ["employee_id", "company_id"]""",
      """- ["employee_id", "company_id"]
        |        - ["email"]""".stripMargin))
    Files.createDirectories(Paths.get(s"$dir/incoming"))
    val spec = PipelineConfig.load(cfgPath).entity("employees").copy(source = s"$dir/incoming")
    assert(spec.settings.uniqueComposite.size == 2)
    val cacheManager = spark.sharedState.cacheManager
    spark.catalog.clearCache()

    val out = s"$dir/out"
    val query = StreamingIngest.start(spark, spec, out, s"$dir/ckpt")
    try {
      drop(dir, "b1.csv",
        "1,1,Ada,Smith,ada@example.com,female,1980-03-01,ES",
        "1,1,Ada,Smith,ada2@example.com,female,1980-03-01,ES",
        "1,2,Ben,Jones,ada2@example.com,male,1985-07-15,ES")
      query.processAllAvailable()
      drop(dir, "b2.csv",
        "1,3,Cai,Brown,cai@example.com,male,1990-12-31,FR",
        "1,4,Dot,White,cai@example.com,female,1970-01-20,PT")
      query.processAllAvailable()
    } finally query.stop()
    // keep-last on (employee_id, company_id), then on email
    assert((personal(out, 0) ++ personal(out, 1)).map(_._1) == Seq("2", "4"))
    assert(cacheManager.isEmpty, "a micro-batch left a cached frame behind")
  }

  test("checkpoint restart resumes without reprocessing or loss") {
    val dir = tmpDir("stream-restart")
    val spec = watched(dir)
    val out = s"$dir/out"

    val q1 = StreamingIngest.start(spark, spec, out, s"$dir/ckpt")
    try {
      drop(dir, "b1.csv", "1,1,Ada,Smith,ada@example.com,female,1980-03-01,ES")
      q1.processAllAvailable()
      assert(personal(out, 0).map(_._1) == Seq("1"))
    } finally q1.stop()

    // new file lands while the query is DOWN; restart from checkpoint
    drop(dir, "b2.csv", "1,2,Ben,Jones,ben@example.com,male,1985-07-15,ES")
    val q2 = StreamingIngest.start(spark, spec, out, s"$dir/ckpt")
    try q2.processAllAvailable() finally q2.stop()
    // b1's row not reprocessed (no duplicate), b2's row not lost
    assert(personal(out, 0).map(_._1) == Seq("1"))
    assert(personal(out, 1).map(_._1) == Seq("2"))
    assert(Files.list(Paths.get(out)).iterator().asScala
      .count(_.getFileName.toString.startsWith("batch_")) == 2)
  }

  test("a micro-batch that fails after its first write replays without duplicating rows") {
    val dir = tmpDir("stream-replay")
    val spec = watched(dir)
    val out = s"$dir/out"
    drop(dir, "b1.csv",
      "1,1,Ada,Smith,ada@example.com,female,1980-03-01,ES",
      "1,2,Bad,Row,not-an-email,male,1985-07-15,ES")
    // a batch with no marker clears `batch_0` before it runs, so the
    // blocker sits outside it, where the markers' directory goes: the
    // batch fails after all its writes
    Files.createDirectories(Paths.get(out))
    val blocker = Paths.get(s"$out/_committed")
    Files.writeString(blocker, "blocker")
    val q1 = StreamingIngest.start(spark, spec, out, s"$dir/ckpt")
    try intercept[StreamingQueryException](q1.processAllAvailable()) finally q1.stop()
    assert(personal(out, 0).map(_._1) == Seq("1"))

    // a partial write of the failed attempt, then a restart: the batch
    // runs again from a cleared directory
    Files.delete(blocker)
    val stale = Paths.get(s"$out/batch_0/exports/stale.csv")
    Files.writeString(stale, header)
    val q2 = StreamingIngest.start(spark, spec, out, s"$dir/ckpt")
    try q2.processAllAvailable() finally q2.stop()
    assert(personal(out, 0).map(_._1) == Seq("1"))
    assert(rows(s"$out/batch_0/errors/employees_schema_validation_errors.csv", "row")
      == Seq(Seq("2")))
    assert(Files.notExists(stale))
    assert(Files.isRegularFile(blocker.resolve("batch_0")))
  }

  test("a replayed micro-batch whose marker exists is skipped") {
    val dir = tmpDir("stream-skip")
    val spec = watched(dir)
    val out = s"$dir/out"
    drop(dir, "b1.csv", "1,1,Ada,Smith,ada@example.com,female,1980-03-01,ES")
    val q1 = StreamingIngest.start(spark, spec, out, s"$dir/ckpt")
    try q1.processAllAvailable() finally q1.stop()
    // Spark did not record the batch's commit: it runs batch 0 again
    Seq("0", ".0.crc").foreach(f => Files.deleteIfExists(Paths.get(s"$dir/ckpt/commits/$f")))
    val sentinel = Paths.get(s"$out/batch_0/exports/sentinel.csv")
    Files.writeString(sentinel, header)
    val (_, jobs) = withJobCount {
      val q2 = StreamingIngest.start(spark, spec, out, s"$dir/ckpt")
      try q2.processAllAvailable() finally q2.stop()
    }
    assert(Files.exists(sentinel), "the replay rewrote a committed batch")
    assert(jobs == 0)
    assert(Files.exists(Paths.get(s"$dir/ckpt/commits/0")))
  }

  test("micro-batch _row_id is file-aware: dedup order is repartition-invariant") {
    // same two-file batch processed under different shuffle-partition
    // settings must resolve the cross-file duplicate identically:
    // _row_id = (lexical file order, in-file position), never layout
    val dirs = Seq("1", "17").map { parts =>
      val dir = tmpDir(s"stream-det-$parts")
      val spec = watched(dir)
      // both files BEFORE the query starts → one micro-batch, two files;
      // key (1,1) duplicates across files, resolution "last" must keep
      // the row from the lexically-later file (b.csv)
      drop(dir, "a.csv",
        "1,1,Ada,Smith,from-a@example.com,female,1980-03-01,ES",
        "1,2,Bea,Jones,bea@example.com,female,1982-05-05,ES")
      drop(dir, "b.csv", "1,1,Ada,Smith,from-b@example.com,female,1980-03-01,ES")
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        val query = StreamingIngest.start(spark, spec, s"$dir/out", s"$dir/ckpt")
        try query.processAllAvailable() finally query.stop()
      } finally spark.conf.set("spark.sql.shuffle.partitions", before)
      s"$dir/out"
    }
    // identical across layouts
    assert(files(s"${dirs.head}/batch_0") == files(s"${dirs(1)}/batch_0"))
    // a.csv's rows minted ids 1,2; b.csv's row id 3; keep-last kept id 3
    assert(personal(dirs.head, 0) == Seq(("2", "bea@example.com"), ("1", "from-b@example.com")))
    assert(rows(s"${dirs.head}/batch_0/errors/employees_duplicates_errors.csv", "email")
      == Seq(Seq("from-a@example.com")))
  }

  test("non-file source: a memory stream drives the same ingest pipeline") {
    val dir = tmpDir("stream-memory")
    val (cfgPath, _) = Fixtures.materialize(dir)
    val spec = PipelineConfig.load(cfgPath).entity("employees")

    // a Kafka deployment would swap this select for a value-parsing one;
    // the ingest stages don't change
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val source = input.toDF().select(
      lit("1").as("company_id"),
      ($"value" % 5).cast("string").as("employee_id"), // repeats → in-batch dups
      lit("Rate").as("first_name"),
      lit("Row").as("last_name"),
      concat(lit("u"), $"value", lit("@example.com")).as("email"),
      lit("female").as("gender"),
      lit("1980-03-01").as("birthday_on"),
      lit("ES").as("country"))

    val out = s"$dir/out"
    val query = StreamingIngest.startFromSource(source, spec, out, s"$dir/ckpt")
    try {
      // two fixed micro-batches of ten values: every key repeats twice in each
      input.addData(0L until 10L)
      query.processAllAvailable()
      input.addData(10L until 20L)
      query.processAllAvailable()
    } finally query.stop()
    // per micro-batch, survivors are unique on the composite key
    for (id <- 0L to 1L)
      assert(personal(out, id).map(_._1).sorted == Seq("0", "1", "2", "3", "4"))

    // a source missing entity fields is rejected up front
    val bad = MemoryStream[Long].toDF()
    val ex = intercept[IllegalArgumentException] {
      StreamingIngest.startFromSource(bad, spec, s"$dir/out2", s"$dir/ckpt2")
    }
    assert(ex.getMessage.contains("missing entity fields"))
  }

  test("a source column named like an error file's own column fails the first batch, writing nothing") {
    val dir = tmpDir("stream-reserved")
    val (cfgPath, _) = Fixtures.materialize(dir)
    val spec = PipelineConfig.load(cfgPath).entity("employees")
    implicit val sqlCtx = spark.sqlContext
    for ((name, file) <- Seq("row" -> "schema_validation", "rn" -> "duplicates")) {
      val input = MemoryStream[Long]
      val source = input.toDF().select(
        spec.fields.map(f => lit("1").as(f.name)) :+ $"value".cast("string").as(name): _*)
      val out = Paths.get(dir, s"out-$name")
      val query = StreamingIngest.startFromSource(source, spec, out.toString, s"$dir/ckpt-$name")
      val ex = try {
        input.addData(0L until 3L)
        intercept[StreamingQueryException](query.processAllAvailable())
      } finally query.stop()
      assert(ex.getMessage.contains(s"source column '$name'") && ex.getMessage.contains(file),
        ex.getMessage)
      assert(Files.notExists(out))
    }
  }

  test("a watched file whose columns differ from the config's order stops the query") {
    val dir = tmpDir("stream-drift")
    val spec = watched(dir)
    // employee_id and company_id swapped against the config's declaration
    Files.writeString(Paths.get(s"${spec.source}/swapped.csv"),
      "employee_id,company_id,first_name,last_name,email,gender,birthday_on,country\n" +
        "7,1,Ada,Smith,ada@example.com,female,1980-03-01,ES")
    val query = StreamingIngest.start(spark, spec, s"$dir/out", s"$dir/ckpt")
    val ex = try intercept[StreamingQueryException](query.processAllAvailable())
      finally query.stop()
    val messages = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(messages.contains("swapped.csv"), messages)
    assert(messages.contains("employee_id"), messages)
    assert(Files.notExists(Paths.get(s"$dir/out")))
  }

  test("a ragged record in a watched file becomes an error row") {
    val dir = tmpDir("stream-ragged")
    val spec = watched(dir)
    drop(dir, "b1.csv",
      "1,1,Ada,Smith,ada@example.com,female,1980-03-01,ES,EXTRA",
      "1,2,\"Ben\nJr\",Jones,ben@example.com,male,1985-07-15,ES")
    val out = s"$dir/out"
    val query = StreamingIngest.start(spark, spec, out, s"$dir/ckpt")
    try query.processAllAvailable() finally query.stop()
    assert(rows(s"$out/batch_0/exports/personal_data.csv", "employee_id", "first_name")
      == Seq(Seq("2", "Ben\nJr")))
    val errors = rows(s"$out/batch_0/errors/employees_schema_validation_errors.csv", "row", "errors")
    assert(errors.map(_.head) == Seq("1"))
    assert(errors.head(1).contains(
      "expected 8 fields: 1,1,Ada,Smith,ada@example.com,female,1980-03-01,ES,EXTRA"))
  }
}
