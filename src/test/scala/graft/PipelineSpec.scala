package graft

import graft.config.PipelineConfig
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline.PipelineSummary
import graft.rules.ValidationStopException
import graft.sinks.Sinks
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}
import scala.jdk.CollectionConverters._

/** Golden end-to-end: full pipeline on the self-authored employees
  * fixture (SURVEY.md §5.2 item 2) — 14 rows in, 2 schema errors, 2
  * duplicates (keep-last), 2 age_gte(35) failures skipped, 2 table
  * projections exported as single CSVs.
  */
class PipelineSpec extends SparkSpec with TimeLimits {

  // an observed count whose node never runs would block forever:
  // interrupt the test thread instead
  implicit val signaler: Signaler = ThreadSignaler

  private lazy val run = {
    val dir = tmpDir("pipeline")
    val (cfgPath, _) = Fixtures.materialize(dir)
    val out = s"$dir/output"
    val result = Pipeline.run(
      spark, PipelineConfig.load(cfgPath), "employees", out,
      asOf = LocalDate.parse("2026-01-01"))
    (result, out)
  }

  test("summary counts match the fixture's construction") {
    val (r, _) = run
    assert(r.summary.totalRows == 14)
    assert(r.summary.validRows == 12)
    assert(r.summary.schemaErrorRows == 2)
    assert(r.summary.duplicateRowsRemoved == 2)
    assert(r.summary.customInvalidRows == 2) // ids 5, 6 under 35
    assert(r.summary.projectionRows == Map("personal_data" -> 8, "contract_data" -> 8))
    assert(!r.summary.stoppedAtSchemaErrors)
  }

  test("keep-last resolution kept the later duplicate (gus2 email)") {
    val (r, _) = run
    import spark.implicits._
    val emails = r.stage.get.select("email").as[String].collect().toSet
    assert(emails.contains("gus2@example.com"))
    assert(!emails.contains("gus@example.com"))
  }

  test("duplicate_resolution_compat: reference makes 'last' keep the first occurrence") {
    val dir = tmpDir("pipeline-compat")
    val (cfgPath, _) = Fixtures.materialize(dir)
    val yaml = java.nio.file.Files.readString(java.nio.file.Paths.get(cfgPath))
      .replace("custom_validation_mode: \"skip\"",
        "custom_validation_mode: \"skip\"\n      duplicate_resolution_compat: \"reference\"")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), yaml)
    val r = Pipeline.run(
      spark, PipelineConfig.load(cfgPath), "employees", s"$dir/output",
      asOf = LocalDate.parse("2026-01-01"))
    import spark.implicits._
    // same dup pair as the keep-last test, but the executed-reference
    // semantics keep the EARLIER row (gus, not gus2)
    val emails = r.stage.get.select("email").as[String].collect().toSet
    assert(emails.contains("gus@example.com"))
    assert(!emails.contains("gus2@example.com"))
    assert(r.summary.duplicateRowsRemoved == 2)
  }

  test("export + error CSV layout matches the reference naming") {
    val (_, out) = run
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      .iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(_.toString.stripPrefix(out + "/")).toSet
    assert(files.contains("exports/personal_data.csv"))
    assert(files.contains("exports/contract_data.csv"))
    assert(files.contains("errors/employees_schema_validation_errors.csv"))
    assert(files.contains("errors/employees_duplicates_errors.csv"))
    assert(files.contains("errors/employees_custom_birthday_on_errors.csv"))
  }

  test("exported projection CSV has header and expected rows; alias applied") {
    val (_, out) = run
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$out/exports/contract_data.csv")).asScala
    assert(lines.head.split(",").toSeq == Seq("emp_id", "first_name", "country"))
    assert(lines.size == 9) // header + 8 rows
  }

  test("schema-error CSV flattens errors with '; ' (main.py:391)") {
    val (_, out) = run
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$out/errors/employees_schema_validation_errors.csv")).asScala
    assert(lines.size == 3) // header + 2 error rows
    assert(lines.head.split(",").contains("errors"))
  }

  test("stop mode gates schema errors (main.py:435-439 quirk)") {
    val dir = tmpDir("pipeline-stop")
    val (cfgPath, _) = Fixtures.materialize(dir)
    val yaml = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(cfgPath)), "UTF-8")
      .replace("custom_validation_mode: \"skip\"", "custom_validation_mode: \"stop\"")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), yaml)
    val r = Pipeline.run(
      spark, PipelineConfig.load(cfgPath), "employees", s"$dir/output",
      asOf = LocalDate.parse("2026-01-01"))
    assert(r.summary.stoppedAtSchemaErrors)
    assert(r.projections.isEmpty)
    // errors were still saved before the gate
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/output/errors/employees_schema_validation_errors.csv")))
  }

  test("file_aware setting: multi-file source runs the full pipeline identically") {
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("pipeline-fileaware")
    val (cfgPath, _) = Fixtures.materialize(dir)
    // split the fixture CSV into two ordered part files
    val lines = Fixtures.employeesCsv.split("\n").toSeq
    val srcDir = s"$dir/multisrc"
    Files.createDirectories(Paths.get(srcDir))
    Files.write(Paths.get(srcDir, "part-00000.csv"),
      (lines.head +: lines.tail.take(7)).mkString("\n").getBytes)
    Files.write(Paths.get(srcDir, "part-00001.csv"),
      (lines.head +: lines.tail.drop(7)).mkString("\n").getBytes)
    // the key is still accepted; it no longer changes the read
    val yaml = new String(Files.readAllBytes(Paths.get(cfgPath)), "UTF-8")
      .replace("settings:", "settings:\n      file_aware: true")
    Files.writeString(Paths.get(cfgPath), yaml)
    val cfg = PipelineConfig.load(cfgPath)
    val r = Pipeline.run(spark, cfg, "employees", s"$dir/out",
      asOf = LocalDate.parse("2026-01-01"), sourceOverride = Some(srcDir))
    // same summary as the single-file fixture run
    assert(r.summary.totalRows == 14 && r.summary.validRows == 12)
    assert(r.summary.duplicateRowsRemoved == 2)

    // a header-only csv has no rows to mint ids for: the read yields an
    // empty frame, not an exception. Input columns named like the mint's
    // helper columns pass through as data.
    val headerOnlyDir = s"$dir/headeronly"
    Files.createDirectories(Paths.get(headerOnlyDir))
    Files.write(Paths.get(headerOnlyDir, "part-00000.csv"), s"${lines.head},_g,_seq".getBytes)
    val headerOnly = cfg.entity("employees").copy(source = headerOnlyDir)
    val clashDir = s"$dir/clash"
    Files.createDirectories(Paths.get(clashDir))
    Files.write(Paths.get(clashDir, "part-00000.csv"), "id,_g,_SEQ,_offset\na,x,y,z\nb,u,v,w".getBytes)
    val clash = cfg.entity("employees").copy(source = clashDir)
    val df = graft.ingest.CsvIngest.read(spark, headerOnly)
    assert(df.columns.toSeq.takeRight(4) == Seq("_g", "_seq", "_corrupt_record", "_row_id"))
    assert(df.count() == 0)
    val ids = graft.ingest.CsvIngest.read(spark, clash)
    assert(ids.columns.toSeq == Seq("id", "_g", "_SEQ", "_offset", "_corrupt_record", "_row_id"))
    assert(ids.orderBy("_row_id").collect().map(_.toSeq).toSeq ==
      Seq(Seq("a", "x", "y", "z", null, 1L), Seq("b", "u", "v", "w", null, 2L)))
  }

  test("alias referencing unknown field skips that projection only") {
    val dir = tmpDir("pipeline-alias")
    val (cfgPath, _) = Fixtures.materialize(dir)
    val yaml = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(cfgPath)), "UTF-8")
      .replace("employee_id: emp_id", "no_such_field: emp_id")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), yaml)
    val r = Pipeline.run(
      spark, PipelineConfig.load(cfgPath), "employees", s"$dir/output",
      asOf = LocalDate.parse("2026-01-01"))
    assert(r.projections.map(_.spec.name) == Seq("personal_data"))
  }

  private val goldenAsOf = LocalDate.parse("2026-01-01")

  /** The committed golden config with the employees source pointed at
    * a private copy of the golden employees CSV (`csvLines` rewrites
    * its lines, `yamlEdit` the config); returns (config, csv path).
    */
  private def goldenCopy(dir: String, csvLines: Seq[String] => Seq[String] = identity,
      yamlEdit: String => String = identity): (PipelineConfig, Path) = {
    val golden = new java.io.File(getClass.getResource("/golden").toURI).getAbsolutePath
    val csv = Paths.get(dir, "employees.csv")
    writeLines(csv,
      csvLines(Files.readAllLines(Paths.get(s"$golden/input_data/employees.csv")).asScala.toSeq))
    val cfg = Paths.get(dir, "config.yaml")
    Files.writeString(cfg, yamlEdit(Files.readString(Paths.get(s"$golden/config.yaml"))
      .replaceAll("source: .*/employees.csv", s"source: $csv")))
    (PipelineConfig.load(cfg.toString), csv)
  }

  private def writeLines(p: Path, lines: Seq[String]): Unit =
    Files.writeString(p, lines.mkString("", "\n", "\n"))

  /** Paths under `out`, relative to it, of every error CSV and every
    * leftover temp directory, and the errors directory itself.
    */
  private def errorFilesAndTemps(out: String): Set[String] =
    if (!Files.exists(Paths.get(out))) Set.empty
    else Files.walk(Paths.get(out)).iterator().asScala
      .map(p => Paths.get(out).relativize(p).toString)
      .filter(p => p.startsWith("errors") || p.contains(".tmp_")).toSet

  test("a re-run over a rewritten source reads its new rows; unpersist releases every cache") {
    val dir = tmpDir("pipeline-rerun")
    val (cfg, csv) = goldenCopy(dir)
    val cacheManager = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val first = Pipeline.run(spark, cfg, "employees", s"$dir/out1", goldenAsOf)
    assert(first.summary.totalRows == 12)
    first.unpersist()
    assert(cacheManager.isEmpty, "the first run left a cache behind")

    // same path, header + 3 data rows: a cache left by the first run
    // would still answer with its 12
    writeLines(csv, Files.readAllLines(csv).asScala.toSeq.take(4))
    val second = Pipeline.run(spark, cfg, "employees", s"$dir/out2", goldenAsOf)
    assert(second.summary.totalRows == 3)
    assert(second.summary.validRows == 3)
    second.unpersist()
    assert(cacheManager.isEmpty, "the second run left a cache behind")

    // the schema-error stop path returns early; its result releases
    // the validated frame too
    val stopDir = tmpDir("pipeline-rerun-stop")
    val (stopCfg, _) = Fixtures.materialize(stopDir)
    Files.writeString(Paths.get(stopCfg), Files.readString(Paths.get(stopCfg))
      .replace("custom_validation_mode: \"skip\"", "custom_validation_mode: \"stop\""))
    val stopped = Pipeline.run(spark, PipelineConfig.load(stopCfg), "employees",
      s"$stopDir/out", goldenAsOf)
    assert(stopped.summary.stoppedAtSchemaErrors)
    assert(stopped.summary.totalRows == 14 && stopped.summary.schemaErrorRows == 2)
    stopped.unpersist()
    assert(cacheManager.isEmpty, "the schema-error stop path left a cache behind")

    // a failing `stop` rule raises out of the run; the run releases
    // what it persisted before rethrowing
    val (ruleStop, _) = goldenCopy(tmpDir("pipeline-rerun-rulestop"),
      yamlEdit = _.replace("custom_validation_mode: skip", "custom_validation_mode: stop"))
    intercept[ValidationStopException] {
      Pipeline.run(spark, ruleStop, "employees", s"$dir/out3", goldenAsOf)
    }
    // the duplicates write took the rule counts; no rule set was written
    assert(errorFilesAndTemps(s"$dir/out3") ==
      Set("errors", "errors/employees_duplicates_errors.csv"))
    assert(cacheManager.isEmpty, "the rule stop path left a cache behind")
  }

  test("observed counts return on empty error sets and empty inputs, leaving no empty files") {
    def check(name: String, csvLines: Seq[String] => Seq[String], yamlEdit: String => String,
        want: PipelineSummary, wantErrorFiles: Set[String]): Unit = {
      val dir = tmpDir(s"pipeline-edge-$name")
      val (cfg, _) = goldenCopy(dir, csvLines, yamlEdit)
      val out = s"$dir/out"
      failAfter(Span(120, Seconds)) {
        val r = Pipeline.run(spark, cfg, "employees", out, goldenAsOf)
        try {
          assert(r.summary == want, name)
          // called directly, saveErrors returns the same counts; an
          // empty set writes nothing
          assert(Sinks.saveErrors(r.schemaErrors, "check_schema", "employees", out) ==
            want.schemaErrorRows, name)
          r.duplicates.foreach { d =>
            assert(Sinks.saveErrors(d, "check_duplicates", "employees", out) ==
              want.duplicateRowsRemoved, name)
          }
        } finally r.unpersist()
      }
      assert(errorFilesAndTemps(out) == wantErrorFiles, name)
    }
    val customErrors = Set("errors", "errors/employees_custom_birthday_on_errors.csv")
    // the golden import itself: no schema errors
    check("no-schema-errors", identity, identity,
      PipelineSummary(12, 12, 0, 4, 2, Map("personal_data" -> 6, "contract_data" -> 6), false),
      customErrors ++ Set("errors/employees_duplicates_errors.csv",
        "errors/employees_check_duplicates_errors.csv"))
    // the two trailing rows repeat earlier keys: without them nothing is a duplicate
    check("no-duplicates", _.dropRight(2), identity,
      PipelineSummary(10, 10, 0, 4, 0, Map("personal_data" -> 6, "contract_data" -> 6), false),
      customErrors)
    // no key sets: the removed frame is an always-false filter
    check("no-unique-composite", identity,
      _.replaceAll("unique_composite:\\n(\\s+-.*\\n)+", "unique_composite: []\n"),
      PipelineSummary(12, 12, 0, 5, 0, Map("personal_data" -> 7, "contract_data" -> 7), false),
      customErrors)
    check("header-only", _.take(1), identity,
      PipelineSummary(0, 0, 0, 0, 0, Map("personal_data" -> 0, "contract_data" -> 0), false),
      Set.empty)
  }

  test("the total row count is observed with no field checks, for a header-only csv and a json source") {
    // a filter the optimizer proves empty drops its subtree, and an
    // observed count under it with it: the run would wait forever
    val noChecks: String => String = _.replaceAll(
      "(?s)    validations:\n      schema:.*?\n      custom:", "    validations:\n      custom:")
    failAfter(Span(120, Seconds)) {
      val dir = tmpDir("pipeline-total")
      val (cfg, csv) = goldenCopy(dir, yamlEdit = noChecks)
      assert(cfg.entity("employees").fields.isEmpty)
      val golden = Pipeline.run(spark, cfg, "employees", s"$dir/out", goldenAsOf)
      assert((golden.summary.totalRows, golden.summary.schemaErrorRows) == (12, 0))
      golden.unpersist()

      val headerOnly = Paths.get(dir, "header-only.csv")
      writeLines(headerOnly, Files.readAllLines(csv).asScala.toSeq.take(1))
      val empty = Pipeline.run(spark, cfg, "employees", s"$dir/out-empty", goldenAsOf,
        sourceOverride = Some(headerOnly.toString))
      assert((empty.summary.totalRows, empty.summary.validRows) == (0, 0))
      empty.unpersist()

      // a json read has no corrupt-record column: with no field checks
      // its error array is the constant empty array
      val json = s"$dir/json"
      spark.read.options(graft.ingest.CsvIngest.Dialect).csv(csv.toString).coalesce(1).write.json(json)
      val (jsonCfg, _) = goldenCopy(dir,
        yamlEdit = y => noChecks(y).replaceFirst("    settings:", "    format: json\n    settings:"))
      val fromJson = Pipeline.run(spark, jsonCfg, "employees", s"$dir/out-json", goldenAsOf,
        sourceOverride = Some(json))
      assert((fromJson.summary.totalRows, fromJson.summary.validRows) == (12, 12))
      fromJson.unpersist()
    }
  }

  test("two key sets and two rules persist only the validated frame, the dedup frame and the stage") {
    val dir = tmpDir("pipeline-caches")
    val (cfg, _) = goldenCopy(dir, yamlEdit = _
      .replace("      - - employee_id\n        - company_id\n",
        "      - - employee_id\n        - company_id\n      - - email\n")
      .replace("        - field: birthday_on\n",
        "        - field: starts_on\n          validation: age_gte\n          params:\n" +
          "            min_age: 1\n        - field: birthday_on\n"))
    val entity = cfg.entity("employees")
    assert(entity.settings.uniqueComposite.size == 2 && entity.rules.size == 2)
    val cacheManager = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val r = Pipeline.run(spark, cfg, "employees", s"$dir/out", goldenAsOf)
    try {
      val tables = r.projections.filter(_.spec.projType == "table").map(_.df)
      assert(tables.nonEmpty)
      val caches = r.intermediateCaches
      assert(caches.size == 3 + tables.size, caches.map(_.columns.length))
      val Seq(validated, dedup, stage) = caches.take(3)
      assert(validated.columns.contains(graft.validate.SchemaValidator.ErrorsCol))
      // the dedup frame flags every valid row; it is not filtered to the survivors
      assert(dedup.count() == r.summary.validRows)
      assert(stage eq r.stage.get)
      assert(caches.drop(3) == tables)
      assert(caches.forall(_.storageLevel.useMemory))
    } finally r.unpersist()
    assert(cacheManager.isEmpty, "the run left a cache behind")
  }

  test("a multi-file import builds the held validated frame with one task per scan partition") {
    val dir = tmpDir("pipeline-parallel-build")
    val (cfg, csv) = goldenCopy(dir)
    val lines = Files.readAllLines(csv).asScala.toSeq
    val parts = Paths.get(dir, "parts")
    Files.createDirectories(parts)
    for ((rows, i) <- lines.tail.grouped(3).zipWithIndex)
      writeLines(parts.resolve(s"part-$i.csv"), lines.head +: rows)
    val scanPartitions = graft.ingest.CsvIngest.read(
      spark, cfg.entity("employees").copy(source = parts.toString)).rdd.getNumPartitions
    assert(scanPartitions >= 2)
    // (stage id, tasks) of every stage that builds or reads a persisted RDD
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (s.stageInfo.rddInfos.exists(_.storageLevel.isValid))
          stages.add(s.stageInfo.stageId -> s.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      Pipeline.run(spark, cfg, "employees", s"$dir/out", goldenAsOf,
        sourceOverride = Some(parts.toString)).unpersist()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    // the run's first cache is the validated frame: the first stage over
    // a persisted RDD builds it, not the error file's one-task write
    assert(stages.asScala.minBy(_._1)._2 == scanPartitions, stages.asScala.toSeq.sorted)
  }

  for ((name, file) <- Seq("row" -> "schema_validation", "errors" -> "schema_validation",
      "rn" -> "duplicates"))
    test(s"a source column named $name fails the run before any output, naming the $file file") {
      val dir = tmpDir(s"pipeline-reserved-$name")
      val (cfg, _) = goldenCopy(dir, lines => (lines.head + s",$name") +: lines.tail.map(_ + ",x"))
      val out = Paths.get(dir, "out")
      spark.catalog.clearCache()
      val e = intercept[IllegalArgumentException] {
        Pipeline.run(spark, cfg, "employees", out.toString, goldenAsOf)
      }
      assert(e.getMessage.contains(s"source column '$name'") && e.getMessage.contains(file),
        e.getMessage)
      assert(Files.notExists(out))
      assert(spark.sharedState.cacheManager.isEmpty, "the failed run left a cache behind")
    }

  test("a rule no row fails costs no Spark job and leaves no file") {
    val passing = "        - field: birthday_on\n          validation: age_gte\n" +
      "          params:\n            min_age: 0\n"
    // every golden row passes min_age 0: one such rule before the failing
    // rule, one after it
    val withPassing: String => String = _.replace("        rules:\n", "        rules:\n" + passing)
      .replace("            min_age: 35\n", "            min_age: 35\n" + passing)
    def warmRun(dir: String, yamlEdit: String => String): (PipelineSummary, Int) = {
      val (cfg, _) = goldenCopy(dir, yamlEdit = yamlEdit)
      Pipeline.run(spark, cfg, "employees", s"$dir/warm", goldenAsOf).unpersist()
      val (r, jobs) = withJobCount(Pipeline.run(spark, cfg, "employees", s"$dir/out", goldenAsOf))
      r.unpersist()
      (r.summary, jobs)
    }
    val plainDir = tmpDir("pipeline-rules-plain")
    val moreDir = tmpDir("pipeline-rules-passing")
    val (plain, plainJobs) = warmRun(plainDir, identity)
    val (more, moreJobs) = warmRun(moreDir, withPassing)
    assert(PipelineConfig.load(s"$moreDir/config.yaml").entity("employees").rules.size == 3)
    assert(more == plain)
    assert(moreJobs == plainJobs)
    assert(errorFilesAndTemps(s"$moreDir/out") == errorFilesAndTemps(s"$plainDir/out"))
  }

  test("a warm golden employees import runs a pinned number of Spark jobs") {
    val dir = tmpDir("pipeline-jobs")
    val (cfg, _) = goldenCopy(dir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // warm-up: codegen and first-use class loading stay out of the count
    Pipeline.run(spark, cfg, "employees", s"$dir/warm", goldenAsOf).unpersist()
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs.set(0)
      Pipeline.run(spark, cfg, "employees", s"$dir/out", goldenAsOf).unpersist()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val Pinned = 12
    assert(jobs.get == Pinned,
      s"a warm golden employees Pipeline.run ran ${jobs.get} Spark jobs, pinned at $Pinned: " +
        "an eager action was added or removed. Update this pin and CHANGES.md together.")
  }
}
