package graft

import graft.config.PipelineConfig
import graft.sinks.BucketedSink
import graft.streaming.StreamingIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

class StreamingIngestSpec extends SparkSpec {

  import spark.implicits._

  test("file-source streaming ingest validates and dedups arriving CSVs") {
    val dir = tmpDir("stream-ingest")
    val srcDir = s"$dir/incoming"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val (cfgPath, _) = Fixtures.materialize(dir)
    val spec = PipelineConfig.load(cfgPath).entity("employees").copy(source = srcDir)

    val query = StreamingIngest.start(spark, spec, s"$dir/out", s"$dir/ckpt")
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$srcDir/batch1.csv"),
        """company_id,employee_id,first_name,last_name,email,gender,birthday_on,country
          |1,1,Ada,Smith,ada@example.com,female,1980-03-01,ES
          |1,1,Ada,Smith,ada2@example.com,female,1980-03-01,ES
          |1,2,Bad,Row,not-an-email,male,1985-07-15,ES""".stripMargin)
      query.processAllAvailable()
      val stage = spark.read.parquet(s"$dir/out/stage")
      // dup on (employee_id, company_id) resolved keep-last; bad email rejected
      assert(stage.count() == 1)
      assert(stage.select("email").as[String].head() == "ada2@example.com")
      val errors = spark.read.parquet(s"$dir/out/errors")
      assert(errors.count() == 1)

      // a second file arrives: processed incrementally as its own batch
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$srcDir/batch2.csv"),
        """company_id,employee_id,first_name,last_name,email,gender,birthday_on,country
          |1,3,Cai,Brown,cai@example.com,male,1990-12-31,FR""".stripMargin)
      query.processAllAvailable()
      assert(spark.read.parquet(s"$dir/out/stage").count() == 2)
    } finally query.stop()
  }

  test("micro-batches with two key sets leave no cached frame behind") {
    val dir = tmpDir("stream-cache")
    val srcDir = s"$dir/incoming"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val (cfgPath, _) = Fixtures.materialize(dir)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath),
      java.nio.file.Files.readString(java.nio.file.Paths.get(cfgPath)).replace(
        """- ["employee_id", "company_id"]""",
        """- ["employee_id", "company_id"]
          |        - ["email"]""".stripMargin))
    val spec = PipelineConfig.load(cfgPath).entity("employees").copy(source = srcDir)
    assert(spec.settings.uniqueComposite.size == 2)
    val header = "company_id,employee_id,first_name,last_name,email,gender,birthday_on,country"
    val cacheManager = spark.sharedState.cacheManager
    spark.catalog.clearCache()

    val query = StreamingIngest.start(spark, spec, s"$dir/out", s"$dir/ckpt")
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$srcDir/b1.csv"),
        s"$header\n1,1,Ada,Smith,ada@example.com,female,1980-03-01,ES" +
          s"\n1,1,Ada,Smith,ada2@example.com,female,1980-03-01,ES" +
          s"\n1,2,Ben,Jones,ada2@example.com,male,1985-07-15,ES")
      query.processAllAvailable()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$srcDir/b2.csv"),
        s"$header\n1,3,Cai,Brown,cai@example.com,male,1990-12-31,FR" +
          s"\n1,4,Dot,White,cai@example.com,female,1970-01-20,PT")
      query.processAllAvailable()
    } finally query.stop()
    // keep-last on (employee_id, company_id), then on email
    assert(spark.read.parquet(s"$dir/out/stage").select("employee_id").as[String]
      .collect().sorted.toSeq == Seq("2", "4"))
    assert(cacheManager.isEmpty, "a micro-batch left a cached frame behind")
  }

  test("checkpoint restart resumes without reprocessing or loss") {
    val dir = tmpDir("stream-restart")
    val srcDir = s"$dir/incoming"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val (cfgPath, _) = Fixtures.materialize(dir)
    val spec = PipelineConfig.load(cfgPath).entity("employees").copy(source = srcDir)
    val header = "company_id,employee_id,first_name,last_name,email,gender,birthday_on,country"

    val q1 = StreamingIngest.start(spark, spec, s"$dir/out", s"$dir/ckpt")
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$srcDir/b1.csv"),
        s"$header\n1,1,Ada,Smith,ada@example.com,female,1980-03-01,ES")
      q1.processAllAvailable()
      assert(spark.read.parquet(s"$dir/out/stage").count() == 1)
    } finally q1.stop()

    // new file lands while the query is DOWN; restart from checkpoint
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$srcDir/b2.csv"),
      s"$header\n1,2,Ben,Jones,ben@example.com,male,1985-07-15,ES")
    val q2 = StreamingIngest.start(spark, spec, s"$dir/out", s"$dir/ckpt")
    try {
      q2.processAllAvailable()
      val stage = spark.read.parquet(s"$dir/out/stage")
      // b1's row not reprocessed (no duplicate), b2's row not lost
      assert(stage.count() == 2)
      assert(stage.select("employee_id").as[String].collect().sorted.toSeq == Seq("1", "2"))
    } finally q2.stop()
  }

  test("micro-batch _row_id is file-aware: dedup order is repartition-invariant") {
    val header = "company_id,employee_id,first_name,last_name,email,gender,birthday_on,country"
    // same two-file batch processed under different shuffle-partition
    // settings must resolve the cross-file duplicate identically:
    // _row_id = (lexical file order, in-file position), never layout
    val runs = Seq("1", "17").map { parts =>
      val dir = tmpDir(s"stream-det-$parts")
      val srcDir = s"$dir/incoming"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
      val (cfgPath, _) = Fixtures.materialize(dir)
      val spec = PipelineConfig.load(cfgPath).entity("employees").copy(source = srcDir)
      // both files BEFORE the query starts → one micro-batch, two files;
      // key (1,1) duplicates across files, resolution "last" must keep
      // the row from the lexically-later file (b.csv)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$srcDir/a.csv"),
        s"$header\n1,1,Ada,Smith,from-a@example.com,female,1980-03-01,ES" +
          s"\n1,2,Bea,Jones,bea@example.com,female,1982-05-05,ES")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$srcDir/b.csv"),
        s"$header\n1,1,Ada,Smith,from-b@example.com,female,1980-03-01,ES")
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        val query = StreamingIngest.start(spark, spec, s"$dir/out", s"$dir/ckpt")
        try query.processAllAvailable() finally query.stop()
      } finally spark.conf.set("spark.sql.shuffle.partitions", before)
      spark.read.parquet(s"$dir/out/stage")
        .select("employee_id", "email", "_row_id")
        .as[(String, String, Long)].collect().sortBy(_._1).toSeq
    }
    assert(runs.head == runs(1)) // identical across layouts
    val byEmp = runs.head.map(r => r._1 -> r).toMap
    // a.csv's rows minted ids 1,2; b.csv's row id 3; keep-last kept id 3
    assert(byEmp("1") == (("1", "from-b@example.com", 3L)))
    assert(byEmp("2") == (("2", "bea@example.com", 2L)))
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

    val query = StreamingIngest.startFromSource(source, spec, s"$dir/out", s"$dir/ckpt")
    try {
      // two fixed micro-batches of ten values: every key repeats twice in each
      input.addData(0L until 10L)
      query.processAllAvailable()
      input.addData(10L until 20L)
      query.processAllAvailable()
    } finally query.stop()
    val stage = spark.read.parquet(s"$dir/out/stage")
    assert(stage.count() > 0, "the memory source produced no staged rows")
    // per micro-batch, survivors are unique on the composite key
    val maxPerKey = stage.groupBy("_batch_id", "employee_id", "company_id")
      .count().agg(max("count")).as[Long].head()
    assert(maxPerKey == 1)

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
      val out = java.nio.file.Paths.get(dir, s"out-$name")
      val query = StreamingIngest.startFromSource(source, spec, out.toString, s"$dir/ckpt-$name")
      val ex = try {
        input.addData(0L until 3L)
        intercept[StreamingQueryException](query.processAllAvailable())
      } finally query.stop()
      assert(ex.getMessage.contains(s"source column '$name'") && ex.getMessage.contains(file),
        ex.getMessage)
      assert(java.nio.file.Files.notExists(out))
    }
  }

  test("a watched file whose columns differ from the config's order stops the query") {
    val dir = tmpDir("stream-drift")
    val srcDir = s"$dir/incoming"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val (cfgPath, _) = Fixtures.materialize(dir)
    val spec = PipelineConfig.load(cfgPath).entity("employees").copy(source = srcDir)
    // employee_id and company_id swapped against the config's declaration
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$srcDir/swapped.csv"),
      "employee_id,company_id,first_name,last_name,email,gender,birthday_on,country\n" +
        "7,1,Ada,Smith,ada@example.com,female,1980-03-01,ES")
    val query = StreamingIngest.start(spark, spec, s"$dir/out", s"$dir/ckpt")
    val ex = try intercept[StreamingQueryException](query.processAllAvailable())
      finally query.stop()
    val messages = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(messages.contains("swapped.csv"), messages)
    assert(messages.contains("employee_id"), messages)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/out/stage")))
  }

  test("a ragged record in a watched file becomes an error row") {
    val dir = tmpDir("stream-ragged")
    val srcDir = s"$dir/incoming"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val (cfgPath, _) = Fixtures.materialize(dir)
    val spec = PipelineConfig.load(cfgPath).entity("employees").copy(source = srcDir)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$srcDir/b1.csv"),
      "company_id,employee_id,first_name,last_name,email,gender,birthday_on,country\n" +
        "1,1,Ada,Smith,ada@example.com,female,1980-03-01,ES,EXTRA\n" +
        "1,2,\"Ben\nJr\",Jones,ben@example.com,male,1985-07-15,ES")
    val query = StreamingIngest.start(spark, spec, s"$dir/out", s"$dir/ckpt")
    try query.processAllAvailable() finally query.stop()
    assert(spark.read.parquet(s"$dir/out/stage").select("first_name", "_row_id")
      .as[(String, Long)].collect().toSeq == Seq(("Ben\nJr", 2L)))
    val errors = spark.read.parquet(s"$dir/out/errors").select("row", "errors")
      .as[(Long, String)].collect().toSeq
    assert(errors.map(_._1) == Seq(1L))
    assert(errors.head._2.contains("expected 8 fields: 1,1,Ada,Smith,ada@example.com,female,1980-03-01,ES,EXTRA"))
  }

  test("bucketed tables join without exchanges") {
    // warehouse dir is a static conf — the default (./spark-warehouse) serves
    val facts = (1L to 1000L).map(i => (i % 50, i.toDouble)).toDF("k", "v")
    val dims = (0L until 50L).map(i => (i, s"dim$i")).toDF("k", "name")
    BucketedSink.writeBucketed(facts, "b_facts", Seq("k"), 8, sortCols = Seq("k"))
    BucketedSink.writeBucketed(dims, "b_dims", Seq("k"), 8, sortCols = Seq("k"))
    try {
      assert(BucketedSink.joinIsShuffleFree(spark, "b_facts", "b_dims", Seq("k")))
      // and the join is still correct
      val n = spark.table("b_facts").join(spark.table("b_dims"), Seq("k")).count()
      assert(n == 1000)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_facts")
      spark.sql("DROP TABLE IF EXISTS b_dims")
    }
  }
}
