package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  import spark.implicits._

  private def fixture = Seq(
    // (_row_id, k1, k2, payload)
    (1L, 1L, "a", "r1"),
    (2L, 1L, "a", "r2"),
    (3L, 1L, "b", "r3"),
    (4L, 2L, "a", "r4"),
    (5L, 1L, "a", "r5"),
    (6L, 2L, "b", "r6")
  ).toDF("_row_id", "k1", "k2", "payload")

  test("first keeps earliest occurrence per key") {
    val r = Dedup(fixture, Seq(Seq("k1", "k2")), "first")
    assert(r.survivors.select("payload").as[String].collect().sorted.toSeq ==
      Seq("r1", "r3", "r4", "r6"))
    assert(r.removed.select("payload").as[String].collect().sorted.toSeq == Seq("r2", "r5"))
    // capture carries rn like the reference's dup frame
    assert(r.removed.columns.contains("rn"))
  }

  test("last keeps final occurrence (documented semantics, SURVEY §2.5)") {
    val r = Dedup(fixture, Seq(Seq("k1", "k2")), "last")
    assert(r.survivors.select("payload").as[String].collect().sorted.toSeq ==
      Seq("r3", "r4", "r5", "r6"))
  }

  test("exclude_all removes every member of dup groups, captures without rn") {
    val r = Dedup(fixture, Seq(Seq("k1", "k2")), "exclude_all")
    assert(r.survivors.select("payload").as[String].collect().sorted.toSeq ==
      Seq("r3", "r4", "r6"))
    assert(r.removed.count() == 3)
    assert(!r.removed.columns.contains("rn"))
  }

  test("sequential multi-key fold: later keys see earlier survivors") {
    val r = Dedup(fixture, Seq(Seq("k1", "k2"), Seq("k1")), "first")
    // pass 1 on (k1,k2): survivors r1,r3,r4,r6; pass 2 on k1 alone:
    // r1 vs r3 (k1=1) keeps r1; r4 vs r6 (k1=2) keeps r4.
    assert(r.survivors.select("payload").as[String].collect().sorted.toSeq == Seq("r1", "r4"))
    assert(r.removed.count() == 4) // r2,r5 then r3,r6
  }

  test("empty key list is a no-op") {
    val r = Dedup(fixture, Seq.empty, "first")
    assert(r.survivors.count() == 6 && r.removed.count() == 0)
  }

  // property: survivors ∪ removed == input; survivors unique per key;
  // dedup idempotent — over seeded random inputs × all resolutions
  test("dedup invariants hold for random inputs and all resolutions") {
    for (seed <- 1 to 4; res <- Seq("first", "last", "exclude_all")) {
      val rnd = new scala.util.Random(seed)
      val pairs = List.fill(40)((rnd.nextLong(8) + 1, rnd.nextLong(3) + 1))
      val df = pairs.zipWithIndex
        .map { case ((k1, k2), i) => (i.toLong + 1, k1, k2) }
        .toDF("_row_id", "k1", "k2")
      val r = Dedup(df, Seq(Seq("k1", "k2")), res)
      val n = df.count()
      val s = r.survivors.count()
      assert(s + r.removed.count() == n, s"partition (seed=$seed res=$res)")
      // keys unique among survivors (first/last) or fully dup-free (exclude_all)
      val maxPerKey = r.survivors.groupBy("k1", "k2").count().agg(max("count")).as[Long].head()
      assert(maxPerKey <= 1, s"unique keys (seed=$seed res=$res)")
      // idempotence
      val again = Dedup(r.survivors, Seq(Seq("k1", "k2")), res)
      assert(again.survivors.count() == s && again.removed.count() == 0,
        s"idempotence (seed=$seed res=$res)")
    }
  }

  // SURVEY §7.4(1): file-aware row identity must make keep-first/last
  // over a multi-file ingest pick the same rows as the single-file read.
  // Checked across scan layouts: one file in one partition, the same
  // file split over several partitions, one partition per file, and
  // all files packed into one partition.
  test("file-aware _row_id: multi-file read matches single-file dedup") {
    import graft.ingest.CsvIngest
    import java.nio.file.{Files, Paths}
    val lines = Fixtures.employeesCsv.split("\n").toSeq
    val header = lines.head
    // 60 copies of the fixture with employee ids shifted per copy, so
    // each copy keeps the fixture's duplicates: ~46 KB, enough for the
    // single file to split at a 16 KB partition size
    val rows = (0 until 60).flatMap { copy =>
      lines.tail.map { l =>
        val f = l.split(",", -1)
        f.updated(1, (f(1).toLong + 1000L * copy).toString).mkString(",")
      }
    }
    val singleDir = tmpDir("rowid-single")
    Files.write(Paths.get(singleDir, "part-00000.csv"),
      (header +: rows).mkString("\n").getBytes)
    val multiDir = tmpDir("rowid-multi")
    val chunks = Seq(rows.slice(0, 250), rows.slice(250, 600), rows.slice(600, rows.size))
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      Files.write(Paths.get(multiDir, f"part-$i%05d.csv"),
        (header +: chunk).mkString("\n").getBytes)
    }

    val fileConfs = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes", "spark.sql.files.minPartitionNum")
    // ingest under the given file-split confs and materialize everything
    // the assertions need (scan partitions, rows in id order, dedup
    // picks) before the confs are restored
    def ingest(dir: String, fileAware: Boolean, confs: (String, String)*) = {
      val prev = fileConfs.map(k => k -> spark.conf.getOption(k))
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        val df =
          if (fileAware) CsvIngest.readPathFileAware(spark, dir) else CsvIngest.readPath(spark, dir)
        val partitions = df.select(spark_partition_id()).distinct().count()
        val ordered = df.orderBy(CsvIngest.RowId).collect().toSeq
        val picks = Seq("first", "last").map { res =>
          Dedup(df, Seq(Seq("employee_id", "company_id")), res)
            .survivors.select("employee_id", "email").as[(String, String)].collect().toSet
        }
        (df.columns.toSeq, partitions, ordered, picks)
      } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }

    val layouts = Seq(
      "single file, one partition" -> ingest(singleDir, fileAware = false),
      "single file, split" -> ingest(singleDir, fileAware = false,
        "spark.sql.files.maxPartitionBytes" -> "16384"),
      "multi-file, one partition per file" -> ingest(multiDir, fileAware = true),
      "multi-file, packed into one partition" -> ingest(multiDir, fileAware = true,
        "spark.sql.files.openCostInBytes" -> "0", "spark.sql.files.minPartitionNum" -> "1"))
    val partitions = layouts.map { case (name, l) => name -> l._2 }.toMap
    assert(partitions("single file, one partition") == 1)
    assert(partitions("single file, split") > 1)
    assert(partitions("multi-file, one partition per file") == 3)
    assert(partitions("multi-file, packed into one partition") == 1)

    val expectedCols = header.split(",").toSeq :+ CsvIngest.RowId
    val singlePicks = layouts.head._2._4
    for ((name, (cols, _, ordered, picks)) <- layouts) {
      assert(cols == expectedCols, name)
      // _row_id is 1..n in input order
      assert(ordered.map(_.getAs[Long](CsvIngest.RowId)) == (1L to rows.size.toLong), name)
      assert(ordered.map(_.toSeq.init.mkString(",")) == rows, name)
      // keep-first and keep-last pick the same physical rows either way
      assert(picks == singlePicks, name)
    }
  }
}
