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
  // file under a split size smaller than it, one partition per file,
  // and all files packed into one partition.
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
    def ingest(dir: String, confs: (String, String)*) = {
      val prev = fileConfs.map(k => k -> spark.conf.getOption(k))
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        val df = CsvIngest.readPath(spark, dir)
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
      "single file, one partition" -> ingest(singleDir),
      "single file, split" -> ingest(singleDir,
        "spark.sql.files.maxPartitionBytes" -> "16384"),
      "multi-file, one partition per file" -> ingest(multiDir),
      "multi-file, packed into one partition" -> ingest(multiDir,
        "spark.sql.files.openCostInBytes" -> "0", "spark.sql.files.minPartitionNum" -> "1"))
    val partitions = layouts.map { case (name, l) => name -> l._2 }.toMap
    assert(partitions("single file, one partition") == 1)
    // a csv file is one unsplittable read unit, whatever the split size
    assert(partitions("single file, split") == 1)
    assert(partitions("multi-file, one partition per file") == 3)
    assert(partitions("multi-file, packed into one partition") == 1)

    val expectedCols = header.split(",").toSeq :+ "_corrupt_record" :+ CsvIngest.RowId
    val singlePicks = layouts.head._2._4
    for ((name, (cols, _, ordered, picks)) <- layouts) {
      assert(cols == expectedCols, name)
      // _row_id is 1..n in input order
      assert(ordered.map(_.getAs[Long](CsvIngest.RowId)) == (1L to rows.size.toLong), name)
      assert(ordered.map(_.toSeq.dropRight(2).mkString(",")) == rows, name)
      // keep-first and keep-last pick the same physical rows either way
      assert(picks == singlePicks, name)
    }
  }

  test("a single-file csv read mints its ids with no job; a 3-file read runs the offset aggregate") {
    import graft.ingest.CsvIngest
    import java.nio.file.{Files, Paths}
    val lines = Fixtures.employeesCsv.split("\n").toSeq
    val (header, rows) = (lines.head, lines.tail)
    val single = tmpDir("mint-single")
    Files.write(Paths.get(single, "all.csv"), (header +: rows).mkString("\n").getBytes)
    val multi = tmpDir("mint-multi")
    for ((chunk, i) <- rows.grouped(5).zipWithIndex)
      Files.write(Paths.get(multi, s"part-$i.csv"), (header +: chunk).mkString("\n").getBytes)
    assert(new java.io.File(multi).list().length == 3)

    val (singleDf, singleJobs) = withJobCount(CsvIngest.readPath(spark, single))
    val (multiDf, multiJobs) = withJobCount(CsvIngest.readPath(spark, multi))
    assert(singleJobs == 0)
    assert(multiJobs > 0)
    // ids 1..n in (file, position) order either way
    for (df <- Seq(singleDf, multiDf)) {
      val ordered = df.orderBy(CsvIngest.RowId).collect().toSeq
      assert(ordered.map(_.getAs[Long](CsvIngest.RowId)) == (1L to rows.size.toLong))
      assert(ordered.map(_.toSeq.dropRight(2).mkString(",")) == rows)
    }
  }

  // Differential check: Dedup against a sequential plain-Scala fold over
  // the collected rows: each key set applies to the survivors of the previous one;
  // `first`/`last` keep the lowest/highest `_row_id` per key and capture
  // the rest with their rank `rn` at the removing key set; `exclude_all`
  // captures every member of a key with more than one survivor, and a
  // key holding a null never matches.

  type In = (Long, Option[Int], Option[String], Option[Int], String)
  private val cols = Seq("_row_id", "k1", "k2", "k3", "payload")
  private val keyIndex = Map("k1" -> 1, "k2" -> 2, "k3" -> 3)

  private def key(r: In, keys: Seq[String]): Seq[Option[Any]] =
    keys.map(k => r.productElement(keyIndex(k)).asInstanceOf[Option[Any]])

  /** (survivors, removed with rn — None for exclude_all) */
  private def model(rows: Seq[In], keySets: Seq[Seq[String]],
      res: String): (Seq[In], Seq[(In, Option[Long])]) =
    keySets.foldLeft((rows, Seq.empty[(In, Option[Long])])) { case ((alive, removed), keys) =>
      val groups = alive.groupBy(key(_, keys)).values.toSeq
      val gone = res match {
        case "exclude_all" =>
          groups.filter(g => g.size > 1 && key(g.head, keys).forall(_.isDefined))
            .flatten.map(r => r -> None)
        case _ =>
          groups.flatMap { g =>
            val byId = g.sortBy(_._1)
            (if (res == "last") byId.reverse else byId).zipWithIndex.drop(1)
              .map { case (r, i) => r -> Some(i + 1L) }
          }
      }
      val goneIds = gone.map(_._1._1).toSet
      (alive.filterNot(r => goneIds(r._1)), removed ++ gone)
    }

  private def input(seed: Int): Seq[In] = {
    val rnd = new scala.util.Random(seed)
    def opt[A](a: => A): Option[A] = if (rnd.nextInt(10) == 0) None else Some(a)
    // ids in scrambled input order, so row order and id order differ
    rnd.shuffle((1L to 60L).toList).map { id =>
      (id, opt(rnd.nextInt(4)), opt(Seq("a", "b", "c")(rnd.nextInt(3))), opt(rnd.nextInt(3)),
        s"p$id")
    }
  }

  private def check(rows: Seq[In], keySets: Seq[Seq[String]], res: String, clue: String): Unit = {
    val df = rows.toDF(cols: _*).repartition(3)
    val r = Dedup(df, keySets, res)
    val withRn = res != "exclude_all" && keySets.nonEmpty
    assert(r.survivors.columns.toSeq == cols, clue)
    assert(r.removed.columns.toSeq == (if (withRn) cols :+ Dedup.RnCol else cols), clue)
    val (wantSurvivors, wantRemoved) = model(rows, keySets, res)
    val survivors = r.survivors.as[In].collect().toSeq.sortBy(_._1)
    assert(survivors == wantSurvivors.sortBy(_._1), clue)
    val removed = r.removed.collect().toSeq.map { row =>
      val in = (row.getLong(0), Option(row.get(1)).map(_.asInstanceOf[Int]),
        Option(row.getString(2)), Option(row.get(3)).map(_.asInstanceOf[Int]), row.getString(4))
      in -> (if (withRn) Some(row.getLong(5)) else None)
    }.sortBy(_._1._1)
    assert(removed == wantRemoved.sortBy(_._1._1), clue)
  }

  test("flagged dedup matches the sequential model over seeded inputs, 1-3 key sets") {
    // overlapping key sets: k1 appears in three of them
    val pool = Seq(Seq("k1", "k2"), Seq("k1"), Seq("k2", "k3"), Seq("k3", "k1"))
    for (seed <- 1 to 4; n <- 1 to 3; res <- Seq("first", "last", "exclude_all")) {
      val keySets = new scala.util.Random(seed * 10 + n).shuffle(pool).take(n)
      check(input(seed), keySets, res, s"seed=$seed res=$res keys=$keySets")
    }
  }

  test("exclude_all keeps rows whose key holds a null; first/last rank null keys as one group") {
    val rows: Seq[In] = Seq(
      (1L, None, Some("a"), Some(0), "n1"),
      (2L, None, Some("a"), Some(0), "n2"),
      (3L, Some(1), Some("b"), Some(0), "d1"),
      (4L, Some(1), Some("b"), Some(0), "d2"),
      (5L, Some(2), Some("b"), Some(0), "u"))
    val r = Dedup(rows.toDF(cols: _*), Seq(Seq("k1", "k2")), "exclude_all")
    assert(r.survivors.select("payload").as[String].collect().sorted.toSeq == Seq("n1", "n2", "u"))
    assert(r.removed.select("payload").as[String].collect().sorted.toSeq == Seq("d1", "d2"))
    for (res <- Seq("first", "last", "exclude_all"); keySets <- Seq(Nil, Seq(Seq("k1", "k2"))))
      check(rows, keySets, res, s"res=$res keys=$keySets")
  }
}
