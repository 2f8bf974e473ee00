package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The session factory's contract: the suite's session is built by
  * [[Session]], so its confs are the ones every entry point runs under.
  */
class SessionSpec extends SparkSpec {

  test("the factory's session carries every contract conf") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.defaultParallelism == 4)
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  /** The `src/main` sources containing any of `needles`, relative and sorted. */
  private def mainSourcesContaining(needles: String*): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter { p => val src = Files.readString(p); needles.exists(src.contains) }
      .map(root.relativize(_).toString).toSeq.sorted
  }

  test("graft.Session holds the only session builder in src/main") {
    assert(mainSourcesContaining("SparkSession.builder") == Seq("graft/Session.scala"))
  }

  // Pipeline's held frames and a table projection's CTAS are the only
  // caches: every other operator reuses an intermediate through
  // localCheckpoint, whose blocks are freed with the frame
  test("Pipeline and Projections are the only code in src/main that persists") {
    assert(mainSourcesContaining(".persist(", ".cache()") ==
      Seq("graft/pipeline/Pipeline.scala", "graft/project/Projections.scala"))
  }
}
