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

  test("graft.Session holds the only session builder in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val builders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(root.relativize(_).toString).toSeq.sorted
    assert(builders == Seq("graft/Session.scala"))
  }
}
