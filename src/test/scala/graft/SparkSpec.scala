package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local session for all specs (one JVM-wide session — sbt forks
  * a single test JVM).
  */
object TestSpark {
  lazy val spark: SparkSession = Session(cpus = 4)
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory in the system temp dir, deleted with everything
    * in it when the suite ends.
    */
  def tmpDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    tmpDirs.add(dir)
    dir.toString
  }

  /** `body`'s result and the Spark jobs it started. */
  def withJobCount[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (result, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // a directory something still writes into (a stream not yet stopped)
  // is left behind rather than failing the suite
  override protected def afterAll(): Unit =
    try super.afterAll()
    finally tmpDirs.asScala.filter(Files.exists(_)).foreach { dir =>
      try Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
    }
}
