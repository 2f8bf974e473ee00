package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session()
    // start from a clean slate: a leftover dump from a renamed or
    // removed query must not survive into this round's compare
    val outPath = Paths.get(outDir)
    if (Files.exists(outPath)) {
      import scala.jdk.CollectionConverters._
      Files.walk(outPath).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
    new java.io.File(outDir).mkdirs()
    // run queries on a small thread pool: Spark schedules concurrent
    // jobs fine, and overlapping the per-query fixed costs (planning,
    // AQE stage turnaround) cuts the gate's wall-clock ~4x. Failures
    // stay per-query, like the sequential loop.
    // SPARK_GRAFT_VERIFY_THREADS=1 for driver-heavy replays (e.g. the
    // streaming queries at a 100x replica collect the corpus to the
    // driver — four in flight can exhaust even a large heap)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt)
    // SPARK_GRAFT_ONLY=a,b,c — builder-side iteration filter, same as
    // Bench; the driver never sets it, so the gate always runs all
    val selected = SparkEntry.select(SparkEntry.only)
    try {
      val tasks = selected.toSeq.map { case (name, fn) =>
        pool.submit(new Runnable {
          override def run(): Unit =
            try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            catch { case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
            }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** A JSON string literal: backslash, quote and ALL control chars
    * (< 0x20) escaped. A tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness, and an env-supplied path in Bench's summary
    * line would make it malformed.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
