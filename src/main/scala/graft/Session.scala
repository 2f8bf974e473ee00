package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: Bench, Verify, Explain, PipelineCli,
  * ScaleBench and the test suite all build their `SparkSession` here, so
  * every entry point runs under the same confs:
  *
  *  - `local[cpus]` with `cpus` shuffle partitions;
  *  - session time zone UTC, the Spark UI off;
  *  - `spark.sql.legacy.parquet.nanosAsLong`: earlier testdata
  *    generations shipped events.ts as TIMESTAMP(NANOS), which Spark 4
  *    rejects unless read as raw longs (Tables.events normalizes every
  *    shape either way);
  *  - AQE on;
  *  - log level WARN.
  *
  * `getOrCreate` returns the JVM's active session if there is one; its
  * core count and master then stay as they were built.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the machine's core count. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(
    Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  /** @param shufflePartitions defaults to `cpus`
    * @param master a deployment's cluster URL; defaults to `local[cpus]`
    */
  def apply(cpus: Int = envCpus, shufflePartitions: Option[Int] = None,
      master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cpus).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
