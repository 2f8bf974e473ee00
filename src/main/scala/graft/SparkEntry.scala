package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each implemented operator from SURVEY.md §2 (plus the training-data
  * pipeline extensions) is one `Q` in a category object under
  * `graft.queries`; this object is the flat aggregation the driver
  * consumes. Column names match between each Spark program and its
  * DuckDB oracle SQL, and every query carries a total ORDER BY.
  */
object SparkEntry {

  private def allQs: Seq[Q] =
    RelationalQueries.all ++ PipelineQueries.all ++ AdvancedQueries.all ++
      SetOpQueries.all ++ WindowStatsQueries.all ++ TextQueries.all ++
      DedupQueries.all ++ SimilarityQueries.all ++ MultimodalQueries.all ++
      CurationQueries.all ++ QualityQueries.all ++ RetrievalQueries.all ++
      StreamingQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQs.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    allQs.map(q => q.name -> q.oracle).toMap

  /** `SPARK_GRAFT_ONLY=a,b,c`: the iteration filter of Bench, Verify and
    * Explain. The driver never sets it, so its runs cover every query.
    */
  def only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")

  /** The queries named in the comma-separated `names`, or every query
    * when there are none. Unknown names are reported on stderr: a silent
    * typo would run zero queries and report a plausible-looking 0.00
    * total.
    */
  def select(names: Option[String]): Map[String, (SparkSession, String) => DataFrame] =
    names.fold(queries) { list =>
      val wanted = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = wanted -- queries.keySet
      if (unknown.nonEmpty)
        System.err.println(s"[graft] WARNING: unknown query names: ${unknown.mkString(", ")}")
      queries.filter { case (n, _) => wanted(n) }
    }
}
