package graft.plans

import org.apache.spark.sql.DataFrame

/** Scoped session-conf override for operators that need a non-default
  * planning dial.
  *
  * AQE's byte-based partition coalescing assumes stage cost tracks
  * shuffle bytes. A few operators break that assumption structurally:
  * LSH bucket self-joins (output quadratic per bucket) and
  * set-similarity verifies (few rows, heavy per-row array CPU) arrive
  * as kilobytes and coalesce to one task, serializing the most
  * expensive stage of the query. For those stages the right dial is
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` — but
  * globally lowering it taxes every iterative operator with dozens of
  * genuinely tiny shuffles (measured +0.3–0.7 s each at sf0.1).
  *
  * SQLConf is session-wide, not thread-local, and real drivers
  * (including this repo's Verify) run several queries concurrently on
  * one shared session — a set/restore on the caller's session would
  * leak the override into whatever else is planning during the block.
  * `withConfs` therefore runs the block on a CLONED
  * session (`newSession()`: same SparkContext, cached blocks and
  * checkpoint store; its own SQLConf), with the input frame re-bound
  * through a global temp view so the full Catalyst lineage — scan
  * pruning included — re-resolves under the clone's conf. Frames the
  * body returns are bound to the clone; callers must materialize
  * (collect/localCheckpoint) and re-bind anything they hand onward.
  * The LSH tuning tables (`TextDedup.lshTuningTable` and
  * `lshTuningTableSampled`) run their body under `withConfs` and
  * return only their collected, config-sized counts.
  */
object ConfScope {

  /** Run `body` over a cloned session carrying the SQLConf overrides
    * `confs`, with `df` re-bound there.
    */
  def withConfs[T](df: DataFrame, confs: Map[String, String])(
      body: DataFrame => T): T = {
    val ss = df.sparkSession.newSession()
    confs.foreach { case (k, v) => ss.conf.set(k, v) }
    val view = "gq_confscope_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    df.createOrReplaceGlobalTempView(view)
    try body(ss.table(ss.conf.get("spark.sql.globalTempDatabase", "global_temp") +
      "." + view))
    finally df.sparkSession.catalog.dropGlobalTempView(view)
  }
}
