package graft

/** Plan inspection CLI: prints the formatted physical plan of one or
  * all SparkEntry queries — the loop used to audit pushdown, pruning,
  * broadcast choices, and codegen coverage.
  *
  *   runMain graft.Explain <query[,query...]|all> [sfDir]
  *
  * `all` honours SPARK_GRAFT_ONLY, like Bench and Verify.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("all")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = Session()
    val targets = SparkEntry.select(if (name == "all") SparkEntry.only else Some(name))
    for ((n, fn) <- targets.toSeq.sortBy(_._1)) {
      println(s"\n========== $n ==========")
      try fn(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
