package graft.plans

/** Column-name helpers shared by the operators that build plans from
  * column-name lists, so the rules can't drift between them.
  */
object SqlIdent {

  /** Backtick-quote a column name for embedding in SQL/`selectExpr`
    * strings (DataProfiler, Quantiles, the ingest mint).
    */
  def quote(name: String): String = s"`${name.replace("`", "``")}`"

  /** `base` plus `_`s until no name in `taken` matches it, ignoring case
    * as Spark's resolver does: a helper column under this name never
    * shadows or replaces an input column.
    */
  def freshName(base: String, taken: Seq[String]): String =
    Iterator.iterate(base)(_ + "_").find(n => !taken.exists(_.equalsIgnoreCase(n))).get
}
