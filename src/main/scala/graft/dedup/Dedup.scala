package graft.dedup

import graft.ingest.CsvIngest.RowId
import graft.plans.SqlIdent
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Composite-key deduplication (reference main.py:97-159).
  *
  * The reference ranks each key set with one window and DELETEs the
  * losers from its stage table. Here the result is one flagged frame,
  * the input plus one window column per key set, and the survivors/
  * removed split is two filters over it (the idiom of
  * [[graft.validate.SchemaValidator]]'s flagged frame):
  *   - first/last  → `row_number` over the key ordered by `_row_id`
  *     (asc/desc); a row ranked above 1 is removed;
  *   - exclude_all → `count` over the key; every member of a key with
  *     more than one row is removed, unless a key value is null (null
  *     never matches, as in the reference's join).
  *
  * Key sets apply sequentially: each window is partitioned by its key
  * set AND by whether the row survived the earlier key sets, so each
  * sees only the earlier survivors. One shuffle per key set, nothing
  * persisted; a caller that reads both splits holds `flagged`, as
  * [[graft.pipeline.Pipeline]] does. The capture frame spans all key
  * sets, possibly overlapping, like the reference (main.py:106-158);
  * for first/last it keeps `rn`, the rank at the key set that removed
  * the row, like the reference's dup frame (main.py:132-139), so an
  * input column named `rn` (in any case) is then rejected.
  *
  * `last` follows the reference's *documented* semantics (keep the
  * final occurrence, readme.md:92-94) rather than its executed bug
  * which treats last as first (main.py:131-152; SURVEY.md §2.5 note).
  */
object Dedup {

  final case class DedupResult(
      /** the input plus one window column per key set; both splits
        * filter it
        */
      flagged: DataFrame,
      /** TRUE for the rows of `flagged` that survive every key set */
      survives: Column,
      /** `rn`, the rank at the key set that removed a row, when ranked */
      rank: Option[Column],
      helpers: Seq[String]) {

    lazy val survivors: DataFrame = flagged.filter(survives).drop(helpers: _*)
    lazy val removed: DataFrame = removedFrom(flagged)

    /** The removed split of `flagged`, or of a frame over it with the
      * same columns (an observed one).
      */
    def removedFrom(df: DataFrame): DataFrame = {
      val captured = df.filter(!survives)
      rank.fold(captured)(captured.withColumn(RnCol, _)).drop(helpers: _*)
    }

    /** Always empty: dedup persists nothing. Kept only so the
      * benchmark's `perfbench.Driver`, which releases it, compiles
      * unchanged; delete it with the next change to the benchmark.
      */
    def cached: Seq[DataFrame] = Seq.empty
  }

  val RnCol = "rn"

  def apply(df: DataFrame, uniqueComposite: Seq[Seq[String]], resolution: String): DedupResult = {
    require(Seq("first", "last", "exclude_all").contains(resolution),
      s"unknown duplicate_resolution '$resolution'")
    val ranked = resolution != "exclude_all"
    if (ranked && uniqueComposite.nonEmpty)
      df.columns.find(_.equalsIgnoreCase(RnCol)).foreach { c =>
        throw new IllegalArgumentException(s"source column '$c' clashes with the '$RnCol' column " +
          "(the dedup rank) that the duplicates error file writes; rename the source column")
      }
    val order = if (resolution == "last") col(RowId).desc else col(RowId).asc
    // helper columns: fresh against the input, distinct by their index
    val names = uniqueComposite.indices.map(i => SqlIdent.freshName(s"_dedup_$i", df.columns))
    def alive(lost: Seq[Column]): Column = lost.foldLeft(lit(true))(_ && !_)
    // one window column per key set, and per key set the condition that
    // it removes a row still alive after the earlier key sets
    val (flagged, lost) = uniqueComposite.zip(names).foldLeft((df, Seq.empty[Column])) {
      case ((acc, lost), (keys, name)) =>
        val w = Window.partitionBy(keys.map(col) ++ (if (lost.isEmpty) Nil else Seq(alive(lost))): _*)
        val removes =
          if (ranked) col(name) > 1
          else col(name) > 1 && keys.map(col(_).isNotNull).reduce(_ && _)
        (acc.withColumn(name,
          if (ranked) row_number().over(w.orderBy(order)).cast("long") else count(lit(1)).over(w)),
          lost :+ removes)
    }
    // a removed row ranks 1 at every key set before the one removing it
    val rank = Option.when(ranked && names.nonEmpty)(
      coalesce(names.map(n => when(col(n) > 1, col(n))): _*))
    DedupResult(flagged, alive(lost), rank, names)
  }
}
