package graft.rules

import graft.config.RuleSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import java.time.LocalDate

/** Custom-validation rule registry (reference main.py:161-197).
  *
  * A rule compiles to a failure predicate `Column` — built-in
  * expressions only, so rule evaluation stays inside whole-stage
  * codegen. `age_gte` is the reference's sole rule; the registry is the
  * extension point its if-chain implies.
  *
  * The as-of date is injected (the reference interpolates the run date,
  * main.py:169, which made its own test suite expire — SURVEY.md §5.1);
  * callers pin it for determinism and pass today for production parity.
  */
trait CustomRule {
  def name: String

  /** TRUE for rows failing the rule. */
  def failPredicate(field: String, params: Map[String, Any], asOf: LocalDate): Column
}

/** Completed-years age check. DuckDB `DATE_PART('year', AGE(asOf, d))`
  * (main.py:172-176) = completed years between, reproduced with
  * floor(months_between/12) — verified against the DuckDB oracle by
  * the `age_gte_failures` query.
  */
object AgeGte extends CustomRule {
  val name = "age_gte"
  def failPredicate(field: String, params: Map[String, Any], asOf: LocalDate): Column = {
    val minAge = params.get("min_age").map(_.toString.toDouble).getOrElse(0.0)
    completedYears(lit(asOf.toString).cast("date"), to_date(col(field))) < minAge
  }
  def completedYears(asOf: Column, d: Column): Column =
    floor(months_between(asOf, d) / 12)
}

/** Text-quality floor for the training-data import path: rows whose
  * [[graft.functions.TextFunctions.qualityScore]] (length/punctuation/
  * stopword composite in [0,1]) falls below `min_score` fail. Pure
  * codegen'd expressions, same stop/skip semantics as every rule —
  * config-driven corpus filtering without a separate pipeline stage.
  */
object QualityGte extends CustomRule {
  val name = "quality_gte"
  def failPredicate(field: String, params: Map[String, Any], asOf: LocalDate): Column = {
    val minScore = params.get("min_score").map(_.toString.toDouble).getOrElse(0.0)
    graft.functions.TextFunctions.qualityScore(col(field)) < minScore
  }
}

class ValidationStopException(message: String) extends RuntimeException(message)

object CustomRules {

  val registry: Map[String, CustomRule] =
    Seq(AgeGte, QualityGte).map(r => r.name -> r).toMap

  final case class RuleIssue(
      field: String,
      validation: String,
      invalidRows: DataFrame,
      invalidCount: Long)

  /** Compiled rules over an input: `survivors` and, per known rule in
    * config order, `invalid`, the predicate its invalid rows fail.
    */
  final class RulesResult private[CustomRules] (
      val survivors: DataFrame,
      val invalid: Seq[Column],
      known: Seq[RuleSpec],
      input: DataFrame,
      mode: String) {

    /** The rules whose invalid sets hold rows, given each set's row
      * count (one per `invalid`, in order), the rows a filter over the
      * input; in `stop` mode the first such rule raises instead.
      */
    def issuesOf(counts: Seq[Long]): Seq[RuleIssue] = {
      val failing = known.zip(invalid).zip(counts).collect {
        case ((spec, inv), n) if n > 0 => RuleIssue(spec.field, spec.validation, input.filter(inv), n)
      }
      if (mode == "stop") failing.headOption.foreach { i =>
        throw new ValidationStopException(
          s"Custom validation failed for field '${i.field}' with ${i.validation}.")
      }
      failing
    }

    /** [[issuesOf]] the counts of one aggregate job over the input, run
      * on first use.
      */
    lazy val issues: Seq[RuleIssue] = issuesOf(
      if (invalid.isEmpty) Seq.empty
      else input.select(invalid.map(count_if): _*).head().toSeq.map(_.asInstanceOf[Long]))

    def totalInvalidRows: Long = issues.map(_.invalidCount).sum

    /** Always empty: rules persist nothing. Kept only so the
      * benchmark's `perfbench.Driver`, which releases it, compiles
      * unchanged; delete it with the next change to the benchmark.
      */
    def cached: Seq[DataFrame] = Seq.empty
  }

  /** Sequential rule application with stop/skip modes
    * (main.py:177-194), as one plan over `df`, running no job: rule i's
    * invalid rows are the rows its predicate fails (a null verdict
    * passes) and, in `skip` mode, every earlier rule passed — the rows
    * the reference's earlier DELETEs leave. `skip` filters the failing
    * rows out of the survivors. The counts are the caller's: the lazy
    * [[RulesResult.issues]], or its own through
    * [[RulesResult.issuesOf]], where `stop` raises on the first rule
    * with a failing row. Nothing is persisted. Unknown rule names are
    * ignored, like the if-chain.
    */
  def compile(
      df: DataFrame,
      rules: Seq[RuleSpec],
      mode: String,
      asOf: LocalDate): RulesResult = {
    val known = rules.flatMap(spec => registry.get(spec.validation).map(rule =>
      spec -> coalesce(rule.failPredicate(spec.field, spec.params, asOf), lit(false))))
    val fails = known.map(_._2)
    val invalid = fails.indices.map { i =>
      if (mode == "skip") fails.take(i).foldLeft(fails(i))(_ && !_) else fails(i)
    }
    val survivors = if (mode == "skip" && fails.nonEmpty) df.filter(!fails.reduce(_ || _)) else df
    new RulesResult(survivors, invalid, known.map(_._1), df, mode)
  }

  /** [[compile]], then in `stop` mode one aggregate job counts every
    * rule and raises on the first with a failing row; `skip` and
    * `report` run no job until their issues are read.
    */
  def execute(
      df: DataFrame,
      rules: Seq[RuleSpec],
      mode: String,
      asOf: LocalDate): RulesResult = {
    val r = compile(df, rules, mode, asOf)
    if (mode == "stop") r.issues
    r
  }
}
