package graft.rules

import graft.config.RuleSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
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

  final case class RulesResult(
      survivors: DataFrame,
      issues: Seq[RuleIssue],
      totalInvalidRows: Long,
      /** intermediate frames persisted by multi-rule runs — callers
        * release once survivors/issues are fully consumed
        */
      cached: Seq[DataFrame] = Seq.empty)

  /** Sequential rule application with stop/skip modes
    * (main.py:177-194): `stop` raises on the first failing rule;
    * `skip` filters failing rows out of the stage, each rule seeing the
    * survivors of the previous.
    */
  def execute(
      df: DataFrame,
      rules: Seq[RuleSpec],
      mode: String,
      asOf: LocalDate): RulesResult = {
    var current = df
    var total = 0L
    val issues = Seq.newBuilder[RuleIssue]
    val cached = Seq.newBuilder[DataFrame]
    for (spec <- rules) {
      registry.get(spec.validation) match {
        case None => () // unknown rule names are ignored, like the if-chain
        case Some(rule) =>
          val fail = rule.failPredicate(spec.field, spec.params, asOf)
          if (rules.size > 1 && current.storageLevel == StorageLevel.NONE) {
            current = current.persist(StorageLevel.MEMORY_AND_DISK)
            cached += current
          }
          val invalid = current.filter(fail)
          val n = invalid.count()
          total += n
          if (n > 0) {
            issues += RuleIssue(spec.field, spec.validation, invalid, n)
            if (mode == "stop")
              throw new ValidationStopException(
                s"Custom validation failed for field '${spec.field}' with ${spec.validation}.")
            if (mode == "skip")
              current = current.filter(!fail || fail.isNull)
          }
      }
    }
    RulesResult(current, issues.result(), total, cached.result())
  }
}
