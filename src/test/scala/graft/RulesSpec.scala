package graft

import graft.config.RuleSpec
import graft.rules.{CustomRules, ValidationStopException}
import java.time.LocalDate

class RulesSpec extends SparkSpec {

  import spark.implicits._

  // mirror of the reference's own unittest fixture shape
  // (test_main.py:33-47): 3 rows, one under-18 at the pinned date.
  private def stage = Seq(
    (1L, "2000-01-01"),
    (2L, "2010-01-01"),
    (3L, "1995-05-15")
  ).toDF("employee_id", "birthday_on")

  private val rule = Seq(RuleSpec("birthday_on", "age_gte", Map("min_age" -> 18)))
  private val asOf = LocalDate.parse("2025-01-01")

  test("stop mode raises with the reference's message (main.py:187)") {
    val ex = intercept[ValidationStopException] {
      CustomRules.execute(stage, rule, "stop", asOf)
    }
    assert(ex.getMessage.contains("Custom validation failed for field 'birthday_on'"))
  }

  test("skip mode filters failing rows and captures the issue set") {
    val r = CustomRules.execute(stage, rule, "skip", asOf)
    assert(r.survivors.select("employee_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(r.totalInvalidRows == 1)
    assert(r.issues.head.invalidRows.select("employee_id").as[Long].head() == 2L)
  }

  test("age boundary: exactly min_age passes (completed years)") {
    val df = Seq((1L, "2007-01-01"), (2L, "2007-01-02")).toDF("id", "birthday_on")
    val r = CustomRules.execute(df, rule, "skip", asOf)
    // 2007-01-01 → exactly 18 completed years on 2025-01-01 → passes;
    // 2007-01-02 → 17 years 364 days → fails
    assert(r.survivors.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("no failing rows → no issues, nothing raised in stop mode") {
    val df = Seq((1L, "1990-01-01")).toDF("id", "birthday_on")
    val r = CustomRules.execute(df, rule, "stop", asOf)
    assert(r.issues.isEmpty && r.totalInvalidRows == 0)
    assert(r.survivors.count() == 1)
  }

  test("unknown rule names are ignored (reference if-chain behavior)") {
    val r = CustomRules.execute(stage, Seq(RuleSpec("x", "no_such_rule")), "stop", asOf)
    assert(r.survivors.count() == 3 && r.issues.isEmpty)
  }
  test("quality_gte rule: low-quality rows fail in skip mode, good ones survive") {
    val docs = Seq(
      (1L, "the cat sat on the mat and it was a good day in the sun"), // stopwordy, clean
      (2L, "!!! ### $$$ %%% ^^^ &&& *** ((( ))) @@@")                  // punctuation soup
    ).toDF("doc_id", "text")
    val qRule = Seq(RuleSpec("text", "quality_gte", Map("min_score" -> 0.5)))
    val res = CustomRules.execute(docs, qRule, "skip", asOf)
    assert(res.survivors.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(res.issues.head.validation == "quality_gte" && res.totalInvalidRows == 1)
  }

  // Differential check: CustomRules against a sequential plain-Scala
  // fold over the collected rows. Each known rule sees the rows the
  // earlier rules left: `stop` raises on the first rule with a failing
  // row, `skip` drops a rule's failing rows, any other mode only
  // reports them. A null date neither fails nor is dropped. Days stay
  // in 1..28 and the as-of day is the 15th, where Spark's
  // floor(months_between / 12) equals java.time's completed years.
  private val modelAsOf = LocalDate.parse("2025-06-15")
  private type Dated = (Long, Option[String], Option[String])

  private def ruleModel(rows: Seq[Dated], rules: Seq[RuleSpec],
      mode: String): Either[String, (Seq[Long], Seq[(String, String, Seq[Long])])] = {
    val start: Either[String, (Seq[Dated], Seq[(String, String, Seq[Long])])] = Right((rows, Nil))
    rules.filter(_.validation == "age_gte").foldLeft(start) {
      case (Right((alive, issues)), spec) =>
        val minAge = spec.params("min_age").toString.toInt
        val date = (r: Dated) => if (spec.field == "d1") r._2 else r._3
        val failing = alive.filter(r => date(r).exists(d =>
          java.time.Period.between(LocalDate.parse(d), modelAsOf).getYears < minAge))
        if (failing.isEmpty) Right((alive, issues))
        else if (mode == "stop") Left(spec.field)
        else Right((if (mode == "skip") alive.filterNot(failing.contains) else alive,
          issues :+ ((spec.field, spec.validation, failing.map(_._1)))))
      case (stopped, _) => stopped
    }.map { case (alive, issues) => (alive.map(_._1), issues) }
  }

  test("rules match the sequential model in skip, stop and report-only modes") {
    val pool = Seq(
      RuleSpec("d1", "age_gte", Map("min_age" -> 18)),
      RuleSpec("d2", "age_gte", Map("min_age" -> 30)),
      RuleSpec("d1", "no_such_rule"),
      RuleSpec("d2", "age_gte", Map("min_age" -> 10)))
    for (seed <- 1 to 5; n <- 1 to 3; mode <- Seq("skip", "stop", "report")) {
      val rnd = new scala.util.Random(seed * 10 + n)
      def date(): Option[String] =
        if (rnd.nextInt(7) == 0) None
        else Some(f"${1985 + rnd.nextInt(40)}%04d-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d")
      val rows = (1L to 40L).map(id => (id, date(), date()))
      val rules = rnd.shuffle(pool).take(n)
      val clue = s"seed=$seed mode=$mode rules=$rules"
      val df = rows.toDF("id", "d1", "d2").repartition(3)
      ruleModel(rows, rules, mode) match {
        case Left(field) =>
          val ex = intercept[ValidationStopException](
            CustomRules.execute(df, rules, mode, modelAsOf))
          assert(ex.getMessage.contains(s"for field '$field'"), clue)
          // compiled with no job; a caller's own counts raise the same way
          val own = CustomRules.compile(df, rules, mode, modelAsOf)
          val ownEx = intercept[ValidationStopException](
            own.issuesOf(own.invalid.map(df.filter(_).count())))
          assert(ownEx.getMessage == ex.getMessage, clue)
        case Right((survivors, issues)) =>
          val r = CustomRules.execute(df, rules, mode, modelAsOf)
          assert(r.survivors.select("id").as[Long].collect().sorted.toSeq == survivors.sorted, clue)
          assert(r.issues.map(i => (i.field, i.validation,
            i.invalidRows.select("id").as[Long].collect().sorted.toSeq)) ==
            issues.map { case (f, v, ids) => (f, v, ids.sorted) }, clue)
          assert(r.issues.map(_.invalidCount) == issues.map(_._3.size.toLong), clue)
          // a caller's own counts of the `invalid` predicates give the same issues
          val own = CustomRules.compile(df, rules, mode, modelAsOf)
          assert(own.issuesOf(own.invalid.map(df.filter(_).count())).map(i => (i.field,
            i.invalidRows.select("id").as[Long].collect().sorted.toSeq, i.invalidCount)) ==
            issues.map { case (f, _, ids) => (f, ids.sorted, ids.size.toLong) }, clue)
          assert(r.totalInvalidRows == issues.map(_._3.size).sum, clue)
          assert(r.survivors.columns.toSeq == Seq("id", "d1", "d2"), clue)
      }
    }
  }

  // `compile` runs no job; `execute` in `stop` mode counts before it
  // raises; `skip` and `report` run no job until their counts are read,
  // and then one
  test("all rule counts come from one aggregate job") {
    val df = Seq((1L, "2000-01-01", "2020-01-01"), (2L, "2015-01-01", "1980-01-01"),
      (3L, null, "1970-01-01"), (4L, "1990-01-01", "1990-01-01")).toDF("id", "d1", "d2")
    val rules = Seq(
      RuleSpec("d1", "age_gte", Map("min_age" -> 18)),
      RuleSpec("d2", "age_gte", Map("min_age" -> 18)),
      RuleSpec("d1", "age_gte", Map("min_age" -> 40)))
    def jobsOf(body: => Any): Int = withJobCount(body)._2
    // warm-up: codegen and first-use class loading stay out of the count
    CustomRules.execute(df, rules, "skip", asOf).issues
    // one global aggregate over the input: an exchange under AQE adds
    // its map stage as a job of its own
    val oneAggregate = jobsOf(df.agg(org.apache.spark.sql.functions.count("id")).collect())
    for (mode <- Seq("skip", "report")) {
      val (r, executeJobs) = withJobCount(CustomRules.execute(df, rules, mode, asOf))
      assert(executeJobs == 0, mode)
      assert(r.invalid.size == rules.size, mode)
      assert(jobsOf(r.issues) == oneAggregate, mode)
      assert(r.issues.map(_.invalidCount) ==
        (if (mode == "skip") Seq(1L, 1L, 1L) else Seq(1L, 1L, 3L)), mode)
      assert(jobsOf(r.totalInvalidRows) == 0, mode)
    }
    assert(jobsOf(CustomRules.compile(df, rules, "stop", asOf)) == 0)
    // stop raises on the first failing rule before any other job
    assert(jobsOf(intercept[ValidationStopException](
      CustomRules.execute(df, rules, "stop", asOf))) == oneAggregate)
  }
}
