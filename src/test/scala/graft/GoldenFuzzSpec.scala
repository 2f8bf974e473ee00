package graft

import graft.config.PipelineConfig
import graft.pipeline.Pipeline
import graft.rules.ValidationStopException
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.sys.process._
import scala.util.Random

/** Randomized end-to-end parity fuzz against the LIVE reference
  * (`python3 /root/reference/main.py`): N seeded cases, each a fresh
  * synthetic entity with a randomized schema (types, required flags,
  * patterns, min bounds), randomized settings (duplicate resolution,
  * composite keys, custom-validation mode, age_gte rule, projection
  * aliases — including a no-op rename of an unprojected column and a
  * not-in-schema source that makes both engines skip the projection)
  * and a
  * generated CSV carrying seeded corruption (bad emails/codes/ints/
  * bools, empty required cells, under-min values, under-age dates,
  * duplicate keys). Both engines run the same config + input; exports
  * must byte-match modulo the documented D1 bool spelling, error CSVs
  * must carry identical row sets (order unspecified per the README
  * tolerance), schema-error files identical flagged-row and
  * failing-field sets (D2: message text diverges), and the three exit
  * flows (clean, schema-stop, custom-stop) must fire identically.
  *
  * Deliberately OUT of fuzz scope (documented divergences, golden
  * suite covers their fixed cases):
  *  - empty cells in non-required fields: the engine honors config
  *    `default`s while the reference parses-but-drops them and then
  *    rejects pandas NaN (SchemaValidator.fillDefaults note);
  *  - declaring `str` over a column pandas infers as bool: Pydantic
  *    v2 rejects bool→str coercion row-for-row — the generator pins
  *    one non-bool token into `active` whenever it declares it str,
  *    keeping the column object-typed in pandas;
  *  - pattern-valid but uncastable dates under age_gte (the reference
  *    dies in DuckDB's CAST; the generator's bad dates fail the
  *    pattern instead, so neither engine ever CASTs them).
  *
  * Cancels (not fails) when the reference checkout or driver python
  * stack is unavailable.
  */
class GoldenFuzzSpec extends SparkSpec {

  private val refMain = "/root/reference/main.py"

  private lazy val referenceRunnable: Boolean =
    Files.exists(Paths.get(refMain)) &&
      (try Process(Seq("python3", "-c", "import duckdb, pandas, yaml, pydantic")).! == 0
      catch { case _: Throwable => false })

  private val asOf = LocalDate.now()
  private val Seeds = 32

  // ---- generators -------------------------------------------------

  private case class Case(config: String, csv: String, desc: String)

  private def gen(seed: Int): Case = {
    val r = new Random(seed)
    val cleanSchema = r.nextDouble() < 0.3 // let custom-stop seeds reach the rule stage
    def corrupt(p: Double) = !cleanSchema && r.nextDouble() < p

    // schema dials
    val emailPattern = r.nextDouble() < 0.8
    val emailRequired = r.nextBoolean()
    val codePattern = r.nextDouble() < 0.7
    val scoreMin = if (r.nextDouble() < 0.5) Some(20 + r.nextInt(41)) else None
    val hoursMin = if (r.nextDouble() < 0.4) Some(10 + r.nextInt(21)) else None
    val hoursRequired = r.nextBoolean()
    val activeIsBool = r.nextDouble() < 0.8
    val joinedRequired = r.nextBoolean()
    val resolution = Seq("first", "last", "exclude_all")(r.nextInt(3))
    val mode = if (r.nextDouble() < 0.35) "stop" else "skip"
    val composite = r.nextInt(7) match {
      case 0 => Nil
      case 1 => Seq(Seq("id"))
      case 2 => Seq(Seq("id", "grp"))
      case 3 => Seq(Seq("grp"))
      case 4 => Seq(Seq("id"), Seq("grp"))
      // ≥3-key frame: ROW(id, grp, code) composite
      case 5 => Seq(Seq("id", "grp", "code"))
      // OVERLAPPING capture frames: the reference folds these
      // sequentially (main.py:106-153) — each DELETE shrinks the
      // stage table the next key sees, and the captured duplicate
      // frames overlap on shared columns; the engine must replay the
      // same fold over immutable DataFrame splits
      case _ => Seq(Seq("id", "grp"), Seq("grp", "code"), Seq("id", "grp", "code"))
    }
    // settings-DEFAULTS shape: when nothing besides the two mandatory
    // keys is needed (no composite; `first` makes the compat knob a
    // no-op), sometimes emit ONLY those two — exercising the default
    // parse path (unique_composite [] / compat default) live
    val minimalSettings =
      composite.isEmpty && resolution == "first" && r.nextDouble() < 0.5
    val customRule = r.nextDouble() < 0.6
    val minAge = 10 + r.nextInt(51)
    // alias dial (main.py:223-232 substring-replace path; the engine
    // applies the same renames structurally): 0–2 sources drawn from
    // the projected columns with fz_-prefixed targets — non-recurring
    // by construction, since no column name is a substring of another
    // and a target fz_X can only contain its own source X (the
    // recurring-name divergence is documented out of fuzz scope) —
    // plus two edge shapes: a schema-valid source ABSENT from the
    // projection (the replace/rename is a no-op in both engines) and
    // a source not in the schema at all (both engines skip the whole
    // projection, main.py:287-291)
    val aliasSafe = Seq("name", "email", "code", "score", "hours", "note")
    val nAlias = { val p = r.nextDouble(); if (p < 0.45) 0 else if (p < 0.8) 1 else 2 }
    val aliasShape =
      if (nAlias == 0) "none"
      else { val p = r.nextDouble(); if (p < 0.15) "absent" else if (p < 0.3) "bogus" else "normal" }
    val aliasSources = r.shuffle(aliasSafe).take(nAlias)

    // rows: 30, with seeded corruption; `active` keeps one non-bool
    // token when declared str (see scope note above)
    val rows = Seq.newBuilder[String]
    var ids = Vector.empty[Int]
    val forceMaybeAt = if (!activeIsBool) r.nextInt(30) else -1
    for (i <- 1 to 30) {
      val id =
        if (ids.nonEmpty && r.nextDouble() < 0.2) ids(r.nextInt(ids.length))
        else i
      ids :+= id
      val grp = 1 + r.nextInt(3)
      val name = if (corrupt(0.1)) "" else s"Name$i"
      val email = if (corrupt(0.1)) "bad-email" else s"u$i@ex.com"
      val code =
        if (corrupt(0.15)) (if (r.nextBoolean()) "ab" else "ABC") else Seq("AB", "XY")(r.nextInt(2))
      val score = f"${r.nextDouble() * 100}%.1f"
      val hours = if (corrupt(0.07)) "forty" else (5 + r.nextInt(40)).toString
      val active =
        if (i - 1 == forceMaybeAt || corrupt(0.07)) "maybe"
        else if (r.nextBoolean()) "true" else "false"
      val joined =
        if (corrupt(0.08)) "99-99-9999"
        else f"${1950 + r.nextInt(76)}%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
      rows += Seq(id, grp, name, email, code, score, hours, active, joined, s"n$i")
        .mkString(",")
    }
    val csv = "id,grp,name,email,code,score,hours,active,joined_on,note\n" +
      rows.result().mkString("\n") + "\n"

    def fld(extra: String) = "{\"type\": \"str\"" + extra + "}"
    val fields = Seq(
      "id" -> "{\"type\": \"int\", \"required\": true}",
      "grp" -> "{\"type\": \"int\", \"required\": true}",
      "name" -> fld(", \"required\": true"),
      "email" -> fld(
        (if (emailRequired) ", \"required\": true" else "") +
          (if (emailPattern)
            ", \"pattern\": \"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\\\.[a-zA-Z]{2,}$\""
          else "")),
      "code" -> fld(if (codePattern) ", \"pattern\": \"^[A-Z]{2}$\"" else ""),
      "score" -> ("{\"type\": \"float\"" +
        scoreMin.map(m => s""", "min": $m""").getOrElse("") + "}"),
      "hours" -> ("{\"type\": \"int\"" +
        (if (hoursRequired) ", \"required\": true" else "") +
        hoursMin.map(m => s""", "min": $m""").getOrElse("") + "}"),
      "active" -> (if (activeIsBool) "{\"type\": \"bool\"}" else "{\"type\": \"str\"}"),
      "joined_on" -> fld(
        (if (joinedRequired) ", \"required\": true" else "") +
          ", \"pattern\": \"^\\\\d{4}-\\\\d{2}-\\\\d{2}$\""),
      "note" -> fld(""))

    val all = Seq("id", "grp", "name", "email", "code", "score", "hours", "active",
      "joined_on", "note")
    def projCols(mustHave: Seq[String]): Seq[String] = {
      val extra = r.shuffle(all.filterNot(mustHave.contains)).take(2 + r.nextInt(3))
      all.filter(c => mustHave.contains(c) || extra.contains(c)) // stable order
    }
    val aCols = projCols(
      Seq("id") ++ (if (aliasShape == "normal") aliasSources else Nil))
    val bCols = projCols(Seq("id"))
    val aliasPairs: Seq[(String, String)] = aliasShape match {
      case "normal" => aliasSources.map(c => c -> s"fz_$c")
      case "absent" =>
        val cand = aliasSafe.filterNot(aCols.contains)
        if (cand.isEmpty) aliasSources.take(1).map(c => c -> s"fz_$c")
        else Seq(cand(r.nextInt(cand.length)) -> "fz_ghostly")
      case "bogus" => Seq("zz_ghost" -> "fz_ghost")
      case _ => Nil
    }

    val sb = new StringBuilder
    sb ++= "transformations_config:\n  fuzz:\n"
    sb ++= "    source: \"__INPUT__\"\n"
    sb ++= "    settings:\n"
    sb ++= s"""      duplicate_resolution: "$resolution"\n"""
    sb ++= s"""      custom_validation_mode: "$mode"\n"""
    if (!minimalSettings) {
      sb ++= "      duplicate_resolution_compat: \"reference\"\n"
      if (composite.nonEmpty) {
        sb ++= "      unique_composite:\n"
        for (k <- composite)
          sb ++= s"""        - [${k.map("\"" + _ + "\"").mkString(", ")}]\n"""
      }
    }
    sb ++= "    projections:\n"
    sb ++= "      - name: proj_a\n        type: \"table\"\n"
    sb ++= s"""        query: |\n          SELECT ${aCols.mkString(", ")} FROM fuzz\n"""
    if (aliasPairs.nonEmpty) {
      sb ++= "        aliases:\n"
      for ((o, a) <- aliasPairs) sb ++= s"          $o: $a\n"
    }
    sb ++= "      - name: proj_b\n        type: \"view\"\n"
    sb ++= s"""        query: |\n          SELECT ${bCols.mkString(", ")} FROM fuzz\n"""
    sb ++= "    validations:\n      schema:\n        fields:\n"
    for ((n, spec) <- fields) sb ++= s"          $n: $spec\n"
    if (customRule) {
      sb ++= "      custom:\n        rules:\n"
      sb ++= "          - field: joined_on\n            validation: \"age_gte\"\n"
      sb ++= s"            params:\n              min_age: $minAge\n"
    }
    Case(sb.toString,
      csv,
      s"seed=$seed res=$resolution mode=$mode keys=${composite.map(_.mkString("+")).mkString("/")} " +
        s"rule=${if (customRule) minAge else "-"} clean=$cleanSchema min=$minimalSettings " +
        s"alias=$aliasShape:${aliasPairs.map(_._1).mkString("+")}")
  }

  // ---- runners / comparators -------------------------------------

  private def runReference(cfg: String, outDir: String): (Int, String, String) = {
    val out = new StringBuilder
    val err = new StringBuilder
    val logger = ProcessLogger(
      l => { out.append(l).append('\n'); () },
      l => { err.append(l).append('\n'); () })
    val code = Process(
      Seq("python3", refMain, "fuzz", "--config", cfg, "--output_dir", outDir),
      new java.io.File(System.getProperty("java.io.tmpdir"))).!(logger)
    (code, out.toString, err.toString)
  }

  private def normBools(text: String): String =
    text.replaceAll("\\bTrue\\b", "true").replaceAll("\\bFalse\\b", "false")

  private def listCsvs(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .toSeq.map(_.getName).filter(_.endsWith(".csv")).sorted

  /** row-id -> failing-field set from a schema-error CSV. */
  private def flaggedFields(path: String): Map[String, Set[String]] = {
    val df = spark.read.options(graft.ingest.CsvIngest.Dialect).csv(path)
    df.select("row", "errors").collect().iterator.map { r =>
      r.getString(0) -> Option(r.getString(1)).getOrElse("")
        .split("; ").iterator.map(_.takeWhile(_ != ':').trim).filter(_.nonEmpty).toSet
    }.toMap
  }

  /** One seed end-to-end; returns mismatch descriptions (empty = parity). */
  private def runCase(seed: Int): Seq[String] = {
    val c = gen(seed)
    val dir = tmpDir(s"fuzz$seed")
    Files.writeString(Paths.get(s"$dir/input.csv"), c.csv)
    val cfgPath = s"$dir/config.yaml"
    Files.writeString(Paths.get(cfgPath), c.config.replace("__INPUT__", s"$dir/input.csv"))

    val (code, refOut, refErr) = runReference(cfgPath, s"$dir/ref")
    val issues = Seq.newBuilder[String]
    def flag(msg: String): Unit = { issues += s"[${c.desc}] $msg"; () }
    if (code != 0) return Seq(s"[${c.desc}] reference exited $code:\n$refOut\n$refErr")

    var engineStop = false
    try {
      val res = Pipeline.run(spark, PipelineConfig.load(cfgPath), "fuzz", s"$dir/graft", asOf)
      res.unpersist()
    } catch { case _: ValidationStopException => engineStop = true }

    val refStop = refOut.contains("Validation Error:")
    if (refStop != engineStop)
      flag(s"custom-stop diverges: reference=$refStop engine=$engineStop")

    val refExports = listCsvs(s"$dir/ref/exports")
    val gotExports = listCsvs(s"$dir/graft/exports")
    if (refExports != gotExports)
      flag(s"export file sets diverge: ref=$refExports graft=$gotExports")
    else for (f <- refExports) {
      val ref = normBools(Files.readString(Paths.get(s"$dir/ref/exports/$f")))
      val got = Files.readString(Paths.get(s"$dir/graft/exports/$f"))
      if (ref != got) flag(s"exports/$f diverges:\n--- reference\n$ref\n--- graft\n$got")
    }

    val refErrs = listCsvs(s"$dir/ref/errors")
    val gotErrs = listCsvs(s"$dir/graft/errors")
    if (refErrs != gotErrs)
      flag(s"error file sets diverge: ref=$refErrs graft=$gotErrs")
    else for (f <- refErrs) {
      if (f.contains("schema_validation")) {
        val ref = flaggedFields(s"$dir/ref/errors/$f")
        val got = flaggedFields(s"$dir/graft/errors/$f")
        if (ref != got)
          flag(s"errors/$f flagged sets diverge:\n  ref=$ref\n  graft=$got")
      } else {
        val ref = normBools(Files.readString(Paths.get(s"$dir/ref/errors/$f"))).linesIterator.toSeq
        val got = Files.readString(Paths.get(s"$dir/graft/errors/$f")).linesIterator.toSeq
        if (ref.headOption != got.headOption)
          flag(s"errors/$f header diverges: ref=${ref.headOption} graft=${got.headOption}")
        else if (ref.tail.sorted != got.tail.sorted)
          flag(s"errors/$f rows diverge:\n  ref=${ref.tail.sorted.mkString("|")}\n  graft=${got.tail.sorted.mkString("|")}")
      }
    }
    issues.result()
  }

  test(s"$Seeds randomized configs x mutated inputs match the live reference end-to-end") {
    assume(referenceRunnable, "reference checkout or driver python stack unavailable")
    val failures = (0 until Seeds).flatMap(runCase)
    assert(failures.isEmpty,
      s"${failures.size} divergences:\n" + failures.mkString("\n"))
  }

  test("settings-less entity fails identically in both engines (live validate_config parity)") {
    assume(referenceRunnable, "reference checkout or driver python stack unavailable")
    val dir = tmpDir("fuzz_settingsless")
    Files.writeString(Paths.get(s"$dir/input.csv"), "id,name\n1,A\n")
    val cfg =
      s"""transformations_config:
         |  fuzz:
         |    source: "$dir/input.csv"
         |    projections: []
         |    validations:
         |      schema:
         |        fields:
         |          id: {"type": "int", "required": true}
         |""".stripMargin
    val cfgPath = s"$dir/config.yaml"
    Files.writeString(Paths.get(cfgPath), cfg)
    // reference: validate_config raises KeyError before any work
    val (code, out, err) = runReference(cfgPath, s"$dir/ref")
    assert(code != 0, s"reference accepted a settings-less entity:\n$out")
    assert((out + err).contains("Missing required configuration 'settings'"),
      s"reference failed for a different reason:\n$out\n$err")
    // engine: same gate, same flow (error before any Spark job)
    val ex = intercept[NoSuchElementException](
      PipelineConfig.load(cfgPath).entity("fuzz"))
    assert(ex.getMessage.contains("settings"))
  }
}
