package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.config.PipelineConfig
import graft.dedup.Dedup
import graft.ingest.CsvIngest
import graft.pipeline.Pipeline
import graft.project.Projections
import graft.rules.CustomRules
import graft.sinks.Sinks
import graft.validate.SchemaValidator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, LocalDate}
import scala.jdk.CollectionConverters._

/** One benchmark JVM: builds the session, loads the workload's config,
  * runs `Pipeline.run` ops in a closed loop, checks every op against the
  * answer key in `expected.json`, and writes `result.json`.
  *
  *   --work DIR  --cpus N  --seconds S  --trace 0|1
  *   --launched EPOCH_SECONDS (taken by the parent just before exec)
  */
object Driver {
  val json = new ObjectMapper()

  final case class Entity(name: String, inputRows: Long, key: JsonNode)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val cpus = opt("cpus").toInt
    val expected = json.readTree(Paths.get(work, "expected.json").toFile)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val c0 = System.nanoTime()
    val config = PipelineConfig.load(expected.get("config").asText)
    val entities = expected.get("entities").asScala.toSeq.map { e =>
      config.entity(e.get("name").asText) // config errors surface here, in set-up
      Entity(e.get("name").asText, e.get("input_rows").asLong, e)
    }
    val configS = (System.nanoTime() - c0) / 1e9
    val ready = Instant.now()
    val out = json.createObjectNode()
    out.put("setup_s", ready.getEpochSecond + ready.getNano / 1e9 - opt("launched").toDouble)
    try {
      val run = new Run(spark, config, entities, LocalDate.parse(expected.get("as_of").asText),
        s"$work/out", cpus)
      if (opt("trace") == "1") run.traced(opt("seconds").toDouble, configS, out)
      else run.untraced(opt("seconds").toDouble, out)
      out.put("attempted", run.attempted)
      out.put("failed", run.failed)
      out.put("peak_rss_mb", peakRssMb())
    } finally spark.stop()
    json.writeValue(Paths.get(work, "result.json").toFile, out)
  }

  /** VmHWM of this process, in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** The ops of one workload and their checks. */
final class Run(spark: SparkSession, config: PipelineConfig, entities: Seq[Driver.Entity],
    asOf: LocalDate, outRoot: String, cpus: Int) {
  import Driver.{json, median}
  var attempted = 0
  var failed = 0

  /** When set, the primary entity's `Pipeline.run` calls are traced. */
  private var tracer: Option[Tracer] = None

  private def outDir(e: Driver.Entity) = s"$outRoot/${e.name}"

  /** One `Pipeline.run` on a clean output directory; returns its wall
    * time. The check runs after the clock stops.
    */
  def op(e: Driver.Entity): Double = {
    Files.createDirectories(Paths.get(outRoot))
    Check.clear(outDir(e))
    attempted += 1
    val t0 = System.nanoTime()
    try {
      def run() = Pipeline.run(spark, config, e.name, outDir(e), asOf)
      val r = tracer match {
        case Some(t) if e eq entities.head => t.span("pipeline") { val r = run(); (r, r.summary.totalRows) }
        case _ => run()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      if (!Check.outputs(e, Check.Counts(r.summary), outDir(e))) failed += 1
      r.unpersist()
      secs
    } catch {
      case t: Throwable =>
        System.err.println(s"[perfbench] ${e.name} op failed: $t")
        failed += 1
        (System.nanoTime() - t0) / 1e9
    }
  }

  /** Runs `body` until `seconds` have passed and it ran at least
    * `minTimes`; returns what each run returned.
    */
  def repeat[T](seconds: Double, minTimes: Int)(body: => T): Seq[T] = {
    val t0 = System.nanoTime()
    val results = Seq.newBuilder[T]
    var n = 0
    while (n < minTimes || (System.nanoTime() - t0) / 1e9 < seconds) {
      results += body
      n += 1
    }
    results.result()
  }

  /** One warm round: one op per entity; returns the mean op time. */
  private def round(): Double = entities.map(op).sum / entities.size

  private def rowsPerOp: Double = entities.map(_.inputRows).sum.toDouble / entities.size

  def untraced(seconds: Double, out: ObjectNode): Unit = {
    out.put("first_op_s", op(entities.head))
    val warm = repeat(seconds, 2)(round())
    val p50 = median(warm)
    out.put("op_p50_s", p50)
    out.put("rows_per_s", rowsPerOp / p50)
    warm.foreach(out.withArray("warm_round_s").add(_))
  }

  /** The traced run: pairs of warm rounds, one untraced and one traced,
    * where the listeners are on and each `Pipeline.run` of the primary
    * entity runs under one job tag; then the layer-by-layer replica of
    * the primary entity's pipeline.
    */
  def traced(seconds: Double, configS: Double, out: ObjectNode): Unit = {
    val layers = json.createObjectNode()
    out.set[ObjectNode]("per_layer", layers)
    layers.put("config.wall_s", configS)
    op(entities.head)
    val tracer = new Tracer(spark)
    def tracedRound() = {
      tracer.attach()
      this.tracer = Some(tracer)
      try round() finally { this.tracer = None; tracer.detach() }
    }
    var n = 0
    val pairs = repeat(seconds * 2 / 3, 2) {
      n += 1
      // op times still fall from round to round: take turns going first
      if (n % 2 == 1) { val p = round(); (p, tracedRound()) }
      else { val t = tracedRound(); (round(), t) }
    }
    val (plainP50, tracedP50) = (median(pairs.map(_._1)), median(pairs.map(_._2)))
    layers.put("trace.overhead_s", tracedP50 - plainP50)
    layers.put("trace.overhead_frac", tracedP50 / plainP50 - 1)
    val pipeline = tracer.spans.filter(_.name == "pipeline").toSeq
    putSpanStats(layers, tracer, "pipeline")
    layers.put("pipeline.cpu_util",
      median(pipeline.map(s => s.stats.cpuNs / 1e9 / (s.wallS * cpus))))
    def med(f: JobStats => Double) = median(pipeline.map(s => f(s.stats)))
    layers.put("plan.analysis_s", med(_.phaseMs("analysis") / 1e3))
    layers.put("plan.optimization_s", med(_.phaseMs("optimization") / 1e3))
    layers.put("plan.planning_s", med(_.phaseMs("planning") / 1e3))
    layers.put("sched.stages", med(_.stages.toDouble))
    layers.put("sched.delay_s", med(_.delayMs / 1e3))
    layers.put("exec.run_s", med(_.runMs / 1e3))
    layers.put("shuffle.read_bytes", med(_.shuffleRead.toDouble))

    tracer.attach()
    layers.put("sinks.bytes_written", layered(tracer, entities.head).toDouble)
    tracer.detach()
    Layered.Names.foreach(putSpanStats(layers, tracer, _))
    out.set[JsonNode]("spans", tracer.toJson)
  }

  /** Medians over the spans named `name` of their wall time, rows out
    * and inclusive job stats; self time too where they have children.
    */
  private def putSpanStats(o: ObjectNode, tracer: Tracer, name: String): Unit = {
    val spans = tracer.spans.filter(_.name == name).toSeq
    val stats = spans.map(tracer.inclusive)
    def med(f: JobStats => Double) = median(stats.map(f))
    o.put(s"$name.wall_s", median(spans.map(_.wallS)))
    if (spans.exists(s => tracer.spans.exists(_.parentTag.contains(s.tag))))
      o.put(s"$name.self_s", median(spans.map(tracer.selfS)))
    o.put(s"$name.rows_out", median(spans.map(_.rowsOut.toDouble)))
    o.put(s"$name.jobs", med(_.jobs.toDouble))
    o.put(s"$name.tasks", med(_.tasks.toDouble))
    o.put(s"$name.exec_cpu_s", med(_.cpuNs / 1e9))
    o.put(s"$name.gc_s", med(_.gcMs / 1e3))
    o.put(s"$name.shuffle_write_bytes", med(_.shuffleWrite.toDouble))
    o.put(s"$name.spill_bytes", med(_.spill.toDouble))
  }

  /** `Pipeline.run`'s stages called one layer at a time, each in its own
    * span over inputs materialized before it starts. Checked like an op;
    * returns the bytes it wrote.
    */
  private def layered(tr: Tracer, e: Driver.Entity): Long = {
    val dir = outDir(e)
    Check.clear(dir)
    attempted += 1
    val spec = config.entity(e.name)
    val cached = Seq.newBuilder[DataFrame]
    def hold(df: DataFrame): DataFrame = { cached += df; df.persist(StorageLevel.MEMORY_AND_DISK) }
    try {
      val counts = tr.span("layers") {
        val input = tr.span("ingest") {
          val df = hold(CsvIngest.read(spark, spec, fileAware = spec.settings.fileAware))
          (df, df.count())
        }
        val (valid, errors, nValid, nErr) = tr.span("validate") {
          val vr = SchemaValidator.validate(input, spec.fields)
          val (v, er) = (hold(vr.valid), hold(vr.errors))
          val n = v.count()
          ((v, er, n, er.count()), n)
        }
        val (survivors, duplicates, nDup) = tr.span("dedup") {
          val d = Dedup(valid, spec.settings.uniqueComposite, spec.settings.effectiveResolution)
          d.cached.foreach(cached += _)
          val (surv, rem) = (hold(d.survivors), hold(d.removed))
          val n = surv.count()
          ((surv, rem, rem.count()), n)
        }
        val (rr, stage) = tr.span("rules") {
          val r = CustomRules.execute(survivors, spec.rules, spec.settings.customValidationMode, asOf)
          r.cached.foreach(cached += _)
          val st = hold(r.survivors)
          ((r, st), st.count())
        }
        val (ps, projectionRows) = tr.span("project") {
          val ps = Projections.run(spark, stage.orderBy(CsvIngest.RowId).drop(CsvIngest.RowId), spec)
          ps.foreach(p => cached += p.df)
          val rows = ps.map(p => p.spec.name -> p.df.count()).toMap
          ((ps, rows), rows.values.sum)
        }
        tr.span("sinks.errors") {
          Sinks.saveErrors(errors, "schema_validation", e.name, dir)
          if (nDup > 0) Sinks.saveErrors(duplicates, "duplicates", e.name, dir)
          rr.issues.foreach(i => Sinks.saveErrors(i.invalidRows, s"custom_${i.field}", e.name, dir))
          ((), nErr + nDup + rr.totalInvalidRows)
        }
        tr.span("sinks.export") {
          ps.foreach(p => Sinks.exportProjection(p.df, p.spec.name, dir, format = spec.exportFormat))
          ((), projectionRows.values.sum)
        }
        (Check.Counts(nValid + nErr, nValid, nErr, rr.totalInvalidRows, nDup, projectionRows),
          nValid + nErr)
      }
      if (!Check.outputs(e, counts, dir)) failed += 1
      Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum
    } catch {
      case t: Throwable =>
        System.err.println(s"[perfbench] ${e.name} layered op failed: $t")
        failed += 1
        0L
    } finally cached.result().foreach(_.unpersist())
  }
}

object Layered {
  val Names = Seq("layers", "ingest", "validate", "dedup", "rules", "project",
    "sinks.errors", "sinks.export")
}

/** Compares one op's summary and output files with the answer key. */
object Check {
  final case class Counts(total: Long, valid: Long, schemaErrors: Long, customInvalid: Long,
      duplicates: Long, projections: Map[String, Long])

  object Counts {
    def apply(s: Pipeline.PipelineSummary): Counts = Counts(s.totalRows, s.validRows,
      s.schemaErrorRows, s.customInvalidRows, s.duplicateRowsRemoved, s.projectionRows)
  }

  def clear(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete(_))
  }

  def outputs(e: Driver.Entity, got: Counts, dir: String): Boolean = {
    val s = e.key.get("summary")
    val want = Counts(s.get("total").asLong, s.get("valid").asLong, s.get("schema_errors").asLong,
      s.get("custom_invalid").asLong, s.get("duplicates").asLong,
      s.get("projections").fields().asScala.map(f => f.getKey -> f.getValue.asLong).toMap)
    val problems = Seq.newBuilder[String]
    if (got != want) problems += s"summary $got, expected $want"
    val files = e.key.get("files")
    val expectedFiles = files.fieldNames().asScala.toSet
    val written = Seq("exports", "errors").flatMap { sub =>
      Option(Paths.get(dir, sub).toFile.listFiles()).toSeq.flatten.map(f => s"$sub/${f.getName}")
    }.toSet
    if (written != expectedFiles) problems += s"files $written, expected $expectedFiles"
    for (rel <- expectedFiles & written)
      fileProblem(files.get(rel), Paths.get(dir, rel)).foreach(p => problems += s"$rel: $p")
    val all = problems.result()
    all.foreach(p => System.err.println(s"[perfbench] ${e.name} check failed: $p"))
    all.isEmpty
  }

  private def lines(p: Path): Seq[String] = Files.readAllLines(p).asScala.toSeq

  private def normBools(l: String) =
    l.replaceAll("\\bTrue\\b", "true").replaceAll("\\bFalse\\b", "false")

  private def fileProblem(spec: JsonNode, got: Path): Option[String] = {
    val body = lines(got)
    if (spec.has("golden")) {
      val ref = lines(Paths.get(spec.get("golden").asText)).map(normBools)
      spec.get("mode").asText match {
        case "exact" =>
          if (ref != body) Some("differs from the golden export") else None
        case "row_set" =>
          if (ref.head != body.head || ref.tail.sorted != body.tail.sorted)
            Some("row set differs from the golden error file") else None
        case "row_ids" =>
          def ids(ls: Seq[String]) = ls.tail.map(_.takeWhile(_ != ',')).sorted
          if (ids(ref) != ids(body)) Some("flagged rows differ from the golden error file") else None
      }
    } else {
      val rows = body.size - 1
      val want = spec.get("rows").asLong
      if (rows != want) Some(s"$rows rows, expected $want")
      else if (spec.has("first_col_sha256")) {
        val digest = java.security.MessageDigest.getInstance("SHA-256")
          .digest(body.tail.map(_.takeWhile(_ != ',')).mkString("\n").getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString
        if (digest != spec.get("first_col_sha256").asText) Some("first-column digest differs")
        else None
      } else None
    }
  }
}
