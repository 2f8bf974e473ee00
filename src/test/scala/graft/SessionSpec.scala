package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The session factory's contract: the suite's session is built by
  * [[Session]], so its confs are the ones every entry point runs under.
  */
class SessionSpec extends SparkSpec {
  import SessionSpec.Member


  test("the factory's session carries every contract conf") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.defaultParallelism == 4)
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  /** The `src/main` sources containing any of `needles`, relative and sorted. */
  private def mainSourcesContaining(needles: String*): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter { p => val src = Files.readString(p); needles.exists(src.contains) }
      .map(root.relativize(_).toString).toSeq.sorted
  }

  test("graft.Session holds the only session builder in src/main") {
    assert(mainSourcesContaining("SparkSession.builder") == Seq("graft/Session.scala"))
  }

  // Pipeline's held frames and a table projection's CTAS are the only
  // caches: every other operator reuses an intermediate through
  // localCheckpoint, whose blocks are freed with the frame
  test("Pipeline and Projections are the only code in src/main that persists") {
    assert(mainSourcesContaining(".persist(", ".cache()") ==
      Seq("graft/pipeline/Pipeline.scala", "graft/project/Projections.scala"))
  }

  /** `src` with comments removed and string and char literals blanked;
    * the code inside an interpolated string's `${...}` and its `$name`
    * references are kept.
    */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def code(inSplice: Boolean): Unit = {
      var depth = 0
      while (i < src.length) {
        val c = src(i)
        if (src.startsWith("//", i)) while (i < src.length && src(i) != '\n') i += 1
        else if (src.startsWith("/*", i)) {
          var open = 0
          while ({
            if (src.startsWith("/*", i)) { open += 1; i += 2 }
            else if (src.startsWith("*/", i)) { open -= 1; i += 2 }
            else i += 1
            open > 0 && i < src.length
          }) ()
          out += ' '
        } else if (c == '"') literal(i > 0 && Character.isJavaIdentifierPart(src(i - 1)))
        else if (c == '\'' && src.startsWith("\\", i + 1)) { i = src.indexOf('\'', i + 3) + 1; out ++= "' '" }
        else if (c == '\'' && i + 2 < src.length && src(i + 2) == '\'') { i += 3; out ++= "' '" }
        else if (inSplice && c == '}' && depth == 0) return
        else {
          if (c == '{') depth += 1 else if (c == '}') depth -= 1
          out += c; i += 1
        }
      }
    }
    def literal(interpolated: Boolean): Unit = {
      val quote = if (src.startsWith("\"\"\"", i)) "\"\"\"" else "\""
      out ++= quote; i += quote.length
      while (i < src.length && !src.startsWith(quote, i)) {
        if (quote == "\"" && src(i) == '\\') i += 2
        else if (interpolated && src.startsWith("${", i)) { out += ' '; i += 2; code(inSplice = true); i += 1 }
        else if (interpolated && src(i) == '$' && i + 1 < src.length && Character.isJavaIdentifierStart(src(i + 1))) {
          out += ' '; i += 1
          while (i < src.length && Character.isJavaIdentifierPart(src(i))) { out += src(i); i += 1 }
          out += ' '
        } else i += 1
      }
      out ++= quote; i += quote.length
    }
    code(inSplice = false)
    out.toString
  }

  private val MemberStart = ("""^\s*(?:@\w+\s+)*((?:(?:private|protected)(?:\[\w+\])?\s+|""" +
    """(?:final|override|implicit|lazy|sealed|abstract|case)\s+)*)""" +
    """(def|val|var|class|object|trait|type|import)\b\s*([^\s(\[:=]*)""").r

  /** The members of each top-level template in `code` (a [[codeOnly]]
    * source): every line at brace depth 1 that starts a definition,
    * spanning to the next such line or the template's closing brace.
    */
  private def members(file: String, code: String): Seq[Member] = {
    val starts = Seq.newBuilder[(Int, String, String, String, String)] // pos, owner, mods, kind, name
    val closes = Seq.newBuilder[Int]
    val Template = """(?:object|class|trait)\s+(\w+)""".r
    var owner = ""
    var depth = 0
    var lineStart = true
    var i = 0
    while (i < code.length) {
      val c = code(i)
      if (lineStart && depth == 1 && !c.isWhitespace) {
        val line = code.substring(i, code.indexOf('\n', i) match { case -1 => code.length; case e => e })
        MemberStart.findPrefixMatchOf(line)
          .foreach(m => starts += ((i, owner, m.group(1), m.group(2), m.group(3))))
      }
      if (!c.isWhitespace) lineStart = false
      if (c == '\n') lineStart = true
      else if (c == '{') {
        if (depth == 0) Template.findAllMatchIn(code.substring(0, i)).toSeq.lastOption.foreach(m => owner = m.group(1))
        depth += 1
      } else if (c == '}') { depth -= 1; if (depth == 0) closes += i }
      i += 1
    }
    val ss = starts.result()
    val ends = ss.map(_._1).drop(1).map(Some(_)) :+ None
    ss.zip(ends).collect { case ((pos, owner, mods, "def", name), next) =>
      val close = closes.result().find(_ > pos).getOrElse(code.length)
      Member(file, owner, name, pos, next.filter(_ < close).getOrElse(close), mods)
    }
  }

  /** Member defs of `src/main` and `perfbench/scala` whose name occurs
    * only inside defs that are themselves uncalled (or inside a def of
    * that name): the fixpoint, so a def reached only from dead code is
    * dead too.
    */
  private def uncalledDefs(): Seq[Member] = {
    val roots = Seq(Paths.get("src/main/scala"), Paths.get("perfbench/scala"))
    roots.foreach(r => assert(Files.isDirectory(r), s"run from the project root: ${r.toAbsolutePath}"))
    val code = roots.flatMap(r => Files.walk(r).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> codeOnly(Files.readString(p)))).toMap
    val byFile = code.map { case (f, c) => f -> members(f, c) }
    val all = byFile.values.flatten.toSeq
    val uses: Map[String, Seq[(String, Int)]] = code.toSeq.flatMap { case (f, c) =>
      """[A-Za-z_][A-Za-z0-9_]*""".r.findAllMatchIn(c).map(m => (m.matched, (f, m.start)))
    }.groupMap(_._1)(_._2)
    var dead = Set.empty[Member]
    var changed = true
    while (changed) {
      val more = all.filterNot(m => m.root || dead(m)).filter { d =>
        uses.getOrElse(d.name, Nil).forall { case (f, p) =>
          byFile(f).exists(m => m.start <= p && p < m.end && (dead(m) || m.name == d.name))
        }
      }
      dead ++= more
      changed = more.nonEmpty
    }
    all.filter(dead).sortBy(m => (m.file, m.start))
  }

  // an operator only its own spec reaches is not part of the product:
  // delete it or give it a caller; the parity witnesses stay, because
  // specs compare the native expressions against them
  test("every public def in graft.operators, graft.streaming and graft.sinks has a caller") {
    val parityWitnesses = Set("TextFunctions.minhashSignature", "TextFunctions.simhash60",
      "Similarity.cosine", "Similarity.lshBucket", "Clustering.sqDist", "Curation.cdcChunksComposed")
    val packages = Seq("graft/operators/", "graft/streaming/", "graft/sinks/")
    val uncalled = uncalledDefs()
      .filter(m => m.public && packages.exists(m.file.contains))
      .map(m => s"${m.owner}.${m.name}")
      .filterNot(parityWitnesses)
    assert(uncalled.isEmpty, s"public defs without a caller in src/main or perfbench/scala: $uncalled")
  }
}

object SessionSpec {
  final case class Member(file: String, owner: String, name: String,
      start: Int, end: Int, mods: String) {
    def public: Boolean = !Seq("private", "protected", "override", "implicit").exists(mods.contains)
    // called by the JVM, by Spark or by Scala's desugaring, not by name
    def root: Boolean = mods.contains("override") || Set("main", "apply", "unapply")(name)
  }
}
