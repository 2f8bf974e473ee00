package graft.config

import org.yaml.snakeyaml.Yaml
import scala.jdk.CollectionConverters._

/** Typed pipeline spec, parsed from the reference's YAML shape
  * (reference config.yaml:1-84). Structural validation replicates
  * validate_config (reference main.py:15-33): same required keys,
  * same error classes, so negative-path behavior is identical.
  */
final case class FieldSpec(
    name: String,
    typeName: String = "str", // int | str | float | bool (main.py:41 universe)
    required: Boolean = false,
    pattern: Option[String] = None,
    min: Option[Double] = None,
    default: Option[Any] = None)

final case class ProjectionSpec(
    name: String,
    projType: String, // "view" | "table"
    query: String,
    aliases: Map[String, String] = Map.empty)

final case class RuleSpec(
    field: String,
    validation: String,
    params: Map[String, Any] = Map.empty)

final case class Settings(
    duplicateResolution: String, // first | last | exclude_all
    customValidationMode: String, // stop | skip
    uniqueComposite: Seq[Seq[String]] = Seq.empty,
    /** `file_aware`: accepted and ignored, since every read mints ids in
      * (file, position) order (see CsvIngest). Kept only so configs that
      * set the key, and `perfbench.Driver`, which reads this field, stay
      * valid. */
    @deprecated("ignored: every read mints ids in (file, position) order", "0.1.0")
    fileAware: Boolean = false,
    /** `duplicate_resolution_compat` — which `last` semantics to run:
      *   - "documented" (default): keep the FINAL occurrence, per the
      *     reference's readme.md:92-94;
      *   - "reference": keep the first occurrence — the behavior the
      *     reference EXECUTES (its rn>1 window orders by ROWID
      *     ascending regardless of resolution, main.py:131-152), for
      *     byte-compatible migrations of real configs.
      * `first`/`exclude_all` are identical under both modes. */
    duplicateResolutionCompat: String = "documented") {
  require(Seq("documented", "reference").contains(duplicateResolutionCompat),
    s"unknown duplicate_resolution_compat '$duplicateResolutionCompat' " +
      "(expected 'documented' or 'reference')")

  /** The resolution Dedup actually runs after applying the compat mode. */
  def effectiveResolution: String =
    if (duplicateResolutionCompat == "reference" && duplicateResolution == "last") "first"
    else duplicateResolution
}

final case class EntitySpec(
    name: String,
    source: String,
    settings: Settings,
    fields: Seq[FieldSpec],
    rules: Seq[RuleSpec],
    projections: Seq[ProjectionSpec],
    /** source format: csv (reference parity) | json | parquet */
    format: String = "csv",
    /** projection export format: csv (reference parity) | json | parquet */
    exportFormat: String = "csv")

final case class PipelineConfig(entities: Map[String, Any]) {

  /** validate_config parity (main.py:15-33): raises NoSuchElementException
    * (Scala's KeyError) naming the missing key.
    */
  def entity(name: String): EntitySpec = {
    val details = entities.getOrElse(name,
      throw new NoSuchElementException(s"Error: Entity '$name' not found in the configuration."))
      .asInstanceOf[Map[String, Any]]
    for (key <- Seq("source", "settings", "validations"))
      if (!details.contains(key))
        throw new NoSuchElementException(
          s"Missing required configuration '$key' for entity '$name'.")
    val settingsMap = asMap(details("settings"))
    for (key <- Seq("duplicate_resolution", "custom_validation_mode"))
      if (!settingsMap.contains(key))
        throw new NoSuchElementException(s"Missing '$key' in settings for entity '$name'.")

    val validations = asMap(details("validations"))
    val schemaFields = validations.get("schema").map(asMap).flatMap(_.get("fields")).map(asMap)
      .getOrElse(Map.empty)
    val fields = schemaFields.toSeq.map { case (fname, raw) =>
      val rules = asMap(raw)
      FieldSpec(
        name = fname,
        typeName = rules.get("type").map(_.toString).getOrElse("str"),
        required = rules.get("required").exists(_.asInstanceOf[Boolean]),
        pattern = rules.get("pattern").map(_.toString),
        min = rules.get("min").map(v => v.toString.toDouble),
        default = rules.get("default"))
    }
    val customRules = validations.get("custom").map(asMap).flatMap(_.get("rules"))
      .map(_.asInstanceOf[Seq[Any]]).getOrElse(Seq.empty)
      .map { raw =>
        val m = asMap(raw)
        RuleSpec(
          field = m("field").toString,
          validation = m("validation").toString,
          params = m.get("params").map(asMap).getOrElse(Map.empty))
      }
    val projections = details.get("projections").map(_.asInstanceOf[Seq[Any]])
      .getOrElse(Seq.empty)
      .map { raw =>
        val m = asMap(raw)
        ProjectionSpec(
          name = m("name").toString,
          projType = m.get("type").map(_.toString).getOrElse(""),
          query = m.get("query").map(_.toString).getOrElse(""),
          aliases = m.get("aliases").map(asMap).getOrElse(Map.empty)
            .map { case (k, v) => k -> v.toString })
      }
    EntitySpec(
      name = name,
      source = details("source").toString,
      settings = Settings(
        duplicateResolution = settingsMap.get("duplicate_resolution").map(_.toString).getOrElse("first"),
        customValidationMode = settingsMap.get("custom_validation_mode").map(_.toString).getOrElse("stop"),
        uniqueComposite = settingsMap.get("unique_composite")
          .map(_.asInstanceOf[Seq[Any]].map(_.asInstanceOf[Seq[Any]].map(_.toString)))
          .getOrElse(Seq.empty),
        fileAware = settingsMap.get("file_aware").exists(_.toString.toBoolean),
        duplicateResolutionCompat = settingsMap.get("duplicate_resolution_compat")
          .map(_.toString).getOrElse("documented")),
      fields = fields,
      rules = customRules,
      projections = projections,
      format = details.get("format").map(_.toString).getOrElse("csv"),
      exportFormat = details.get("export_format").map(_.toString).getOrElse("csv"))
  }

  private def asMap(v: Any): Map[String, Any] = v.asInstanceOf[Map[String, Any]]
}

object PipelineConfig {

  /** load_config parity (main.py:10-13). */
  def load(path: String): PipelineConfig = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    fromYaml(text)
  }

  def fromYaml(text: String): PipelineConfig = {
    val root = toScala(new Yaml().load[Any](text)).asInstanceOf[Map[String, Any]]
    val transformations = root.getOrElse("transformations_config", Map.empty[String, Any])
      .asInstanceOf[Map[String, Any]]
    PipelineConfig(transformations)
  }

  /** Recursively convert snakeyaml's java collections to immutable
    * Scala, preserving YAML insertion order (ListMap): field
    * declaration order is semantic — it fixes the streaming source's
    * positional schema and the per-field error message order.
    */
  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      scala.collection.immutable.ListMap(
        m.asScala.toSeq.map { case (k, value) => k.toString -> toScala(value) }: _*)
    case l: java.util.List[_] => l.asScala.map(toScala).toSeq
    case other => other
  }
}
