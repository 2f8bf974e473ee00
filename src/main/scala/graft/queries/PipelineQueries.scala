package graft.queries

import graft.{Q, Tables}
import graft.config.FieldSpec
import graft.dedup.Dedup
import graft.ingest.CsvIngest.RowId
import graft.rules.AgeGte
import graft.validate.SchemaValidator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.time.LocalDate

/** The importer's stages run over the driver's tables, so the oracle
  * certifies the operators the importer ships. `events` stands in for a
  * staged source: composite key (user_id, event_type), event_id as the
  * row id (the reference's ROWID, main.py:135).
  *
  * Covers SURVEY.md §2: dedup first/last/exclude_all and the duplicate
  * captures through [[graft.dedup.Dedup]] (main.py:97-159), schema
  * validation and default back-fill through
  * [[graft.validate.SchemaValidator]] (main.py:35-88, 58-63), the
  * age_gte rule through [[graft.rules.AgeGte]] (main.py:161-197), the
  * union of heterogeneous error captures (main.py:158), the dup-key
  * HAVING set (main.py:113-117), and the export and error sinks.
  */
object PipelineQueries {

  private val keyCols = Seq("user_id", "event_type")

  /** [[Dedup]] of `events` over one key set, event_id as its row id. */
  private def dedup(events: DataFrame, keys: Seq[String], resolution: String): Dedup.DedupResult =
    Dedup(events.withColumnRenamed("event_id", RowId), Seq(keys), resolution)

  /** A dedup split with its row id back under the name event_id. */
  private def byEventId(split: DataFrame): DataFrame = split.withColumnRenamed(RowId, "event_id")

  val all: Seq[Q] = Seq(
    // dedup keep-first: the survivors rank 1 over the key by event_id.
    Q.sql(
      "dedup_first",
      """SELECT event_id, user_id, event_type, value FROM (
        |  SELECT event_id, user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1
        |ORDER BY event_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      byEventId(dedup(Tables.events(s, d), keyCols, "first").survivors)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .orderBy($"event_id")
    },

    // dedup keep-last: documented `last` semantics (SURVEY §2.5 note) —
    // descending tie-break keeps the final occurrence in input order.
    Q.sql(
      "dedup_last",
      """SELECT event_id, user_id, event_type, value FROM (
        |  SELECT event_id, user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1
        |ORDER BY event_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      byEventId(dedup(Tables.events(s, d), keyCols, "last").survivors)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .orderBy($"event_id")
    },

    // dedup exclude_all: drop every member of any >1-count key group
    // (reference main.py:121-129). The key adds the event's UTC day:
    // every (user_id, event_type) repeats in the testdata, so without
    // it no row survives.
    Q.sql(
      "dedup_exclude_all",
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE (user_id, event_type, CAST(ts AS DATE)) NOT IN (
        |  SELECT (user_id, event_type, CAST(ts AS DATE)) FROM events
        |  GROUP BY user_id, event_type, CAST(ts AS DATE) HAVING count(*) > 1)
        |ORDER BY event_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d).withColumn("day", to_date($"ts"))
      byEventId(dedup(ev, keyCols :+ "day", "exclude_all").survivors)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .orderBy($"event_id")
    },

    // dup-key set (GROUP BY … HAVING count>1, main.py:113-117).
    Q.sql(
      "dup_keys_having",
      """SELECT user_id, event_type, count(*) AS cnt FROM events
        |GROUP BY user_id, event_type HAVING count(*) > 1
        |ORDER BY user_id, event_type""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("cnt"))
        .filter($"cnt" > 1)
        .orderBy($"user_id", $"event_type")
    },

    // all members of dup groups: exclude_all's capture (main.py:109-118).
    Q.sql(
      "dup_members_semi",
      """SELECT event_id, user_id, event_type FROM events
        |WHERE (user_id, event_type) IN (
        |  SELECT (user_id, event_type) FROM events
        |  GROUP BY user_id, event_type HAVING count(*) > 1)
        |ORDER BY event_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      byEventId(dedup(Tables.events(s, d), keyCols, "exclude_all").removed)
        .select($"event_id", $"user_id", $"event_type")
        .orderBy($"event_id")
    },

    // keep-first's capture (`rn > 1`, main.py:132-139), which keeps rn
    // like the reference's capture frame.
    Q.sql(
      "dedup_removed_capture",
      """SELECT event_id, user_id, event_type, rn FROM (
        |  SELECT event_id, user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
        |  FROM events) t
        |WHERE rn > 1
        |ORDER BY event_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      byEventId(dedup(Tables.events(s, d), keyCols, "first").removed)
        .select($"event_id", $"user_id", $"event_type", $"rn")
        .orderBy($"event_id")
    },

    // schema validation (main.py:68-78): the validator's error split,
    // its messages joined as the error file joins them. `value` is read
    // as a string, as the importer reads a typed source.
    Q.sql(
      "validate_errors",
      """SELECT event_id, errors FROM (
        |  SELECT event_id, concat_ws('; ',
        |    CASE WHEN event_type IS NULL THEN 'event_type: field required' END,
        |    CASE WHEN NOT regexp_matches(event_type, '^(click|view|purchase|signup)$')
        |         THEN 'event_type: string does not match pattern ''^(click|view|purchase|signup)$''' END,
        |    CASE WHEN value IS NULL THEN 'value: field required' END,
        |    CASE WHEN isnan(value) OR isinf(value) THEN 'value: value is not a valid number' END,
        |    CASE WHEN value < 1 THEN 'value: input should be greater than or equal to 1.0' END,
        |    CASE WHEN props IS NULL THEN 'props: field required' END,
        |    CASE WHEN NOT regexp_matches(props, '^\{.*\}$')
        |         THEN 'props: string does not match pattern ''^\{.*\}$''' END) AS errors
        |  FROM events) t
        |WHERE errors <> ''
        |ORDER BY event_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val fields = Seq(
        FieldSpec("event_type", required = true, pattern = Some("^(click|view|purchase|signup)$")),
        FieldSpec("value", "float", required = true, min = Some(1)),
        FieldSpec("props", required = true, pattern = Some("^\\{.*\\}$")))
      val events = Tables.events(s, d)
        .withColumnRenamed("event_id", RowId)
        .withColumn("value", $"value".cast("string"))
      SchemaValidator.validate(events, fields).errors
        .select($"row".as("event_id"), concat_ws("; ", $"errors").as("errors"))
        .orderBy($"event_id")
    },

    // the age_gte rule's failing rows (main.py:172-176) and their
    // completed years. DuckDB date_part('year', age(a,b)) == completed
    // years == AgeGte.completedYears.
    Q.sql(
      "age_gte_failures",
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate,
        |  CAST(date_part('year', age(DATE '2024-01-01', CAST(o_orderdate AS DATE))) AS BIGINT) AS yrs
        |FROM orders
        |WHERE date_part('year', age(DATE '2024-01-01', CAST(o_orderdate AS DATE))) < 28
        |ORDER BY o_orderkey""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val asOf = LocalDate.parse("2024-01-01")
      val odate = to_date($"o_orderdate")
      Tables.orders(s, d)
        .filter(AgeGte.failPredicate("o_orderdate", Map("min_age" -> 28), asOf))
        .select($"o_orderkey", odate.as("odate"),
          AgeGte.completedYears(lit(asOf.toString).cast("date"), odate).as("yrs"))
        .orderBy($"o_orderkey")
    },

    // default back-fill (generalizing main.py:58-63): nulls introduced,
    // then filled with the field's declared default.
    Q.sql(
      "fillna_defaults",
      """SELECT event_id, coalesce(nullif(event_type, 'error'), 'unknown') AS etype
        |FROM events
        |ORDER BY event_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val etype = Tables.events(s, d)
        .select($"event_id",
          when($"event_type" === "error", lit(null: String)).otherwise($"event_type").as("etype"))
      SchemaValidator.fillDefaults(etype, Seq(FieldSpec("etype", default = Some("unknown"))))
        .orderBy($"event_id")
    },

    // union of heterogeneous capture frames (main.py:158): keep-first
    // removals carry rn, exclude_all captures don't — unionByName with
    // allowMissingColumns, like the reference's pandas concat.
    Q.sql(
      "union_error_captures",
      """SELECT event_id, kind, rn FROM (
        |  SELECT event_id, 'removed_first' AS kind, rn FROM (
        |    SELECT event_id,
        |      row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
        |    FROM events) a WHERE rn > 1
        |  UNION ALL
        |  SELECT event_id, 'dup_member' AS kind, NULL AS rn FROM events
        |  WHERE (user_id, event_type) IN (
        |    SELECT (user_id, event_type) FROM events
        |    GROUP BY user_id, event_type HAVING count(*) > 1)) t
        |ORDER BY kind, event_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      val removedFirst = byEventId(dedup(ev, keyCols, "first").removed)
        .select($"event_id", lit("removed_first").as("kind"), $"rn")
      val dupMembers = byEventId(dedup(ev, keyCols, "exclude_all").removed)
        .select($"event_id", lit("dup_member").as("kind"))
      removedFirst.unionByName(dupMembers, allowMissingColumns = true)
        .orderBy($"kind", $"event_id")
    },

    // S7 export + S8 error sinks under the oracle: write a projection
    // CSV (with a synthesized comma+quote column so the writer's
    // quoting path is exercised) and an error CSV (array -> "; " join,
    // main.py:391) through the REAL sinks, re-read the files, and
    // certify row count + an order-independent content checksum
    // against DuckDB computing the same values straight from the
    // parquet. Any sink defect — dropped rows, mangled quoting, wrong
    // "; " join, header loss — breaks the hash. Checksumming is
    // inherently a full-read; the sorted-gather happens on ~file-sized
    // data (the exported CSV), and at cluster scale the identical
    // certification runs per exported shard.
    Q.sql(
      "export_roundtrip",
      """WITH exp AS (
        |  SELECT concat_ws('|', c_custkey, c_name, c_nationkey, c_mktsegment,
        |                   c_name || ',"' || c_mktsegment || '"') AS line
        |  FROM customer),
        |err AS (
        |  SELECT concat_ws('|', c_custkey, 'acctbal_negative; needs_review') AS line
        |  FROM customer WHERE c_acctbal < 0)
        |SELECT (SELECT count(*) FROM exp) AS export_rows,
        |       (SELECT md5(string_agg(line, '~' ORDER BY line)) FROM exp) AS export_md5,
        |       (SELECT count(*) FROM err) AS error_rows,
        |       (SELECT md5(string_agg(line, '~' ORDER BY line)) FROM err) AS error_md5""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_export_rt_")
      val out = tmp.toString
      try {
        val cust = Tables.customer(s, d)
        // quoted_note forces the CSV writer through quote+escape: the
        // value itself contains a comma and a double quote
        val proj = cust.select($"c_custkey", $"c_name", $"c_nationkey", $"c_mktsegment",
          concat($"c_name", lit(",\""), $"c_mktsegment", lit("\"")).as("quoted_note"))
        graft.sinks.Sinks.exportProjection(proj, "customer_rt", out)
        val errs = cust.filter($"c_acctbal" < 0)
          .select($"c_custkey".as("row"),
            array(lit("acctbal_negative"), lit("needs_review")).as("errors"))
        graft.sinks.Sinks.saveErrors(errs, "balance", "customer", out)

        val dialect = graft.ingest.CsvIngest.Dialect
        val expRead = s.read.options(dialect).csv(s"$out/exports/customer_rt.csv")
        val errRead = s.read.options(dialect).csv(s"$out/errors/customer_balance_errors.csv")
        val expLine = concat_ws("|",
          $"c_custkey", $"c_name", $"c_nationkey", $"c_mktsegment", $"quoted_note")
        val errLine = concat_ws("|", $"row", $"errors")
        val expAgg = expRead.agg(
          count(lit(1)).as("export_rows"),
          md5(concat_ws("~", array_sort(collect_list(expLine)))).as("export_md5"))
        val errAgg = errRead.agg(
          count(lit(1)).as("error_rows"),
          md5(concat_ws("~", array_sort(collect_list(errLine)))).as("error_md5"))
        // the reads are lazy: collect before the files go
        val agg = expAgg.crossJoin(errAgg)
        s.createDataFrame(java.util.Arrays.asList(agg.collect(): _*), agg.schema)
      } finally graft.sinks.Sinks.deleteTree(tmp)
    }
  )
}
