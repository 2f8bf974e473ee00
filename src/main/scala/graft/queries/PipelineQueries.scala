package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference pipeline's operators re-expressed over the driver's
  * `events` table (composite key (user_id, event_type), tie-break
  * event_id standing in for the reference's ROWID — main.py:135).
  *
  * Covers SURVEY.md §2: dedup first/last/exclude_all
  * (main.py:97-159), duplicate capture (main.py:109-139), dup-key
  * HAVING set (main.py:113-117), schema validation as vectorized
  * expressions (main.py:35-88), the age_gte custom rule
  * (main.py:161-197), default back-fill (main.py:58-63), and the
  * union of heterogeneous error captures (main.py:158).
  */
object PipelineQueries {

  // The reference orders duplicates by ROWID (insertion order); event_id
  // is the stable ingest order of the events table.
  private val keyCols = Seq("user_id", "event_type")

  val all: Seq[Q] = Seq(
    // dedup keep-first: row_number ascending over the composite key.
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
      val w = Window.partitionBy(keyCols.map(col): _*).orderBy($"event_id")
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
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
      val w = Window.partitionBy(keyCols.map(col): _*).orderBy($"event_id".desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .orderBy($"event_id")
    },

    // dedup exclude_all: drop every member of any >1-count key group
    // (reference main.py:121-129) — anti-join against the dup key set.
    Q.sql(
      "dedup_exclude_all",
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE (user_id, event_type) NOT IN (
        |  SELECT (user_id, event_type) FROM events
        |  GROUP BY user_id, event_type HAVING count(*) > 1)
        |ORDER BY event_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      val dupKeys = ev.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("cnt")).filter($"cnt" > 1)
        .select(keyCols.map(col): _*)
      ev.join(dupKeys, keyCols, "left_anti")
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

    // all members of dup groups (semi-join capture, main.py:109-118).
    Q.sql(
      "dup_members_semi",
      """SELECT event_id, user_id, event_type FROM events
        |WHERE (user_id, event_type) IN (
        |  SELECT (user_id, event_type) FROM events
        |  GROUP BY user_id, event_type HAVING count(*) > 1)
        |ORDER BY event_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      val dupKeys = ev.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("cnt")).filter($"cnt" > 1)
        .select(keyCols.map(col): _*)
      ev.join(dupKeys, keyCols, "left_semi")
        .select($"event_id", $"user_id", $"event_type")
        .orderBy($"event_id")
    },

    // removed-rows capture for keep-first (`rn > 1`, main.py:132-139);
    // rn kept in the output like the reference's capture frame.
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
      val w = Window.partitionBy(keyCols.map(col): _*).orderBy($"event_id")
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter($"rn" > 1)
        .select($"event_id", $"user_id", $"event_type", $"rn")
        .orderBy($"event_id")
    },

    // schema validation compiled to vectorized expressions: each failed
    // check contributes one message; rows with no failures are dropped.
    // This is the Spark-first replacement for the reference's per-row
    // Pydantic loop (main.py:68-78) — whole-stage codegen, no UDF.
    Q.sql(
      "validate_errors",
      """SELECT event_id, errors FROM (
        |  SELECT event_id, concat_ws('; ',
        |    CASE WHEN event_type IS NULL OR NOT regexp_matches(event_type, '^(click|view|purchase|signup)$')
        |         THEN 'event_type: pattern mismatch' END,
        |    CASE WHEN value IS NULL OR value < 1 THEN 'value: below min 1' END,
        |    CASE WHEN props IS NULL OR NOT regexp_matches(props, '^\{.*\}$')
        |         THEN 'props: pattern mismatch' END) AS errors
        |  FROM events) t
        |WHERE errors <> ''
        |ORDER BY event_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .select(
          $"event_id",
          concat_ws("; ",
            when($"event_type".isNull || !$"event_type".rlike("^(click|view|purchase|signup)$"),
              lit("event_type: pattern mismatch")),
            when($"value".isNull || $"value" < 1, lit("value: below min 1")),
            when($"props".isNull || !$"props".rlike("^\\{.*\\}$"),
              lit("props: pattern mismatch"))).as("errors"))
        .filter($"errors" =!= "")
        .orderBy($"event_id")
    },

    // the age_gte rule's failing-row predicate (main.py:172-176):
    // completed years between an as-of date and a date column, compared
    // to a minimum. DuckDB date_part('year', age(a,b)) == completed
    // years == floor(months_between(a,b)/12) in Spark.
    Q.sql(
      "age_gte_failures",
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate,
        |  CAST(date_part('year', age(DATE '2024-01-01', CAST(o_orderdate AS DATE))) AS BIGINT) AS yrs
        |FROM orders
        |WHERE date_part('year', age(DATE '2024-01-01', CAST(o_orderdate AS DATE))) < 28
        |ORDER BY o_orderkey""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      val asOf = lit("2024-01-01").cast("date")
      val yrs = floor(months_between(asOf, to_date($"o_orderdate")) / 12)
      Tables.orders(s, d)
        .select($"o_orderkey", to_date($"o_orderdate").as("odate"), yrs.as("yrs"))
        .filter($"yrs" < 28)
        .orderBy($"o_orderkey")
    },

    // default back-fill (generalizing main.py:58-63): nulls introduced
    // then filled — na.fill is the declarative fillna.
    Q.sql(
      "fillna_defaults",
      """SELECT event_id, coalesce(nullif(event_type, 'error'), 'unknown') AS etype
        |FROM events
        |ORDER BY event_id""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id",
          when($"event_type" === "error", lit(null: String)).otherwise($"event_type").as("etype"))
        .na.fill(Map("etype" -> "unknown"))
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
      val w = Window.partitionBy(keyCols.map(col): _*).orderBy($"event_id")
      val removedFirst = ev
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter($"rn" > 1)
        .select($"event_id", lit("removed_first").as("kind"), $"rn")
      val dupKeys = ev.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("cnt")).filter($"cnt" > 1)
        .select(keyCols.map(col): _*)
      val dupMembers = ev.join(dupKeys, keyCols, "left_semi")
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
