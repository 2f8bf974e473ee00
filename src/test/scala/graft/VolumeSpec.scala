package graft

import graft.config.PipelineConfig
import graft.pipeline.Pipeline
import java.time.LocalDate

/** Volume soak: the full reference pipeline over a generated 2M-row
  * employees corpus SHARDED ACROSS 8 CSV FILES, ingested with (file,
  * position) row ids — the multi-file analogue of the r1 single-file
  * volume run in BENCH_NOTES.md.
  *
  * Skipped unless SPARK_GRAFT_VOLUME=1 (runs ~2 min): it's a
  * reproducible measurement harness, not a CI gate.
  */
class VolumeSpec extends SparkSpec {

  test("2M-row multi-file pipeline volume run (enable: SPARK_GRAFT_VOLUME=1)") {
    assume(sys.env.get("SPARK_GRAFT_VOLUME").contains("1"),
      "set SPARK_GRAFT_VOLUME=1 to run the volume soak")

    val dir = tmpDir("volume")
    val srcDir = s"$dir/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val header = "company_id,employee_id,first_name,last_name,email,gender,birthday_on,country"
    val rnd = new scala.util.Random(42)
    val nFiles = 8
    val rowsPerFile = 250000
    var id = 0L
    for (f <- 0 until nFiles) {
      val sb = new StringBuilder(header).append('\n')
      for (_ <- 0 until rowsPerFile) {
        // ~1% duplicate keys, ~1% bad emails, ~0.5% bad dates, ~22% under-35
        id += 1
        val eid = if (rnd.nextInt(100) == 0) math.max(id - 1, 1) else id
        val email = if (rnd.nextInt(100) == 1) "not-an-email" else s"u$id@example.com"
        val year = 1950 + rnd.nextInt(60) // asOf 2026: born >=1992 → under 35
        val month = 1 + rnd.nextInt(12)
        val day = 1 + rnd.nextInt(28)
        val bday = if (rnd.nextInt(200) == 0) f"$year%04d-13-45"
          else f"$year%04d-$month%02d-$day%02d"
        sb.append(s"1,$eid,First$id,Last$id,$email,female,$bday,ES").append('\n')
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(srcDir, f"part-$f%05d.csv"), sb.toString)
    }

    val (cfgPath, _) = Fixtures.materialize(dir)

    val t0 = System.nanoTime()
    val r = Pipeline.run(spark, PipelineConfig.load(cfgPath), "employees",
      s"$dir/out", asOf = LocalDate.parse("2026-01-01"), sourceOverride = Some(srcDir))
    val secs = (System.nanoTime() - t0) / 1e9
    val s = r.summary
    println(f"[volume] total=${s.totalRows} schemaErr=${s.schemaErrorRows} " +
      f"dups=${s.duplicateRowsRemoved} ruleFail=${s.customInvalidRows} " +
      f"projected=${s.projectionRows.values.sum} wall=$secs%.1f s " +
      f"(${s.totalRows / secs}%.0f rows/s)")
    assert(s.totalRows == nFiles.toLong * rowsPerFile)
    assert(s.schemaErrorRows > 0 && s.duplicateRowsRemoved > 0 && s.customInvalidRows > 0)
    r.unpersist()
  }
}
