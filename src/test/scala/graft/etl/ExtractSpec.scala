package graft.etl

import java.io.FileOutputStream
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSpec

class ExtractSpec extends SparkSpec {

  /** Writes `root/name` entries (verbatim entry names) into `dir/zipName`. */
  private def writeZip(dir: Path, zipName: String, entries: Seq[(String, String)]): Unit = {
    val zos = new ZipOutputStream(new FileOutputStream(dir.resolve(zipName).toFile))
    entries.foreach { case (n, c) =>
      zos.putNextEntry(new ZipEntry(n)); zos.write(c.getBytes("UTF-8")); zos.closeEntry()
    }
    zos.close()
  }

  /** A bundle's five members under `root/`, with `edit` applied to the contents. */
  private def bundle(root: String, b: String, sc: String,
      edit: (String, String) => String = (_, c) => c): Seq[(String, String)] = {
    val spec = SyntheticRuns.Spec(b, sc, hours = 2)
    (SyntheticRuns.buildCsvs(spec) + ("metadata.json" -> SyntheticRuns.metadataJson(spec)))
      .toSeq.sorted.map { case (n, c) => s"$root/$n" -> edit(n, c) }
  }

  test("one bundle round-trips through the member reader") {
    import spark.implicits._
    val dir = SyntheticRuns.tempDir()
    SyntheticRuns.writeRunZip(dir, SyntheticRuns.Spec("B1", "BASE", hours = 24))
    val run = Extract.extractRunById(spark, dir.toString, "B1", "BASE")
    val t = run.tables
    assert(t("zones").select("run_id").distinct().as[String].collect().toSeq == Seq("run_B1_BASE"))
    assert(run.metadata.map(_.building_id) == Seq("B1"))
    assert(run.metadata.head.floor_area_m2 == 1000L)
    assert(t("zones").count() == 24 * 3)
    assert(t("hvac").count() == 24 * 2)
    assert(t("meters").count() == 24)
    assert(t("weather").count() == 24)
    // schema-declared timestamps, not strings
    assert(t("zones").schema("timestamp").dataType ==
      org.apache.spark.sql.types.TimestampType)
    run.release()
  }

  test("missing file and non-zip raise distinct errors") {
    intercept[java.io.FileNotFoundException] {
      Extract.extractRunById(spark, "/nonexistent", "x", "y")
    }
    val dir = SyntheticRuns.tempDir()
    Files.writeString(dir.resolve("run_J_K.zip"), "not a zip at all")
    intercept[IllegalArgumentException] {
      Extract.extractRunById(spark, dir.toString, "J", "K")
    }
  }

  test("missing required member is rejected") {
    val dir = SyntheticRuns.tempDir()
    // hand-build a zip without meters.csv
    writeZip(dir, "run_B9_X.zip", bundle("run_B9_X", "B9", "X")
      .filterNot(_._1.endsWith("/meters.csv")))
    val e = intercept[IllegalArgumentException] {
      Extract.extractRunById(spark, dir.toString, "B9", "X")
    }
    assert(e.getMessage.contains("meters.csv"))
  }

  test("extractRuns tolerates <50% failures, fails at >=50%") {
    val dir = SyntheticRuns.tempDir()
    SyntheticRuns.writeFixtureDir(dir) // 4 good runs
    Files.writeString(dir.resolve("run_BAD_1.zip"), "garbage") // 1 bad of 5 → ok
    val runs = Extract.extractRuns(spark, dir.toString).metadata
    assert(runs.length == 4)

    val dir2 = SyntheticRuns.tempDir()
    SyntheticRuns.writeRunZip(dir2, SyntheticRuns.Spec("B1", "BASE", hours = 2))
    Files.writeString(dir2.resolve("run_BAD_1.zip"), "garbage")
    Files.writeString(dir2.resolve("run_BAD_2.zip"), "garbage") // 2 bad of 3 → fail
    intercept[RuntimeException] { Extract.extractRuns(spark, dir2.toString) }
  }

  test("a corrupt CSV fails only its own run (FAILFAST is per-run eager)") {
    val dir = SyntheticRuns.tempDir()
    SyntheticRuns.writeFixtureDir(dir) // 4 good runs
    // a 5th run whose zones.csv has an unparsable row in a double column
    writeZip(dir, "run_BX_SCX.zip", bundle("run_BX_SCX", "BX", "SCX", (n, c) =>
      if (n == "zones.csv")
        c.linesIterator.toSeq.head + "\nnot-a-timestamp,BX,SCX,Z1,Zone 1,oops,21,600,45\n"
      else c))
    val runs = Extract.extractRuns(spark, dir.toString).metadata
    // the corrupt run is dropped (1 of 5 < 50%), the rest parse clean
    assert(runs.length == 4)
    assert(!runs.exists(_.building_id == "BX"))
  }

  /** One good run plus `bad`: survives alone at 1 of 5 bad, and fails the
    * directory at 1 of 2 with a message counting ONE failed bundle.
    */
  private def failsAsOneBundle(bad: Seq[(String, String)], why: String): Unit = {
    val dir = SyntheticRuns.tempDir()
    SyntheticRuns.writeFixtureDir(dir)
    writeZip(dir, "run_BY_SCY.zip", bad)
    val runs = Extract.extractRuns(spark, dir.toString).metadata
    assert(runs.map(_.building_id).sorted == Seq("B1", "B1", "B2", "B2"))

    val dir2 = SyntheticRuns.tempDir()
    SyntheticRuns.writeRunZip(dir2, SyntheticRuns.Spec("B1", "BASE", hours = 2))
    writeZip(dir2, "run_BY_SCY.zip", bad)
    val e = intercept[RuntimeException] { Extract.extractRuns(spark, dir2.toString) }
    assert(e.getMessage.contains("too many extraction failures (1/2)"), e.getMessage)
    assert(e.getMessage.contains(s"run_BY_SCY.zip: ") && e.getMessage.contains(why), e.getMessage)
  }

  test("a multi-root bundle counts as one failed bundle") {
    failsAsOneBundle(bundle("run_BY_SCY", "BY", "SCY") ++ bundle("run_BZ_SCZ", "BZ", "SCZ"),
      "single root directory")
  }

  test("a root-level member counts as one failed bundle") {
    failsAsOneBundle(bundle("run_BY_SCY", "BY", "SCY") :+ ("notes.txt" -> "stray"),
      "single root directory")
  }

  test("metadata.json without floor_area_m2 fails its run") {
    failsAsOneBundle(bundle("run_BY_SCY", "BY", "SCY", (n, c) =>
      if (n == "metadata.json") c.replace("\"floor_area_m2\": 1000,", "") else c),
      "floor_area_m2")
  }

  test("an empty directory and a plain file raise the listing errors") {
    val e = intercept[IllegalArgumentException] {
      Extract.extractRuns(spark, SyntheticRuns.tempDir().toString)
    }
    assert(e.getMessage.contains("no run_*.zip archives"))
    val f = Files.createTempFile("graft_not_a_dir_", ".zip")
    intercept[java.io.FileNotFoundException] { Extract.extractRuns(spark, f.toString) }
  }

  test("extractRunById builds the keyed path") {
    val dir = SyntheticRuns.tempDir()
    SyntheticRuns.writeFixtureDir(dir)
    val run = Extract.extractRunById(spark, dir.toString, "B2", "ECO").metadata
    assert(run.length == 1)
    assert(run.head.building_id == "B2" && run.head.scenario_id == "ECO")
  }

  test("extractRuns member tables carry every bundle's rows") {
    val dir = SyntheticRuns.tempDir()
    SyntheticRuns.writeFixtureDir(dir)
    val members = Extract.extractRuns(spark, dir.toString).tables
    assert(members("zones").count() == 4 * 48 * 3)
    assert(members("hvac").count() == 4 * 48 * 2)
    assert(members("meters").count() == 4 * 48)
    assert(members("metadata").count() == 4)
    // parsed types survive from_csv
    assert(members("zones").schema("air_temp_C").dataType ==
      org.apache.spark.sql.types.DoubleType)
  }

  test("extract issues the same number of SQL executions for 2 and 8 bundles") {
    def executions(bundles: Int): Int = {
      val dir = SyntheticRuns.tempDir()
      (1 to bundles).foreach(i =>
        SyntheticRuns.writeRunZip(dir, SyntheticRuns.Spec(s"B$i", "BASE", hours = 2)))
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            n.incrementAndGet(); ()
          case _ => ()
        }
      }
      org.apache.spark.ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        val ex = Extract.extractRuns(spark, dir.toString)
        assert(ex.metadata.length == bundles)
        org.apache.spark.ListenerBus.drain(spark.sparkContext)
        ex.release()
        n.get()
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val (two, eight) = (executions(2), executions(8))
    assert(two > 0 && two == eight, s"2 bundles: $two executions, 8 bundles: $eight")
  }

  test("quarantine CSV reader: clean rows parse under the schema, mangled " +
    "rows land verbatim in the quarantine lane, nothing lost or doubled") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_quarantine_")
    Files.writeString(dir.resolve("data.csv"),
      """id,name,score
        |1,alice,0.5
        |2,bob,not_a_number
        |3,carol,0.75
        |4,dave""".stripMargin + "\n")
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("score", DoubleType)))
    val qr = Extract.readCsvQuarantine(spark, dir.toString, schema)
    val (good, bad) = (qr.good, qr.quarantined)
    val goodRows = good.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(goodRows === Set((1L, "alice", 0.5), (3L, "carol", 0.75)))
    assert(good.columns.toSeq === Seq("id", "name", "score"))
    val badRows = bad.collect().map(_.getString(0)).toSet
    // the verbatim offending lines, intact for triage
    assert(badRows === Set("2,bob,not_a_number", "4,dave"))
    assert(goodRows.size + badRows.size == 4, "a row vanished or doubled")
    // the one-parse materialization is caller-releasable (the 100 TB
    // hazard fix). Releasing ENDS the read — the lanes must not be
    // re-executed afterwards (the uncached plan would re-hit Spark's
    // corrupt-record-only-filter restriction, the very thing the
    // materialization exists to avoid) — so consume first, release last.
    qr.release()
  }
}
