package graft.etl

import java.nio.file.Files
import graft.SparkSpec

class PipelineSpec extends SparkSpec {

  test("end-to-end pipeline: extract -> transform -> validate -> load -> export") {
    val simDir = SyntheticRuns.tempDir()
    SyntheticRuns.writeFixtureDir(simDir)
    val outDir = Files.createTempDirectory("graft_pipe_").toString
    val code = Pipeline.run(spark, Pipeline.Config(
      simulationsDir = simDir.toString, outputDir = outDir))
    assert(code == 0)
    assert(new java.io.File(outDir, "fact_meters.parquet").exists())
    assert(new java.io.File(outDir, "ida_ice_simulation_summary.json").exists())
    assert(Export.validateSummaryJson(
      s"$outDir/ida_ice_simulation_summary.json").isEmpty)
  }

  test("validation failure aborts with exit code 2 unless forced") {
    val simDir = SyntheticRuns.tempDir()
    SyntheticRuns.writeRunZip(simDir,
      SyntheticRuns.Spec("B1", "BASE", corrupt = Map("air_temp_C" -> 50.0)))
    val outDir = Files.createTempDirectory("graft_pipe_bad_").toString
    val code = Pipeline.run(spark, Pipeline.Config(
      simulationsDir = simDir.toString, outputDir = outDir))
    assert(code == 2)
    assert(!new java.io.File(outDir, "fact_meters.parquet").exists())

    val forced = Pipeline.run(spark, Pipeline.Config(
      simulationsDir = simDir.toString, outputDir = outDir, force = true))
    assert(forced == 0)
    assert(new java.io.File(outDir, "fact_meters.parquet").exists())
  }

  test("skip-validation loads corrupted data without checks") {
    val simDir = SyntheticRuns.tempDir()
    SyntheticRuns.writeRunZip(simDir,
      SyntheticRuns.Spec("B1", "BASE", corrupt = Map("power_kw" -> -5.0)))
    val outDir = Files.createTempDirectory("graft_pipe_skip_").toString
    val code = Pipeline.run(spark, Pipeline.Config(
      simulationsDir = simDir.toString, outputDir = outDir, skipValidation = true))
    assert(code == 0)
  }

  /** Row count and order-independent content checksum of each published
    * star table over `SyntheticRuns.writeFixtureDir`, frozen from the
    * per-run staging extract this reader replaced.
    */
  private val frozen: Map[String, (Long, BigDecimal)] = Map(
    "dim_building" -> (2L, BigDecimal("-2620840492927842181")),
    "dim_scenario" -> (2L, BigDecimal("-10399905750198238963")),
    "dim_zone" -> (6L, BigDecimal("-800626120903695675")),
    "dim_ahu" -> (4L, BigDecimal("17738130751015485966")),
    "dim_time" -> (48L, BigDecimal("32979828193417203675")),
    "fact_zone_conditions" -> (576L, BigDecimal("180850887182170139139")),
    "fact_hvac" -> (384L, BigDecimal("95418476393361809871")),
    "fact_meters" -> (192L, BigDecimal("-8120419078583393203")),
    "fact_weather" -> (96L, BigDecimal("28256061437396215166")))

  test("published star tables match the frozen row counts and checksums") {
    import org.apache.spark.sql.functions._
    val simDir = SyntheticRuns.tempDir()
    SyntheticRuns.writeFixtureDir(simDir)
    val outDir = Files.createTempDirectory("graft_pipe_frozen_").toString
    assert(Pipeline.run(spark, Pipeline.Config(
      simulationsDir = simDir.toString, outputDir = outDir)) == 0)
    frozen.foreach { case (t, (rows, checksum)) =>
      val df = spark.read.parquet(s"$outDir/$t.parquet")
      val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(20,0)"))).head()
      assert((r.getLong(0), BigDecimal(r.getDecimal(1))) == (rows, checksum), t)
    }
  }

  test("argument parsing") {
    val cfg = Pipeline.parseArgs(Array(
      "--simulations-dir", "/a", "--output-dir", "/b", "--skip-validation"))
    assert(cfg.simulationsDir == "/a" && cfg.outputDir == "/b" && cfg.skipValidation)
    intercept[IllegalArgumentException] { Pipeline.parseArgs(Array("--bogus")) }
    intercept[IllegalArgumentException] { Pipeline.parseArgs(Array("--output-dir", "/b")) }
    intercept[IllegalArgumentException] {
      Pipeline.parseArgs(Array("--simulations-dir", "/a", "--output-dir", "/b", "--distributed"))
    }
  }
}
