package graft.perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Seeded IDA-ICE run-bundle generator in the reference layout: one
  * `run_{building}_{scenario}.zip` per run, holding `metadata.json` and the
  * four CSVs under a single root directory. The same seed writes the same
  * bytes. Values stay inside every `Validate` range rule, so a correct
  * pipeline always passes validation; weather is identical across runs, as
  * the reference's per-site weather file is.
  */
object Gen {

  final case class Shape(buildings: Int, scenarios: Int, hours: Int, zones: Int, ahus: Int) {
    def runs: Int = buildings * scenarios
    def describe: String =
      s"$runs runs ($buildings buildings x $scenarios scenarios) x $hours h x $zones zones x $ahus AHUs"

    /** Star-table row counts this shape implies. */
    def rowCounts: Map[String, Long] = Map(
      "dim_building" -> buildings.toLong,
      "dim_scenario" -> scenarios.toLong,
      "dim_zone" -> buildings.toLong * zones,
      "dim_ahu" -> buildings.toLong * ahus,
      "dim_time" -> hours.toLong,
      "fact_zone_conditions" -> runs.toLong * hours * zones,
      "fact_hvac" -> runs.toLong * hours * ahus,
      "fact_meters" -> runs.toLong * hours,
      "fact_weather" -> buildings.toLong * hours)
  }

  /** What the generator wrote: per-(building, scenario) electric kWh sums of
    * the values exactly as printed, and the total ZIP size.
    */
  final case class Written(electric: Map[(String, String), Double], zipBytes: Long)

  val scenarioIds: Seq[String] = Seq("BASE", "ECO", "RETRO", "PV", "HEATPUMP", "NIGHT")
  def buildingId(b: Int): String = f"B$b%02d"

  private val startEpochSecond = 1704067200L // 2024-01-01T00:00:00Z

  /** Fixed-point value with 3 decimals; `v / 1000.0` is the double a CSV
    * parser reads back from the printed text.
    */
  private def milli(sb: java.lang.StringBuilder, v: Long): Unit = {
    if (v < 0) sb.append('-')
    val a = math.abs(v)
    sb.append(a / 1000).append('.')
    val f = a % 1000
    if (f < 100) sb.append('0')
    if (f < 10) sb.append('0')
    sb.append(f)
  }
  private def draw(r: SplittableRandom, lo: Double, hi: Double): Long =
    math.round((lo + r.nextDouble() * (hi - lo)) * 1000)

  def write(dir: Path, shape: Shape, seed: Long): Written = {
    Files.createDirectories(dir)
    val stamps = Array.tabulate(shape.hours)(h =>
      java.time.Instant.ofEpochSecond(startEpochSecond + h * 3600L).toString)
    val weather = weatherCsv(stamps, new SplittableRandom(seed))
    val written = for {
      b <- 1 to shape.buildings
      s <- scenarioIds.take(shape.scenarios)
    } yield {
      val bid = buildingId(b)
      val rng = new SplittableRandom(seed * 1000003L + b * 31L + s.hashCode)
      val zip = dir.resolve(s"run_${bid}_$s.zip")
      val out = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(zip.toFile), 1 << 16))
      val root = s"run_${bid}_$s"
      def put(name: String, body: CharSequence): Unit = {
        out.putNextEntry(new ZipEntry(s"$root/$name"))
        out.write(body.toString.getBytes(StandardCharsets.UTF_8))
        out.closeEntry()
      }
      var electric = 0.0
      try {
        put("metadata.json",
          s"""{"building_id": "$bid", "scenario_id": "$s", "building_name": "Building $bid",
             | "location": "Site ${b % 3}", "floor_area_m2": ${1000 + 250 * b},
             | "description": "Scenario $s", "generated_at": "2024-01-01T00:00:00Z"}""".stripMargin)
        put("zones.csv", zonesCsv(stamps, bid, s, shape.zones, rng))
        put("hvac.csv", hvacCsv(stamps, bid, s, shape.ahus, rng))
        val meters = new java.lang.StringBuilder(
          "timestamp,building_id,scenario_id,electric_kwh,heating_kwh,cooling_kwh\n")
        stamps.foreach { t =>
          val e = draw(rng, 20, 80)
          electric += e / 1000.0
          meters.append(t).append(',').append(bid).append(',').append(s).append(',')
          milli(meters, e); meters.append(',')
          milli(meters, draw(rng, 10, 40)); meters.append(',')
          milli(meters, draw(rng, 5, 30)); meters.append('\n')
        }
        put("meters.csv", meters)
        put("weather.csv", weather)
      } finally out.close()
      ((bid, s), electric, Files.size(zip))
    }
    Written(written.map(w => w._1 -> w._2).toMap, written.map(_._3).sum)
  }

  private def zonesCsv(stamps: Array[String], bid: String, s: String, zones: Int,
      rng: SplittableRandom): java.lang.StringBuilder = {
    val sb = new java.lang.StringBuilder(
      "timestamp,building_id,scenario_id,zone_id,zone_name,air_temp_C,setpoint_C,co2_ppm,rh_pct\n")
    stamps.foreach { t =>
      (1 to zones).foreach { z =>
        sb.append(t).append(',').append(bid).append(',').append(s)
          .append(",Z").append(z).append(",Zone ").append(z).append(',')
        milli(sb, draw(rng, 18, 26)); sb.append(",21.0,")
        milli(sb, draw(rng, 450, 1400)); sb.append(',')
        milli(sb, draw(rng, 25, 65)); sb.append('\n')
      }
    }
    sb
  }

  private def hvacCsv(stamps: Array[String], bid: String, s: String, ahus: Int,
      rng: SplittableRandom): java.lang.StringBuilder = {
    val sb = new java.lang.StringBuilder(
      "timestamp,building_id,scenario_id,ahu_id,supply_temp_C,return_temp_C,power_kw,cooling_kw,heating_kw\n")
    stamps.foreach { t =>
      (1 to ahus).foreach { a =>
        sb.append(t).append(',').append(bid).append(',').append(s)
          .append(",AHU").append(a).append(',')
        milli(sb, draw(rng, 14, 20)); sb.append(',')
        milli(sb, draw(rng, 20, 25)); sb.append(',')
        // ~5% of hours fall under the 1 kW guard, so cop_proxy has NULLs
        milli(sb, if (rng.nextInt(20) == 0) draw(rng, 0.1, 0.9) else draw(rng, 2, 20)); sb.append(',')
        milli(sb, draw(rng, 0, 12)); sb.append(',')
        milli(sb, draw(rng, 0, 15)); sb.append('\n')
      }
    }
    sb
  }

  private def weatherCsv(stamps: Array[String], rng: SplittableRandom): String = {
    val sb = new java.lang.StringBuilder("timestamp,drybulb_C,relhum_pct,ghi_W_m2\n")
    stamps.indices.foreach { h =>
      val hourOfDay = h % 24
      sb.append(stamps(h)).append(',')
      milli(sb, draw(rng, -10, 25)); sb.append(',')
      milli(sb, draw(rng, 30, 95)); sb.append(',')
      milli(sb, if (hourOfDay < 6 || hourOfDay > 19) 0L else draw(rng, 0, 800)); sb.append('\n')
    }
    sb.toString
  }
}
