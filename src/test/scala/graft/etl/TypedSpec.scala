package graft.etl

import graft.SparkSpec

/** The typed star schema must round-trip real transformed data — `as[T]`
  * plus a full collect of every table proves the case classes match the
  * runtime schemas (nullable join keys, Option cop_proxy, calendar ints).
  */
class TypedSpec extends SparkSpec {

  private lazy val schema: Map[String, org.apache.spark.sql.DataFrame] = {
    val dir = SyntheticRuns.tempDir()
    SyntheticRuns.writeFixtureDir(dir)
    Transform.transformAll(spark, Extract.extractRuns(spark, dir.toString).tables)
  }

  test("every star table lifts to its typed Dataset and collects") {
    val star = Typed.from(schema)
    assert(star.dimBuilding.collect().map(_.building_id).sorted === Seq("B1", "B2"))
    assert(star.dimScenario.collect().map(_.scenario_id).sorted === Seq("BASE", "ECO"))
    assert(star.dimZone.collect().forall(_.zone_key > 0))
    assert(star.dimTime.collect().forall(t => t.dow >= 0 && t.dow <= 6))
    // nullable contract: some hvac rows have cop_proxy None (power < 1 kW
    // dip every 13th hour in the fixture), the rest Some
    val cops = star.factHvac.collect().map(_.cop_proxy)
    assert(cops.exists(_.isEmpty) && cops.exists(_.isDefined))
    // facts keep their rows through the typed view
    assert(star.factMeters.count() === schema("fact_meters").count())
    assert(star.factWeather.collect().forall(_.building_id.nonEmpty))
    // typed filter+map compiles and computes (the point of the Encoders)
    val weekendHours = star.dimTime.filter(_.is_weekend).count()
    assert(weekendHours >= 0)
  }
}
