package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {

  test("a traced etl_week iteration attributes every Spark job to a graft.etl stage or the read side") {
    val work = Files.createTempDirectory("perfbench_attribution_")
    val spark = SparkSession.builder()
      .master(s"local[${Main.cpus}]")
      .config("spark.sql.shuffle.partitions", Main.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val a = Main.Args("etl_week", seed = 7L, seconds = 0.0, trace = true, work = work, data = "",
        expected = work.resolve("unused"), out = work.resolve("result.json"), record = false)
      val res = new Result(a, sessionS = 0.0)
      new Etl(spark, a, res, Main.weekShape).run()
      assert(res.errors.isEmpty, res.errors.mkString("\n"))
      assert(res.perLayer("trace.unattributed_jobs") == 0.0, res.info.get("unattributed"))
      for (l <- Seq("extract", "validate", "load", "export", "read"))
        assert(res.perLayer(s"$l.jobs") > 0, s"$l issued no jobs")
      // transform is lazy: its work runs inside validate's first action
      assert(res.perLayer("transform.jobs") == 0.0)
      for (l <- Sweep.modules.map(_._1)) assert(res.perLayer(s"$l.jobs") == 0.0)
    } finally {
      spark.stop()
      Main.deleteTree(work)
    }
  }

  test("etlLayer names the graft.etl stage nearest the top of a call site") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.count(Dataset.scala:1)",
      "graft.etl.Validate$.$anonfun$checkSchema$2(Validate.scala:62)",
      "graft.etl.Pipeline$.run(Pipeline.scala:71)").mkString("\n")
    assert(Trace.etlLayer(site).contains("validate"))
    assert(Trace.etlLayer("graft.etl.Pipeline$.run(Pipeline.scala:71)").isEmpty)
    assert(Trace.etlLayer("graft.etl.LoadHelper.x(LoadHelper.scala:1)").isEmpty)
  }

  test("unionMs counts overlapping intervals once") {
    assert(Trace.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Trace.unionMs(Nil) == 0L)
  }
}
