package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

import graft.etl.{Export, Load, Pipeline}
import Main._

/** The `etl_week` workload: `Pipeline.run` over a seeded bundle directory,
  * then reads of the reference's analytical queries over what it published.
  */
final class Etl(spark: SparkSession, a: Args, res: Result, shape: Gen.Shape) {

  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
  private def stagedBytes(): Long =
    treeSize(tmp, _.toString.contains(s"${java.io.File.separator}graft_run_"))._1

  private final case class Iter(wallS: Double, pipelineS: Option[Double], readS: Seq[Double],
      stagedMb: Double, writtenMb: Double, files: Long, gcS: Double)

  def run(): Unit = {
    // set-up: the input is generated three times and the median kept
    val input = a.work.resolve("input")
    var written: Gen.Written = null
    val genS = (1 to 3).map { _ =>
      deleteTree(input)
      val (w, s) = timed(Gen.write(input, shape, a.seed))
      written = w
      s
    }
    // warm-up, untimed and unchecked: a fresh JVM's first Pipeline.run takes
    // ~3x its steady time whatever the input size, its second ~1.25x
    val warmIn = a.work.resolve("warm-input")
    val (_, warmS) = timed {
      val warm = Gen.write(warmIn, warmShape, a.seed)
      iteration(-2, warmIn, warmShape, warm, None, rounds = 1, check = false)
      iteration(-1, input, shape, written, None, rounds = 1, check = false)
    }
    deleteTree(warmIn)
    res.endToEnd("setup_s") = res.sessionS + median(genS) + warmS
    res.info ++= Seq("input" -> shape.describe, "input_zip_mb" -> written.zipBytes / Trace.MB,
      "warmup_input" -> s"${warmShape.describe}, then the input", "generate_s" -> genS,
      "warmup_s" -> warmS, "read_rounds_per_iteration" -> readRounds)

    // the timed loop: one client, each operation after the previous one ends
    val tracer = if (a.trace) Some(new Trace(spark)) else None
    val untraced = mutable.ArrayBuffer[Iter]()
    val traced = mutable.ArrayBuffer[Iter]()
    var rss = Double.NaN
    val loop = new Loop(a.seconds, if (a.trace) 3 else 1)
    var i = 0
    while (loop.another()) {
      // traced runs alternate untraced and traced iterations, starting and
      // ending untraced at the minimum, so warming does not bias the overhead
      val tr = tracer.filter(_ => i % 2 == 1)
      tr.foreach(_.start())
      val it = iteration(i, input, shape, written, tr, readRounds)
      tr.foreach(_.stop())
      loop.done()
      (if (tr.isDefined) traced else untraced) += it
      if (i == 0) rss = vmHwmMb()
      i += 1
    }
    deleteTree(input)

    val pipe = untraced.flatMap(_.pipelineS).toSeq
    val reads = untraced.flatMap(_.readS).toSeq
    res.endToEnd("iteration_s") = median(pipe)
    res.endToEnd("query_p50_s") = median(reads)
    res.endToEnd("query_p90_s") = quantile(reads, 0.9)
    res.endToEnd("peak_rss_mb") = rss
    res.info ++= Seq("iterations" -> untraced.size, "pipeline_runs_timed" -> pipe.size,
      "reads_timed" -> reads.size, "pipeline_s_all" -> pipe,
      "reads_beyond_p90" -> reads.count(_ > quantile(reads, 0.9)))

    tracer.foreach { t =>
      val r = t.report(allLayers)
      r.perIter.foreach { case (k, v) => res.perLayer(k) = median(v) }
      val pipeSpans = r.spans.filter(_.kind == "pipeline").sortBy(_.iter)
      val etlTask = r.iters.indices.map(j => Trace.etlLayers.map(l => r.perIter(s"$l.task_s")(j)).sum)
      res.perLayer("pipeline.driver_s") =
        median(pipeSpans.zip(r.pipelineJobS).map { case (s, j) => s.seconds - j })
      res.perLayer("pipeline.core_util") =
        median(pipeSpans.zip(etlTask).map { case (s, ts) => ts / (s.seconds * cpus) })
      res.perLayer("sweep.core_util") = 0.0
      res.perLayer("cache.peak_mb") = r.cachePeakMb
      res.perLayer("spark.gc_s") = median(traced.map(_.gcS).toSeq)
      res.perLayer("extract.staged_mb") = median((traced ++ untraced).map(_.stagedMb).toSeq)
      res.perLayer("load.written_mb") = median((traced ++ untraced).map(_.writtenMb).toSeq)
      res.perLayer("load.files") = median((traced ++ untraced).map(_.files.toDouble).toSeq)
      res.perLayer("trace.unattributed_jobs") = r.unattributed.size
      res.perLayer("trace.overhead_pct") =
        (median(traced.map(_.wallS).toSeq) / median(untraced.map(_.wallS).toSeq) - 1) * 100
      res.info ++= Seq("traced_iterations" -> traced.size, "jobs_seen" -> r.jobsSeen,
        "unattributed" -> r.unattributed.take(20),
        "jobs_per_iteration" -> r.perIter.collect { case (k, v) if k.endsWith(".jobs") && v.exists(_ > 0) =>
          k -> v.map(_.toLong) }.toMap)
      Trace.writeSpans(r, a.out.resolveSibling(a.out.getFileName.toString + ".spans.jsonl"))
    }
  }

  /** One `Pipeline.run` plus `readRounds` rounds of reads, then the output
    * checks (untimed) and the removal of everything the iteration wrote.
    */
  private def iteration(i: Int, in: Path, sh: Gen.Shape, w: Gen.Written, tr: Option[Trace],
      rounds: Int, check: Boolean = true): Iter = {
    def span[T](kind: String, name: String)(body: => T): T =
      tr.fold(body)(_.span(i, kind, name, if (kind == "pipeline") kind else "read")(body))
    val out = a.work.resolve(s"out-$i")
    val gc0 = gcSeconds()
    val staged0 = stagedBytes()
    val t0 = System.nanoTime()
    res.attempted += 1
    val ran = try {
      val ((code, log), s) = timed(span("pipeline", "Pipeline.run")(captured(
        Pipeline.run(spark, Pipeline.Config(simulationsDir = in.toString, outputDir = out.toString)))))
      res.check(code == 0, s"iteration $i: Pipeline.run exited $code\n$log")
      res.check(log.contains("Validation PASSED"), s"iteration $i: validation did not pass\n$log")
      if (code == 0) Some(s) else None
    } catch { case NonFatal(e) => res.error(s"iteration $i: Pipeline.run threw $e"); None }

    val readS = mutable.ArrayBuffer[Double]()
    val rows = mutable.Map[String, Array[Row]]()
    if (ran.isDefined) {
      span("read", "loadParquetDir") { Load.loadParquetDir(spark, out.toString); Load.createViews(spark) }
      for (_ <- 1 to rounds; (name, sql) <- readQueries) {
        res.attempted += 1
        try {
          val (r, s) = timed(span("read", name)(spark.sql(sql).collect()))
          readS += s
          rows(name) = r
        } catch { case NonFatal(e) => res.error(s"iteration $i: read $name threw $e") }
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val gcS = gcSeconds() - gc0
    val stagedMb = (stagedBytes() - staged0) / Trace.MB
    val (bytes, files) = treeSize(out, p => p.getFileName.toString.endsWith(".parquet"))
    if (check && ran.isDefined) checkOutputs(i, out, sh, w, rows.toMap)
    deleteTree(out)
    Iter(wallS, ran, readS.toSeq, stagedMb, bytes / Trace.MB, files, gcS)
  }

  private def close(x: Double, y: Double): Boolean = math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))

  private def checkOutputs(i: Int, out: Path, sh: Gen.Shape, w: Gen.Written,
      rows: Map[String, Array[Row]]): Unit = {
    sh.rowCounts.foreach { case (t, n) =>
      val got = spark.read.parquet(out.resolve(s"$t.parquet").toString).count()
      res.check(got == n, s"iteration $i: $t has $got rows, expected $n")
    }
    val errs = Export.validateSummaryJson(out.resolve("ida_ice_simulation_summary.json").toString)
    res.check(errs.isEmpty, s"iteration $i: summary JSON errors: ${errs.mkString("; ")}")

    val published = spark.read.parquet(out.resolve("fact_meters.parquet").toString)
      .groupBy("building_id", "scenario_id").agg(sum(col("electric_kwh")))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    res.check(published.keySet == w.electric.keySet, s"iteration $i: fact_meters (building, scenario) keys differ")
    w.electric.foreach { case (k, e) =>
      res.check(published.get(k).exists(close(_, e)),
        s"iteration $i: fact_meters electric total for $k is ${published.get(k)}, generator wrote $e")
    }

    rows.get("scenario_comparison").foreach { rs =>
      val got = rs.map(r => (r.getString(0).stripPrefix("Building "), r.getString(1)) -> r.getDouble(2)).toMap
      res.check(got.size == sh.runs && w.electric.forall { case (k, e) => got.get(k).exists(close(_, e)) },
        s"iteration $i: scenario_comparison totals disagree with the generator")
    }
    rows.get("temperature_drift").foreach { rs =>
      val n = rs.map(_.getLong(3)).sum
      res.check(rs.length == sh.runs * sh.zones && n == sh.rowCounts("fact_zone_conditions"),
        s"iteration $i: temperature_drift covers ${rs.length} zones / $n hours")
    }
    rows.get("cop_vs_outdoor_temp").foreach { rs =>
      val n = rs.map(_.getLong(2)).sum
      res.check(n == sh.rowCounts("fact_hvac"), s"iteration $i: cop_vs_outdoor_temp counts $n rows")
    }
  }
}
