package graft.perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.etl.Load

/** One benchmark run in one fresh JVM: set up, measure a workload in a
  * closed loop with one client for `--seconds` (at least one iteration),
  * check every output outside the timed region, and write the result as
  * JSON to `--out`.
  *
  *   etl_week     each iteration is one `Pipeline.run` with the default
  *                `Config` over a seeded bundle directory, then rounds of
  *                `Load.AnalyticalQueries` over the parquet it published
  *   query_sweep  a fixed sample of the `SparkEntry` queries in declaration
  *                order, each written to the `noop` sink from a clean block
  *                manager, as `graft.Bench` runs them
  *
  * With `--trace 1` the loop alternates untraced and traced iterations: the
  * traced ones give the per-layer metrics, the untraced ones the tracing
  * overhead.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, data: String, expected: Path, out: Path, record: Boolean)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")), need("data"), Paths.get(need("expected")), Paths.get(need("out")),
      m.get("record").contains("1"))
  }

  /** `etl_week`'s input: the reference generator's default shape. */
  val weekShape: Gen.Shape = Gen.Shape(buildings = 3, scenarios = 2, hours = 168, zones = 5, ahus = 2)
  /** The first warm-up input: compiles every pipeline code path on 2 runs of one day. */
  val warmShape: Gen.Shape = Gen.Shape(buildings = 1, scenarios = 2, hours = 24, zones = 5, ahus = 2)
  val readQueries: Seq[(String, String)] = Seq(
    "scenario_comparison" -> Load.AnalyticalQueries.scenarioComparison,
    "temperature_drift" -> Load.AnalyticalQueries.temperatureDrift,
    "cop_vs_outdoor_temp" -> Load.AnalyticalQueries.copVsOutdoorTemp)
  /** Read rounds per pipeline iteration (each round reads all three queries). */
  val readRounds = 6

  val cpus: Int = Runtime.getRuntime.availableProcessors()
  val etlLayers: Seq[String] = Trace.etlLayers :+ "read"
  val sweepLayers: Seq[String] = Sweep.modules.map(_._1)
  val allLayers: Seq[String] = etlLayers ++ sweepLayers

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(a.work)
    val sweep = a.workload == "query_sweep"
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    // the sweep runs under graft.Bench's session, the pipeline under Pipeline.main's
    if (sweep) b.config("spark.sql.extensions", "graft.extensions.GraftExtensions")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val res = new Result(a, sessionS)
    try {
      if (sweep) new Sweep(spark, a, res).run()
      else if (a.workload == "etl_week") new Etl(spark, a, res, weekShape).run()
      else throw new IllegalArgumentException(s"unknown workload: ${a.workload}")
    } catch {
      case e: Throwable =>
        res.error(s"harness: ${e.getClass.getName}: ${e.getMessage}")
    } finally {
      res.write()
      spark.stop()
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
    finally w.close()
  }

  /** Bytes and file count of every regular file under `p` matching `keep`. */
  def treeSize(p: Path, keep: Path => Boolean = _ => true): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val w = Files.walk(p)
      try {
        val fs = w.iterator().asScala.filter(f => Files.isRegularFile(f) && keep(f)).toSeq
        (fs.map(Files.size).sum, fs.size.toLong)
      } finally w.close()
    }

  /** Runs `body` with Scala console output captured (the pipeline prints its report). */
  def captured[T](body: => T): (T, String) = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, StandardCharsets.UTF_8)
    val r = Console.withOut(ps)(Console.withErr(ps)(body))
    (r, buf.toString(StandardCharsets.UTF_8))
  }
}

/** The timed loop's stopping rule: at least `min` iterations, then another
  * only while it is expected (from the longest so far) to end within
  * `seconds` of the start. A run therefore measures a whole number of
  * iterations, and that number does not flip between runs whose iteration
  * time sits near `seconds`.
  */
final class Loop(seconds: Double, min: Int) {
  private val t0 = System.nanoTime()
  private var started = System.nanoTime()
  private var n = 0
  private var longest = 0.0
  private def now: Double = (System.nanoTime() - t0) / 1e9

  def another(): Boolean = {
    val go = n < min || now + longest <= seconds
    if (go) started = System.nanoTime()
    go
  }
  def done(): Unit = {
    n += 1
    longest = math.max(longest, (System.nanoTime() - started) / 1e9)
  }
}

/** Everything one run reports; written once, at the end, as JSON. */
final class Result(a: Main.Args, val sessionS: Double) {
  var attempted = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
  val endToEnd: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  val perLayer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap(
    "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
    "cpus" -> Main.cpus, "spark_version" -> org.apache.spark.SPARK_VERSION,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "session_s" -> sessionS)

  def error(msg: String): Unit = { System.err.println(s"[perfbench] FAIL $msg"); errors += msg }
  def check(ok: Boolean, msg: => String): Unit = if (!ok) error(msg)

  def write(): Unit = {
    def toJava(v: Any): Any = v match {
      case m: scala.collection.Map[_, _] =>
        val j = new java.util.LinkedHashMap[String, Any]()
        m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
        j
      case s: Iterable[_] => s.map(toJava).toSeq.asJava
      case o => o
    }
    val doc = mutable.LinkedHashMap[String, Any](
      "attempted" -> attempted,
      "failed" -> errors.size.toLong,
      "errors" -> errors.take(50),
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer,
      "info" -> info)
    Files.write(a.out, new com.fasterxml.jackson.databind.ObjectMapper()
      .writerWithDefaultPrettyPrinter().writeValueAsBytes(toJava(doc)))
  }
}
