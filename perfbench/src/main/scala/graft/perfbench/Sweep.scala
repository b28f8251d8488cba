package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum, xxhash64}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.queries.{AnalyticsQueries, CoreQueries, ExtQueries, MediaQueries}
import Main._

object Sweep {
  /** Layer name → the queries its `graft.queries` module declares. */
  val modules: Seq[(String, Seq[String])] = Seq(
    "core" -> CoreQueries.defs.map(_.name),
    "ext" -> ExtQueries.defs.map(_.name),
    "analytics" -> AnalyticsQueries.defs.map(_.name),
    "media" -> MediaQueries.defs.map(_.name))
  val moduleOf: Map[String, String] = modules.flatMap { case (m, qs) => qs.map(_ -> m) }.toMap

  /** One declared query in `stride`, in declaration order: a full cold
    * sweep at sf0.001 takes ~150 s on 4 cores, more than one run may take.
    * The sample keeps every module, declaration order and the slow tail
    * (q_pagerank, the dedup family).
    */
  val stride = 9
  def sample(names: Seq[String]): Seq[String] =
    names.zipWithIndex.collect { case (n, i) if i % stride == 0 => n }

  /** Output fingerprint: rows, an order-insensitive hash of every column
    * whose value is exact, and the sum of each top-level floating column
    * (compared with a relative tolerance, since parallel float sums differ
    * in their last bits).
    */
  final case class Check(rows: Long, hash: String, floatSums: Seq[Double])

  private def exact(t: DataType): Boolean = t match {
    case FloatType | DoubleType | _: MapType | _: VariantType => false
    case ArrayType(e, _) => exact(e)
    case StructType(fs) => fs.forall(f => exact(f.dataType))
    case _ => true
  }

  def fingerprint(df: DataFrame): Check = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val fs = named.schema.fields.toSeq
    val exactCols = fs.filter(f => exact(f.dataType)).map(f => named(f.name))
    val floatCols = fs.filter(f => f.dataType == DoubleType || f.dataType == FloatType)
      .map(f => named(f.name).cast(DoubleType))
    val hash: Column =
      if (exactCols.isEmpty) lit(0).cast(DecimalType(38, 0))
      else xxhash64(exactCols: _*).cast(DecimalType(38, 0))
    val r = named.agg(count(lit(1)), (sum(hash) +: floatCols.map(sum(_))): _*).head()
    Check(r.getLong(0), String.valueOf(r.get(1)),
      floatCols.indices.map(i => if (r.isNullAt(i + 2)) Double.NaN else r.getDouble(i + 2)))
  }

  def close(x: Double, y: Double): Boolean =
    (x.isNaN && y.isNaN) || x == y || math.abs(x - y) <= 1e-6 * math.max(math.abs(x), math.abs(y))

  /** Expected fingerprints, one line per query: name, module, rows, hash,
    * float sums joined by '|', and the check mode (`full`, or `rows` for a
    * query whose values legitimately vary between runs).
    */
  final case class Expect(rows: Long, hash: String, floatSums: Seq[Double], mode: String)

  def readExpected(lines: Seq[String]): Map[String, Expect] =
    lines.filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
      val f = l.split("\t", -1)
      f(0) -> Expect(f(2).toLong, f(3), if (f(4).isEmpty) Nil else f(4).split('|').map(_.toDouble).toSeq, f(5))
    }.toMap
}

/** The `query_sweep` workload. */
final class Sweep(spark: SparkSession, a: Args, res: Result) {
  import Sweep._

  private val declared = SparkEntry.orderedQueryNames
  private val names = if (a.record) declared else sample(declared)
  private val queries = SparkEntry.queries

  /** graft.Bench.runOne: clean block manager, then the query to the noop sink. */
  private def runOne(name: String): Double = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val t0 = System.nanoTime()
    queries(name)(spark, a.data).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def run(): Unit = {
    // set-up: one untimed pass over every query that also checks its output
    val (got, warmS) = timed(names.map { n =>
      res.attempted += 1
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      n -> (try Right(fingerprint(queries(n)(spark, a.data))) catch { case NonFatal(e) => Left(e.toString) })
    })
    if (a.record) return record(got)
    checkAll(got)
    // and one untimed sweep: a query's second run is still ~1.5x its steady time
    val (_, warm2S) = timed(names.foreach(n => Try(runOne(n))))
    res.endToEnd("setup_s") = res.sessionS + warmS + warm2S
    res.info ++= Seq("input" -> s"${a.data} (fixed seed-42 testdata; --seed does not vary it)",
      "queries" -> s"${names.size} of ${declared.size} (every ${stride}th in declaration order)",
      "check_pass_s" -> warmS, "warmup_sweep_s" -> warm2S)

    val tracer = if (a.trace) Some(new Trace(spark)) else None
    val untraced = mutable.ArrayBuffer[Seq[Double]]()
    val traced = mutable.ArrayBuffer[(Seq[Double], Double)]()
    var rss = Double.NaN
    val loop = new Loop(a.seconds, if (a.trace) 3 else 1)
    var k = 0
    while (loop.another()) {
      val tr = tracer.filter(_ => k % 2 == 1)
      tr.foreach(_.start())
      val gc0 = gcSeconds()
      val times = names.flatMap { n =>
        res.attempted += 1
        try Some(tr.fold(runOne(n))(_.span(k, "query", n, moduleOf(n))(runOne(n))))
        catch { case NonFatal(e) => res.error(s"sweep $k: $n threw $e"); None }
      }
      tr.foreach(_.stop())
      loop.done()
      if (tr.isDefined) traced += ((times, gcSeconds() - gc0)) else untraced += times
      if (k == 0) rss = vmHwmMb()
      k += 1
    }
    val all = untraced.flatten.toSeq
    res.endToEnd("iteration_s") = median(untraced.map(_.sum).toSeq)
    res.endToEnd("query_p50_s") = median(all)
    res.endToEnd("query_p90_s") = quantile(all, 0.9)
    res.endToEnd("peak_rss_mb") = rss
    res.info ++= Seq("sweeps_timed" -> untraced.size, "sweep_s_all" -> untraced.map(_.sum).toSeq,
      "query_samples" -> all.size, "samples_beyond_p90" -> all.count(_ > quantile(all, 0.9)))

    tracer.foreach { t =>
      val r = t.report(allLayers)
      r.perIter.foreach { case (key, v) => res.perLayer(key) = median(v) }
      val wall = r.iters.map(i => r.spans.filter(_.iter == i).map(_.seconds).sum)
      val task = r.iters.indices.map(j => sweepLayers.map(l => r.perIter(s"$l.task_s")(j)).sum)
      res.perLayer("pipeline.driver_s") = 0.0
      res.perLayer("pipeline.core_util") = 0.0
      res.perLayer("sweep.core_util") = median(wall.zip(task).map { case (w, ts) => ts / (w * cpus) })
      res.perLayer("cache.peak_mb") = r.cachePeakMb
      res.perLayer("spark.gc_s") = median(traced.map(_._2).toSeq)
      res.perLayer("extract.staged_mb") = 0.0
      res.perLayer("load.written_mb") = 0.0
      res.perLayer("load.files") = 0.0
      res.perLayer("trace.unattributed_jobs") = r.unattributed.size
      res.perLayer("trace.overhead_pct") =
        (median(traced.map(_._1.sum).toSeq) / median(untraced.map(_.sum).toSeq) - 1) * 100
      res.info ++= Seq("traced_sweeps" -> traced.size, "jobs_seen" -> r.jobsSeen,
        "unattributed" -> r.unattributed.take(20))
      Trace.writeSpans(r, a.out.resolveSibling(a.out.getFileName.toString + ".spans.jsonl"))
    }
  }

  private def checkAll(got: Seq[(String, Either[String, Check])]): Unit = {
    val expected = readExpected(Files.readAllLines(a.expected).asScala.toSeq)
    res.check(expected.keySet == declared.toSet,
      s"expected file lists ${expected.size} queries, the program declares ${declared.size}")
    got.foreach {
      case (n, Left(e)) => res.error(s"check pass: $n threw $e")
      case (n, Right(c)) => expected.get(n).foreach { x =>
        val ok = c.rows == x.rows && (x.mode == "rows" ||
          (c.hash == x.hash && c.floatSums.size == x.floatSums.size &&
            c.floatSums.zip(x.floatSums).forall { case (p, q) => close(p, q) }))
        res.check(ok, s"check pass: $n output $c, expected $x")
      }
    }
  }

  /** Writes the fingerprints of this commit as the expected file. */
  private def record(got: Seq[(String, Either[String, Check])]): Unit = {
    val old = if (Files.exists(a.expected)) readExpected(Files.readAllLines(a.expected).asScala.toSeq) else Map.empty[String, Expect]
    val lines = got.map {
      case (n, Left(e)) => throw new IllegalStateException(s"cannot record: $n threw $e")
      case (n, Right(c)) =>
        // a query marked `rows` stays marked: its values vary between runs
        val mode = old.get(n).map(_.mode).getOrElse("full")
        Seq(n, moduleOf(n), c.rows, c.hash, c.floatSums.map(d => java.lang.Double.toString(d)).mkString("|"), mode)
          .mkString("\t")
    }
    Files.write(a.expected, ("# name\tmodule\trows\txxhash64_sum\tfloat_sums\tcheck\n" +
      lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
