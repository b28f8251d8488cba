package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.storage.RDDBlockId

/** The traced run's recorder. It keeps spans around the calls the harness
  * makes (one `Pipeline.run`, one read, one declared query) and, from a
  * `SparkListener`, every SQL execution (with its planning time), job,
  * stage and task inside them. Everything stays in memory until [[report]].
  *
  * Attribution: a job belongs to the root SQL execution named by its
  * `spark.sql.execution.root.id` property (AQE runs most jobs on its own
  * threads, whose call sites name no repository file), and a root execution
  * to the layer of the span it started in. Inside a `Pipeline.run` span the
  * layer is the `graft.etl` stage whose source file issued the execution,
  * read from the execution's call site.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc: SparkContext = spark.sparkContext
  private val lock = new Object
  private val spans = mutable.ArrayBuffer[Span]()
  private val execs = mutable.Map[Long, Exec]()
  private val planS = mutable.Map[Long, Double]()
  private val jobs = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.Map[Int, StageAgg]()
  private val cachedBlocks = mutable.Map[String, Long]()
  private var cachedBytes = 0L
  private var cachePeak = 0L

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = lock.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execs(s.executionId) = Exec(s.executionId,
            s.rootExecutionId.getOrElse(s.executionId), s.details, s.time, s.time)
        case s: SparkListenerSQLExecutionEnd =>
          execs.get(s.executionId).foreach(x => execs(x.id) = x.copy(end = s.time))
          Internals.planSeconds(s).foreach(planS(s.executionId) = _)
        case _ =>
      }
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = lock.synchronized {
      def prop(k: String): Option[String] = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
      jobs(j.jobId) = Job(j.jobId,
        prop(RootKey).orElse(prop(ExecKey)).map(_.toLong),
        prop(SpanKey).map(_.toLong),
        j.stageInfos.headOption.map(_.details).getOrElse(""), j.time, j.time)
      j.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j.jobId)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(j.jobId).foreach(x => jobs(x.id) = x.copy(end = j.time))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = lock.synchronized {
      val a = stages.getOrElseUpdate(t.stageId, new StageAgg)
      a.tasks += 1
      Option(t.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = lock.synchronized {
      val info = b.blockUpdatedInfo
      if (info.blockId.isInstanceOf[RDDBlockId]) {
        val key = s"${info.blockManagerId}/${info.blockId}"
        val now = info.memSize
        cachedBytes += now - cachedBlocks.getOrElse(key, 0L)
        if (now == 0) cachedBlocks.remove(key) else cachedBlocks(key) = now
        cachePeak = math.max(cachePeak, cachedBytes)
      }
    }
  }

  def start(): Unit = sc.addSparkListener(listener)
  def stop(): Unit = {
    Internals.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** Runs `body` as one span; jobs it starts carry the span id. */
  def span[T](iter: Int, kind: String, name: String, layer: String)(body: => T): T = {
    val s = Span(spans.size.toLong, iter, kind, name, layer, System.currentTimeMillis(), 0L)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      sc.setLocalProperty(SpanKey, null)
      spans += s.copy(end = System.currentTimeMillis())
    }
  }

  private def spanAt(t: Long): Option[Span] =
    spans.find(s => s.kind != "pipeline" && s.start <= t && t <= s.end)
      .orElse(spans.find(s => s.start <= t && t <= s.end))

  /** The layer of a root execution, or None when nothing names one. */
  private def execLayer(root: Exec, span: Span): Option[String] =
    if (span.kind == "pipeline") etlLayer(root.details) else Some(span.layer)

  private def jobLayer(j: Job): (Option[Span], Option[String]) = {
    val root = j.exec.flatMap(execs.get).map(e => execs.getOrElse(e.root, e))
    val span = j.span.flatMap(id => spans.find(_.id == id))
      .orElse(root.flatMap(r => spanAt(r.start)))
    val layer = span.flatMap { s =>
      root.flatMap(r => execLayer(r, s))
        .orElse(if (s.kind == "pipeline") etlLayer(j.callSite) else Some(s.layer))
    }
    (span, layer)
  }

  /** Per-iteration aggregates: (iter, layer) → counters; plus the span
    * walls and the job intervals each iteration's pipeline span covers.
    */
  def report(layers: Seq[String]): Report = lock.synchronized {
    val acc = mutable.Map[(Int, String), LayerAgg]()
    def agg(i: Int, l: String) = acc.getOrElseUpdate((i, l), new LayerAgg)
    val unattributed = mutable.ArrayBuffer[String]()
    val jobSpans = mutable.Map[Int, Span]()
    jobs.values.foreach { j =>
      jobLayer(j) match {
        case (Some(s), Some(l)) =>
          jobSpans(j.id) = s
          val a = agg(s.iter, l)
          a.jobs += 1
          stageJob.collect { case (st, jid) if jid == j.id => st }.foreach { st =>
            stages.get(st).foreach { sa =>
              a.tasks += sa.tasks; a.runMs += sa.runMs
              a.shuffleBytes += sa.shuffleBytes; a.spillBytes += sa.spillBytes
            }
          }
        case (Some(s), None) =>
          jobSpans(j.id) = s
          unattributed += s"job ${j.id} in ${s.kind} ${s.name}: ${j.callSite.linesIterator.take(3).mkString(" | ")}"
        case _ => // outside every span: checks and untimed work
      }
    }
    execs.values.filter(e => e.root == e.id).foreach { r =>
      spanAt(r.start).foreach { s =>
        execLayer(r, s).foreach { l =>
          val a = agg(s.iter, l)
          a.intervals += ((r.start, math.max(r.end, r.start)))
          // sub-executions (AQE subqueries, broadcasts) plan inside the root's wall
          a.planS += execs.values.filter(_.root == r.id).flatMap(e => planS.get(e.id)).sum
        }
      }
    }
    val iters = spans.map(_.iter).distinct.sorted.toSeq
    val perIter: Map[String, Seq[Double]] = layers.flatMap { l =>
      val as = iters.map(i => acc.getOrElse((i, l), new LayerAgg))
      Seq(
        s"$l.jobs" -> as.map(_.jobs.toDouble),
        s"$l.tasks" -> as.map(_.tasks.toDouble),
        s"$l.busy_s" -> as.map(a => unionMs(a.intervals.toSeq) / 1e3),
        s"$l.task_s" -> as.map(_.runMs / 1e3),
        s"$l.plan_s" -> as.map(_.planS),
        s"$l.shuffle_mb" -> as.map(_.shuffleBytes / MB),
        s"$l.spill_mb" -> as.map(_.spillBytes / MB))
    }.toMap
    // per iteration: wall of its pipeline spans and the union of their jobs' intervals
    val pipelineJobMs = iters.map { i =>
      unionMs(jobs.values.filter(j => jobSpans.get(j.id).exists(s => s.iter == i && s.kind == "pipeline"))
        .map(j => (j.start, j.end)).toSeq) / 1e3
    }
    val sqlSpans = execs.values.toSeq.sortBy(_.id).map { e =>
      val root = execs.getOrElse(e.root, e)
      val s = spanAt(root.start)
      SqlSpan(e, s, s.flatMap(execLayer(root, _)))
    }
    Report(iters, perIter, spans.toSeq, sqlSpans, pipelineJobMs, cachePeak / MB, unattributed.toSeq,
      jobs.size)
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  val ExecKey = "spark.sql.execution.id"
  val RootKey = "spark.sql.execution.root.id"
  val MB: Double = 1024.0 * 1024.0

  final case class Span(id: Long, iter: Int, kind: String, name: String, layer: String,
      start: Long, end: Long) {
    def seconds: Double = (end - start) / 1e3
  }
  final case class Exec(id: Long, root: Long, details: String, start: Long, end: Long)
  final case class Job(id: Int, exec: Option[Long], span: Option[Long], callSite: String,
      start: Long, end: Long)
  final class StageAgg { var tasks = 0L; var runMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L }
  final class LayerAgg {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    var planS = 0.0
    val intervals = mutable.ArrayBuffer[(Long, Long)]()
  }
  final case class SqlSpan(exec: Exec, parent: Option[Span], layer: Option[String])
  final case class Report(iters: Seq[Int], perIter: Map[String, Seq[Double]], spans: Seq[Span],
      sql: Seq[SqlSpan], pipelineJobS: Seq[Double], cachePeakMb: Double,
      unattributed: Seq[String], jobsSeen: Int)

  /** Writes every span, the harness's and one per SQL execution, as JSON lines. */
  def writeSpans(r: Report, path: java.nio.file.Path): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def line(kv: (String, Any)*): String = {
      val j = new java.util.LinkedHashMap[String, Any]()
      kv.foreach { case (k, v) => j.put(k, v) }
      m.writeValueAsString(j)
    }
    val lines = r.spans.map(s => line("span" -> s.id, "iter" -> s.iter, "kind" -> s.kind,
      "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end)) ++
      r.sql.map(x => line("sql" -> x.exec.id, "root" -> x.exec.root,
        "parent_span" -> x.parent.map(_.id).getOrElse(-1L), "iter" -> x.parent.map(_.iter).getOrElse(-1),
        "layer" -> x.layer.getOrElse(""), "start_ms" -> x.exec.start, "end_ms" -> x.exec.end))
    java.nio.file.Files.write(path, lines.asJava)
  }

  val etlLayers: Seq[String] = Seq("extract", "transform", "validate", "load", "export")
  private val etlFrame = """^graft\.etl\.(Extract|Transform|Validate|Load|Export)\b""".r

  /** The `graft.etl` stage nearest the top of a call site, if any. */
  def etlLayer(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim).collectFirst {
      case l if etlFrame.findFirstMatchIn(l).isDefined =>
        etlFrame.findFirstMatchIn(l).get.group(1).toLowerCase
    }

  /** Total length of the union of closed intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
