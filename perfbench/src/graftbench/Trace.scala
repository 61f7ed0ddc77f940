package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The traced run's recorder. Spans wrap the benchmark's own calls into
  * the program's public functions (name, start, end, parent, batch id);
  * jobs launched inside a span carry its id as their job group. A
  * `SparkListener` records every job and task, and each job is attributed
  * to a span (job group, else the innermost span open when it started),
  * else to a streaming query (`sql.streaming.queryId`), else counted as
  * `unattributed`. Its module and lifecycle phase come from the innermost
  * program frame of its call site. Everything stays in memory until
  * [[summary]]. With tracing off, [[span]] only runs its body. */
final class Trace(sc: SparkContext, val on: Boolean) {
  final case class Span(id: Long, name: String, parent: Long, batch: Long,
                        startNs: Long, var endNs: Long = -1L)
  final case class Job(id: Int, group: String, queryId: String, execId: String, site: String,
                       startMs: Long, var endMs: Long = -1L, var taskMs: Long = 0L,
                       var tasks: Int = 0, var shuffleBytes: Long = 0L,
                       var spillBytes: Long = 0L, var gcMs: Long = 0L)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  @volatile var windowStartMs: Long = Long.MaxValue
  @volatile var windowEndMs: Long = Long.MaxValue
  private val unmappedTaskMs = new java.util.concurrent.atomic.AtomicLong()
  /** Wall-clock offset between nanoTime and epoch millis, fixed once. */
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nsToMs(ns: Long): Long = (ns + epochNs) / 1000000L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      val exec = Option(prop("spark.sql.execution.root.id")).filter(_.nonEmpty)
        .getOrElse(prop("spark.sql.execution.id"))

      jobs.put(e.jobId, Job(e.jobId, prop("spark.jobGroup.id"),
        prop("sql.streaming.queryId"), exec, site, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ms = e.taskInfo.duration
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))) match {
        case Some(j) => j.synchronized {
          j.taskMs += ms; j.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
            j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            j.gcMs += m.jvmGCTime
          }
        }
        case None => unmappedTaskMs.addAndGet(ms)
      }
    }
  }
  if (on) sc.addSparkListener(listener)

  def close(): Unit = if (on) sc.removeSparkListener(listener)

  /** Run `body` as a span named `name`; `batch` ties the spans of one
    * batch or request together. */
  def span[T](name: String, batch: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val stack = open.get()
      val sp = Span(ids.incrementAndGet(), name, stack.headOption.map(_.id).getOrElse(0L),
        batch, System.nanoTime())
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      open.set(sp :: stack)
      sc.setJobGroup(s"bench-span-${sp.id}", name)
      try body
      finally {
        sp.endNs = System.nanoTime()
        spans.add(sp)
        open.set(stack)
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        sc.setLocalProperty("spark.job.description", prevDesc)
      }
    }

  // ------------------------------------------------------------ attribution

  /** Program modules by class-name prefix; the innermost frame that maps
    * decides a job's module. */
  private val Modules = Seq(
    "graft.streaming.Pipelines$MaintainedDedupIndex" -> "dedup_index",
    "graft.streaming.Pipelines$MaintainedNearDupIndex" -> "neardup_index",
    "graft.streaming.MaintainedTextIndex" -> "text_index",
    "graft.streaming.MaintainedAnnIndex" -> "ann_index",
    "graft.streaming.HybridRetrieval" -> "hybrid",
    "graft.streaming.CurationService" -> "curation",
    "graft.streaming.RetrievalService" -> "retrieval",
    "graft.streaming.GraftSystem" -> "sink",
    "graft.streaming.Service" -> "graftsystem",
    "graft.streaming.QueueOrchestrator" -> "graftsystem",
    "graft.functions." -> "functions",
    "graft.plans." -> "functions",
    "graft.queries." -> "functions")
  private val Phases = Map(
    "ingestBatch" -> "ingest", "finalizeBatch" -> "ingest", "finalizeJoined" -> "ingest",
    "screenBatch" -> "ingest", "screenAndAdmit" -> "ingest", "classify" -> "ingest",
    "flush" -> "flush",
    "compactBase" -> "compact", "compactBaseImpl" -> "compact", "maybeCompact" -> "compact",
    "deleteIds" -> "delete", "deleteFps" -> "delete", "deleteDocs" -> "delete",
    "deleteVectors" -> "delete",
    "search" -> "search", "searchMany" -> "search", "searchRerank" -> "search",
    "searchRerankFresh" -> "search",
    "retrainModel" -> "retrain", "retrainImpl" -> "retrain", "maybeRetrain" -> "retrain",
    "initIndex" -> "init")
  private val Frame = """^\s*(?:at\s+)?([\w.$]+)\.([\w$]+)\(.*$""".r

  /** (module, phase) of a call site's long form; frames of the benchmark
    * itself are skipped. */
  def classify(site: String): (String, String) = {
    val frames = site.split('\n').toSeq.flatMap {
      case Frame(cls, m) if cls.startsWith("graft.") => Some((cls, m))
      case _ => None
    }
    def moduleOf(cls: String) = Modules.collectFirst { case (p, mod) if cls.startsWith(p) => mod }
    frames.indexWhere(f => moduleOf(f._1).nonEmpty) match {
      case -1 => ("other", "")
      case i =>
        val mod = moduleOf(frames(i)._1).get
        val phase = frames.drop(i).takeWhile(f => moduleOf(f._1).contains(mod)).iterator
          .map(f => f._2.split('$').filter(_.nonEmpty).filterNot(_ == "anonfun"))
          .flatMap(_.find(Phases.contains)).map(Phases).nextOption().getOrElse("")
        (mod, phase)
    }
  }

  /** Per-layer metrics for the measured window `[windowStartMs, windowEndMs]`.
    * `queryNames` maps a streaming query id to its name. */
  def summary(cores: Int, queryNames: String => String): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val inWin = all.filter(sp => nsToMs(sp.startNs) >= windowStartMs && nsToMs(sp.endNs) <= windowEndMs)
    val byId = all.map(sp => sp.id -> sp).toMap
    val ws = jobs.values().asScala.toSeq
      .filter(j => j.startMs >= windowStartMs && j.startMs <= windowEndMs && j.endMs >= 0)
    def spanOf(j: Job): Option[Span] =
      if (j.group.startsWith("bench-span-")) byId.get(j.group.stripPrefix("bench-span-").toLong)
      else if (j.queryId.nonEmpty) None
      else all.filter(sp => nsToMs(sp.startNs) <= j.startMs && j.startMs <= nsToMs(sp.endNs))
        .sortBy(-_.startNs).headOption
    val out = mutable.LinkedHashMap[String, Double]()
    var attributed = 0L
    var total = unmappedTaskMs.get
    val jobsBySpan = mutable.HashMap[Long, mutable.ArrayBuffer[Job]]()
    // a job Spark runs on its own threads (a broadcast, an adaptive query
    // stage) has no program frame in its call site: it takes the module and
    // phase of a job of the same SQL execution that has one, else of the
    // next such job of its span (the action those stages serve)
    val sites = ws.map(j => j -> classify(j.site)).toMap
    val known = ws.filter(j => sites(j)._1 != "other").sortBy(_.id)
    val byExec = known.filter(_.execId.nonEmpty).groupBy(_.execId).map { case (e, js) => e -> sites(js.head) }
    def inherit(j: Job): (String, String) =
      byExec.get(j.execId).orElse(
        if (j.group.isEmpty) None
        else (known.find(k => k.group == j.group && k.id > j.id) orElse
          known.reverse.find(k => k.group == j.group && k.id < j.id)).map(sites))
        .getOrElse(sites(j))
    ws.foreach { j =>
      total += j.taskMs
      val sp = spanOf(j)
      val streaming = sp.isEmpty && j.queryId.nonEmpty
      sp.foreach(s => jobsBySpan.getOrElseUpdate(s.id, mutable.ArrayBuffer()) += j)
      if (sp.nonEmpty || streaming) attributed += j.taskMs
      val (mod, phase) = if (sites(j)._1 == "other") inherit(j) else sites(j)
      add(out, s"$mod.jobs", 1)
      add(out, s"$mod.job_ms", (j.endMs - j.startMs).toDouble)
      if (phase.nonEmpty && Set("dedup_index", "neardup_index", "text_index", "ann_index")(mod)) {
        add(out, s"$mod.$phase.jobs", 1)
        add(out, s"$mod.$phase.job_ms", (j.endMs - j.startMs).toDouble)
      }
      if (streaming) add(out, s"stream.${queryNames(j.queryId)}.jobs", 1)
    }
    // span self time: wall minus the union of its jobs' intervals
    def selfMs(sp: Span): Double = {
      val s0 = nsToMs(sp.startNs); val e0 = nsToMs(sp.endNs)
      val iv = jobsBySpan.getOrElse(sp.id, Nil).map(j => (math.max(j.startMs, s0), math.min(j.endMs, e0)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      (e0 - s0 - covered).toDouble
    }
    val topLevel = inWin.filter(sp => sp.parent == 0L || !byId.contains(sp.parent))
    inWin.groupBy(_.name).foreach { case (name, sps) =>
      val walls = sps.map(sp => (sp.endNs - sp.startNs) / 1e6)
      out(s"span.$name.n") = sps.size
      out(s"span.$name.ms.sum") = walls.sum
      out(s"span.$name.ms.p50") = Stats.pct(walls, 50)
      out(s"span.$name.jobs.p50") = Stats.pct(sps.map(sp => jobsBySpan.getOrElse(sp.id, Nil).size.toDouble), 50)
      out(s"span.$name.self_ms.p50") = Stats.pct(sps.map(selfMs), 50)
      out(s"span.$name.task_ms") = sps.map(sp => jobsBySpan.getOrElse(sp.id, Nil).map(_.taskMs).sum).sum
    }
    val wallMs = math.max(1L, windowEndMs - windowStartMs).toDouble
    out("spark.jobs") = ws.size
    out("spark.tasks") = ws.map(_.tasks).sum
    out("spark.task_ms") = total
    out("spark.core_util") = total / (wallMs * cores)
    out("spark.driver_ms") = topLevel.map(selfMs).sum
    out("spark.shuffle_bytes") = ws.map(_.shuffleBytes).sum
    out("spark.spill_bytes") = ws.map(_.spillBytes).sum
    out("spark.gc_ms") = ws.map(_.gcMs).sum
    out("trace.attributed_pct") = if (total == 0) 100.0 else 100.0 * attributed / total
    out("trace.unattributed_task_ms") = total - attributed
    out("trace.spans") = all.size
    out.toMap
  }

  private def add(m: mutable.Map[String, Double], k: String, v: Double): Unit =
    m(k) = m.getOrElse(k, 0.0) + v

  /** Spans of the measured window as JSON lines (written when the run ends). */
  def spansJson: Seq[String] = spans.asScala.toSeq.sortBy(_.startNs).map { sp =>
    s"""{"id":${sp.id},"name":"${sp.name}","parent":${sp.parent},"batch":${sp.batch},""" +
      s""""start_ms":${nsToMs(sp.startNs)},"end_ms":${nsToMs(sp.endNs)}}"""
  }
}

object Stats {
  /** Nearest-rank percentile (`p` in 0..100); NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
