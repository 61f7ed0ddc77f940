package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one run needs: the session and the run's arguments. */
final case class Ctx(spark: SparkSession, root: String, seed: Long, seconds: Int, cores: Int,
                     streams: Relay.Listener)

/** A measured run: the end-to-end samples, the output-check tally, the
  * workload's own named metrics (`diag`) and, when traced, per-layer ones. */
final case class Outcome(throughput: Double, latenciesMs: Seq[Double], attempted: Long,
                         failed: Long, checks: Map[String, Any], diag: Map[String, Double],
                         layers: Map[String, Double])

/** One workload. `prepare` generates the inputs of one measured pass;
  * `setup` is the program's set-up (service boot, index initialisation)
  * and runs several times so its median is the reported set-up time, only
  * the last one staying live; `warmup` then runs once (codegen, JIT,
  * first-query costs) before `measure`. */
trait Workload {
  /** Set-ups per run; `setup_s` is their median. */
  def setupReps: Int
  def prepare(pass: Int): Unit
  def setup(rep: Int): Unit
  def warmup(): Unit
  def measure(trace: Trace): Outcome
  def teardown(): Unit
}

object Bench {
  def treeBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala.filter(f => Files.isRegularFile(f))
      .filterNot(f => f.getFileName.toString.endsWith(".crc")).map(f => Files.size(f)).sum
  }

  def await(timeoutMs: Long, what: String)(done: () => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!done()) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"timed out after $timeoutMs ms waiting for: $what")
      Thread.sleep(10)
    }
  }
}

/** Post-GC heap peak: at each sample point a full collection runs and the
  * heap pools' collection usage (used heap after that GC, i.e. the live
  * set) is read; the metric is the largest sample. Sample points sit
  * between timed phases, so the collections never land in a timing. */
object Heap {
  @volatile private var peak = 0L

  def sample(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    synchronized { peak = math.max(peak, used) }
  }

  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = peak / 1048576.0
}

object Main {
  /** Per-layer metric names of BENCHMARK.json that read a span statistic. */
  val SpanAliases: Map[String, String] = Map(
    "curation.process_batch_ms.p50" -> "span.curation.processBatch.ms.p50",
    "retrieval.process_batch_ms.p50" -> "span.retrieval.processBatch.ms.p50",
    "hybrid.search_jobs.p50" -> "span.retrieval.searchBatch.jobs.p50",
    "hybrid.search_driver_ms.p50" -> "span.retrieval.searchBatch.self_ms.p50")

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toInt
    val traceOn = arg(args, "--trace") == "1"
    val cores = arg(args, "--cores").toInt
    val root = arg(args, "--root")
    val resultPath = arg(args, "--result")
    val spansPath = if (args.contains("--spans")) Some(arg(args, "--spans")) else None
    // median untraced throughput of earlier runs, when the caller has one;
    // without it the traced run measures its own untraced reference first
    val reference = if (args.contains("--reference")) Some(arg(args, "--reference").toDouble) else None

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def session(n: Int): (SparkSession, Relay.Listener) = {
      val spark = SparkSession.builder()
        .master(s"local[$n]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", n.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$root/spark-local")
        .config("spark.sql.warehouse.dir", s"$root/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val streams = new Relay.Listener
      spark.streams.addListener(streams)
      (spark, streams)
    }
    def workloadOf(ctx: Ctx): Workload = workload match {
      case "relay" => new RelayWorkload(ctx)
      case "curate_serve" => new CurateServe(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val (spark, streams) = session(cores)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    var active = spark
    try {
      val ctx = Ctx(spark, root, seed, seconds, cores, streams)
      val w = workloadOf(ctx)
      val tp = System.nanoTime()
      w.prepare(0)
      val prepareS = (System.nanoTime() - tp) / 1e9
      val setups = (0 until w.setupReps).map { rep =>
        val t = System.nanoTime()
        w.setup(rep)
        (System.nanoTime() - t) / 1e9
      }
      val tw = System.nanoTime()
      w.warmup()
      val warmS = (System.nanoTime() - tw) / 1e9
      Heap.reset()
      val untraced = if (traceOn && reference.nonEmpty) None else Some {
        try w.measure(new Trace(spark.sparkContext, false)) finally w.teardown()
      }
      // The traced run: the recorder on, on a fresh pass when the untraced
      // reference pass above ran in this JVM.
      val (out, layers) = if (!traceOn) (untraced.get, Map.empty[String, Double]) else {
        if (untraced.nonEmpty) {
          w.prepare(1)
          w.setup(w.setupReps)
          w.warmup()
        }
        val trace = new Trace(spark.sparkContext, true)
        val traced = try { val o = w.measure(trace); Heap.sample(); o }
          finally { w.teardown(); trace.close() }
        val ref = reference.getOrElse(untraced.get.throughput)
        spansPath.foreach(p => Files.write(Paths.get(p), trace.spansJson.asJava))
        val sum = trace.summary(cores, id => Option(streams.names.get(id)).getOrElse(id))
        val streamJobs = sum.collect { case (k, v) if k.startsWith("stream.graft-queue-") => v }.sum
        val jobsPerBatch = traced.layers.get("sink.batches").filter(_ > 0)
          .map(b => Map("sink.jobs_per_batch" -> streamJobs / b)).getOrElse(Map.empty)
        val scaling = if (workload != "relay") Map.empty[String, Double] else {
          // single-core baseline: the catch-up phase alone at local[1]
          spark.stop()
          val (one, oneStreams) = session(1)
          active = one
          val w1 = workloadOf(Ctx(one, s"$root/single", seed, 0, 1, oneStreams))
          w1.prepare(0)
          w1.setup(0)
          w1.warmup()
          val single = try w1.measure(new Trace(one.sparkContext, false)) finally w1.teardown()
          Map("scaling.relay_catchup_speedup" -> ref / single.throughput,
            "scaling.single_core_per_s" -> single.throughput)
        }
        val aliases = SpanAliases.collect { case (k, span) if sum.contains(span) => k -> sum(span) }
        (traced, sum ++ aliases ++ traced.layers ++ jobsPerBatch ++ scaling ++ Map(
          "trace.overhead_pct" -> 100.0 * (ref - traced.throughput) / ref,
          "trace.reference_per_s" -> ref,
          "heap_after_gc_peak_mb" -> Heap.peakMb,
          "trace.untraced_failed" -> untraced.map(_.failed.toDouble).getOrElse(0.0)))
      }
      val lat = out.latenciesMs
      def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      def obj(m: Map[String, Double]) =
        m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
      def metric(v: Double, unit: String) = s"""{"value":${num(v)},"unit":"$unit"}"""
      val metrics = Seq(
        "throughput_per_s" -> metric(out.throughput, "1/s"),
        "latency_p50_ms" -> metric(Stats.pct(lat, 50), "ms"),
        "latency_p90_ms" -> metric(Stats.pct(lat, 90), "ms"),
        "setup_s" -> metric(Stats.median(setups), "s"))
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      val diag = out.diag ++ Map("throughput_per_s" -> out.throughput,
        "latency_samples" -> lat.size.toDouble, "session_s" -> sessionS, "warmup_s" -> warmS,
        "prepare_s" -> prepareS) ++
        setups.zipWithIndex.map { case (s, i) => s"setup_s.$i" -> s }
      val checks = out.checks.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
      val failed = out.failed + layers.getOrElse("trace.untraced_failed", 0.0).toLong
      val json = s"""{"correct":${failed == 0},"attempted":${out.attempted},""" +
        s""""failed":$failed,"metrics":$metrics,"diag":${obj(diag)},""" +
        s""""checks":$checks,"layers":${obj(layers)}}"""
      Files.write(Paths.get(resultPath), json.getBytes("UTF-8"))
    } finally active.stop()
  }
}
