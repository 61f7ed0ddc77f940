package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.{GraftSystem, Service}
import graft.streaming.Pipelines.Ccd

/** The CDC relay workload: the shipped boot path `Service.assemble` with
  * the `Service.Config` defaults `ServiceMain` uses (only the paths are
  * the benchmark's), fed `graft-changelog` segments for four queues, in
  * the two phases of a restart after an outage:
  *
  *  - catch-up: the four queues' backlog is on disk; one control append
  *    activates them all, timed from that append to the commit of each
  *    queue's last offset. Few, large micro-batches: key derivation and
  *    the keyed parquet sink do almost all the work.
  *  - live tail: a publisher thread renames pre-written segments into the
  *    queue directories at a fixed rate, each at a seeded random point of
  *    its slot (open loop), and each segment's latency runs from its
  *    scheduled publish time to the end of the micro-batch whose end
  *    offset covers its last row. Small
  *    batches: per-trigger costs (source planning, query planning,
  *    WAL/offset commits) dominate. */
object Relay {
  val Queues = 4
  /** Catch-up backlog per queue, in segments of CatchupSegRows rows. */
  val CatchupQueueRows = 80000
  val CatchupSegRows = 5000
  /** Live tail: the offered load, 2,000 rows/s in small segments into two
    * of the four queues. Per-trigger cost, not row volume, bounds the tail:
    * at 25 segments/s (or with all four queries taking data) the triggers
    * outran the 1 s interval on a 4-core box, a backlog built up and
    * latency tracked ambient contention. */
  val LiveQueues = 2
  val LiveSegmentsPerS = 10.0
  val LiveSegRows = 200
  /** Seconds of live tail into the warm-up queue before measuring: the
    * first seconds of small-batch triggers run slower (JIT) than the rest. */
  val WarmTailS = 5
  val MalformedPerMille = 5

  final case class Progress(query: String, startMs: Long, endMs: Long, rows: Long,
                            endOffset: Long, durations: Map[String, Long])

  /** Collects the streaming engine's public progress surface. */
  final class Listener extends StreamingQueryListener {
    val progress = new ConcurrentLinkedQueue[Progress]()
    val started = new ConcurrentLinkedQueue[(String, Long)]()
    val names = new java.util.concurrent.ConcurrentHashMap[String, String]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val name = Option(e.name).getOrElse("")
      names.put(e.id.toString, name)
      started.add((name, System.currentTimeMillis()))
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.collect { case (k, v) if v != null => k -> v.longValue() }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val end = p.sources.headOption.flatMap(s => Option(s.endOffset)).flatMap(_.toLongOption)
        .getOrElse(Long.MinValue)
      progress.add(Progress(Option(p.name).getOrElse(""), start, start + d.getOrElse("triggerExecution", 0L),
        p.numInputRows, end, d))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    /** Restarts: starts beyond the first, summed over the named queries. */
    def restarts(names: Seq[String]): Double = {
      val st = started.asScala.toSeq.map(_._1)
      names.map(n => math.max(0, st.count(_ == n) - 1)).sum.toDouble
    }
    /** Commit time of the first batch of `query` whose end offset covers `offset`. */
    def committedAt(query: String, offset: Long): Option[Long] =
      progress.asScala.filter(p => p.query == query && p.endOffset >= offset)
        .map(_.endMs).minOption
  }

  /** One segment: queue, file stem, last offset, rows, publish schedule. */
  final case class Segment(queue: String, file: String, lastOffset: Long, rows: Long,
                           dueMs: Double = 0.0)

  /** One changelog row and what the relay must publish for it: `key` is
    * derived from the generated primary-key values by the core.clj:13-22
    * rule (fields sorted by name, flattened to `[k1,v1,k2,v2]`), not by
    * parsing the envelope; null marks a row that must be dead-lettered. */
  final case class Row(offset: Long, dml: String, key: String)

  /** The DML rows of one segment, a pure function of (seed, queue, first
    * offset). The `id` map lists `uid` before `eid`, so key derivation has
    * to sort it; `data` is an `events` row; `MalformedPerMille` of the rows
    * carry an `id` that is not an object or are truncated JSON. */
  def rows(seed: Long, queue: String, first: Long, n: Long): Iterator[Row] = {
    val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ queue.hashCode * 31L ^ first)
    Iterator.range(0, n.toInt).map { i =>
      val off = first + i
      val uid = rnd.nextInt(1500)
      val data = s"""{"event_id":$off,"ts":${1704067200000L + rnd.nextLong(2592000000L)},""" +
        s""""user_id":$uid,"event_type":"${Gen.EventTypes(rnd.nextInt(5))}",""" +
        s""""value":${rnd.nextInt(56021) / 100.0},"props":{"k":${rnd.nextInt(100)}}}"""
      val good = s"""{"id":{"uid":$uid,"eid":$off},"type":"insert","table":"events","data":$data}"""
      if (rnd.nextInt(1000) >= MalformedPerMille) Row(off, good, s"""["eid",$off,"uid",$uid]""")
      else if (rnd.nextBoolean())
        Row(off, s"""{"id":[$uid,$off],"type":"insert","table":"events","data":$data}""", null)
      else Row(off, good.take(60), null)
    }
  }

  /** Row count and order-independent hash sum of a set of relay outputs —
    * the sum of Spark's `xxhash64(queue, key, value)` (a null key skipped),
    * so a driver-side tally compares with one the sink side computes in a
    * query. */
  final case class Tally(rows: Long, hash: BigInt) {
    def +(o: Tally): Tally = Tally(rows + o.rows, hash + o.hash)
  }
  object Tally {
    val Zero: Tally = Tally(0L, BigInt(0))
    def hash(queue: String, key: String, value: String): Long = {
      import org.apache.spark.sql.catalyst.expressions.XxHash64Function
      import org.apache.spark.unsafe.types.UTF8String
      import org.apache.spark.sql.types.StringType
      Seq(queue, key, value).filter(_ != null).foldLeft(42L)((h, v) =>
        XxHash64Function.hash(UTF8String.fromString(v), StringType, h))
    }
  }

  /** Expected output tallies of one queue: (main rows, dead letters). */
  final case class Expected(main: Tally, dead: Tally)

  private val SegmentSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    "message changelog { required int64 event_id; required binary props (UTF8); }")

  /** Write `segs` (per queue in offset order, offsets contiguous from 0) as
    * `dataRoot/<queue>/<file><suffix>`, one parquet file per segment, with
    * the plain parquet writer on `threads` threads, and return each queue's
    * expected output tallies. */
  def writeSegments(dataRoot: String, seed: Long, segs: Seq[(Segment, String)],
                    threads: Int): Map[String, Expected] = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    val conf = new org.apache.hadoop.conf.Configuration()
    val jobs = segs.groupBy(_._1.queue).toSeq.flatMap { case (_, qs) =>
      qs.zip(qs.scanLeft(0L)(_ + _._1.rows)).map { case ((sg, suffix), first) => (sg, suffix, first) }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val futures = jobs.map { case (sg, suffix, first) =>
        pool.submit(() => {
          val dir = Paths.get(dataRoot, sg.queue)
          Files.createDirectories(dir)
          val path = new org.apache.hadoop.fs.Path(dir.resolve(sg.file + suffix).toString)
          val w = ExampleParquetWriter.builder(path).withConf(conf).withType(SegmentSchema)
            .withCompressionCodec(CompressionCodecName.SNAPPY).build()
          val f = new SimpleGroupFactory(SegmentSchema)
          var main = Tally.Zero
          var dead = Tally.Zero
          try rows(seed, sg.queue, first, sg.rows).foreach { r =>
            w.write(f.newGroup().append("event_id", r.offset).append("props", r.dml))
            val t = Tally(1L, BigInt(Tally.hash(sg.queue, r.key, r.dml)))
            if (r.key == null) dead += t else main += t
          } finally w.close()
          (sg.queue, Expected(main, dead))
        })
      }
      futures.map(_.get()).groupBy(_._1).map { case (q, es) =>
        q -> es.map(_._2).reduce((x, y) => Expected(x.main + y.main, x.dead + y.dead))
      }
    } finally pool.shutdown()
  }

  /** Output checks: the distinct (queue, key, value) rows in the sink must
    * equal the expected set (duplicates are allowed — delivery is
    * at-least-once — a missing or unexpected row is not), and the
    * dead-letter values must equal the planted malformed rows. Each side is
    * compared by row count and hash sum; a mismatch pays for regenerating
    * the expected rows and the set differences that count the faulty ones. */
  def check(s: SparkSession, outRoot: String, dataRoot: String, seed: Long,
            expected: Map[String, Expected], queues: Seq[String]): (Long, Long, Map[String, Any]) = {
    import s.implicits._
    def read(sub: String, key: Boolean) = queues.map { q =>
      val p = s"$outRoot/$q/$sub"
      val df = if (Files.exists(Paths.get(p))) s.read.parquet(p)
        else s.range(0).select(lit("").as("key"), lit("").as("value"))
      df.select(lit(q).as("queue"), if (key) col("key") else lit(null).cast("string").as("key"),
        col("value"))
    }.reduce(_.unionByName(_))
    val got = read("main", key = true).unionByName(read("dead_letter", key = false))
    val h = xxhash64(col("queue"), col("key"), col("value")).cast("decimal(38,0)")
    val dead = col("key").isNull
    val r = got.agg(count(when(!dead, 1)), sum(when(!dead, h)), count(when(dead, 1)), sum(when(dead, h)))
      .head()
    def big(i: Int) = Option(r.getDecimal(i)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
    val gotMain = Tally(r.getLong(0), big(1))
    val gotDead = Tally(r.getLong(2), big(3))
    val want = queues.map(expected).reduce((x, y) => Expected(x.main + y.main, x.dead + y.dead))
    /** (missing, unexpected) distinct rows of the main or dead-letter side. */
    def diff(deadSide: Boolean): (Long, Long) = {
      val segs = queues.flatMap { q =>
        Files.list(Paths.get(dataRoot, q)).iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSeq.sorted.map(q -> _)
      }
      val exp = segs.flatMap { case (q, f) =>
        val first = s.read.parquet(s"$dataRoot/$q/$f").agg(min("event_id"), count(lit(1))).head()
        rows(seed, q, first.getLong(0), first.getLong(1)).map(r => (q, r.key, r.dml))
      }.toDF("queue", "key", "value").filter(if (deadSide) dead else !dead)
      val g = got.filter(if (deadSide) dead else !dead).distinct()
      (exp.exceptAll(g).count(), g.exceptAll(exp).count())
    }
    // equal tallies mean equal sets with no duplicates
    val (missing, extra) = if (gotMain == want.main) (0L, 0L) else diff(deadSide = false)
    val (deadMissing, deadExtra) = if (gotDead == want.dead) (0L, 0L) else diff(deadSide = true)
    val attempted = want.main.rows + want.dead.rows
    // a wrong row is both missing and unexpected: count it once
    val failed = math.max(missing, extra) + math.max(deadMissing, deadExtra)
    (attempted, failed, Map("sink_missing" -> missing, "sink_unexpected" -> extra,
      "dead_letter_missing" -> deadMissing, "dead_letter_unexpected" -> deadExtra,
      "dead_letter_rows" -> want.dead.rows, "rows" -> attempted))
  }

  /** A booted relay under one root. */
  final class Rig(val s: SparkSession, val root: String, val dataRoot: String,
                  val listener: Listener) {
    val controlDir = s"$root/control"
    val outRoot = s"$root/out"
    val ckptRoot = s"$root/ckpt"
    Files.createDirectories(Paths.get(dataRoot))
    var system: GraftSystem = _

    def boot(): Unit = {
      // the first control file must exist before the control stream starts
      Service.appendControlBatch(s, controlDir, Seq(Ccd("bench.boot", "inactive", "bench.boot", 0L, None)))
      system = Service.assemble(s, Service.Config(controlDir, dataRoot, outRoot, ckptRoot,
        metricsDir = Some(s"$outRoot/_metrics")))._1
    }

    /** Append one control batch just after a 1 s trigger boundary, so the
      * wait for the control trigger is the same on every run. */
    def appendAligned(ccds: Seq[Ccd]): Long = {
      val now = System.currentTimeMillis()
      val target = (now / 1000L + 1) * 1000L + 50L
      Thread.sleep(target - now)
      val t = System.currentTimeMillis()
      Service.appendControlBatch(s, controlDir, ccds)
      t
    }

    def activate(queues: Seq[String]): Long =
      appendAligned(queues.map(q => Ccd(q, "active", q, 1L, None)))

    def awaitCommitted(query: String, offset: Long, timeoutMs: Long): Long = {
      Bench.await(timeoutMs, s"$query committed offset $offset")(() =>
        listener.committedAt(query, offset).nonEmpty)
      listener.committedAt(query, offset).get
    }

    def stop(): Unit = if (system != null) { system.stop(); system = null }

    def storeBytes: Long = Bench.treeBytes(outRoot)
  }

  def qname(q: String) = s"graft-queue-$q"

  /** Streaming per-layer metrics over the progress events of `queues`
    * between `fromMs` and `toMs`. */
  def streamLayers(l: Listener, queues: Set[String], fromMs: Long, toMs: Long,
                   published: (String, Long) => Long): Map[String, Double] = {
    val ps = l.progress.asScala.toSeq
      .filter(p => queues.exists(q => qname(q) == p.query) && p.startMs >= fromMs && p.startMs <= toMs)
    val data = ps.filter(_.rows > 0)
    def d(p: Progress, k: String) = p.durations.getOrElse(k, 0L).toDouble
    // rows published by the end of a batch that it did not take
    val lag = ps.map(p => (published(p.query.stripPrefix("graft-queue-"), p.endMs) - p.endOffset).toDouble)
    Map(
      "sources.latest_offset_ms.p50" -> Stats.pct(ps.map(d(_, "latestOffset")), 50),
      "sources.get_batch_ms.p50" -> Stats.pct(data.map(d(_, "getBatch")), 50),
      "sources.lag_rows.max" -> (if (lag.isEmpty) 0.0 else lag.max),
      "sources.batches" -> data.size.toDouble,
      "sources.rows_per_batch.p50" -> Stats.pct(data.map(_.rows.toDouble), 50),
      "graftsystem.query_planning_ms.p50" -> Stats.pct(data.map(d(_, "queryPlanning")), 50),
      "graftsystem.commit_ms.p50" -> Stats.pct(data.map(p => d(p, "walCommit") + d(p, "commitOffsets")), 50),
      "graftsystem.trigger_ms.p95" -> Stats.pct(data.map(d(_, "triggerExecution")), 95),
      "sink.add_batch_ms.sum" -> data.map(d(_, "addBatch")).sum)
  }
}


/** relay: catch-up of a four-queue backlog, then a live tail on the same
  * queues at a fixed offered rate. */
final class RelayWorkload(ctx: Ctx) extends Workload {
  import Relay._
  /** A boot is well under a second: five of them give a steadier median. */
  val setupReps = 5
  // queue (and so streaming query) names are unique per set-up: the
  // progress listener outlives each set-up
  private var queues: Seq[String] = Nil
  private var warmQueue = ""
  private var pass = 0
  private val catchupSegs = CatchupQueueRows / CatchupSegRows
  private val catchupLast = CatchupQueueRows - 1L
  private val listener = ctx.streams
  private var rig: Rig = _
  private var expected: Map[String, Expected] = Map.empty
  private var schedule: Seq[Segment] = Nil
  private var warmTail: Seq[Segment] = Nil

  private def dataRoot = s"${ctx.root}/data"

  /** The pass's inputs: a backlog of `CatchupQueueRows` rows on each of four
    * fresh queues, and the live tail, a seeded schedule of segments that
    * continue each queue's offsets after its backlog, written
    * without the `.parquet` suffix the source lists until they are due. */
  def prepare(p: Int): Unit = {
    pass = p
    queues = (0 until Queues).map(i => s"bench.p${pass}q$i")
    warmQueue = s"bench.p${pass}warm"
    val backlog = for (q <- queues; i <- 0 until catchupSegs)
      yield Segment(q, f"seg-$i%05d", (i + 1L) * CatchupSegRows - 1, CatchupSegRows.toLong)
    val rnd = new java.util.SplittableRandom(ctx.seed * 1000003L + 17 + pass)
    /** `seconds` of arrivals at `LiveSegmentsPerS`, round robin over `qs`,
      * each segment due at a uniform random point of its own slot, and each
      * queue's segments continuing its offsets after a backlog of
      * `backlogSegs`. Unlike Poisson arrivals, jittered slots spread the
      * arrivals evenly over the relay's 1 s trigger grid, so the wait for
      * the next trigger, half of a segment's latency, does not swing the
      * median from seed to seed. */
    def tail(qs: Seq[String], backlogSegs: Int, seconds: Int): Seq[Segment] = {
      val counts = Array.fill(qs.size)(backlogSegs)
      val slotMs = 1000.0 / LiveSegmentsPerS
      (0 until math.ceil(LiveSegmentsPerS * seconds).toInt).map { i =>
        val t = (i + rnd.nextDouble()) * slotMs
        val q = i % qs.size
        val last = backlogSegs.toLong * CatchupSegRows + (counts(q) - backlogSegs + 1L) * LiveSegRows - 1
        counts(q) += 1
        Segment(qs(q), f"seg-${counts(q) - 1}%05d", last, LiveSegRows.toLong, t)
      }
    }
    val live = tail(queues.take(LiveQueues), catchupSegs, ctx.seconds)
    val warm = (0 until catchupSegs).map(i => Segment(warmQueue, f"seg-$i%05d", (i + 1L) * CatchupSegRows - 1,
      CatchupSegRows.toLong))
    warmTail = tail(Seq(warmQueue), warm.size, WarmTailS)
    expected = Relay.writeSegments(dataRoot, ctx.seed + pass,
      (backlog ++ warm).map(_ -> ".parquet") ++ (live ++ warmTail).map(_ -> ".pending"), ctx.cores)
    schedule = live
  }

  /** The program's set-up: `Service.assemble` booted on its own control,
    * checkpoint and output roots. */
  def setup(rep: Int): Unit = {
    teardown()
    rig = new Rig(ctx.spark, s"${ctx.root}/setup$rep", dataRoot, listener)
    rig.boot()
  }

  /** One queue drained end to end (codegen, first-query costs), then fed
    * `WarmTailS` seconds of live tail (small-batch triggers), then
    * deactivated, so that only the four measured queues run after it. */
  def warmup(): Unit = {
    rig.activate(Seq(warmQueue))
    rig.awaitCommitted(qname(warmQueue), catchupLast, 120000L)
    publishAll(warmTail)
    rig.awaitCommitted(qname(warmQueue), warmTail.map(_.lastOffset).max, 120000L)
    rig.appendAligned(Seq(Ccd(warmQueue, "inactive", warmQueue, 2L, None)))
    Bench.await(30000L, s"${qname(warmQueue)} stopped")(() =>
      !ctx.spark.streams.active.exists(_.name == qname(warmQueue)))
  }

  private def publish(sg: Segment): Unit = {
    val dir = Paths.get(rig.dataRoot, sg.queue)
    Files.move(dir.resolve(sg.file + ".pending"), dir.resolve(sg.file + ".parquet"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Publish `sched` from 100 ms after now, open loop: segments are due on
    * the schedule whether or not the relay keeps up. Returns the schedule's
    * start, each publish (queue, time, last offset) and how late the
    * publisher ran at worst. */
  private def publishAll(sched: Seq[Segment]): (Long, Seq[(String, Long, Long)], Long) = {
    val publishedAt = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val late = new java.util.concurrent.atomic.AtomicLong(0L)
    val t0 = System.currentTimeMillis() + 100L
    val publisher = new Thread(() => sched.foreach { sg =>
      val due = t0 + sg.dueMs.toLong
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      publish(sg)
      val now = System.currentTimeMillis()
      late.accumulateAndGet(now - due, math.max)
      publishedAt.add((sg.queue, now, sg.lastOffset))
    }, "bench-publisher")
    publisher.start()
    publisher.join()
    (t0, publishedAt.asScala.toSeq, late.get)
  }

  def measure(trace: Trace): Outcome = {
    // catch-up
    trace.windowStartMs = System.currentTimeMillis()
    val ta = trace.span("orchestrator.appendControl")(rig.activate(queues))
    val caught = queues.map(q => rig.awaitCommitted(qname(q), catchupLast, 150000L)).max
    val backlogRows = Queues * CatchupQueueRows.toDouble
    val catchupRps = backlogRows / ((caught - ta) / 1000.0)
    val activation = queues.map(q => listener.started.asScala.filter(_._1 == qname(q)).map(_._2).min - ta).max
    val catchupTrigger = listener.progress.asScala.toSeq.filter(p =>
      p.rows > 0 && p.startMs >= ta && p.startMs <= caught && queues.exists(q => qname(q) == p.query))
      .map(p => (p.endMs - p.startMs).toDouble)
    Heap.sample()

    // live tail
    val (t0, pubs, late) = publishAll(schedule)
    val lastByQueue = schedule.groupBy(_.queue).map { case (q, ss) => q -> ss.map(_.lastOffset).max }
    val lastCommit = (lastByQueue.map { case (q, o) => rig.awaitCommitted(qname(q), o, 120000L) }.toSeq :+ caught).max
    trace.windowEndMs = lastCommit
    val lat = schedule.map(sg => listener.committedAt(qname(sg.queue), sg.lastOffset).get - t0 - sg.dueMs)
    val tailData = listener.progress.asScala.toSeq.filter(p =>
      p.rows > 0 && p.startMs >= t0 && p.startMs <= lastCommit && queues.exists(q => qname(q) == p.query))
    val tailTrigger = tailData.map(p => (p.endMs - p.startMs).toDouble)

    val tc = System.nanoTime()
    val (attempted, failed, checks) =
      Relay.check(ctx.spark, rig.outRoot, dataRoot, ctx.seed + pass, expected, queues)
    val checkS = (System.nanoTime() - tc) / 1e9
    val store = rig.storeBytes.toDouble
    val layers = if (!trace.on) Map.empty[String, Double] else {
      val published = (q: String, at: Long) =>
        (pubs.filter(p => p._1 == q && p._2 <= at).map(_._3) :+ catchupLast).max
      val catchup = Relay.streamLayers(listener, queues.toSet, ta, caught, (_, _) => catchupLast)
      val tail = Relay.streamLayers(listener, queues.toSet, t0, lastCommit, published)
      Seq("sources.batches", "sources.rows_per_batch.p50", "sink.add_batch_ms.sum")
        .map(k => k -> catchup(k)).toMap ++
      Seq("sources.latest_offset_ms.p50", "sources.get_batch_ms.p50", "sources.lag_rows.max",
        "graftsystem.query_planning_ms.p50", "graftsystem.commit_ms.p50", "graftsystem.trigger_ms.p95")
        .map(k => k -> tail(k)).toMap ++
      Map("orchestrator.activation_ms" -> activation.toDouble,
        "supervisor.restarts" -> listener.restarts(queues.map(qname)),
        "sink.bytes_written" -> store,
        "sink.dead_letter_rows" -> checks("dead_letter_rows").toString.toDouble,
        "gen.late_ms.max" -> late.toDouble,
        "sink.batches" -> (catchup("sources.batches") + tail("sources.batches")))
    }
    Outcome(catchupRps, lat, attempted, failed, checks,
      Map("relay_catchup_records_per_s" -> catchupRps,
        "relay_latency_p50_ms" -> Stats.pct(lat, 50), "relay_latency_p95_ms" -> Stats.pct(lat, 95),
        "live_segments" -> schedule.size.toDouble, "offered_segments_per_s" -> LiveSegmentsPerS,
        "gen.late_ms.max" -> late.toDouble, "store_bytes" -> store,
        "tail_batches" -> tailData.size.toDouble,
        "tail_trigger_ms_p50" -> Stats.pct(tailTrigger, 50), "tail_trigger_ms_p90" -> Stats.pct(tailTrigger, 90),
        "catchup_s" -> (caught - ta) / 1000.0, "catchup_activation_ms" -> activation.toDouble,
        "catchup_batches" -> catchupTrigger.size.toDouble,
        "catchup_trigger_ms_max" -> (if (catchupTrigger.isEmpty) 0.0 else catchupTrigger.max), "tail_s" -> (lastCommit - t0) / 1000.0, "check_s" -> checkS),
      layers)
  }

  def teardown(): Unit = if (rig != null) { rig.stop(); rig = null }
}
