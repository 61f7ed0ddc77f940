package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.streaming.{CurationService, RetrievalService}

/** curate_serve: one driver thread in a closed loop over the shipped
  * compositions. Each seeded document batch goes through
  * `CurationService.processBatch`; its kept docs go to
  * `RetrievalService.processBatch`; then `SearchesPerBatch` `searchBatch`
  * calls serve `Search.QueryTerms` plus seeded document terms, the first
  * of them also the needle query of the batch just indexed. The loop runs
  * whole batches until `--seconds` have passed.
  *
  * The traced pass adds the maintenance the untraced loop has no time for
  * on a small box: a takedown of kept docs on both services, the
  * `maybeCompact` sweep, a drift `maintain` that fires one ANN retrain,
  * and one more batch whose searches must not return the taken-down ids.
  *
  * Checks: every doc gets exactly one decision; planted exact copies of
  * indexed content come back `exact_dup`; each batch's needle doc is
  * returned by its needle query; taken-down ids never come back. */
final class CurateServe(ctx: Ctx) extends Workload {
  val BatchDocs = 200
  val FlushEvery = 1
  val SearchesPerBatch = 5
  val QueriesPerSearch = 4
  val Takedowns = 3
  val MaxTier = 2
  val ExactPct = 4
  val NearPct = 4
  val SeedDocs = 200

  val setupReps = 3

  private val s = ctx.spark
  import s.implicits._

  private var cur: CurationService = _
  private var ret: RetrievalService = _
  private var roots: Seq[String] = Nil
  private var pass = 0
  private var seedCorpus: Seq[(Long, String)] = Nil
  // per batch: docs, planted exact copies (copy -> keeper), needle doc id
  private var batches: IndexedSeq[(Seq[(Long, String)], Map[Long, Long], Long)] = IndexedSeq.empty
  private var queryRnd: java.util.SplittableRandom = _

  private def needle(b: Int) = s"needle${ctx.seed}p${pass}x$b"

  /** Seed corpus plus more batches than a run can use; each batch carries
    * one needle doc with a unique term. */
  def prepare(p: Int): Unit = {
    pass = p
    val rnd = new java.util.SplittableRandom(ctx.seed * 7919L + 3 + p)
    val pool = mutable.LinkedHashMap[String, Long]()
    seedCorpus = Gen.documents(rnd, 0L, SeedDocs, pool, 0, 0)._1
    batches = (1 to 3 + ctx.seconds / 4).map { b =>
      val first = SeedDocs.toLong + (b - 1L) * BatchDocs
      val (docs, exact) = Gen.documents(rnd, first, BatchDocs - 1, pool, ExactPct, NearPct)
      val needleId = first + BatchDocs - 1
      (docs :+ (needleId -> (Gen.words(rnd, 40) + " " + needle(b))), exact, needleId)
    }
    queryRnd = new java.util.SplittableRandom(ctx.seed * 31L + 11 + p)
  }

  /** The program's set-up: both services on fresh roots, the curation
    * indexes bootstrapped empty, the retrieval indexes (and the ANN model)
    * built from the seed corpus. */
  def setup(rep: Int): Unit = {
    teardown()
    val root = s"${ctx.root}/setup$rep"
    cur = new CurationService(s, s"$root/exact", s"$root/near", FlushEvery)
    ret = new RetrievalService(s, s"$root/text", s"$root/ann", FlushEvery)
    roots = Seq("exact", "near", "text", "ann").map(d => s"$root/$d")
    cur.initEmpty()
    ret.initIndex(seedCorpus.toDF("doc_id", "text"))
  }

  /** The seed corpus through curation as batch 0, and one search. */
  def warmup(): Unit = {
    cur.processBatch(seedCorpus.toDF("doc_id", "text"), 0L)(_.collect())
    search(Seq((0L, Seq("hash"), "hash join")))
  }

  private def search(qs: Seq[(Long, Seq[String], String)]): Array[Row] =
    ret.searchBatch(qs.toDF("query_id", "terms", "text")).select("query_id", "id").collect()

  private def batchOf(id: Long): Int =
    if (id < SeedDocs) 0 else ((id - SeedDocs) / BatchDocs).toInt + 1

  def measure(trace: Trace): Outcome = {
    val decided = mutable.HashMap[Long, Int]()
    val statusOf = mutable.HashMap[Long, String]()
    val keptTexts = mutable.ArrayBuffer[(Long, String)]()
    val takenDown = mutable.HashSet[Long]()
    val takenTexts = mutable.HashSet[String]()
    var needleMisses, needleChecks, exactChecks, exactMisses, takedownLeaks, decisionFaults = 0L
    val serveMs = mutable.ArrayBuffer[Double]()
    val freshMs = mutable.ArrayBuffer[Double]()
    var docs = 0L
    var b = 0

    def ingest(searches: Int): Unit = {
      b += 1
      val (batch, exact, needleId) = batches(b - 1)
      val byId = batch.toMap
      val start = System.nanoTime()
      var rows: Array[Row] = Array.empty
      trace.span("curation.processBatch", b) {
        cur.processBatch(batch.toDF("doc_id", "text"), b)(out => rows = out.collect())
      }
      rows.groupBy(_.getLong(0)).foreach { case (id, rs) =>
        decided(id) = decided.getOrElse(id, 0) + rs.length
        statusOf(id) = rs.head.getString(1)
      }
      decisionFaults += batch.count(d => decided.getOrElse(d._1, 0) != 1)
      // a copy must come back exact_dup when its keeper is already indexed
      // (every batch flushes) or shares its batch; a copy of taken-down
      // content is legitimately re-admitted
      val expectExact = exact.collect { case (id, keeper) if !takenTexts(byId(id)) &&
        batchOf(keeper) <= b => id }
      exactChecks += expectExact.size
      exactMisses += expectExact.count(id => !statusOf.get(id).contains("exact_dup"))
      val kept = rows.filter(_.getString(1) == "kept").map(r => r.getLong(0) -> byId(r.getLong(0)))
      keptTexts ++= kept
      trace.span("retrieval.processBatch", b) {
        ret.processBatch(kept.toSeq.toDF("doc_id", "text"), b)(_.collect())
      }
      // FlushEvery = 1: the batch is searchable once both calls return
      freshMs += (System.nanoTime() - start) / 1e6
      docs += batch.size
      (0 until searches).foreach { i =>
        val needles = if (i == 0 && statusOf.get(needleId).contains("kept"))
          Seq((needleId, Seq(needle(b)), needle(b))) else Nil
        val qs = needles ++ (0 until QueriesPerSearch).map { j =>
          val ws = batch(queryRnd.nextInt(batch.size))._2.split(' ')
          val terms = Seq(graft.functions.Search.QueryTerms(queryRnd.nextInt(4)),
            ws(queryRnd.nextInt(ws.length)))
          (-(b * 100L + i * 10 + j) - 1, terms, terms.mkString(" "))
        }
        val qt = System.nanoTime()
        val res = trace.span("retrieval.searchBatch", b)(search(qs))
        serveMs += (System.nanoTime() - qt) / 1e6
        needles.foreach { case (nid, _, _) =>
          needleChecks += 1
          if (!res.exists(r => r.getLong(0) == nid && r.getLong(1) == nid)) needleMisses += 1
        }
        takedownLeaks += res.count(r => takenDown(r.getLong(1)))
      }
    }

    trace.windowStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    do ingest(SearchesPerBatch) while (System.nanoTime() - t0 < ctx.seconds * 1000000000L && b < batches.size - 1)
    val wall = (System.nanoTime() - t0) / 1e9
    val loopBatches = b
    val loopServe = serveMs.toSeq
    val loopDocs = docs
    val maintenance = if (!trace.on) Map.empty[String, Double] else {
      // the takedown rides the next batch's id, before its ingest (the
      // assembled services' order), so that batch's flush publishes it
      val victims = keptTexts.filterNot(k => batches(b - 1)._3 == k._1).take(Takedowns)
      val ids = victims.map(_._1).toSeq.toDF("doc_id")
      val td = System.nanoTime()
      trace.span("curation.takedownByIds", b + 1)(cur.takedownByIds(ids, b + 1))
      trace.span("retrieval.takedown", b + 1)(ret.takedown(ids, b + 1))
      val takedownMs = (System.nanoTime() - td) / 1e6
      victims.foreach { case (id, text) => takenDown += id; takenTexts += text }
      val tc = System.nanoTime()
      trace.span("curation.maybeCompact", b + 1)(cur.maybeCompact(MaxTier))
      trace.span("retrieval.maybeCompact", b + 1)(ret.maybeCompact(MaxTier))
      val compactMs = (System.nanoTime() - tc) / 1e6
      val corpus = (seedCorpus ++ keptTexts).filterNot(k => takenDown(k._1)).toDF("doc_id", "text")
      trace.span("retrieval.maintain", b + 1)(ret.maintain(corpus, -1L))
      ingest(1)
      Map("takedown.ms.sum" -> takedownMs, "compaction.ms.sum" -> compactMs)
    }
    trace.windowEndMs = System.currentTimeMillis()
    val storeBytes = roots.map(Bench.treeBytes).sum.toDouble
    val attempted = docs + exactChecks + needleChecks + serveMs.size
    val failed = decisionFaults + exactMisses + needleMisses + takedownLeaks
    val checks = Map[String, Any]("docs" -> docs, "batches" -> b, "decision_faults" -> decisionFaults,
      "exact_checks" -> exactChecks, "exact_misses" -> exactMisses, "needle_checks" -> needleChecks,
      "needle_misses" -> needleMisses, "takedowns" -> takenDown.size, "takedown_leaks" -> takedownLeaks)
    val tput = loopDocs / wall
    val layers = if (!trace.on) Map.empty[String, Double] else maintenance ++ Map(
      "text_index.delta_versions" -> ret.text.stats.getOrElse("delta_versions", 0L).toDouble,
      "ann_index.drift_retrains" -> ret.ann.stats.getOrElse("drift_retrains", 0L).toDouble,
      "curate.freshness_p50_ms" -> Stats.pct(freshMs.toSeq, 50))
    Outcome(tput, loopServe, attempted, failed, checks,
      Map("curate_docs_per_s" -> tput, "freshness_p50_ms" -> Stats.pct(freshMs.toSeq, 50),
        "serve_latency_p50_ms" -> Stats.pct(loopServe, 50),
        "serve_latency_p90_ms" -> Stats.pct(loopServe, 90),
        "loop_batches" -> loopBatches.toDouble, "search_calls" -> loopServe.size.toDouble,
        "store_bytes" -> storeBytes),
      layers)
  }

  def teardown(): Unit = {
    if (cur != null) { cur.close(); cur = null }
    if (ret != null) { ret.close(); ret = null }
  }
}
