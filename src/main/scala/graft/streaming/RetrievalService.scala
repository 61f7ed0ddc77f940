package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The retrieval pillars composed as ONE unattended indexing service —
  * the [[CurationService]] shape applied to serving instead of
  * screening: a `(doc_id, text)` document stream maintains BOTH the
  * lexical index ([[MaintainedTextIndex]] — stored postings) and the
  * dense index ([[MaintainedAnnIndex]] — stored PQ codes over the
  * document embeddings) under their writer leases, and
  * [[search]]/[[HybridRetrieval]] answer hybrid queries from the stored
  * artifacts at any point in the stream's life.
  *
  * Embeddings: [[embedOf]] is a DETERMINISTIC stand-in embedder
  * (xxhash64-derived components — no embedding model ships in this
  * container, the Multimodal stub rationale). Everything downstream —
  * the ANN lifecycle, drift gauge, hybrid fusion — is independent of
  * where the vectors come from; a deployment swaps `embedOf` for its
  * model's UDF/`mapInPandas` column and nothing else changes. The
  * stand-in is codegen'd column arithmetic, so the per-batch embed cost
  * is honest map-only work, not a placeholder.
  *
  * `vectorSource` is the other production shape for that seam: a
  * deployment whose embeddings are computed OUT-OF-BAND (a model service
  * writing a feature store keyed by id) resolves each batch's vectors by
  * id instead of deriving them from the text — pass the resolution
  * function (`(doc_id, text)` docs → `(vec_id, embedding)`) and the
  * dense pillar ingests exactly the store's vectors (x103 drives the
  * embeddings table through it under the x85 oracle). With a
  * vectorSource set, [[search]]/[[searchBatch]]'s free-text dense side
  * resolves through the same source (a store that can't embed ad-hoc
  * text serves dense queries via [[MaintainedAnnIndex.searchRerank]]
  * with caller-supplied query vectors instead).
  *
  * Lifecycle: [[initIndex]] seeds both pillars from a bootstrap corpus
  * (the ANN model trains on it — k-means needs data, so unlike
  * [[CurationService.initEmpty]] an empty seed is not meaningful);
  * per-batch ingest stages both indexes and their own flush cadences
  * fold deltas / publish versions; restart resumes from the stored
  * versions with the streaming engine replaying the interrupted batch
  * (replay-idempotent: codes and postings are deterministic under a
  * fixed model, staging re-folds dedupe). The ANN drift gauge rides
  * [[stats]] so the operator knows when an explicit
  * `ann.retrainModel` is due — ingest never retrains implicitly. */
final class RetrievalService(s: SparkSession, textRoot: String, annRoot: String,
                             flushEvery: Int, dim: Int = 16,
                             nlist: Int = 8, m: Int = 8, k: Int = 16,
                             maxDeltas: Int = 0,
                             vectorSource: Option[DataFrame => DataFrame] = None) {
  require(dim % m == 0, "embedding dim must be divisible by the PQ subspace count")

  val text = new MaintainedTextIndex(s, textRoot, flushEvery, maxDeltas = maxDeltas)
  val ann = new MaintainedAnnIndex(s, annRoot, flushEvery,
    nlist = nlist, m = m, k = k, maxDeltas = maxDeltas)

  /** Both pillars' lifecycle gauges for the Observability reporter. */
  def stats: Map[String, Map[String, Long]] =
    Map("retrieval_text" -> text.stats, "retrieval_ann" -> ann.stats)

  /** Release both writer leases (service shutdown). */
  def close(): Unit = { text.close(); ann.close() }

  /** Deterministic stand-in embedding: `dim` unit-range components from
    * per-dimension xxhash64 of the text — stable across engines and
    * restarts, codegen'd map-only. */
  def embedOf(textCol: Column): Column = array((0 until dim).map(j =>
    pmod(xxhash64(textCol, lit(j)), lit(1000L)).cast("double") / 500.0 - 1.0): _*)

  private def vecsOf(docs: DataFrame): DataFrame = vectorSource match {
    case Some(resolve) => resolve(docs)
    case None =>
      docs.select(col("doc_id").as("vec_id"), embedOf(col("text")).as("embedding"))
  }

  /** Seed both indexes from the bootstrap corpus `(doc_id, text)`: the
    * text index tokenizes it, the ANN index trains its IVFADC model on
    * the embedded corpus and encodes it. */
  def initIndex(corpus: DataFrame): Unit = {
    text.initIndex(corpus)
    ann.initIndex(vecsOf(corpus))
  }

  /** Run one micro-batch through both pillars; `sink` receives one row
    * per input doc `(doc_id, n_tokens)` — the indexed acknowledgment,
    * derived from the per-doc length relation the text ingest already
    * computed and persisted (no second tokenize pass over the batch).
    * The ANN ingest and the ack run inside the text ingest's callback so
    * the persisted relation is still cached when the ack evaluates. */
  def processBatch(batch: DataFrame, batchId: Long)(sink: DataFrame => Unit): Unit = {
    var sunk = false
    text.ingestBatch(batch, batchId) { dl =>
      ann.ingestBatch(vecsOf(batch), batchId)(_ => ())
      sink(dl.withColumnRenamed("dl", "n_tokens").orderBy(col("doc_id")))
      sunk = true
    }
    if (!sunk) {
      // empty batch: the text sink never fired — keep the ANN flush
      // cadence aligned and ack nothing
      ann.ingestBatch(vecsOf(batch), batchId)(_ => ())
      sink(batch.select(col("doc_id"), lit(0L).as("n_tokens"))
        .orderBy(col("doc_id")))
    }
  }

  /** The unattended maintenance sweep, run on the operator's cadence
    * (after a flush boundary, from a cron, etc.): retrain the ANN pillar
    * exactly when its drift gauge crossed `driftThresholdMicro`
    * ([[MaintainedAnnIndex.maybeRetrain]]). `corpus` is the CURRENT
    * corpus of record `(doc_id, text)` — only evaluated (embedded) when
    * the gauge fires, so the steady-state sweep costs one gauge read.
    * Returns whether a retrain ran; `drift_retrains` in [[stats]] counts
    * them for the Observability reporter. */
  def maintain(corpus: => DataFrame, driftThresholdMicro: Long): Boolean =
    ann.maybeRetrain(vecsOf(corpus), driftThresholdMicro)

  /** SHADOW major compaction across both pillars, run on the operator's
    * maintenance cadence: each index folds base ∪ delta tier off-lock
    * while ingest/search proceed, and swaps with O(1) metadata work
    * ([[MaintainedTextIndex.compactBase]],
    * [[MaintainedAnnIndex.compactBase]]). Returns per-pillar whether a
    * fold ran (false = empty tier, or another rebuild in flight — e.g.
    * a drift-fired shadow retrain on the ANN pillar; re-run on the next
    * cadence). The calling thread pays the fold wall-time; the writer
    * does not. */
  def compact(): (Boolean, Boolean) = (text.compactBase(), ann.compactBase())

  /** The unattended compaction sweep ([[maintain]]'s tier twin): fold
    * whichever pillar's live delta tier reached `maxTier` versions.
    * One tier listing per pillar per call — run on the flush cadence. */
  def maybeCompact(maxTier: Int): (Boolean, Boolean) =
    (text.maybeCompact(maxTier), ann.maybeCompact(maxTier))

  /** Hybrid RRF top-k from the stored artifacts: `terms` drive the
    * lexical ranking, the QUERY TEXT embeds through the same [[embedOf]]
    * the corpus went through, and the dense side ranks by ADC distance
    * (the code store holds no raw vectors — rank fusion never compares
    * score scales, so the quantized ranking slots in directly). */
  def search(terms: Seq[String], queryText: String, kTop: Int = 10,
             depth: Int = graft.functions.Search.RrfDepth,
             nprobe: Int = 8): DataFrame = {
    import s.implicits._
    val query = vecsOf(Seq((-1L, queryText)).toDF("doc_id", "text"))
    HybridRetrieval.searchRrfAdc(text, ann, terms, query, kTop, depth, nprobe)
  }

  /** [[search]] for a BATCH of queries in ONE plan — the serving tier's
    * form: `queries` is `(query_id, terms array<string>, text)`; each
    * query's text embeds through the same [[embedOf]] the corpus went
    * through, and the batch fuses per query
    * ([[HybridRetrieval.searchRrfAdcMany]]). Output carries query_id;
    * per query it equals a [[search]] loop, sorted (rrf desc, id) within
    * each query and grouped by query.
    *
    * A request-sized batch (at most [[graft.functions.Ivfadc
    * .MaxPruneQueries]] rows) is resolved on the driver ONCE — no job
    * for a local relation — and passed down with its exact term union
    * and query count, so neither pillar runs a pre-flight job. What
    * remains is one term-pruned postings scan with one hash exchange on
    * query_id, the dense probe ranking, one code scan whose top-k
    * exchanges on query_id too, and the fusion, which runs on that
    * shared partitioning without another exchange. A larger batch takes
    * the self-checking plan. */
  def searchBatch(queries: DataFrame, kTop: Int = 10,
                  depth: Int = graft.functions.Search.RrfDepth,
                  nprobe: Int = 8): DataFrame = {
    val q = queries.select(col("query_id"), col("terms"), col("text"))
    val rows = q.limit(graft.functions.Ivfadc.MaxPruneQueries + 1).collect()
    def embedded(df: DataFrame) = df.select(col("query_id"), col("terms"),
      embedOf(col("text")).as("embedding"))
    if (rows.length > graft.functions.Ivfadc.MaxPruneQueries)
      HybridRetrieval.searchRrfAdcMany(text, ann, embedded(q), kTop, depth, nprobe)
    else {
      import scala.jdk.CollectionConverters._
      val terms = rows.toSeq.flatMap(r => Option(r.getSeq[String](1)).getOrElse(Nil))
      HybridRetrieval.searchRrfAdcMany(text, ann,
        embedded(s.createDataFrame(rows.toSeq.asJava, q.schema)), kTop, depth, nprobe,
        knownQueryCount = Some(rows.length.toLong), knownTerms = Some(terms))
    }
  }

  /** TAKEDOWN across both pillars (the removal-request operation,
    * [[CurationService.takedown]]'s retrieval twin): the documents leave
    * the lexical index (postings tombstoned, stats heal at the major)
    * and the dense index (code tombstones) from the flush boundary, and
    * compact away physically at the majors. `ids` is a `(doc_id)`
    * relation — a removal requester may no longer HAVE the content, and
    * neither pillar needs it (unlike [[CurationService.takedown]], whose
    * exact-dedup fingerprint is content-derived); extra columns are
    * ignored. A later [[MaintainedAnnIndex.retrainModel]] corpus must
    * also exclude the removed docs — takedown is a statement about the
    * corpus of record, not just the indexes — and the retrain's
    * tombstone-aware swap keeps mid-build takedowns honored. */
  def takedown(ids: DataFrame, batchId: Long): Unit = {
    text.deleteDocs(ids.select(col("doc_id")), batchId)
    ann.deleteVectors(ids.select(col("doc_id").as("vec_id")), batchId)
  }
}

object RetrievalService {
  /** The unattended retrain policy for [[assemble]]: after each ingested
    * batch the service sweeps the ANN drift gauge and retrains on
    * `corpus()` (the CURRENT corpus of record — re-read at fire time,
    * never captured) when the gauge exceeds `thresholdMicro`. The sweep
    * is one Map lookup per batch and `corpus()` is only invoked on fire,
    * so the steady-state cost is nil — this closes the loop the gauge
    * was built for: drift detection AND response run unattended. A fired
    * retrain is the SHADOW rebuild ([[MaintainedAnnIndex.retrainModel]]):
    * the sweeping queue's trigger blocks for the build, but the index
    * keeps ingesting and serving model N on every other thread
    * throughout, and rows ingested mid-build are re-encoded at the
    * O(catchup) swap rather than discarded. A deployment that cannot
    * spare even one queue's trigger for the build calls
    * [[RetrievalService.maintain]] from an out-of-band scheduler thread
    * instead and leaves this unset — safe for the same reason. */
  final case class DriftPolicy(thresholdMicro: Long, corpus: () => DataFrame)

  /** The unattended compaction policy for [[assemble]]: after each
    * ingested batch, shadow-fold whichever pillar's delta tier reached
    * `maxTier` versions ([[RetrievalService.maybeCompact]]). With this
    * set, configure the pillars' constructor `maxDeltas` HIGH so the
    * flush-path BLOCKING major never fires routinely — every routine
    * major becomes an off-lock fold the writer never waits for, with
    * the byte-bound early major as the backstop. The sweeping queue's
    * trigger pays the fold; ingest and search on other threads proceed
    * (a deployment that can't spare the trigger runs
    * [[RetrievalService.compact]] from a scheduler thread instead). */
  final case class CompactPolicy(maxTier: Int)

  /** Assemble the indexing composition as ONE [[GraftSystem]] service on
    * the control topic (the [[CurationService.assemble]] wiring):
    * activating a queue CCD streams that queue's doc changelog through
    * both maintained indexes; indexed acknowledgments land under
    * `outRoot/<queue>/indexed`; supervision, error write-back, and
    * shutdown order are inherited from the system. `driftRetrain` makes
    * the maintenance sweep part of the batch loop ([[DriftPolicy]]).
    *
    * Removal requests ride the SAME control topic
    * ([[Service.appendTakedown]]: one `status = "takedown"` CCD per doc
    * id; [[Service.appendTakedownBulk]]: one CCD carrying an id-set
    * pointer): the queue's next micro-batch executes [[RetrievalService
    * .takedown]] on its own handler thread — under the composition's
    * writer leases and batch ids — before ingesting the batch, so a
    * deployment never needs an out-of-band API call racing the writer.
    * The doc leaves both pillars at the flush boundary and `n_deleted`
    * is visible through the Observability gauges.
    *
    * `backgroundMaintenanceMs` moves the drift/compaction sweeps OFF
    * the batch handler onto a dedicated daemon thread firing at that
    * period: with it set, a fired shadow fold/retrain costs ingest
    * NOTHING — the sweeping queue's trigger no longer pays the fold
    * wall-clock (at a 10^10-row base that in-loop wall-clock is hours
    * of ingest stall per major). The indexes' busy-signal/stand-down
    * machinery (shared rebuild flags) already makes the concurrent
    * sweep safe against the writer and against a second sweep; a
    * throwing sweep is swallowed into a rate-limited log (the
    * executor must survive transient faults — [[MaintainedAnnIndex
    * .maybeRetrain]] already degrades this way itself). The executor
    * stops with the system, before the service leases release. Unset
    * (the default), the sweeps run in-loop after each batch — the
    * simple shape for small bases. */
  /** x102 — the ASSEMBLED retrieval service, oracle-gated (x100's
    * pattern applied to the indexing composition): boot [[assemble]]
    * over a file-backed control topic and drive, through the running
    * streams, two ascending-range ingest batches on queue A (the seed
    * range went through [[RetrievalService.initIndex]] — the ANN model
    * needs a training corpus), then ONE combined control append
    * carrying a BULK takedown of the whole `doc_id % 8 == 1` slice
    * (id-set parquet pointer), queue A's deactivation, and queue B's
    * activation. B's pre-written changelog re-ingests the last range's
    * NON-deleted docs — identical text, so the text pillar's update
    * resolution makes them logical no-ops — which is the batch that
    * drains the parked takedown (a changelog offset is monotonic per
    * queue, hence the handover; re-ingesting a deleted doc would
    * legitimately re-admit it, hence the exclusion).
    *
    * The declared result is the TEXT pillar's serve, sharing x84's
    * DuckDB oracle VERBATIM (the batch x32 scorer over
    * corpus − the pmod-8 slice): the final index content is
    * arrival-path-independent, so a dropped batch, a dropped/misrouted
    * takedown, or an update resolution that double-counts the re-ingest
    * breaks this hash while x84 (direct-call form) and x101
    * (tombstoned-window form) stay green. The DENSE pillar rides the
    * same stream (ingested, taken down, flushed) but the stand-in
    * embedOf/ADC serve has no cheap relational oracle — here it is
    * gated by the retrieval soak's model-parity and the x97 reader
    * family, and since round 20 the dense half of the assembled boot is
    * ALSO hash-gated by [[x103AssembledDenseServe]] (same scenario with
    * a feature-store `vectorSource`, sharing x85's oracle). Awaits
    * gate on BOTH pillars' flush gauges (the x100 lesson: the ack sink
    * fires before the post-sink folds). */
  def x102AssembledRetrieval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.Pipelines.Ccd
    val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val root = ScratchRoots.create("graft_x102_")
    val (controlDir, dataRoot, outRoot, ckptRoot) =
      (s"$root/control", s"$root/data", s"$root/out", s"$root/ckpt")
    val (qA, qB) = ("RET.X102A", "RET.X102B")
    val Array(lo, hi) = docs.agg(min(col("doc_id")), max(col("doc_id")))
      .collect().map(_.toSeq).head.map(_.asInstanceOf[Long]).toArray
    val span = hi - lo + 1
    val (b1, b2) = (lo + span / 3, lo + 2 * span / 3)
    def appendData(queue: String, rows: org.apache.spark.sql.DataFrame): Unit =
      rows.select(col("doc_id"), col("text")).orderBy(col("doc_id"))
        .coalesce(1).write.mode("append").parquet(s"$dataRoot/$queue")

    val svc = new RetrievalService(s, s"$root/text", s"$root/ann", flushEvery = 1)
    try {
      svc.initIndex(docs.filter(col("doc_id") < b1))
      Service.appendControl(s, controlDir, Ccd("a", "active", qA, 0))
      appendData(qA, docs.filter(col("doc_id") >= b1 && col("doc_id") < b2))
      val (system, control) = assemble(s, svc, controlDir, dataRoot, outRoot,
        ckptRoot, trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("200 milliseconds"))
      try {
        def folded(n: Long): Boolean =
          svc.text.stats("flushes") == n && svc.ann.stats("flushes") == n
        // failure message carries the live flush gauges (lazily, on
        // failure only) so a strict-equality miss — too few OR an
        // unexpected extra flush — is diagnosable without a re-run
        def await(what: String)(done: () => Boolean): Unit =
          require(Service.pollUntil(done),
            s"x102 assembled run timed out awaiting $what — flushes " +
              s"text=${svc.text.stats("flushes")} ann=${svc.ann.stats("flushes")}")
        await("batch 1 folded on both pillars")(() => folded(1))
        appendData(qA, docs.filter(col("doc_id") >= b2))
        await("batch 2 folded on both pillars")(() => folded(2))
        // the takedown: the whole pmod-8 slice as ONE bulk request,
        // atomically coupled to the queue handover
        val idSetPath = s"$root/takedown_ids"
        docs.filter(pmod(col("doc_id"), lit(8)) === 1).select(col("doc_id"))
          .coalesce(1).write.mode("overwrite").parquet(idSetPath)
        appendData(qB, docs.filter(col("doc_id") >= b2 &&
          pmod(col("doc_id"), lit(8)) =!= 1))
        val rid = Service.freshRequestId()
        Service.appendControlBatch(s, controlDir, Seq(
          Service.takedownBulkCcd(qB, idSetPath, rid),
          Ccd("a", "inactive", qA, 1),
          Ccd("b", "active", qB, 0)))
        // B's one batch = the takedown's flush (3) + the no-op
        // re-ingest's own (4), on both pillars
        await("takedown + re-ingest folded on both pillars")(() => folded(4))
      } finally { control.stop(); system.stop() }
      svc.text.search(graft.functions.Search.QueryTerms, 20)
    } finally svc.close()
  }

  /** x103 — the assembled retrieval service's DENSE pillar under the
    * hash oracle (the half x102 deliberately left to soak/model-parity
    * gating; x102's scenario applied to the ANN serve): boot [[assemble]]
    * with a [[RetrievalService]] whose `vectorSource` resolves each
    * batch's vectors BY ID from the embeddings table (the feature-store
    * pattern — the store is the corpus of record, the changelog carries
    * ids), the ANN model pinned the x80 way: [[RetrievalService
    * .initIndex]] trains IVFADC on the `vec_id % 4 < 2` seed with the
    * demo budget (nlist 8, m 8, k 16 — the constants every ANN oracle
    * unrolls), and no retrain ever fires. Through the RUNNING streams:
    * queue A ingests the `% 4 == 2` delta slice; then ONE combined
    * control append carries a BULK takedown of the `% 8 == 2` slice
    * (id-set parquet pointer), A's deactivation, and B's activation; B's
    * pre-written changelog re-ingests the non-deleted delta docs —
    * same ids, same stored vectors, so under the fixed model they
    * re-encode to identical codes and the update resolution makes them
    * logical no-ops (the batch that drains the parked takedown, per the
    * x102 handover rationale).
    *
    * The declared result is the stored index's ADC+re-rank serve,
    * sharing [[graft.AnnOracleSql.x85OracleSql]] VERBATIM (seed-trained
    * k-means CTEs, encode restricted to `% 4 < 3` minus the deleted
    * `% 8 == 2` slice): the final code store is arrival-path-independent,
    * so an assembled boot that binds a stale model to the codes, drops a
    * stream batch, loses/misroutes the takedown on the dense side, or
    * double-encodes the re-ingest breaks this hash while x85
    * (direct-call form) and x86 (compacted form) stay green. Awaits gate
    * on BOTH pillars' flush gauges (the x100 lesson — the ack sink fires
    * before the post-sink folds). */
  def x103AssembledDenseServe(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.Pipelines.Ccd
    val emb = graft.Tables.embeddings(s, dir)
    // changelog proxy docs: the stream carries (id, display text); the
    // vectors live in the store and resolve by id
    val docs = emb.select(col("vec_id").as("doc_id"),
      concat(lit("vec "), col("vec_id").cast("string")).as("text"))
    val root = ScratchRoots.create("graft_x103_")
    val (controlDir, dataRoot, outRoot, ckptRoot) =
      (s"$root/control", s"$root/data", s"$root/out", s"$root/ckpt")
    val (qA, qB) = ("RET.X103A", "RET.X103B")
    def appendData(queue: String, rows: DataFrame): Unit =
      rows.select(col("doc_id"), col("text")).orderBy(col("doc_id"))
        .coalesce(1).write.mode("append").parquet(s"$dataRoot/$queue")
    // feature-store resolution: broadcast the flush-sized batch id-set
    // into the corpus-scale store — a semi-join-shaped probe (at scale
    // the store is id-bucketed and this reads O(batch) row groups),
    // never a shuffle of the store
    val resolve: DataFrame => DataFrame = batch =>
      emb.join(broadcast(batch.select(col("doc_id").as("vec_id"))), Seq("vec_id"))
        .select(col("vec_id"), col("embedding"))

    val svc = new RetrievalService(s, s"$root/text", s"$root/ann",
      flushEvery = 1, dim = 64, maxDeltas = 4, vectorSource = Some(resolve))
    try {
      svc.initIndex(docs.filter(pmod(col("doc_id"), lit(4)) < 2))
      Service.appendControl(s, controlDir, Ccd("a", "active", qA, 0))
      appendData(qA, docs.filter(pmod(col("doc_id"), lit(4)) === 2))
      val (system, control) = assemble(s, svc, controlDir, dataRoot, outRoot,
        ckptRoot, trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("200 milliseconds"))
      try {
        def folded(n: Long): Boolean =
          svc.text.stats("flushes") == n && svc.ann.stats("flushes") == n
        def await(what: String)(done: () => Boolean): Unit =
          require(Service.pollUntil(done),
            s"x103 assembled run timed out awaiting $what — flushes " +
              s"text=${svc.text.stats("flushes")} ann=${svc.ann.stats("flushes")}")
        await("delta batch folded on both pillars")(() => folded(1))
        val idSetPath = s"$root/takedown_ids"
        emb.filter(pmod(col("vec_id"), lit(8)) === 2)
          .select(col("vec_id").as("doc_id"))
          .coalesce(1).write.mode("overwrite").parquet(idSetPath)
        appendData(qB, docs.filter(pmod(col("doc_id"), lit(4)) === 2 &&
          pmod(col("doc_id"), lit(8)) =!= 2))
        val rid = Service.freshRequestId()
        Service.appendControlBatch(s, controlDir, Seq(
          Service.takedownBulkCcd(qB, idSetPath, rid),
          Ccd("a", "inactive", qA, 1),
          Ccd("b", "active", qB, 0)))
        // B's one batch = the takedown's flush (2) + the no-op
        // re-ingest's own (3), on both pillars
        await("takedown + re-ingest folded on both pillars")(() => folded(3))
      } finally { control.stop(); system.stop() }
      svc.ann.searchRerank(emb, emb.filter(col("vec_id") < 20), kTop = 3,
        nprobe = 3, knownQueryCount = Some(20L))
        .orderBy(col("query_id"), col("rk"))
    } finally svc.close()
  }

  def assemble(spark: SparkSession, service: RetrievalService,
               controlDir: String, dataRoot: String, outRoot: String,
               checkpointRoot: String,
               trigger: Trigger = Trigger.ProcessingTime("1 second"),
               metricsDir: Option[String] = None,
               metricsIntervalMs: Long = 10000L,
               driftRetrain: Option[DriftPolicy] = None,
               compaction: Option[CompactPolicy] = None,
               backgroundMaintenanceMs: Option[Long] = None): (GraftSystem, StreamingQuery) = {
    val inLoop = backgroundMaintenanceMs.isEmpty
    def sweep(): Unit = {
      driftRetrain.foreach(p => service.maintain(p.corpus(), p.thresholdMicro))
      compaction.foreach(p => service.maybeCompact(p.maxTier))
    }
    val assembled = Service.assembleComposition(spark, controlDir, dataRoot, outRoot,
      checkpointRoot, trigger, metricsDir, metricsIntervalMs,
      ackSubdir = "indexed",
      handler = (batch, id, sink) => {
        service.processBatch(batch, id)(sink)
        if (inLoop) sweep()
      },
      gauges = () => service.stats,
      takedown = Some((ids, batchId) => service.takedown(ids, batchId)))
    backgroundMaintenanceMs.foreach(period =>
      Service.startBackgroundMaintenance(assembled._1, period, () => sweep()))
    assembled
  }
}
