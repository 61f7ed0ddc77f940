package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The x71 pretraining pipeline's STREAMING twin, composed end to end as
  * one unattended service: quality gate → maintained exact-dedup index →
  * in-batch near-dup clustering → maintained near-dup index → leakage
  * split — [[graft.functions.Curation.x71PretrainPipelineOf]] re-expressed
  * over the [[Pipelines.MaintainedDedupIndex]] /
  * [[Pipelines.MaintainedNearDupIndex]] lifecycles, both under their
  * writer leases. The per-index soaks prove each lifecycle alone; this
  * class is the COMPOSITION a production corpus actually ships through.
  *
  * Per-batch semantics ([[processBatch]]), each stage in its batch-x71
  * shape:
  *
  *  1. **Gate** (x39's MinTokens rule): sub-threshold docs decide
  *     `gated_out` and never reach an index — identical text gates
  *     identically, so this commutes with dedup exactly as in the batch
  *     plan (the x71 layer-ordering argument).
  *  2. **Exact dedup**: within-batch min-id keeper per fingerprint, then
  *     [[Pipelines.MaintainedDedupIndex.finalizeBatch]] overrides against
  *     the stored corpus index and stages acceptances. Under
  *     monotonically increasing doc ids the first-wins keeper IS the
  *     batch recompute's min-id keeper (the 12-batch-soak invariant).
  *  3. **In-batch near-dup clustering**: the exact survivors cluster via
  *     the SAME LSH → verify → connected-components chain as batch x71
  *     ([[graft.functions.Dedup.x26DupClustersOf]], batch-sized input);
  *     only each cluster's min-id CANONICAL goes forward — non-canonical
  *     members decide `near_dup` against it. Without this stage,
  *     same-batch near-dup families would all be admitted (the batch-x62
  *     screen deliberately leaves in-batch pairs alone; the composition
  *     must not).
  *  4. **Near-dup screen**: canonicals screen against the stored
  *     signature index ([[Pipelines.MaintainedNearDupIndex.screenBatch]]);
  *     a verified match decides `near_dup` of the stored keeper (and its
  *     in-batch members chain to that same stored keeper — the
  *     transitivity batch CC would apply); the unmatched are **kept**,
  *     admitted to the index, and split.
  *  5. **Split** (x52's leakage rule): kept docs bucket by md5 of their
  *     own id — which IS the batch plan's `cluster_key` for a cluster
  *     canonical, so near-dups can never straddle train/test.
  *
  * Parity contract (pinned in ServiceSpec): over a corpus with increasing
  * doc ids whose near-dup families do not BRIDGE across batches (members
  * either co-arrive or verify against the family's stored canonical —
  * cross-batch transitive chains where A~B and B~C but A≁C can split a
  * batch-CC cluster that streaming admission already separated), the kept
  * set and splits equal `x71PretrainPipelineOf` recomputed on the total
  * corpus, and every rejected doc names its batch-recompute keeper.
  *
  * Keeper chains: the exact index stages EVERY exact survivor — including
  * docs the near stage then rejects — because that is the cheap place to
  * catch their future exact clones (one fp join instead of a full LSH
  * screen). A later exact clone of a near-rejected doc therefore decides
  * `exact_dup` with `keep_id` at the REJECTED doc, one transitive hop
  * from the family canonical (the rejected doc's own decision names it);
  * consumers resolving keeper chains follow at most that one hop. The
  * terminal verdict (rejected) is identical either way.
  *
  * Restart: both indexes resume from their stored versions, staging
  * survives on disk, and the streaming engine replays the interrupted
  * batch from the checkpoint — the per-index replay-idempotence guards
  * (keeper self-reference, staging re-folds) make the replay converge;
  * kill/restart mid-flush is driven explicitly in ServiceSpec. */
final class CurationService(s: SparkSession, exactRoot: String, nearRoot: String,
                            flushEvery: Int,
                            minTokens: Int = graft.functions.Curation.MinTokens,
                            minJaccard: Double = 0.5,
                            ttlMs: Long = 60000L,
                            maxDeltas: Int = 0) {

  val exact = new Pipelines.MaintainedDedupIndex(s, exactRoot, ttlMs, flushEvery,
    maxDeltas = maxDeltas)
  val near = new Pipelines.MaintainedNearDupIndex(s, nearRoot, flushEvery,
    minJaccard, maxDeltas = maxDeltas)

  /** Both indexes' lifecycle gauges, keyed for the Observability
    * reporter's `indexGauges` surface. */
  def stats: Map[String, Map[String, Long]] =
    Map("curation_exact" -> exact.stats, "curation_neardup" -> near.stats)

  /** Release both writer leases (service shutdown). */
  def close(): Unit = { exact.close(); near.close() }

  /** Bootstrap BOTH indexes from nothing (the stream-from-scratch
    * deployment): committed empty v0 layouts, so the first micro-batch
    * joins an empty corpus instead of failing on absent version dirs. A
    * deployment with an existing curated corpus seeds `exact.initIndex` /
    * `near.initIndex` directly instead. */
  def initEmpty(): Unit = {
    import s.implicits._
    exact.initIndex(Seq.empty[(String, Long)].toDF("fp", "corpus_id"))
    near.initIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"))
  }

  /** TAKEDOWN across the whole composition (the removal-request
    * operation): delete the documents' fingerprints from the exact index
    * (`deleteFps` — identical future content re-admits once the
    * tombstone epoch compacts) and their signature/shingle rows from the
    * near-dup index (`deleteDocs` — they stop matching from the flush
    * boundary). The request supplies `(doc_id, text)` — the content
    * being removed is what the requester hands over, and the exact
    * index is keyed by content fingerprint, not id. Deletes ride each
    * index's own staging/flush cadence, like ingests. */
  def takedown(docs: DataFrame, batchId: Long): Unit = {
    exact.deleteFps(
      docs.select(graft.functions.Text.fingerprint(col("text")).as("fp")),
      batchId)
    near.deleteDocs(docs.select(col("doc_id")), batchId)
  }

  /** TAKEDOWN by doc id (the control-topic carrier form — a takedown
    * CCD holds only an id, and a removal requester may no longer have
    * the content): the exact index RESOLVES the ids to their stored
    * fingerprints before tombstoning
    * ([[Pipelines.MaintainedDedupIndex.deleteIds]] — the resolve reads
    * base ∪ tier ∪ staged acceptances, so a takedown racing its own
    * doc's unflushed ingest still lands); the near-dup index deletes by
    * id directly. Only ids the exact index ADMITTED resolve there — an
    * exact-duplicate's id names its keeper's content, which stays
    * admitted under the keeper (the id-carrier semantics; supply the
    * content via [[takedown]] for content-keyed removal). */
  def takedownByIds(ids: DataFrame, batchId: Long): Unit = {
    exact.deleteIds(ids.select(col("doc_id")), batchId)
    near.deleteDocs(ids.select(col("doc_id")), batchId)
  }

  /** SHADOW major compaction across both indexes
    * ([[RetrievalService.compact]]'s curation twin): each folds base ∪
    * delta tier off-lock while screens/ingest proceed, then swaps with
    * O(1) metadata work. Returns per-index whether a fold ran (false =
    * empty tier or another compaction in flight). */
  def compact(): (Boolean, Boolean) = (exact.compactBase(), near.compactBase())

  /** The unattended compaction sweep — see
    * [[RetrievalService.maybeCompact]]. */
  def maybeCompact(maxTier: Int): (Boolean, Boolean) =
    (exact.maybeCompact(maxTier), near.maybeCompact(maxTier))

  private def emptyDecisions: DataFrame = {
    import s.implicits._
    Seq.empty[(Long, String, Option[Long], Option[String])]
      .toDF("doc_id", "status", "keep_id", "split")
  }

  private def splitOf(c: org.apache.spark.sql.Column) =
    when(graft.functions.Sampling.hashBucket(c) < 80, "train")
      .when(graft.functions.Sampling.hashBucket(c) < 90, "validation")
      .otherwise("test")

  /** Run one micro-batch `(doc_id, text)` through the whole composition;
    * `sink` receives one decision row per input doc:
    * `(doc_id, status ∈ {gated_out, exact_dup, near_dup, kept}, keep_id,
    * split)` — keep_id names the canonical a rejected doc defers to
    * (batch-x71's keeper), split is non-null only for kept docs. Index
    * staging and flush cadence ride the two indexes' own lifecycles. */
  def processBatch(batch: DataFrame, batchId: Long)(sink: DataFrame => Unit): Unit = {
    import s.implicits._
    val staged = batch.select(col("doc_id"), col("text"),
      coalesce(size(graft.functions.Text.tokens(col("text"))), lit(0))
        .cast("long").as("n_tokens"))
    val gatedOut = staged.filter(col("n_tokens") < minTokens)
      .select(col("doc_id"), lit("gated_out").as("status"),
        lit(null).cast("long").as("keep_id"), lit(null).cast("string").as("split"))
    val gated = staged.filter(col("n_tokens") >= minTokens)
    // within-batch first-wins = min-id keeper per fingerprint (the batch
    // recompute's convention under increasing ids)
    val ds = gated
      .select(col("doc_id"), graft.functions.Text.fingerprint(col("text")).as("fp"))
      .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy("fp")))
      .select(col("doc_id"), col("fp"),
        when(col("doc_id") === col("keep_id"), "new").otherwise("dup_in_batch").as("status"),
        when(col("doc_id") === col("keep_id"), lit(null).cast("long"))
          .otherwise(col("keep_id")).as("dup_of"))
      .as[Pipelines.DedupDecision]
    var sunk = false
    exact.finalizeBatch(ds, batchId) { exactOut =>
      val exactDups = exactOut.filter(col("status") =!= "new")
        .select(col("doc_id"), lit("exact_dup").as("status"),
          col("dup_of").as("keep_id"), lit(null).cast("string").as("split"))
      val survivors = exactOut.filter(col("status") === "new").select(col("doc_id"))
        .join(batch.select(col("doc_id"), col("text")), Seq("doc_id"))
        .persist()
      try {
        // in-batch near-dup clusters over the exact survivors — the batch
        // x71 chain on a batch-sized relation; docs outside every edge are
        // singleton canonicals (null cluster)
        val tag = s"$nearRoot|batch$batchId"
        val clusters = survivors
          .join(graft.functions.Dedup.x26DupClustersOf(
              s, survivors.select(col("doc_id"), col("text")), tag)
            .select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
          .select(col("doc_id"), col("text"),
            coalesce(col("cluster_id"), col("doc_id")).as("cluster_key"))
          .persist()
        try {
          val canonicals = clusters.filter(col("doc_id") === col("cluster_key"))
          var nearSunk = false
          def assemble(nearOut: DataFrame): DataFrame = {
            // canonical verdicts: stored match → near_dup of the stored
            // keeper; no match → kept + split on the cluster key (their
            // own id)
            val canonV = canonicals.select(col("doc_id").as("cluster_key"))
              .join(nearOut.select(col("batch_id").as("cluster_key"),
                col("n_matches"), col("best_corpus_id")), Seq("cluster_key"), "left")
              .select(col("cluster_key"),
                coalesce(coalesce(col("n_matches"), lit(0L)) > 0L, lit(false))
                  .as("matched"),
                col("best_corpus_id"))
            clusters.join(canonV, Seq("cluster_key"), "left")
              .select(col("doc_id"),
                when(col("matched"), "near_dup")
                  .when(col("doc_id") =!= col("cluster_key"), "near_dup")
                  .otherwise("kept").as("status"),
                when(col("matched"), col("best_corpus_id"))
                  .when(col("doc_id") =!= col("cluster_key"), col("cluster_key"))
                  .otherwise(lit(null).cast("long")).as("keep_id"),
                when(!col("matched") && col("doc_id") === col("cluster_key"),
                  splitOf(col("doc_id")))
                  .otherwise(lit(null).cast("string")).as("split"))
              .unionByName(exactDups)
              .unionByName(gatedOut)
              .orderBy(col("doc_id"))
          }
          near.screenBatch(
            canonicals.select(col("doc_id"), col("text")), batchId) { nearOut =>
            nearSunk = true
            sink(assemble(nearOut))
            sunk = true
          }
          if (!nearSunk) { // no canonicals at all (every survivor empty)
            sink(assemble(emptyDecisions
              .select(col("doc_id").as("batch_id"), lit(0L).as("n_matches"),
                lit(null).cast("double").as("best_jaccard"),
                lit(null).cast("long").as("best_corpus_id"))))
            sunk = true
          }
        } finally {
          clusters.unpersist()
          // in the SAME finally: a failing screen/sink must not leak the
          // batch tag's persisted signature/shingle caches (one leaked
          // tag per failed batch is an unbounded leak under a
          // long-running stream with recurring transient faults)
          graft.GraftCaches.release(s, tag)
        }
      } finally survivors.unpersist()
    }
    if (!sunk) {
      // the exact index saw an empty batch (nothing gated in): keep the
      // near index's flush cadence aligned and emit any gate rejections
      near.screenBatch(batch.select(col("doc_id"), col("text")).limit(0), batchId)(_ => ())
      sink(gatedOut.select(col("doc_id"), col("status"), col("keep_id"), col("split"))
        .orderBy(col("doc_id")))
    }
  }

  /** Start the composition over a streaming `(doc_id, text)` source;
    * decisions append to `decisionsDir` as parquet. */
  def start(docs: DataFrame, checkpointDir: String, decisionsDir: String,
            trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    docs.writeStream
      .queryName("graft-curation")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (b: DataFrame, id: Long) =>
        processBatch(b, id)(out =>
          out.write.mode("append").parquet(decisionsDir))
      }
      .start()
}

object CurationService {
  /** x100 — the ASSEMBLED curation service, oracle-gated end to end: the
    * one composed surface (control topic → [[Service.assembleComposition]]
    * → [[GraftSystem]] → supervised per-queue changelog streams →
    * [[CurationService.processBatch]] → control-topic takedowns) that was
    * previously pinned only by fixture-scale specs. Boots the REAL
    * service over a file-backed control topic and drives, through the
    * running streams:
    *
    *  1. CCD activation of queue A, whose changelog holds the documents
    *     table in three ascending doc_id-range files — three real
    *     micro-batches through the whole gate → exact → near-cluster →
    *     screen → split composition (each batch flushing both indexes;
    *     `flushEvery = 1`, so members in a later batch always screen
    *     against their canonical's FLUSHED version — the composition's
    *     documented parity domain).
    *  2. ONE combined control append carrying a BULK takedown CCD (id-set
    *     parquet pointer) for every admitted canonical below the id
    *     midpoint, two per-id takedown CCDs (both carrier forms on the
    *     oracle path), queue A's deactivation, and queue C's activation.
    *     The orchestrator routes requests BEFORE lifecycle within a
    *     control batch, so the takedowns are parked before C's query
    *     exists — deterministic, no sleep.
    *  3. Queue C's pre-written changelog ingests an exact CLONE (same
    *     text, `doc_id + CloneOffset`) of every taken-down doc. C's
    *     FIRST micro-batch drains the parked takedowns — executing them
    *     under the composition's writer leases with the batch's own id —
    *     and then ingests the clones. This is the step that makes the
    *     takedown HASH-OBSERVABLE: with the originals' fingerprints
    *     tombstoned, each clone is NEW content and becomes its family's
    *     keeper; a DROPPED or MISROUTED takedown leaves the original
    *     fingerprint live, the clone classifies `exact_dup` of it, and
    *     the final corpus carries the original id where the oracle
    *     demands the clone id. (A plain re-ingest of the originals could
    *     NOT gate this: the replay-idempotence guards — keeper
    *     self-reference, screen self-match — deliberately make
    *     "identical content back under its own id" converge to the same
    *     corpus whether or not the delete ran.)
    *  4. Queue D then re-ingests the ORIGINALS (a third queue: changelog
    *     offsets are monotonic per queue, and the originals' ids sit
    *     below the clones'): re-ingest-after-takedown is supported, and
    *     each original must now defer `exact_dup` to its clone — the
    *     content's new keeper — never re-enter the corpus.
    *
    * The declared result is the FINAL CURATED CORPUS, reduced from BOTH
    * serving surfaces: ids with a kept decision (minus any doc carrying
    * a SELF-dup decision — impossible in a clean run) INTERSECTED with
    * the near index's admitted-canonical set (so state the decisions
    * claim but the index lost — a dropped batch, a takedown re-applied
    * after the clone admission — breaks the hash from the index side).
    * The DuckDB oracle is x71's kept-CTE chain with the takedown's
    * id-mapping epilogue: kept rows below the id midpoint surface as
    * their CLONE id (doc_id + CloneOffset) with bucket/split/cluster_key
    * recomputed on it, everything else verbatim x71 — so x100 re-derives
    * the assembled run's exact final corpus relationally.
    *
    * A run where the orchestrator drops a batch, misroutes or drops a
    * takedown, double-applies it after the clone admission, or serves a
    * torn index version therefore hash-mismatches while x71 (the batch
    * recompute) stays green. Scratch-root lifecycle in
    * [[ScratchRoots]]. */
  /** Clone-id displacement for x100's takedown observability — larger
    * than any generated doc_id, small enough that id+offset arithmetic
    * stays in the md5-bucket domain both engines share. x100 fails
    * loudly if a dataset's ids ever reach it (the clone ids would
    * collide with real ids and corrupt both the reduction and the
    * oracle's mapping). */
  val CloneOffset = 100000000L

  /** x100's takedown midpoint: admitted canonicals with doc_id below
    * this are taken down and re-admitted as clones. ONE place owns the
    * integer arithmetic that the Spark side and the DuckDB
    * oracle's `mid` CTE (x100OracleSql — `min + (max - min + 1) // 2`,
    * same floor division on positives) must agree on. */
  def takedownMid(lo: Long, hi: Long): Long = lo + (hi - lo + 1) / 2

  def x100AssembledCuration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.Pipelines.Ccd
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val root = ScratchRoots.create("graft_x100_")
    val (controlDir, dataRoot, outRoot, ckptRoot) =
      (s"$root/control", s"$root/data", s"$root/out", s"$root/ckpt")
    val (qA, qC, qD) = ("CUR.X100A", "CUR.X100C", "CUR.X100D")

    // queue A's changelog: the corpus as three ascending id-range files
    // (the changelog offset contract; ranges so family canonicals — min
    // ids — never arrive after their members)
    val Array(lo, hi) = docs.agg(min(col("doc_id")), max(col("doc_id")))
      .collect().map(_.toSeq).head.map(_.asInstanceOf[Long]).toArray
    require(hi < CloneOffset && lo >= 0,
      s"x100 needs doc_ids in [0, $CloneOffset) — got [$lo, $hi]; clone ids " +
        "(doc_id + CloneOffset) would collide with real ids otherwise")
    val span = hi - lo + 1
    val (b1, b2) = (lo + span / 3, lo + 2 * span / 3)
    val nDocs = docs.count()
    def appendData(queue: String, rows: DataFrame): Unit =
      rows.select(col("doc_id"), col("text")).orderBy(col("doc_id"))
        .coalesce(1).write.mode("append").parquet(s"$dataRoot/$queue")

    val svc = new CurationService(s, s"$root/exact", s"$root/near", flushEvery = 1)
    try {
      svc.initEmpty()
      Service.appendControl(s, controlDir, Ccd("a", "active", qA, 0))
      appendData(qA, docs.filter(col("doc_id") < b1))
      val (system, control) = assemble(s, svc, controlDir, dataRoot, outRoot,
        ckptRoot, trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("200 milliseconds"))
      try {
        def decisions(queue: String): DataFrame = {
          val p = s"$outRoot/$queue/decisions"
          if (new java.io.File(p).exists()) s.read.parquet(p).distinct()
          else s.emptyDataFrame
        }
        def decidedIds(queue: String): Long =
          try decisions(queue).select(col("doc_id")).distinct().count()
          catch { case scala.util.control.NonFatal(_) => 0L }
        // the failure message carries the live gauge/decision values
        // (computed lazily, on failure only): folded() is strict
        // equality, so an unexpected EXTRA flush also lands here — the
        // observed counts make that diagnosable without a debug re-run
        def await(what: String)(done: () => Boolean): Unit =
          require(Service.pollUntil(done),
            s"x100 assembled run timed out awaiting $what — flushes " +
              s"exact=${svc.exact.stats("flushes")} near=${svc.near.stats("flushes")}, " +
              s"decided $qA=${decidedIds(qA)} $qC=${decidedIds(qC)} $qD=${decidedIds(qD)}")
        // three ingest micro-batches, each fully decided AND fully FOLDED
        // before the next file lands (one file append = one admitted
        // batch). The decisions sink runs inside the batch, BEFORE the
        // post-sink staging + flush — awaiting decisions alone would let
        // the next step (or the final stop()) interrupt an in-flight
        // fold, losing index state a restart's checkpoint replay would
        // normally restore. The flush gauges are the completion signal:
        // with flushEvery = 1 each processed batch adds exactly one
        // flush to EACH index (takedown batches add two — the delete's
        // own flush first).
        def folded(n: Long): Boolean =
          svc.exact.stats("flushes") == n && svc.near.stats("flushes") == n
        val n1 = docs.filter(col("doc_id") < b1).count()
        await(s"batch 1 ($n1 docs)")(() => decidedIds(qA) == n1 && folded(1))
        appendData(qA, docs.filter(col("doc_id") >= b1 && col("doc_id") < b2))
        val n2 = docs.filter(col("doc_id") < b2).count()
        await(s"batch 2 ($n2 docs)")(() => decidedIds(qA) == n2 && folded(2))
        appendData(qA, docs.filter(col("doc_id") >= b2))
        await(s"batch 3 ($nDocs docs)")(() => decidedIds(qA) == nDocs && folded(3))

        // takedown targets: every ADMITTED canonical below the midpoint —
        // read from the live near index (the corpus-of-record), written
        // as the bulk request's id-set parquet
        val mid = takedownMid(lo, hi)
        val idSetPath = s"$root/takedown_ids"
        svc.near.currentSignatures.filter(col("doc_id") < mid)
          .select(col("doc_id")).distinct()
          .coalesce(1).write.mode("overwrite").parquet(idSetPath)
        val takenIds = s.read.parquet(idSetPath)
        val nTaken = takenIds.count()
        require(nTaken > 0, s"x100 scenario needs admitted canonicals below id $mid")
        val perId = takenIds.orderBy(col("doc_id")).limit(2)
          .collect().map(_.getLong(0)).toSeq
        // queue C's changelog (pre-written, so C's first micro-batch
        // follows the parked takedowns immediately): one exact CLONE per
        // taken-down doc — the takedown-observability step (class doc)
        appendData(qC, docs.join(takenIds, Seq("doc_id"))
          .select((col("doc_id") + CloneOffset).as("doc_id"), col("text")))
        // queue D's changelog (consumed only once D activates): the
        // ORIGINALS back under their own ids — must defer to the clones
        appendData(qD, docs.join(takenIds, Seq("doc_id")))
        // ONE control append: both takedown carrier forms + A's
        // deactivation + C's activation — same control micro-batch, and
        // the orchestrator routes requests before lifecycle, so the
        // parked takedowns deterministically precede C's first batch
        val rid = Service.freshRequestId()
        Service.appendControlBatch(s, controlDir,
          perId.map(id => Service.takedownCcd(qC, id, rid)) ++ Seq(
            Service.takedownBulkCcd(qC, idSetPath, rid),
            Ccd("a", "inactive", qA, 1),
            Ccd("c", "active", qC, 0)))
        // C's one batch = the takedown's flush (4) plus the clone
        // admission's own (5), on both indexes
        await(s"takedown + ${nTaken} clone admissions")(() =>
          decidedIds(qC) == nTaken && folded(5))
        // hand the queue over to D: the originals' re-ingest. All-dup
        // batches stage nothing (no further folds) — the decisions are
        // the completion signal, and the post-sink tail is stateless.
        Service.appendControlBatch(s, controlDir,
          Seq(Ccd("c", "inactive", qC, 1), Ccd("d", "active", qD, 0)))
        await(s"re-ingest of $nTaken originals")(() => decidedIds(qD) == nTaken)
      } finally { control.stop(); system.stop() }

      // ---- the final curated corpus, reduced from BOTH surfaces --------
      val dec = Seq(qA, qC, qD)
        .map(q => s.read.parquet(s"$outRoot/$q/decisions"))
        .reduce(_ unionByName _).distinct()
      val keptDecided = dec.filter(col("status") === "kept")
        .select(col("doc_id")).distinct()
        .join(dec.filter(col("status") === "exact_dup" &&
            col("keep_id") === col("doc_id")).select(col("doc_id")),
          Seq("doc_id"), "left_anti")
      val admitted = svc.near.currentSignatures.select(col("doc_id")).distinct()
      val finalIds = keptDecided.join(admitted, Seq("doc_id"))
      // x71's kept-row projection on the FINAL ids: every kept doc is a
      // singleton-or-min canonical, so cluster_key = its own id; clone
      // rows resolve source/text through their original
      docs.withColumnRenamed("doc_id", "orig")
        .join(finalIds.withColumn("orig",
          when(col("doc_id") >= CloneOffset, col("doc_id") - CloneOffset)
            .otherwise(col("doc_id"))), Seq("orig"))
        .select(col("doc_id"), col("source"),
          coalesce(size(graft.functions.Text.tokens(col("text"))), lit(0))
            .cast("long").as("n_tokens"),
          col("doc_id").as("cluster_key"),
          graft.functions.Sampling.hashBucket(col("doc_id")).as("bucket"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "validation")
            .otherwise("test"))
        .orderBy(col("doc_id"))
    } finally svc.close()
  }

  /** Assemble the curation composition as ONE [[GraftSystem]] service on
    * the control topic (the [[Service.assemble]] boot path with the
    * curation `batchHandler` plugged into the generalized per-queue
    * pipeline): activating a queue CCD starts screening that queue's doc
    * changelog through the shared service; decisions land under
    * `outRoot/<queue>/decisions`; supervision, error write-back, and
    * shutdown order are inherited from the system. Returns (service,
    * system, control query) — stop via `system.stop()` then
    * `service.close()`.
    *
    * Removal requests ride the SAME control topic as in the retrieval
    * composition ([[Service.appendTakedown]] /
    * [[Service.appendTakedownBulk]]): the queue's next micro-batch
    * executes [[CurationService.takedownByIds]] on its own handler
    * thread before ingesting — the exact index resolves the CCD's ids
    * to stored fingerprints itself, so the id-only carrier suffices.
    * `compaction` makes the tier sweep part of the batch loop
    * ([[RetrievalService.CompactPolicy]] — constructor `maxDeltas`
    * HIGH, routine majors become off-lock shadow folds);
    * `backgroundMaintenanceMs` moves that sweep onto a dedicated daemon
    * thread instead ([[RetrievalService.assemble]]'s option, same
    * executor) so the sweeping queue's trigger never pays the fold
    * wall-clock. */
  def assemble(spark: SparkSession, service: CurationService,
               controlDir: String, dataRoot: String, outRoot: String,
               checkpointRoot: String,
               trigger: Trigger = Trigger.ProcessingTime("1 second"),
               metricsDir: Option[String] = None,
               metricsIntervalMs: Long = 10000L,
               compaction: Option[RetrievalService.CompactPolicy] = None,
               backgroundMaintenanceMs: Option[Long] = None)
      : (GraftSystem, StreamingQuery) = {
    val inLoop = backgroundMaintenanceMs.isEmpty
    def sweep(): Unit =
      compaction.foreach(p => service.maybeCompact(p.maxTier))
    val assembled = Service.assembleComposition(spark, controlDir, dataRoot, outRoot,
      checkpointRoot, trigger, metricsDir, metricsIntervalMs,
      ackSubdir = "decisions",
      handler = (batch, id, sink) => {
        service.processBatch(batch, id)(sink)
        if (inLoop) sweep()
      },
      gauges = () => service.stats,
      takedown = Some((ids, batchId) => service.takedownByIds(ids, batchId)))
    backgroundMaintenanceMs.foreach(period =>
      Service.startBackgroundMaintenance(assembled._1, period, () => sweep()))
    assembled
  }
}
