package graft

import org.apache.spark.sql.functions._

/** Round-15: composition parity + takedown hardening.
  *
  *  - The four previously-vacuous oracle gates (d07c full outer, d11
  *    union/intersect/except) exercised on NON-EMPTY, partially
  *    overlapping inputs at the gate's own scale factor.
  *  - Takedown request IDENTITY: the done-log suppresses exactly the
  *    replayed request, never a later legitimate takedown of the same
  *    doc id (the round-14 per-id suppression silently no-op'd a second
  *    takedown of a re-ingested doc — a compliance path must not).
  *  - The done-log is a directory of immutable temp-then-rename
  *    SEGMENTS (a crash can lose only the in-flight segment, never
  *    history) that merge when their count passes a bound (per-batch
  *    work O(new requests), not O(all requests ever)).
  *  - BULK takedown: one control record carrying an id-set file pointer
  *    removes 10^5 docs — the control topic grows by O(1) records and
  *    the done-log by one line.
  *  - The curation composition gets the plumbing the retrieval one got
  *    in round 14: control-topic takedowns (with the exact index
  *    resolving the id-only carrier to content fingerprints itself —
  *    base ∪ tier ∪ staged acceptances) and a CompactPolicy sweep.
  *  - First-class BACKGROUND maintenance: the drift/compaction sweeps
  *    move off the batch handler onto a daemon thread, so the sweeping
  *    queue's trigger no longer pays fold wall-clock.
  */
class RoundFifteenSpec extends SparkSpec {
  import graft.streaming.{CurationService, RetrievalService, Service, TakedownDoneLog}
  import graft.streaming.Pipelines.Ccd

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  private def sf001 = "/root/testdata/sf0.01"

  // ---------------------------------------------------------------- gates

  test("de-vacuized gates: d07c yields matched + both unmatched sides; d11 set ops are non-empty and partially overlapping (sf0.01, the oracle's scale)") {
    val f = graft.queries.Relational.d07cFullOuterJoin(spark, sf001).collect()
    assert(f.exists(r => !r.isNullAt(0) && !r.isNullAt(1)),
      "full outer join must produce MATCHED rows")
    assert(f.exists(r => !r.isNullAt(0) && r.isNullAt(1)),
      "full outer join must produce left-only (purchase-only) rows with a null right side")
    assert(f.exists(r => r.isNullAt(0) && !r.isNullAt(1)),
      "full outer join must produce right-only (error-only) rows with a null left side")
    val inter = graft.queries.Relational.d11Intersect(spark, sf001).count()
    val exc = graft.queries.Relational.d11Except(spark, sf001).count()
    val uni = graft.queries.Relational.d11Union(spark, sf001).count()
    assert(inter > 0, "INTERSECT must be verified on a non-empty overlap")
    assert(exc > 0, "EXCEPT must be verified on a non-empty difference")
    // |P ∪ E| = |P \ E| + |P ∩ E| + |E \ P|; all three pieces non-empty
    assert(uni > exc + inter,
      s"UNION must contain right-only members too: uni=$uni exc=$exc inter=$inter")
  }

  // ------------------------------------------------------------- done-log

  test("done-log: per-REQUEST suppression, immutable segments, merge bound, legacy single-file migration") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = tmp("donelog")
    val log = new TakedownDoneLog(hconf, root, maxSegments = 4)
    val q = "Q.A"
    // per-request identity: the same doc id under a DIFFERENT requestId
    // is a different request and must not be suppressed
    log.record(q, Seq("takedown:Q.A:5:111"))
    assert(log.contains(q, "takedown:Q.A:5:111"))
    assert(!log.contains(q, "takedown:Q.A:5:222"),
      "a later takedown of the same doc id is a NEW request")
    // segments: one per record call, merging at the bound
    (0 until 12).foreach(i => log.record(q, Seq(s"takedown:Q.A:${100 + i}:$i")))
    assert(log.segmentCount(q) <= 5,
      s"segment count must stay bounded by the merge: ${log.segmentCount(q)}")
    // a FRESH instance (fresh process) reloads every key from disk
    val log2 = new TakedownDoneLog(hconf, root, maxSegments = 4)
    assert(log2.contains(q, "takedown:Q.A:5:111"))
    (0 until 12).foreach(i => assert(log2.contains(q, s"takedown:Q.A:${100 + i}:$i"),
      s"key $i lost across reload"))
    // legacy round-14 single-FILE layout (lines = doc ids): reconstructed
    // as `takedown:<queue>:<id>` keys, and migrated into segments by the
    // first record()
    val legacyRoot = tmp("donelog_legacy")
    val legacyQ = "LEG.Q"
    val dir = new java.io.File(s"$legacyRoot/_takedowns_done")
    dir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$legacyRoot/_takedowns_done/$legacyQ"),
      "5\n22\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val log3 = new TakedownDoneLog(hconf, legacyRoot)
    assert(log3.contains(legacyQ, s"takedown:$legacyQ:5") &&
      log3.contains(legacyQ, s"takedown:$legacyQ:22"),
      "pre-upgrade history must stay suppressed")
    log3.record(legacyQ, Seq(s"takedown:$legacyQ:9:777"))
    val log4 = new TakedownDoneLog(hconf, legacyRoot)
    assert(log4.contains(legacyQ, s"takedown:$legacyQ:5") &&
      log4.contains(legacyQ, s"takedown:$legacyQ:9:777"),
      "migration must preserve legacy keys alongside new ones")
    // CRASH MID-MIGRATION: the legacy file was parked aside but the
    // process died before its keys reached a segment — the suppression
    // history must still load (the aside path is part of the set)
    val crashRoot = tmp("donelog_crash")
    new java.io.File(s"$crashRoot/_takedowns_done").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$crashRoot/_takedowns_done/$legacyQ.legacy"),
      "7\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val log5 = new TakedownDoneLog(hconf, crashRoot)
    assert(log5.contains(legacyQ, s"takedown:$legacyQ:7"),
      "a crash between the migration rename and the segment write must not lose history")
    // ...and the next record() folds the aside into a segment and drops it
    log5.record(legacyQ, Seq(s"takedown:$legacyQ:8:1"))
    assert(!new java.io.File(s"$crashRoot/_takedowns_done/$legacyQ.legacy").exists(),
      "the aside file must drop once its keys are durably in a segment")
    val log6 = new TakedownDoneLog(hconf, crashRoot)
    assert(log6.contains(legacyQ, s"takedown:$legacyQ:7") &&
      log6.contains(legacyQ, s"takedown:$legacyQ:8:1"))
  }

  // ------------------------------------------------- exact-index deleteIds

  test("MaintainedDedupIndex.deleteIds resolves ids to fps across base, tier, AND staged-unflushed acceptances; unknown ids resolve to nothing") {
    import graft.streaming.Pipelines
    val sparkS = spark
    import sparkS.implicits._
    val idx = new Pipelines.MaintainedDedupIndex(spark, tmp("dedup_delids"),
      ttlMs = 60000L, flushEvery = 100)
    idx.initIndex(Seq(("fpA", 1L), ("fpB", 2L)).toDF("fp", "corpus_id"))
    // stage an acceptance WITHOUT flushing: the takedown of doc 3 must
    // still resolve fpC (a takedown racing its own doc's recent ingest)
    idx.finalizeBatch(
      Seq(Pipelines.DedupDecision(3L, "fpC", "new", None)).toDS(), 0)(_ => ())
    // ids 1 (flushed base), 3 (staged), 99 (never admitted — no-op)
    idx.deleteIds(Seq(1L, 3L, 99L).toDF("doc_id"), 1)
    assert(idx.stats("n_deleted") == 2L,
      s"exactly fpA and fpC resolve: ${idx.stats("n_deleted")}")
    // WINNER-ONLY resolve: two unflushed batches staged the same fp
    // (finalize joins base + tier, not staging, so both classify "new");
    // the flush fold will keep min-id 9 — taking down the LOSER id 12
    // must not remove the keeper's content
    idx.finalizeBatch(
      Seq(Pipelines.DedupDecision(9L, "fpD", "new", None)).toDS(), 2)(_ => ())
    idx.finalizeBatch(
      Seq(Pipelines.DedupDecision(12L, "fpD", "new", None)).toDS(), 3)(_ => ())
    idx.deleteIds(Seq(12L).toDF("doc_id"), 4)
    assert(idx.stats("n_deleted") == 2L,
      "a duplicate's id must not resolve its keeper's fp (winner rule)")
    idx.deleteIds(Seq(9L).toDF("doc_id"), 5)
    assert(idx.stats("n_deleted") == 3L, "the winner's id resolves")
    idx.flush()
    val live = idx.currentIndex.select("fp").collect().map(_.getString(0)).toSet
    assert(live == Set("fpB"),
      s"fpA (flushed), fpC (staged), fpD (winner takedown) must be gone: $live")
    idx.close()
  }

  // --------------------------------------- retrieval composition takedowns

  test("takedown identity + bulk: a re-takedown after re-ingest executes; one bulk CCD removes 10^5 ids with O(1) control records and a one-line done-log entry; restart suppresses exactly the executed requests") {
    import org.apache.spark.sql.streaming.Trigger
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("retsvc_takedown15")
    val (controlDir, dataRoot, outRoot, ckptRoot) =
      (s"$root/control", s"$root/data", s"$root/out", s"$root/ckpt")
    val queue = "RET.DOCS"
    def docs(ids: Seq[Long]) = ids.map(i =>
      (i, s"alpha doc$i " + (if (i % 2 == 0) "beta" else "gamma")))
      .toDF("doc_id", "text")
    def append(ids: Seq[Long]): Unit =
      docs(ids).coalesce(1).write.mode("append").parquet(s"$dataRoot/$queue")
    def indexed(): Set[Long] = committedIds(s"$outRoot/$queue/indexed")
    def awaitIndexed(ids: Long*): Unit = {
      val deadline = System.currentTimeMillis() + 180000
      while (!ids.forall(indexed().contains) &&
             System.currentTimeMillis() < deadline) Thread.sleep(250)
      assert(ids.forall(indexed().contains),
        s"missing indexed acks for ${ids.filterNot(indexed().contains)}")
    }
    val svc = new graft.streaming.RetrievalService(sparkS, s"$root/text", s"$root/ann",
      flushEvery = 1000, nlist = 4, m = 8, k = 8, maxDeltas = 100)
    svc.initIndex(docs(1L until 21L))
    Service.appendControl(sparkS, controlDir, Ccd("r1", "active", queue, 0))
    append(21L until 26L)
    val (system, control) = RetrievalService.assemble(sparkS, svc,
      controlDir, dataRoot, outRoot, ckptRoot,
      trigger = Trigger.ProcessingTime("200 milliseconds"))
    var nudge = 200L
    def awaitDeleted(n: Long, what: String): Unit = {
      val deadline = System.currentTimeMillis() + 120000
      while ((svc.text.stats("n_deleted") < n || svc.ann.stats("n_deleted") < n) &&
             System.currentTimeMillis() < deadline) {
        append(Seq(nudge)); nudge += 1; Thread.sleep(400)
      }
      assert(svc.text.stats("n_deleted") >= n && svc.ann.stats("n_deleted") >= n,
        s"$what: text=${svc.text.stats("n_deleted")} ann=${svc.ann.stats("n_deleted")}")
    }
    try {
      awaitIndexed(21L, 25L)
      // 1. first takedown of docs 5 and 22
      Service.appendTakedown(sparkS, controlDir, queue, Seq(5L, 22L))
      awaitDeleted(2L, "first takedown must execute")
      // 2. doc 5 is legitimately RE-INGESTED, then taken down AGAIN — a
      //    fresh requestId means a fresh request: the done-log must not
      //    swallow it (the round-14 per-doc-id suppression did, silently)
      append(Seq(5L))
      Service.appendTakedown(sparkS, controlDir, queue, Seq(5L))
      awaitDeleted(3L, "a SECOND takedown of a re-ingested doc must execute")
      // 3. BULK: one CCD pointing at a 10^5-id parquet (docs 6 and 23
      //    among them) — O(1) control growth, one done-log line
      val bulkPath = s"$root/bulk_ids"
      val bulkIds = Seq(6L, 23L) ++ (1000000L until 1099998L)
      bulkIds.toDF("doc_id").coalesce(1).write.parquet(bulkPath)
      Service.appendTakedownBulk(sparkS, controlDir, queue, bulkPath)
      awaitDeleted(3L + 100000L, "the bulk takedown must execute")
      // control-topic growth: exactly 4 takedown records EVER (2 + 1 + 1
      // bulk) — not one per bulk id
      val ccdRows = sparkS.read.schema(Service.CcdSchema).parquet(controlDir)
        .filter(col("status") === "takedown").count()
      assert(ccdRows == 4L,
        s"bulk must cost ONE control record, not 10^5: $ccdRows")
    } finally { control.stop(); system.stop() }
    // done-log shape: a handful of immutable segments, none of them
    // id-set-sized (the bulk request is ONE line — its key)
    val segDir = new java.io.File(s"$ckptRoot/_takedowns_done/$queue")
    assert(segDir.isDirectory, "done-log must be the segmented layout")
    val segs = segDir.listFiles().filter(_.getName.startsWith("seg-"))
    assert(segs.nonEmpty && segs.length <= 10, s"segments: ${segs.length}")
    val maxLines = segs.map(f =>
      java.nio.file.Files.readAllLines(f.toPath).size).max
    assert(maxLines <= 8,
      s"no segment may scale with the bulk id-set size: max $maxLines lines")
    // the flush boundary: all four taken-down docs are gone, live stay
    svc.text.flush(); svc.ann.flush()
    val hits = svc.text.search(Seq("alpha"), 500).collect().map(_.getLong(0)).toSet
    assert(Seq(5L, 22L, 6L, 23L).forall(!hits.contains(_)),
      s"taken-down docs still retrieve lexically: ${hits.intersect(Set(5L, 22L, 6L, 23L))}")
    assert(hits.contains(21L) && hits.contains(24L), s"live docs must stay: $hits")
    svc.close()
    // restart: boot replays the FULL control log (all four requests);
    // every one is in the done-log — zero re-executions
    val svc2 = new graft.streaming.RetrievalService(sparkS, s"$root/text", s"$root/ann",
      flushEvery = 1000, nlist = 4, m = 8, k = 8, maxDeltas = 100)
    val (system2, control2) = RetrievalService.assemble(sparkS, svc2,
      controlDir, dataRoot, outRoot, ckptRoot,
      trigger = Trigger.ProcessingTime("200 milliseconds"))
    try {
      append(500L until 505L)
      awaitIndexed(500L, 504L)
      append(Seq(505L)) // a second batch after any late control replay
      awaitIndexed(505L)
      assert(svc2.text.stats("n_deleted") == 0L && svc2.ann.stats("n_deleted") == 0L,
        s"replayed requests must be suppressed: text=${svc2.text.stats("n_deleted")} " +
          s"ann=${svc2.ann.stats("n_deleted")}")
    } finally { control2.stop(); system2.stop() }
    svc2.close()
  }

  // ----------------------------------------- curation composition parity

  test("curation composition: a takedown CCD resolves the id-only carrier to fps and removes the doc from BOTH dedup indexes; CompactPolicy folds the tier unattended; restart suppresses the replay") {
    import org.apache.spark.sql.streaming.Trigger
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("cursvc_ccd_takedown")
    val (controlDir, dataRoot, outRoot, ckptRoot) =
      (s"$root/control", s"$root/data", s"$root/out", s"$root/ckpt")
    val queue = "CUR.DOCS"
    def docs(ids: Seq[Long]) = ids.map(i =>
      (i, s"curated document number $i with distinct content tail ${i * 31}"))
      .toDF("doc_id", "text")
    def append(ids: Seq[Long]): Unit =
      docs(ids).coalesce(1).write.mode("append").parquet(s"$dataRoot/$queue")
    def decided(): Set[Long] = committedIds(s"$outRoot/$queue/decisions")
    def awaitDecided(ids: Long*): Unit = {
      val deadline = System.currentTimeMillis() + 180000
      while (!ids.forall(decided().contains) &&
             System.currentTimeMillis() < deadline) Thread.sleep(250)
      assert(ids.forall(decided().contains),
        s"missing decisions for ${ids.filterNot(decided().contains)}")
    }
    // flushEvery=1: every batch flushes a delta — the CompactPolicy sweep
    // has a tier to fold; maxDeltas high = the blocking major never fires
    val svc = new CurationService(sparkS, s"$root/exact", s"$root/near",
      flushEvery = 1, minTokens = 1, maxDeltas = 100)
    svc.initEmpty()
    Service.appendControl(sparkS, controlDir, Ccd("c1", "active", queue, 0))
    append(1L until 6L)
    val (system, control) = CurationService.assemble(sparkS, svc,
      controlDir, dataRoot, outRoot, ckptRoot,
      trigger = Trigger.ProcessingTime("200 milliseconds"),
      compaction = Some(RetrievalService.CompactPolicy(maxTier = 3)))
    var nudge = 100L
    try {
      awaitDecided(1L, 5L)
      // the takedown CCD carries ONLY the id — the exact index resolves
      // it to the stored fp itself (base ∪ tier ∪ staging)
      Service.appendTakedown(sparkS, controlDir, queue, Seq(3L))
      val deadline = System.currentTimeMillis() + 120000
      while ((svc.exact.stats("n_deleted") < 1L ||
              svc.near.stats("n_deleted") < 1L) &&
             System.currentTimeMillis() < deadline) {
        append(Seq(nudge)); nudge += 1; Thread.sleep(400)
      }
      assert(svc.exact.stats("n_deleted") == 1L && svc.near.stats("n_deleted") == 1L,
        s"takedown must execute inside the curation composition: " +
          s"exact=${svc.exact.stats} near=${svc.near.stats}")
      // the unattended CompactPolicy sweep: with flushEvery=1 the tier
      // grows one delta per batch — the sweep must keep folding it back
      // under the threshold (no API call, no operator)
      val d2 = System.currentTimeMillis() + 120000
      while (svc.exact.stats("flushes") < 6L && System.currentTimeMillis() < d2) {
        append(Seq(nudge)); nudge += 1; Thread.sleep(400)
      }
      val tierNow = svc.exact.stats("delta_versions")
      assert(svc.exact.stats("flushes") >= 6L && tierNow <= 3L,
        s"the sweep must bound the tier at maxTier: flushes=${svc.exact.stats("flushes")} " +
          s"tier=$tierNow")
    } finally { control.stop(); system.stop() }
    // the flush boundary: doc 3's fp is out of the exact index, its
    // signature out of the near index — a re-submission of the SAME
    // content must classify "new" (the tombstone epoch), and the near
    // screen must not match it
    svc.exact.flush(); svc.near.flush()
    val fp3 = docs(Seq(3L)).select(
      graft.functions.Text.fingerprint(col("text")).as("fp"))
      .collect().head.getString(0)
    val liveFps = svc.exact.currentIndex.select("fp")
      .collect().map(_.getString(0)).toSet
    assert(!liveFps.contains(fp3), "doc 3's fingerprint must be gone from the exact index")
    svc.close()
    // restart: the control log replays the takedown CCD; the done-log
    // suppresses it
    val svc2 = new CurationService(sparkS, s"$root/exact", s"$root/near",
      flushEvery = 1, minTokens = 1, maxDeltas = 100)
    val (system2, control2) = CurationService.assemble(sparkS, svc2,
      controlDir, dataRoot, outRoot, ckptRoot,
      trigger = Trigger.ProcessingTime("200 milliseconds"),
      compaction = Some(RetrievalService.CompactPolicy(maxTier = 3)))
    try {
      append(300L until 303L)
      awaitDecided(300L, 302L)
      append(Seq(303L))
      awaitDecided(303L)
      assert(svc2.exact.stats("n_deleted") == 0L && svc2.near.stats("n_deleted") == 0L,
        s"replayed takedown must be suppressed: exact=${svc2.exact.stats("n_deleted")} " +
          s"near=${svc2.near.stats("n_deleted")}")
    } finally { control2.stop(); system2.stop() }
    svc2.close()
  }

  // ------------------------------------------------- sized PQ budget

  test("retrain re-sizes the PQ budget like nlist: sizedPq picks dsub-2 subspaces and a corpus-supported k; pqOverride pins") {
    import graft.streaming.MaintainedAnnIndex
    // the sizing function itself
    assert(MaintainedAnnIndex.sizedPq(16, 1000000L) == (8, 256),
      "1M vectors support full 8-bit codes")
    assert(MaintainedAnnIndex.sizedPq(64, 1000000L) == (32, 256))
    assert(MaintainedAnnIndex.sizedPq(16, 1000L) == (8, 16),
      "1k vectors support ~1000/39 = 25 -> 16 codewords")
    assert(MaintainedAnnIndex.sizedPq(16, 40L) == (8, 4),
      "a tiny corpus gets the floor")
    val sparkS = spark
    import sparkS.implicits._
    def vecs(ids: Seq[Long]) = ids.map { i =>
      (i, Seq.tabulate(16) { j =>
        (if (j / 4 == (i % 4).toInt) 1.0 else 0.0) +
          0.05 * math.rint(math.sin(i * 31.0 + j * 7.0) * 100.0) / 100.0
      })
    }.toDF("vec_id", "embedding")
    val ann = new MaintainedAnnIndex(spark, tmp("mannx_sizedpq"),
      flushEvery = 1, nlist = 4, m = 8, k = 8)
    val base = vecs(0L until 40L)
    ann.initIndex(base)
    assert(ann.loadModel().cb.head.length == 8, "seed keeps the constructor k")
    ann.retrainModel(base) // default: nlist AND (m, k) re-size
    val model = ann.loadModel()
    assert(model.cb.length == 8 && model.cb.head.length == 4,
      s"default retrain must pick sizedPq(16, 40) = (8, 4): " +
        s"(${model.cb.length}, ${model.cb.head.length})")
    // the store equals the batch encode under the re-sized model — the
    // resize is swap-consistent, not just a training knob
    val stored = ann.currentCodes.select("vec_id", "cell", "codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    val batch = graft.functions.Ivfadc.encode(base, model)
      .select("vec_id", "cell", "codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    assert(stored == batch)
    // pqOverride pins the budget (the oracle-fixture escape hatch)
    ann.retrainModel(base, pqOverride = Some((4, 8)))
    val m2 = ann.loadModel()
    assert(m2.cb.length == 4 && m2.cb.head.length == 8,
      s"pqOverride must pin (4, 8): (${m2.cb.length}, ${m2.cb.head.length})")
    ann.close()
  }

  // -------------------------------------------- background maintenance

  test("background maintenance executor: folds land from the daemon thread while ingest proceeds; the batch handler never sweeps") {
    import org.apache.spark.sql.streaming.Trigger
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("retsvc_bg_maint")
    val (controlDir, dataRoot, outRoot, ckptRoot) =
      (s"$root/control", s"$root/data", s"$root/out", s"$root/ckpt")
    val queue = "BG.DOCS"
    def docs(ids: Seq[Long]) = ids.map(i =>
      (i, s"alpha doc$i beta")).toDF("doc_id", "text")
    def append(ids: Seq[Long]): Unit =
      docs(ids).coalesce(1).write.mode("append").parquet(s"$dataRoot/$queue")
    def indexed(): Set[Long] = committedIds(s"$outRoot/$queue/indexed")
    // flushEvery=1 → every batch adds a delta; only the BACKGROUND sweep
    // can fold them (the in-loop sweep is disabled when the executor is on)
    val svc = new graft.streaming.RetrievalService(sparkS, s"$root/text", s"$root/ann",
      flushEvery = 1, nlist = 4, m = 8, k = 8, maxDeltas = 100)
    svc.initIndex(docs(1L until 21L))
    Service.appendControl(sparkS, controlDir, Ccd("b1", "active", queue, 0))
    val (system, control) = RetrievalService.assemble(sparkS, svc,
      controlDir, dataRoot, outRoot, ckptRoot,
      trigger = Trigger.ProcessingTime("200 milliseconds"),
      compaction = Some(RetrievalService.CompactPolicy(maxTier = 2)),
      backgroundMaintenanceMs = Some(150L))
    try {
      var nudge = 50L
      // with maxDeltas high the flush-path major NEVER fires, so a base
      // VERSION advance is a monotone witness that the BACKGROUND sweep's
      // shadow fold ran (flushes are minor = delta-only, no version bump)
      val v0 = svc.text.stats("version")
      def sawFold = svc.text.stats("version") > v0
      val deadline = System.currentTimeMillis() + 120000
      while ((!sawFold || svc.text.stats("flushes") < 5L) &&
             System.currentTimeMillis() < deadline) {
        append(Seq(nudge)); nudge += 1
        Thread.sleep(300)
      }
      assert(sawFold,
        s"the background sweep must fold the tier while the stream runs: " +
          s"version=${svc.text.stats("version")} (started $v0), " +
          s"tier=${svc.text.stats("delta_versions")}")
      // ingest kept flowing throughout (acks for the nudges landed)
      assert(indexed().exists(_ >= 50L), "ingest must proceed during background folds")
    } finally { control.stop(); system.stop() }
    // serving is identical post-fold: the folded base answers
    svc.text.flush(); svc.ann.flush()
    val hits = svc.text.search(Seq("alpha"), 200).collect().map(_.getLong(0)).toSet
    assert(hits.contains(1L) && hits.exists(_ >= 50L),
      s"folded base must serve both seed and streamed docs: $hits")
    svc.close()
  }
}
