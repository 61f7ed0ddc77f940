package graft

import org.apache.spark.sql.functions._

/** Round-14: the delete × shadow-retrain composition (the judge-confirmed
  * round-13 defect) plus failure isolation for the unattended sweep.
  *
  * The defect: retrainImpl's catch-up id set swept staging + deltas
  * WITHOUT tombstone resolution, so after any takedown the honest
  * (delete-excluding) retrain corpus failed the coverage check until a
  * major GC'd the tombstones — and the error text advised a corpus that
  * would RESURRECT the deleted vector. The fix resolves the since-build
  * state with the same (_tier, _b) winner rule serving uses: live
  * winners are caught up, tombstone winners survive the swap re-staged
  * under the new model (never re-encoded, never resurrected). */
class RoundFourteenSpec extends SparkSpec {
  import graft.streaming.MaintainedAnnIndex

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Deterministic clustered embeddings — the RoundElevenSpec family. */
  private def vecs(ids: Seq[Long]) = {
    val sparkS = spark
    import sparkS.implicits._
    ids.map { i =>
      val c = (i % 4).toInt
      (i, Seq.tabulate(16) { j =>
        val center = if (j / 4 == c) 1.0 else 0.0
        center + 0.05 * math.rint(math.sin(i * 31.0 + j * 7.0) * 100.0) / 100.0
      })
    }.toDF("vec_id", "embedding")
  }

  private def codeSet(df: org.apache.spark.sql.DataFrame) = df
    .select(col("vec_id"), col("cell"), col("codes"))
    .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet

  test("takedown then retrain with the honest corpus succeeds; deleted ids stay gone (judge repro)") {
    val ann = new MaintainedAnnIndex(spark, tmp("mannx_del_retrain"),
      flushEvery = 1, nlist = 4, m = 8, k = 8, maxDeltas = 4)
    val base = vecs(0L until 40L)
    ann.initIndex(base)
    ann.ingestBatch(vecs(100L until 110L), 0)(_ => ()) // live delta 1
    val sparkS = spark; import sparkS.implicits._
    // one base vec + one delta vec: the delta vec's LIVE row in delta 1
    // must not leak past its tombstone in delta 2 (per-source cell
    // filtering would re-admit it to the catch-up set)
    ann.deleteVectors(Seq(5L, 100L).toDF("vec_id"), 1) // tombstones → delta 2
    val honest = base.unionByName(vecs(101L until 110L))
      .filter(!col("vec_id").isin(5L, 100L))
    // the round-13 defect: this threw "corpus covers only N of M live
    // vec_ids" — the honest corpus is exactly what deleteVectors' own
    // contract instructs
    ann.retrainModel(honest, nlistOverride = Some(4))
    assert(ann.stats("model_version") == 1L, ann.stats.toString)
    // deleted ids absent post-swap; everything else ≡ batch recompute
    assert(codeSet(ann.currentCodes) ==
      codeSet(graft.functions.Ivfadc.encode(honest, ann.loadModel())),
      "post-swap store must equal the batch encode of the honest corpus")
    val served = ann.currentCodes.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!served.contains(5L) && !served.contains(100L),
      s"taken-down ids must stay gone through the retrain: $served")
    // only the 9 live delta vecs needed catch-up — tombstone winners don't
    assert(ann.stats("retrain_catchup") == 9L, ann.stats.toString)
    ann.close()
  }

  test("a takedown issued MID-BUILD is honored: the tombstone survives the swap and masks the prepare-time corpus snapshot") {
    val root = tmp("mannx_del_midbuild")
    val ann = new MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8, maxDeltas = 4)
    val base = vecs(0L until 40L)
    ann.initIndex(base)
    val sparkS = spark; import sparkS.implicits._
    // the corpus of record is BY-NAME and mutates mid-build: at prepare
    // it still contains vec 3 (so the shadow base encodes it); the
    // takedown and an ingest land while the build is in flight and the
    // corpus of record tracks both — the catch-up read sees the honest
    // current corpus, exactly what the contract instructs
    @volatile var corpusNow = base
    ann.retrainModel(corpusNow, nlistOverride = Some(4), onPrepared = () => {
      ann.deleteVectors(Seq(3L).toDF("vec_id"), 0) // flushes → live delta
      // a mid-build ingest too: live winner, must be caught up normally
      ann.ingestBatch(vecs(200L until 205L), 1)(_ => ())
      corpusNow = base.filter(col("vec_id") =!= 3L)
        .unionByName(vecs(200L until 205L))
    })
    assert(ann.stats("model_version") == 1L, ann.stats.toString)
    val served = ann.currentCodes.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!served.contains(3L),
      s"a mid-build takedown must not be resurrected by the swap: $served")
    assert(served == ((0L until 40L).toSet - 3L) ++ (200L until 205L).toSet,
      s"everything else must survive: $served")
    assert(ann.stats("retrain_catchup") == 5L,
      s"only the mid-build INGEST needs catch-up, never the tombstone: ${ann.stats}")
    // the tombstone rides the new regime until the next MAJOR GCs it —
    // and that major must physically drop both the mask and the base row
    ann.ingestBatch(vecs(300L until 305L), 2)(_ => ())
    ann.ingestBatch(vecs(305L until 310L), 3)(_ => ())
    ann.ingestBatch(vecs(310L until 315L), 4)(_ => ())
    ann.ingestBatch(vecs(315L until 320L), 5)(_ => ()) // tier full → major
    assert(ann.stats("delta_versions") == 0L, ann.stats.toString)
    val baseRows = spark.read.parquet(
      s"$root/codes_v${ann.stats("version")}")
    assert(baseRows.filter(col("cell") < 0).count() == 0L,
      "no tombstone may survive the major")
    assert(!baseRows.select("vec_id").collect().map(_.getLong(0)).toSet.contains(3L))
    ann.close()
  }

  test("a takedown still in STAGING (unflushed) at swap time is honored and needs no catch-up") {
    val ann = new MaintainedAnnIndex(spark, tmp("mannx_del_staged"),
      flushEvery = 100, nlist = 4, m = 8, k = 8) // nothing flushes
    val base = vecs(0L until 40L)
    ann.initIndex(base)
    val sparkS = spark; import sparkS.implicits._
    ann.deleteVectors(Seq(7L).toDF("vec_id"), 0) // tombstone stays STAGED
    val honest = base.filter(col("vec_id") =!= 7L)
    ann.retrainModel(honest, nlistOverride = Some(4))
    val served = ann.currentCodes.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!served.contains(7L) && served.size == 39,
      s"a staged tombstone must survive the swap: $served")
    assert(ann.stats("retrain_catchup") == 0L, ann.stats.toString)
    ann.close()
  }

  test("ANN shadow major: ingest/search proceed mid-fold (flush major deferred), swap is metadata-only, post-swap serve equals the blocking fold") {
    val root = tmp("mannx_shadow_major")
    val ann = new MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8, maxDeltas = 3)
    val base = vecs(0L until 40L)
    ann.initIndex(base)
    ann.ingestBatch(vecs(100L until 110L), 0)(_ => ()) // delta 1
    ann.ingestBatch(vecs(110L until 120L), 1)(_ => ()) // delta 2
    val sparkS = spark; import sparkS.implicits._
    ann.deleteVectors(Seq(5L, 100L).toDF("vec_id"), 2) // tombstones → delta 3
    assert(ann.stats("delta_versions") == 3L, ann.stats.toString)
    val v0 = ann.stats("version")
    // the mid-build probe: ingest a batch whose flush WOULD major (tier
    // at maxDeltas) — it must defer to a minor — and search model N
    @volatile var midSearchRows = -1L
    assert(ann.compactBase(onPrepared = () => {
      ann.ingestBatch(vecs(200L until 210L), 3)(_ => ())
      assert(ann.stats("version") == v0,
        "a mid-build flush must not publish a new base (major deferred)")
      assert(ann.stats("delta_versions") == 4L,
        s"the deferred major must land as a minor delta: ${ann.stats}")
      assert(ann.stats("shadow_deferred_majors") == 1L, ann.stats.toString)
      midSearchRows = ann.search(
        vecs(Seq(0L)).select(lit(9999L).as("vec_id"), col("embedding")),
        kTop = 3, nprobe = 4).count()
      // one rebuild at a time: an EXPLICIT retrain still fails loudly,
      // while the maintenance-cadence forms stand down quietly (busy)
      intercept[IllegalStateException](ann.retrainModel(base))
      assert(!ann.compactBase(), "a concurrent compact must report busy, not throw")
      assert(!ann.maybeRetrain(base, -1L))
    }))
    assert(midSearchRows == 3L, s"mid-build search must serve: $midSearchRows")
    // swap landed: base advanced, ONLY the mid-build delta stays live,
    // model untouched
    assert(ann.stats("version") == v0 + 1 && ann.stats("model_version") == 0L,
      ann.stats.toString)
    assert(ann.stats("delta_versions") == 1L, ann.stats.toString)
    // post-swap serve ≡ the blocking fold's logical corpus
    val logical = base.filter(col("vec_id") =!= 5L)
      .unionByName(vecs(101L until 120L)).unionByName(vecs(200L until 210L))
    assert(codeSet(ann.currentCodes) ==
      codeSet(graft.functions.Ivfadc.encode(logical, ann.loadModel())),
      "post-swap store must equal the batch encode of the logical corpus")
    // tombstones GC'd PHYSICALLY from the compacted base
    val baseRows = spark.read.parquet(s"$root/codes_v${v0 + 1}")
    assert(baseRows.filter(col("cell") < 0).count() == 0L)
    val baseIds = baseRows.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!baseIds.contains(5L) && !baseIds.contains(100L))
    // an empty tier is a no-op, not an error
    ann.flush()
    val tierNow = ann.stats("delta_versions")
    if (tierNow == 0L) assert(!ann.compactBase())
    ann.close()
  }

  test("text shadow major: ingest/search proceed mid-fold, stats heal exactly, post-swap search equals the batch scorer") {
    val root = tmp("mtix_shadow_major")
    val idx = new graft.streaming.MaintainedTextIndex(spark, root,
      flushEvery = 1, maxDeltas = 3)
    def docsDf(rows: (Long, String)*) = {
      val sparkS = spark; import sparkS.implicits._
      rows.toDF("doc_id", "text")
    }
    idx.initIndex(docsDf(1L -> "alpha beta beta", 2L -> "alpha gamma",
      3L -> "delta alpha"))
    idx.ingestBatch(docsDf(4L -> "alpha epsilon"), 0)(_ => ()) // delta 1
    idx.ingestBatch(docsDf(5L -> "beta zeta"), 1)(_ => ())     // delta 2
    val sparkS = spark; import sparkS.implicits._
    idx.deleteDocs(Seq(2L).toDF("doc_id"), 2)                  // delta 3
    assert(idx.stats("delta_versions") == 3L, idx.stats.toString)
    val v0 = idx.stats("version")
    @volatile var midHits: Set[Long] = Set.empty
    assert(idx.compactBase(onPrepared = () => {
      idx.ingestBatch(docsDf(6L -> "alpha eta"), 3)(_ => ()) // would major
      assert(idx.stats("version") == v0,
        "a mid-build flush must not publish a new base (major deferred)")
      assert(idx.stats("delta_versions") == 4L, idx.stats.toString)
      assert(idx.stats("shadow_deferred_majors") == 1L, idx.stats.toString)
      midHits = idx.search(Seq("alpha"), 10).collect().map(_.getLong(0)).toSet
    }))
    assert(midHits == Set(1L, 3L, 4L, 6L), s"mid-build search: $midHits")
    assert(idx.stats("version") == v0 + 1, idx.stats.toString)
    assert(idx.stats("delta_versions") == 1L, idx.stats.toString)
    // stats healed exactly at the shadow major (deleted doc out), plus
    // the mid-build delta's additive contribution
    val logical = docsDf(1L -> "alpha beta beta", 3L -> "delta alpha",
      4L -> "alpha epsilon", 5L -> "beta zeta", 6L -> "alpha eta")
    assert(idx.stats("n_docs") == 5L, idx.stats.toString)
    // post-swap search ≡ the batch scorer over the logical corpus
    val expect = graft.functions.Search.bm25TopK(logical, Seq("alpha", "beta"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = idx.search(Seq("alpha", "beta"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expect, s"post-major search must equal the batch scorer: $got vs $expect")
    // tombstones GC'd physically from the compacted dl
    val dlBase = spark.read.parquet(s"$root/dl_v${v0 + 1}")
    assert(dlBase.filter(col("dl") < 0).count() == 0L)
    assert(!dlBase.select("doc_id").collect().map(_.getLong(0)).toSet.contains(2L))
    idx.close()
  }

  test("exact-dedup shadow major: finalize proceeds mid-fold (flush major deferred), tombstone epoch ends at the swap, post-swap index equals the blocking fold") {
    val sparkS = spark; import sparkS.implicits._
    import graft.streaming.Pipelines
    val m = new Pipelines.MaintainedDedupIndex(spark, tmp("mdix_shadow_major"),
      ttlMs = 60000, flushEvery = 1, maxDeltas = 3)
    m.initIndex(Seq(("fpA", 1L), ("fpB", 2L)).toDF("fp", "corpus_id"))
    def decide(doc: Long, fp: String) =
      Seq(Pipelines.DedupDecision(doc, fp, "new", None)).toDS()
    m.finalizeBatch(decide(10L, "fpC"), 0)(_ => ()) // delta 1
    m.finalizeBatch(decide(11L, "fpD"), 1)(_ => ()) // delta 2
    m.deleteFps(Seq("fpA").toDF("fp"), 2)           // tombstone → delta 3
    assert(m.stats("delta_versions") == 3L, m.stats.toString)
    val v0 = m.stats("version")
    assert(m.compactBase(onPrepared = () => {
      // mid-build finalize whose flush WOULD major (tier at maxDeltas):
      // must defer to a minor, and the index keeps serving
      var got: Array[org.apache.spark.sql.Row] = Array.empty
      m.finalizeBatch(decide(20L, "fpE"), 3)(df => got = df.collect())
      assert(got.head.getString(2) == "new", got.mkString(","))
      assert(m.stats("version") == v0,
        "a mid-build flush must not publish a new base (major deferred)")
      assert(m.stats("delta_versions") == 4L, m.stats.toString)
      assert(m.stats("shadow_deferred_majors") == 1L, m.stats.toString)
      assert(!m.currentIndex.collect().map(_.getString(0)).contains("fpA"),
        "the tombstone keeps masking mid-build")
    }))
    assert(m.stats("version") == v0 + 1, m.stats.toString)
    assert(m.stats("delta_versions") == 1L, m.stats.toString)
    val idx = m.currentIndex.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(idx == Map("fpB" -> 2L, "fpC" -> 10L, "fpD" -> 11L, "fpE" -> 20L),
      s"post-swap index must equal the blocking fold: $idx")
    assert(m.currentIndex.filter(col("corpus_id") < 0).count() == 0L,
      "no tombstone may survive the shadow major")
    // the epoch ended at the swap: the next acceptance of fpA is durable
    m.finalizeBatch(decide(30L, "fpA"), 4)(_ => ())
    assert(m.currentIndex.filter(col("fp") === "fpA").head().getLong(1) == 30L)
    m.close()
  }

  test("near-dup shadow major: screens proceed mid-fold, deleted doc GC'd from both relations, admitted docs survive") {
    val sparkS = spark; import sparkS.implicits._
    import graft.streaming.Pipelines
    val root = tmp("mndix_shadow_major")
    val n = new Pipelines.MaintainedNearDupIndex(spark, root,
      flushEvery = 1, maxDeltas = 3)
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val t2 = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    val t3 = "red orange yellow green blue indigo violet crimson scarlet " +
      "amber teal cyan magenta maroon olive navy coral salmon ivory pearl"
    val t4 = "north south east west summer winter spring autumn morning " +
      "evening noon midnight dawn dusk river mountain valley forest desert ocean"
    n.initIndex(Seq((1L, t1)).toDF("doc_id", "text"))
    n.screenBatch(Seq((50L, t2)).toDF("doc_id", "text"), 0)(_ => ()) // delta 1
    n.screenBatch(Seq((51L, t3)).toDF("doc_id", "text"), 1)(_ => ()) // delta 2
    n.deleteDocs(Seq(1L).toDF("doc_id"), 2)                          // delta 3
    assert(n.stats("delta_versions") == 3L, n.stats.toString)
    val v0 = n.stats("version")
    assert(n.compactBase(onPrepared = () => {
      var out: Array[org.apache.spark.sql.Row] = Array.empty
      n.screenBatch(Seq((60L, t4)).toDF("doc_id", "text"), 3)(df => out = df.collect())
      assert(out.head.getLong(1) == 0L, s"mid-build screen must serve: ${out.mkString(",")}")
      assert(n.stats("version") == v0,
        "a mid-build flush must not publish a new base (major deferred)")
      assert(n.stats("delta_versions") == 4L, n.stats.toString)
      assert(n.stats("shadow_deferred_majors") == 1L, n.stats.toString)
    }))
    assert(n.stats("version") == v0 + 1, n.stats.toString)
    assert(n.stats("delta_versions") == 1L, n.stats.toString)
    // the deleted doc is gone PHYSICALLY from both compacted relations
    val sigIds = spark.read.parquet(s"$root/sig_v${v0 + 1}")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val tgIds = spark.read.parquet(s"$root/tg_v${v0 + 1}")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sigIds == Set(50L, 51L) && tgIds == Set(50L, 51L),
      s"post-swap base must hold exactly the admitted docs: sig=$sigIds tg=$tgIds")
    assert(spark.read.parquet(s"$root/sig_v${v0 + 1}")
      .filter(col("band") === -1).count() == 0L)
    // a clone of the DELETED doc screens clean; a clone of an admitted
    // doc still matches — serve parity with the blocking fold
    var out: Array[org.apache.spark.sql.Row] = Array.empty
    n.screenBatch(Seq((70L, t1 + " phi")).toDF("doc_id", "text"), 4)(df => out = df.collect())
    assert(out.head.getLong(1) == 0L,
      s"a clone of the deleted doc must screen clean: ${out.mkString(",")}")
    n.screenBatch(Seq((71L, t3 + " phi")).toDF("doc_id", "text"), 5)(df => out = df.collect())
    assert(out.head.getLong(1) >= 1L && out.head.getLong(3) == 51L,
      s"a clone of an admitted doc must still match: ${out.mkString(",")}")
    n.close()
  }

  test("control-topic takedown: a removal-request CCD flows through the running composition and the doc leaves both pillars at the flush boundary") {
    import graft.streaming.{RetrievalService, Service}
    import graft.streaming.Pipelines.Ccd
    import org.apache.spark.sql.streaming.Trigger
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("retsvc_ccd_takedown")
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
    val svc = new RetrievalService(sparkS, s"$root/text", s"$root/ann",
      flushEvery = 100, nlist = 4, m = 8, k = 8, maxDeltas = 2)
    svc.initIndex(docs(1L until 21L))
    Service.appendControl(sparkS, controlDir, Ccd("r1", "active", queue, 0))
    append(21L until 26L)
    val (system, control) = RetrievalService.assemble(sparkS, svc,
      controlDir, dataRoot, outRoot, ckptRoot,
      trigger = Trigger.ProcessingTime("200 milliseconds"))
    try {
      awaitIndexed(21L, 25L)
      // the removal request rides the CONTROL topic — no out-of-band API
      // call against the writer; the queue's next data batch AFTER the
      // control stream parks the request executes it under the
      // composition's own lease and batch id. The two streams' triggers
      // race, so keep nudging data batches until one lands post-park.
      Service.appendTakedown(sparkS, controlDir, queue, Seq(5L, 22L))
      append(26L until 31L)
      awaitIndexed(26L, 30L)
      val deadline = System.currentTimeMillis() + 120000
      var nudge = 31L
      while ((svc.text.stats("n_deleted") < 2L ||
              svc.ann.stats("n_deleted") < 2L) &&
             System.currentTimeMillis() < deadline) {
        append(Seq(nudge)); nudge += 1; Thread.sleep(500)
      }
      assert(svc.text.stats("n_deleted") == 2L && svc.ann.stats("n_deleted") == 2L,
        s"takedown must execute inside the composition: text=${svc.text.stats} ann=${svc.ann.stats}")
    } finally { control.stop(); system.stop() }
    // the flush boundary: fold staging, then both pillars must serve
    // without the taken-down docs
    svc.text.flush(); svc.ann.flush()
    val hits = svc.text.search(Seq("alpha"), 100).collect().map(_.getLong(0)).toSet
    assert(!hits.contains(5L) && !hits.contains(22L),
      s"taken-down docs still retrieve lexically: $hits")
    assert(hits.contains(21L) && hits.contains(26L), s"live docs must stay: $hits")
    val codes = svc.ann.currentCodes.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!codes.contains(5L) && !codes.contains(22L),
      s"taken-down docs still in the code store: $codes")
    assert(codes.contains(30L), s"live docs must stay in the code store: $codes")
    svc.close()
    // the executed requests are recorded in the per-queue done-log...
    assert(new java.io.File(s"$ckptRoot/_takedowns_done/$queue").exists(),
      "executed takedowns must land in the done-log")
    // ...so a RESTART (boot replays the FULL control log, takedown CCDs
    // included) suppresses re-execution instead of re-tombstoning the
    // takedown history on every boot
    val svc2 = new RetrievalService(sparkS, s"$root/text", s"$root/ann",
      flushEvery = 100, nlist = 4, m = 8, k = 8, maxDeltas = 2)
    val (system2, control2) = RetrievalService.assemble(sparkS, svc2,
      controlDir, dataRoot, outRoot, ckptRoot,
      trigger = Trigger.ProcessingTime("200 milliseconds"))
    try {
      append(100L until 105L) // the batch whose handler would re-execute
      awaitIndexed(100L, 104L)
      // give a late-racing control replay a nudge batch too before the
      // suppression assert — absence of re-execution must not be an
      // artifact of the replay not having parked yet
      append(Seq(105L))
      awaitIndexed(105L)
      assert(svc2.text.stats("n_deleted") == 0L && svc2.ann.stats("n_deleted") == 0L,
        s"replayed takedowns must be suppressed by the done-log: " +
          s"text=${svc2.text.stats("n_deleted")} ann=${svc2.ann.stats("n_deleted")}")
    } finally { control2.stop(); system2.stop() }
    svc2.close()
  }

  test("unattended compaction sweep: maybeCompact folds at the tier threshold and stands down below it — the minors-only deployment shape") {
    // constructor maxDeltas HIGH = the flush-path BLOCKING major never
    // fires routinely; the sweep is what compacts
    val ann = new MaintainedAnnIndex(spark, tmp("mannx_sweep_compact"),
      flushEvery = 1, nlist = 4, m = 8, k = 8, maxDeltas = 1000)
    ann.initIndex(vecs(0L until 40L))
    ann.ingestBatch(vecs(100L until 105L), 0)(_ => ())
    ann.ingestBatch(vecs(105L until 110L), 1)(_ => ())
    assert(!ann.maybeCompact(3), "below the threshold the sweep stands down")
    assert(ann.stats("delta_versions") == 2L && ann.stats("version") == 0L)
    ann.ingestBatch(vecs(110L until 115L), 2)(_ => ())
    assert(ann.maybeCompact(3), "at the threshold the sweep folds")
    assert(ann.stats("version") == 1L && ann.stats("delta_versions") == 0L,
      ann.stats.toString)
    assert(!ann.maybeCompact(3), "an empty tier is below any threshold")
    assert(codeSet(ann.currentCodes) == codeSet(graft.functions.Ivfadc.encode(
      vecs(0L until 40L).unionByName(vecs(100L until 115L)), ann.loadModel())),
      "the swept fold must serve the blocking fold's corpus")
    ann.close()
    val root = tmp("mtix_sweep_compact")
    val idx = new graft.streaming.MaintainedTextIndex(spark, root,
      flushEvery = 1, maxDeltas = 1000)
    def docsDf(rows: (Long, String)*) = {
      val sparkS = spark; import sparkS.implicits._
      rows.toDF("doc_id", "text")
    }
    idx.initIndex(docsDf(1L -> "alpha beta", 2L -> "alpha gamma"))
    idx.ingestBatch(docsDf(3L -> "alpha delta"), 0)(_ => ())
    assert(!idx.maybeCompact(2))
    idx.ingestBatch(docsDf(4L -> "beta epsilon"), 1)(_ => ())
    assert(idx.maybeCompact(2))
    assert(idx.stats("delta_versions") == 0L && idx.stats("n_docs") == 4L,
      idx.stats.toString)
    idx.close()
  }

  test("maybeRetrain failure isolation: a failing drift-fired retrain degrades to the retrain_failures gauge, resets the window, and ingest continues") {
    val ann = new MaintainedAnnIndex(spark, tmp("mannx_sweep_iso"),
      flushEvery = 1, nlist = 4, m = 8, k = 8, maxDeltas = 4)
    val base = vecs(0L until 40L)
    ann.initIndex(base)
    ann.ingestBatch(vecs(100L until 110L), 0)(_ => ()) // live delta
    // threshold -1 forces the sweep to fire; `base` misses the 10 live
    // delta vecs, so the coverage check throws inside retrainImpl — the
    // UNATTENDED path must swallow it, not kill the caller
    assert(!ann.maybeRetrain(base, -1L),
      "a failed drift-fired retrain must report not-retrained, not throw")
    assert(ann.stats("retrain_failures") == 1L, ann.stats.toString)
    assert(ann.stats("model_version") == 0L,
      s"the failed rebuild must not move the served model: ${ann.stats}")
    // cool-down: the window the attempt fired on is cleared, so the next
    // sweep waits for fresh evidence instead of re-paying the prepare
    assert(ann.stats("window_assign_sim_micro") == -1L, ann.stats.toString)
    // ingest and search proceed as if nothing happened
    ann.ingestBatch(vecs(200L until 210L), 1)(_ => ())
    assert(ann.search(vecs(Seq(0L)).select(lit(9999L).as("vec_id"),
      col("embedding")), kTop = 3, nprobe = 4).count() == 3L)
    // the ATTENDED entry point still throws — an explicit caller wants
    // the coverage error
    intercept[IllegalStateException](ann.retrainModel(base, Some(4)))
    // and a later honest sweep fires and succeeds
    val total = base.unionByName(vecs(100L until 110L)).unionByName(vecs(200L until 210L))
    assert(ann.maybeRetrain(total, -1L))
    assert(ann.stats("model_version") > 0L, ann.stats.toString)
    ann.close()
  }
}
