package graft

import org.apache.spark.sql.functions._

/** Round-13: the shadow (non-blocking) retrain — the one remaining
  * O(corpus) operation no longer stops the writer. The build (train +
  * full re-encode) runs WITHOUT the root lock while ingest/search
  * proceed against model N; the swap holds the lock only for
  * O(rows-ingested-during-build) work (catch-up re-encode + rename +
  * markers); mid-build rows are RE-ENCODED under the new model, never
  * lost; and the rebuild re-sizes nlist ≈ √N by default. */
class RoundThirteenSpec extends SparkSpec {
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

  test("shadow retrain: ingest+search proceed mid-build on another thread; catch-up rows re-encoded, not lost; post-swap serve ≡ batch recompute") {
    val root = tmp("mannx_shadow")
    val ann = new MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8, maxDeltas = 2)
    val base = vecs(0L until 40L)
    val batch0 = vecs(100L until 110L)
    val batch1 = vecs(200L until 210L)
    val total = base.unionByName(batch0).unionByName(batch1)
    ann.initIndex(base)
    ann.ingestBatch(batch0, 0)(_ => ()) // flushEvery=1 → live delta
    assert(ann.stats("delta_versions") == 1L)

    // the mid-build probe: a DIFFERENT thread must be able to ingest a
    // full batch (stage + flush) and run a search while the shadow build
    // is in flight — the root lock is free for the whole prepare phase
    @volatile var midSearchRows = -1L
    @volatile var midErr: Throwable = null
    ann.retrainModel(total, nlistOverride = Some(4), onPrepared = () => {
      val t = new Thread(() => {
        try {
          ann.ingestBatch(batch1, 1)(_ => ())
          midSearchRows = ann.search(
            vecs(Seq(0L)).select(lit(9999L).as("vec_id"), col("embedding")),
            kTop = 3, nprobe = 4).count()
        } catch { case e: Throwable => midErr = e }
      })
      t.start()
      t.join(120000)
      assert(!t.isAlive, "mid-build ingest+search must not block on the retrain")
    })
    assert(midErr == null, s"mid-build work failed: $midErr")
    assert(midSearchRows == 3L, s"mid-build search must serve model N: $midSearchRows")

    // swap landed: new model bound, both mid-build batches re-encoded
    assert(ann.stats("model_version") == 1L, ann.stats.toString)
    assert(ann.stats("retrain_catchup") == 20L,
      s"batch0 (delta) + batch1 (mid-build) must both be caught up: ${ann.stats}")
    // post-swap serve ≡ batch recompute over the TOTAL corpus under the
    // stored model — stragglers re-encoded, none lost, none stale
    val model = ann.loadModel()
    assert(codeSet(ann.currentCodes) == codeSet(graft.functions.Ivfadc.encode(total, model)),
      "post-swap code store must equal the batch encode of the total corpus")
    assert(ann.currentCodes.count() == 60L)
    // staging cleared; the catch-up rows live in the new regime's delta
    assert(!new java.io.File(s"$root/codes_staging").exists())
    ann.close()
  }

  test("shadow retrain with maxDeltas=0: the mid-build flush defers its major to a minor delta so catch-up stays attributable") {
    val root = tmp("mannx_shadow_defer")
    val ann = new MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8, maxDeltas = 0)
    val base = vecs(0L until 40L)
    val batch1 = vecs(200L until 210L)
    val total = base.unionByName(batch1)
    ann.initIndex(base)
    val v0 = ann.stats("version")
    ann.retrainModel(total, nlistOverride = Some(4), onPrepared = () => {
      ann.ingestBatch(batch1, 0)(_ => ()) // would MAJOR at maxDeltas=0
      assert(ann.stats("version") == v0,
        "a mid-build flush must not publish a new base (major deferred)")
      assert(ann.stats("delta_versions") == 1L,
        s"the deferred major must land as a minor delta: ${ann.stats}")
      assert(ann.stats("shadow_deferred_majors") == 1L, ann.stats.toString)
    })
    assert(ann.stats("retrain_catchup") == 10L, ann.stats.toString)
    assert(codeSet(ann.currentCodes) ==
      codeSet(graft.functions.Ivfadc.encode(total, ann.loadModel())))
    ann.close()
  }

  test("a crashed shadow PREPARE leaves the old regime serving untouched; the retry allocates past the orphan model and succeeds") {
    val root = tmp("mannx_shadow_crash")
    val ann = new MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8, maxDeltas = 2)
    val base = vecs(0L until 40L)
    val batch0 = vecs(100L until 110L)
    val total = base.unionByName(batch0)
    ann.initIndex(base)
    ann.ingestBatch(batch0, 0)(_ => ()) // live delta
    val preCodes = codeSet(ann.currentCodes)
    // the build dies AFTER the model write + shadow encode, BEFORE the
    // swap (the onPrepared seam is exactly that boundary)
    intercept[RuntimeException](
      ann.retrainModel(total, nlistOverride = Some(4), onPrepared = () =>
        throw new RuntimeException("simulated prepare crash")))
    // old regime fully intact: same model binding, same served codes;
    // the orphan model_v1 and codes_shadow are invisible to serving
    assert(ann.stats("model_version") == 0L && codeSet(ann.currentCodes) == preCodes,
      s"a dead prepare must not move the served state: ${ann.stats}")
    assert(new java.io.File(s"$root/codes_shadow").exists(),
      "precondition: the crash left a shadow remnant behind")
    // ingest proceeds under the old model as if nothing happened
    ann.ingestBatch(vecs(200L until 210L), 1)(_ => ())
    // the RETRY allocates past the orphan model (errorifexists would
    // otherwise collide) and overwrites the stale shadow
    ann.retrainModel(total.unionByName(vecs(200L until 210L)),
      nlistOverride = Some(4))
    assert(ann.stats("model_version") == 2L,
      s"the retry must claim the version past the orphan: ${ann.stats}")
    assert(codeSet(ann.currentCodes) == codeSet(graft.functions.Ivfadc.encode(
      total.unionByName(vecs(200L until 210L)), ann.loadModel())),
      "post-retry serve must equal the batch recompute on the total corpus")
    ann.close()
  }

  test("one shadow rebuild at a time: a second retrainModel fails fast and a concurrent maybeRetrain sweep stands down") {
    val root = tmp("mannx_shadow_excl")
    val ann = new MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8)
    val base = vecs(0L until 40L)
    ann.initIndex(base)
    var checked = false
    ann.retrainModel(base, nlistOverride = Some(4), onPrepared = () => {
      val e = intercept[IllegalStateException](ann.retrainModel(base))
      assert(e.getMessage.contains("in flight"), e.getMessage)
      // threshold -1 guarantees drift (0) is "over threshold": the sweep
      // must still stand down because a rebuild is in flight — it does
      // NOT queue a second O(corpus) build behind the winner
      assert(!ann.maybeRetrain(base, -1L))
      checked = true
    })
    assert(checked)
    ann.close()
  }

  test("retrain re-sizes nlist ≈ √N by default; serve parity across the resize") {
    assert(MaintainedAnnIndex.sizedNlist(0L) == 1)
    assert(MaintainedAnnIndex.sizedNlist(1000000L) == 1000)
    val root = tmp("mannx_shadow_size")
    val ann = new MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8)
    val base = vecs(0L until 40L)
    ann.initIndex(base)
    assert(ann.loadModel().centroids.length == 4, "seed keeps the constructor nlist")
    ann.retrainModel(base) // default sizing
    val sized = MaintainedAnnIndex.sizedNlist(40L)
    assert(ann.loadModel().centroids.length == sized,
      s"retrain must pick the sized nlist ($sized): got ${ann.loadModel().centroids.length}")
    // serve across the resize ≡ batch recompute at the sized nlist
    assert(codeSet(ann.currentCodes) ==
      codeSet(graft.functions.Ivfadc.encode(base, ann.loadModel())))
    val got = ann.search(
      vecs(Seq(7L)).select(lit(9999L).as("vec_id"), col("embedding")),
      kTop = 3, nprobe = sized).count()
    assert(got == 3L)
    ann.close()
  }

  // ---- delete tombstones: the takedown operation, per maintained index --

  /** Each maintained pillar's `stats` key set, written out literally: the
    * contract the services' reporter gauges (`indexGauges`) and the
    * benchmark read. The four delete tests below check their pillar
    * against it. */
  private val StatsKeys: Map[String, Set[String]] = Map(
    "dedup" -> Set("version", "staged_batches", "flushes", "last_flush_ms",
      "pinned_versions", "delta_versions", "delta_bytes", "delta_fallbacks",
      "early_majors", "shadow_deferred_majors", "n_deleted"),
    "near-dup" -> Set("version", "staged_batches", "flushes", "last_flush_ms",
      "delta_versions", "delta_bytes", "delta_fallbacks", "early_majors",
      "shadow_deferred_majors", "n_deleted"),
    "text" -> Set("version", "staged_batches", "flushes", "last_flush_ms",
      "delta_versions", "delta_bytes", "delta_fallbacks", "early_majors",
      "shadow_deferred_majors", "n_deleted", "n_docs", "sum_dl"),
    "ann" -> Set("version", "model_version", "staged_batches", "flushes",
      "last_flush_ms", "delta_versions", "delta_bytes", "delta_fallbacks",
      "staging_fallbacks", "early_majors", "stale_staged_discarded",
      "drift_retrains", "retrain_failures", "retrain_catchup",
      "shadow_deferred_majors", "n_deleted", "boosted_serves",
      "base_assign_sim_micro", "window_assign_sim_micro", "drift_micro"))

  private def assertStatsKeys(pillar: String, stats: Map[String, Long]): Unit = {
    val want = StatsKeys(pillar)
    assert(stats.keySet == want, s"$pillar stats keys: missing " +
      s"${want -- stats.keySet}, unexpected ${stats.keySet -- want}")
  }

  private def docsDf(rows: (Long, String)*) = {
    val sparkS = spark
    import sparkS.implicits._
    rows.toDF("doc_id", "text")
  }

  test("text index delete: gone from search/inverted-index, re-ingest supersedes the tombstone, major GCs it and heals stats exactly") {
    val txRoot = tmp("mtix_del")
    val idx = new graft.streaming.MaintainedTextIndex(spark, txRoot,
      flushEvery = 1, maxDeltas = 2)
    idx.initIndex(docsDf(1L -> "alpha beta beta", 2L -> "alpha gamma",
      3L -> "delta alpha"))
    idx.ingestBatch(docsDf(4L -> "alpha epsilon"), 0)(_ => ()) // delta 1
    val sparkS = spark; import sparkS.implicits._
    idx.deleteDocs(Seq(2L, 4L).toDF("doc_id"), 1) // base doc + delta doc → delta 2
    assert(idx.stats("n_deleted") == 2L)
    val hits = idx.search(Seq("alpha"), 10).collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L, 3L), s"deleted docs must not retrieve: $hits")
    val inv = idx.invertedIndex().filter(col("term") === "alpha")
      .select("postings").head().getString(0)
    assert(!inv.contains("2") && !inv.contains("4"), s"postings still list a deleted doc: $inv")
    // a LATER re-ingest supersedes the tombstone (latest-write-wins); its
    // old terms stay gone
    idx.ingestBatch(docsDf(2L -> "zeta alpha"), 2)(_ => ()) // tier full → MAJOR
    assert(idx.search(Seq("zeta"), 10).collect().map(_.getLong(0)).toSet == Set(2L))
    assert(idx.search(Seq("gamma"), 10).collect().isEmpty,
      "the re-ingested doc's OLD terms must not retrieve")
    // the major compacted deletes away physically and recomputed stats
    // exactly: search now matches the batch scorer on the logical corpus
    val logical = docsDf(1L -> "alpha beta beta", 2L -> "zeta alpha",
      3L -> "delta alpha")
    assert(idx.stats("n_docs") == 3L && idx.stats("delta_versions") == 0L,
      idx.stats.toString)
    val expect = graft.functions.Search.bm25TopK(logical, Seq("alpha", "zeta"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val gotPar = idx.search(Seq("alpha", "zeta"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotPar == expect, s"post-major search must equal the batch scorer: $gotPar vs $expect")
    // the major GC'd the tombstones PHYSICALLY from both relations —
    // without this, every later major recopies the dead dl row forever
    val dlBase = spark.read.parquet(s"$txRoot/dl_v${idx.stats("version")}")
    assert(dlBase.filter(col("dl") < 0).count() == 0L,
      "no dl tombstone may survive the major")
    assert(dlBase.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assertStatsKeys("text", idx.stats)
    idx.close()
  }

  test("ANN delete: gone from search, masked base row GC'd at the major, re-ingest supersedes") {
    val ann = new MaintainedAnnIndex(spark, tmp("mannx_del"),
      flushEvery = 1, nlist = 4, m = 8, k = 8, maxDeltas = 2)
    ann.initIndex(vecs(0L until 40L))
    ann.ingestBatch(vecs(100L until 110L), 0)(_ => ()) // delta 1
    val sparkS = spark; import sparkS.implicits._
    ann.deleteVectors(Seq(5L, 100L).toDF("vec_id"), 1) // base vec + delta vec → delta 2
    assert(ann.stats("n_deleted") == 2L)
    val ids = ann.currentCodes.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids.size == 48 && !ids.contains(5L) && !ids.contains(100L),
      s"deleted vectors must leave the served store: ${ids.size}")
    // exact-neighbor search for vec 5's own embedding must not return 5
    val near5 = ann.search(
      vecs(Seq(5L)).select(lit(9999L).as("vec_id"), col("embedding")),
      kTop = 5, nprobe = 4).collect().map(_.getLong(1)).toSet
    assert(!near5.contains(5L) && !near5.contains(100L),
      s"a deleted vector must not be anyone's neighbor: $near5")
    // re-ingest vec 5 → tier full → MAJOR: tombstones compacted away
    ann.ingestBatch(vecs(Seq(5L)), 2)(_ => ())
    assert(ann.stats("delta_versions") == 0L, ann.stats.toString)
    val ids2 = ann.currentCodes.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids2.size == 49 && ids2.contains(5L) && !ids2.contains(100L))
    assert(ann.currentCodes.filter(col("cell") < 0).count() == 0L,
      "no tombstone row may survive the major")
    assertStatsKeys("ann", ann.stats)
    ann.close()
  }

  test("exact dedup delete: fp reads absent, stale dup verdicts downgrade to new, major GCs the tombstone (epoch semantics)") {
    val sparkS = spark; import sparkS.implicits._
    import graft.streaming.Pipelines
    val m = new Pipelines.MaintainedDedupIndex(spark, tmp("mdix_del"),
      ttlMs = 60000, flushEvery = 1, maxDeltas = 3)
    m.initIndex(Seq(("fpA", 1L), ("fpB", 2L)).toDF("fp", "corpus_id"))
    def decide(doc: Long, fp: String, status: String, dupOf: Option[Long]) =
      Seq(Pipelines.DedupDecision(doc, fp, status, dupOf)).toDS()
    // pre-delete: the index upgrades a state-'new' arrival to dup_of_corpus
    var got: Array[org.apache.spark.sql.Row] = Array.empty
    m.finalizeBatch(decide(10L, "fpA", "new", None), 0)(df => got = df.collect())
    assert(got.head.getString(2) == "dup_of_corpus" && got.head.getLong(3) == 1L)
    // takedown
    m.deleteFps(Seq("fpA").toDF("fp"), 1)
    assert(m.stats("n_deleted") == 1L)
    assert(m.currentIndex.collect().map(_.getString(0)).toSet == Set("fpB"),
      "a deleted fp must read absent from the logical index")
    // post-delete arrivals: state-'new' stays new; a STALE dup_of_corpus
    // verdict (classify joined a pre-delete base snapshot) downgrades
    m.finalizeBatch(decide(11L, "fpA", "new", None), 2)(df => got = df.collect())
    assert(got.head.getString(2) == "new", got.mkString(","))
    m.finalizeBatch(decide(12L, "fpA", "dup_of_corpus", Some(1L)), 3)(df => got = df.collect())
    assert(got.head.getString(2) == "new" && got.head.isNullAt(3),
      s"a stale dup verdict against a taken-down keeper must downgrade: ${got.mkString(",")}")
    // drive the tier to its major: the tombstone wins the epoch (the
    // re-accepts above do NOT re-enter the stored index until after the
    // compaction clears it — the documented admit-rather-than-block wart)
    m.finalizeBatch(decide(20L, "fpC", "new", None), 4)(_ => ())
    val idxRows = m.currentIndex.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.stats("delta_versions") == 0L, m.stats.toString)
    assert(!idxRows.contains("fpA") && idxRows("fpC") == 20L && idxRows("fpB") == 2L,
      s"post-major index: $idxRows")
    assert(m.currentIndex.filter(col("corpus_id") < 0).count() == 0L,
      "no tombstone may survive the major")
    // the epoch is over: the next acceptance of the fp becomes durable
    m.finalizeBatch(decide(30L, "fpA", "new", None), 5)(df => got = df.collect())
    assert(got.head.getString(2) == "new")
    assert(m.currentIndex.filter(col("fp") === "fpA").head().getLong(1) == 30L)
    assertStatsKeys("dedup", m.stats)
    m.close()
  }

  test("near-dup delete: doc stops matching from the flush boundary; major GCs its rows from both relations") {
    val sparkS = spark; import sparkS.implicits._
    import graft.streaming.Pipelines
    val root = tmp("mndix_del")
    val n = new Pipelines.MaintainedNearDupIndex(spark, root,
      flushEvery = 1, maxDeltas = 2)
    val baseText = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    n.initIndex(Seq((1L, baseText)).toDF("doc_id", "text"))
    // a near-clone matches the stored doc
    var out: Array[org.apache.spark.sql.Row] = Array.empty
    n.screenBatch(Seq((50L, baseText + " phi")).toDF("doc_id", "text"), 0)(
      df => out = df.collect())
    assert(out.head.getLong(1) >= 1L && out.head.getLong(3) == 1L,
      s"the clone must match doc 1 pre-delete: ${out.mkString(",")}")
    // takedown of doc 1 (the clone above was a dup — never staged)
    n.deleteDocs(Seq(1L).toDF("doc_id"), 1)
    assert(n.stats("n_deleted") == 1L)
    assert(n.currentSignatures.filter(col("doc_id") === 1L).count() == 0L)
    assert(n.currentShingles.filter(col("doc_id") === 1L).count() == 0L)
    // the same clone now screens clean and is ADMITTED
    n.screenBatch(Seq((51L, baseText + " phi")).toDF("doc_id", "text"), 2)(
      df => out = df.collect())
    assert(out.head.getLong(1) == 0L,
      s"a deleted doc must stop matching: ${out.mkString(",")}")
    // next flush is the major (tier at maxDeltas): tombstones GC'd
    n.screenBatch(Seq((60L, "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen " +
      "nineteen twenty")).toDF("doc_id", "text"), 3)(_ => ())
    assert(n.stats("delta_versions") == 0L, n.stats.toString)
    val sigIds = spark.read.parquet(s"$root/sig_v${n.stats("version")}")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val tgIds = spark.read.parquet(s"$root/tg_v${n.stats("version")}")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!sigIds.contains(1L) && !tgIds.contains(1L),
      s"doc 1 must be physically gone after the major: sig=$sigIds tg=$tgIds")
    assert(sigIds == Set(51L, 60L) && tgIds == Set(51L, 60L))
    assert(spark.read.parquet(s"$root/sig_v${n.stats("version")}")
      .filter(col("band") < 0).count() == 0L, "no tombstone row may survive the major")
    assertStatsKeys("near-dup", n.stats)
    n.close()
  }

  test("screenAndAdmit within-batch option: mutual clones in one batch resolve to the min-id keeper; default admits both (oracle semantics)") {
    val sparkS = spark; import sparkS.implicits._
    def run(resolve: Boolean): (Set[Long], Long, Array[org.apache.spark.sql.Row]) = {
      val ann = new MaintainedAnnIndex(spark, tmp("mannx_wb"),
        flushEvery = 1, nlist = 4, m = 8, k = 8)
      try {
        val seed = vecs(0L until 40L)
        ann.initIndex(seed)
        // two index-NOVEL mutual clones in one batch: identical
        // embeddings far from every seed family (all-0.5 — no family
        // center within the 0.5 threshold), ids 300 and 301
        val clones = Seq((300L, Seq.fill(16)(0.5)), (301L, Seq.fill(16)(0.5)))
          .toDF("vec_id", "embedding")
        var verdicts: Array[org.apache.spark.sql.Row] = Array.empty
        ann.screenAndAdmit(seed.unionByName(clones), clones,
          distThreshold = 0.5, nprobe = 4, batchId = 0L,
          resolveWithinBatch = resolve)(df => verdicts = df.orderBy("vec_id").collect())
        (ann.currentCodes.select("vec_id").collect().map(_.getLong(0)).toSet
           .filter(_ >= 300L),
         ann.currentCodes.count(), verdicts)
      } finally ann.close()
    }
    val (defIds, defN, defV) = run(resolve = false)
    assert(defIds == Set(300L, 301L) && defN == 42L,
      s"default must admit both mutual clones (the documented x83 semantics): $defIds")
    assert(!defV.head.schema.fieldNames.contains("batch_dup"),
      "default verdict schema must be unchanged")
    val (optIds, optN, optV) = run(resolve = true)
    assert(optIds == Set(300L) && optN == 41L,
      s"the option must keep only the min-id clone: $optIds")
    val byId = optV.map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("batch_dup"))).toMap
    assert(byId == Map(300L -> false, 301L -> true),
      s"verdicts must flag the within-batch duplicate: $byId")
  }

  test("curation takedown: removed content re-admits through BOTH indexes after the tombstone flush") {
    val sparkS = spark; import sparkS.implicits._
    val svc = new graft.streaming.CurationService(spark,
      tmp("cur_td_ex"), tmp("cur_td_nr"), flushEvery = 1)
    try {
      svc.initEmpty()
      val text = (1 to 40).map(i => s"w$i").mkString(" ")
      def run(id: Long, batch: Long): (String, Any) = {
        var out: Array[org.apache.spark.sql.Row] = Array.empty
        svc.processBatch(Seq((id, text)).toDF("doc_id", "text"), batch)(
          df => out = df.collect())
        (out.head.getString(1), if (out.head.isNullAt(2)) null else out.head.getLong(2))
      }
      assert(run(1L, 0L) == ("kept", null))
      // identical content while doc 1 is live: exact duplicate of 1
      assert(run(2L, 1L) == ("exact_dup", 1L))
      // removal request for doc 1 (content supplied by the requester)
      svc.takedown(Seq((1L, text)).toDF("doc_id", "text"), 2L)
      assert(svc.stats("curation_exact")("n_deleted") == 1L &&
        svc.stats("curation_neardup")("n_deleted") == 1L)
      // the same content is novel again: the exact fp reads absent and
      // doc 1's near-dup rows no longer match
      assert(run(3L, 3L) == ("kept", null))
    } finally svc.close()
  }

  test("multi-query hybrid fusion: one query_id-partitioned plan ≡ the per-query searchRrf loop; no cartesian product") {
    val sparkS = spark; import sparkS.implicits._
    import graft.streaming.{HybridRetrieval, MaintainedAnnIndex, MaintainedTextIndex}
    val docs = graft.Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
    val emb = graft.Tables.embeddings(spark, sf0001)
    val text = new MaintainedTextIndex(spark, tmp("mqf_t"), flushEvery = 1)
    val ann = new MaintainedAnnIndex(spark, tmp("mqf_a"), flushEvery = 1)
    try {
      text.initIndex(docs)
      ann.initIndex(emb)
      // per-query term sets DIFFER — the fusion must keep them apart
      val termsByQ = Seq(
        0L -> Seq("hash", "join"),
        1L -> Seq("window", "vector"),
        2L -> Seq("hash", "vector", "window"))
      val queries = termsByQ.toDF("query_id", "terms")
        .join(emb.select(col("vec_id").as("query_id"), col("embedding")), Seq("query_id"))
      val many = HybridRetrieval.searchRrfMany(text, ann, emb, queries,
        k = 10, depth = 20, nprobe = 3)
      // structural pin: one plan, no per-query driver round-trips, no
      // cartesian product
      assert(!many.queryExecution.executedPlan.toString.contains("CartesianProduct"))
      val got = many.collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)), Option(r.get(3)), r.getDouble(4)))
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4, t._5)).toSeq).toMap
      val expect = termsByQ.map { case (q, ts) =>
        q -> HybridRetrieval.searchRrf(text, ann, emb, ts,
            emb.filter(col("vec_id") === q), k = 10, depth = 20, nprobe = 3)
          .collect()
          .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), r.getDouble(3)))
          .toSeq
      }.toMap
      assert(got == expect,
        s"batched fusion must equal the per-query loop:\n$got\nvs\n$expect")
      // the single-query entry points still fail LOUDLY on multi-row
      // input — in-plan (zero pre-flight jobs), at execution time
      val e = intercept[Exception](
        HybridRetrieval.searchRrf(text, ann, emb, Seq("hash"),
          emb.filter(col("vec_id") < 2), k = 10, depth = 20, nprobe = 3)
          .collect())
      assert(e.getMessage != null && e.getMessage.contains("searchRrfMany"),
        s"multi-row query must raise the in-plan guard: ${e.getMessage}")
    } finally { text.close(); ann.close() }
  }

  test("retrieval service: searchBatch ≡ a search loop, and takedown removes a doc from both pillars") {
    val sparkS = spark; import sparkS.implicits._
    import scala.jdk.CollectionConverters._
    def served(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    // batched serve ≡ per-query loop (different terms AND texts; one
    // query repeats a term, which contributes once per occurrence)
    def assertBatchParity(svc: graft.streaming.RetrievalService,
                          qs: Seq[(Long, Seq[String], String)]) = {
      val got = served(svc.searchBatch(qs.toDF("query_id", "terms", "text"), kTop = 5,
        depth = 10, nprobe = 4))
      val expect = qs.map { case (qid, ts, tx) =>
        qid -> svc.search(ts, tx, kTop = 5, depth = 10, nprobe = 4)
          .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq }.toMap
      assert(got == expect, s"searchBatch must equal the search loop:\n$got\nvs\n$expect")
      got
    }
    val docs = (0L until 24L).map(i =>
      (i, s"term$i alpha " + (1 to 20).map(j => s"w${(i * 7 + j) % 40}").mkString(" ")))
    val qs = Seq((100L, Seq("alpha", "w3"), "alpha w3 probe"),
      (200L, Seq("w11", "w12"), "w11 w12 probe"),
      (300L, Seq("w5", "w5", "term9"), "w5 w5 term9 probe"))
    val svc = new graft.streaming.RetrievalService(spark,
      tmp("rsvc_t"), tmp("rsvc_a"), flushEvery = 1)
    try {
      svc.initIndex(docs.toDF("doc_id", "text"))
      assertBatchParity(svc, qs)
      // plan guard on a warm call: the serve runs from one query_id
      // partitioning in at most 12 Spark jobs, and the maintained code
      // layout needs no per-search round-robin repartition
      val (warm, jobs) = jobsIn("serve-guard") {
        val w = svc.searchBatch(qs.toDF("query_id", "terms", "text"))
        w.collect()
        w
      }
      assert(jobs > 0 && jobs <= 12, s"a warm searchBatch ran $jobs Spark jobs (want <= 12)")
      val plan = warm.queryExecution.executedPlan.toString
      assert(!plan.contains("RoundRobinPartitioning"),
        s"the serve plan must not round-robin the code scan:\n$plan")
      // takedown doc 3: gone from BOTH pillars' serving from the flush
      assert(svc.search(Seq("term3"), "probe", kTop = 5)
        .collect().map(_.getLong(0)).contains(3L))
      svc.takedown(docs.toDF("doc_id", "text").filter(col("doc_id") === 3L), 0L)
      assert(svc.stats("retrieval_text")("n_deleted") == 1L &&
        svc.stats("retrieval_ann")("n_deleted") == 1L)
      assert(!svc.search(Seq("term3"), "probe", kTop = 5)
        .collect().map(_.getLong(0)).contains(3L),
        "a taken-down doc must stop retrieving lexically")
      assert(svc.ann.currentCodes.filter(col("vec_id") === 3L).count() == 0L,
        "a taken-down doc must leave the dense code store")
    } finally svc.close()
    // a LIVE delta tier: two ingested batches (one re-ingests doc 9 with
    // new text) fold into one delta, a takedown of doc 4 into a second —
    // the batched serve crosses the tier union and tombstones exactly
    // like the loop
    val tiered = new graft.streaming.RetrievalService(spark,
      tmp("rsvc_dt"), tmp("rsvc_da"), flushEvery = 2, maxDeltas = 2)
    try {
      tiered.initIndex(docs.take(16).toDF("doc_id", "text"))
      tiered.processBatch(docs.slice(16, 20).toDF("doc_id", "text"), 0)(_ => ())
      tiered.processBatch((docs.slice(20, 24) :+ (9L -> "w5 beta term9 w11 w12"))
        .toDF("doc_id", "text"), 1)(_ => ())
      tiered.takedown(Seq(4L).toDF("doc_id"), 3)
      assert(tiered.text.stats("delta_versions") == 2L &&
        tiered.ann.stats("delta_versions") == 2L)
      val beta = assertBatchParity(tiered,
        Seq(qs.last, (400L, Seq("beta", "term4"), "beta term4 probe")))(400L)
      assert(beta.map(_._1).contains(9L), "the re-ingested text must retrieve its doc")
      assert(!beta.map(_._1).contains(4L), "a taken-down doc must not come back")
    } finally tiered.close()
  }

  test("runBoth: an interrupted wait still lets both builds finish before it returns") {
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val started = new java.util.concurrent.CountDownLatch(1)
    @volatile var outcome: Throwable = null
    @volatile var slowDoneAtReturn = false
    val caller = new Thread(() => {
      try graft.streaming.HybridRetrieval.runBoth(
        () => { started.countDown(); Thread.sleep(1500); slowDone.set(true) },
        () => ())
      catch { case e: Throwable => outcome = e }
      slowDoneAtReturn = slowDone.get()
    })
    caller.start()
    started.await()
    caller.interrupt()
    caller.join(30000)
    assert(outcome.isInstanceOf[InterruptedException], s"want the interrupt back, got $outcome")
    assert(slowDoneAtReturn, "runBoth returned while a build was still running")
  }

  test("text searchMany ≡ a search loop (shared scan, per-query fold order)") {
    val sparkS = spark; import sparkS.implicits._
    import graft.streaming.MaintainedTextIndex
    val docs = graft.Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
    val idx = new MaintainedTextIndex(spark, tmp("mqf_sm"), flushEvery = 1, maxDeltas = 2)
    try {
      // tiered index (base + delta), so the multi-query path crosses the
      // same tombstone-resolution the single-query path does
      idx.initIndex(docs.filter(pmod(col("doc_id"), lit(2)) === 0))
      idx.ingestBatch(docs.filter(pmod(col("doc_id"), lit(2)) === 1), 0)(_ => ())
      val termsByQ = Seq(7L -> Seq("hash", "join"), 9L -> Seq("vector"),
        11L -> Seq("join", "hash", "window"), 13L -> Seq("hash", "hash"))
      val got = idx.searchMany(termsByQ.toDF("query_id", "terms"), 15)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4)).toSeq).toMap
      val expect = termsByQ.map { case (q, ts) =>
        q -> idx.search(ts, 15).collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
      }.toMap
      assert(got == expect, s"searchMany must equal the search loop:\n$got\nvs\n$expect")
    } finally idx.close()
  }
}
