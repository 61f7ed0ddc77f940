package graft

import org.apache.spark.sql.functions._

/** Round-12 crash-path hardening from the round-11 review findings: the
  * ANN staging model stamp (a crashed retrain's staged old-model codes
  * must be discarded, never folded under the new model), the
  * version-pointer commitment-predicate seam (a data-but-unmarked crash
  * remnant is a TORN claim — reconcile must clear it or the restarted
  * maintainer wedges), deterministic newest-wins update semantics across
  * the ANN tiers, the staged-rename lease claim, and the GraftSystem
  * double-start guard on the control checkpoint. */
class RoundTwelveSpec extends SparkSpec {
  import graft.streaming.{AtomicFileVersionPointer, GraftSystem, MaintainedAnnIndex, Pipelines, Service}
  import graft.streaming.Pipelines.Ccd

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def hadoopFs(root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

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

  test("ANN flush discards staged codes from a superseded model (crashed retrain's staging survives)") {
    val root = tmp("mannx_stale")
    val ann = new MaintainedAnnIndex(spark, root,
      flushEvery = 100, nlist = 4, m = 8, k = 8)
    val base = vecs(0L until 40L)
    ann.initIndex(base)
    // staged under model 0, deliberately unflushed
    ann.ingestBatch(vecs(100L until 110L), 0)(_ => ())
    val snapshot = tmp("mannx_stale_snap") + "/codes_staging"
    copyDir(s"$root/codes_staging", snapshot)
    // operator retrains on the full corpus (staged vectors included —
    // the retrainModel contract); this commits model v1 + codes v1 and
    // deletes staging
    val full = base.unionByName(vecs(100L until 110L))
    ann.retrainModel(full)
    assert(ann.stats("model_version") == 1L && ann.stats("version") == 1L)
    ann.close()
    // CRASH SIMULATION: the process died between the floor-marker commit
    // and the staging delete — the old-model staged codes are back
    copyDir(snapshot, s"$root/codes_staging")
    val ann2 = new MaintainedAnnIndex(spark, root,
      flushEvery = 100, nlist = 4, m = 8, k = 8)
    ann2.flush()
    assert(ann2.stats("stale_staged_discarded") == 10L,
      s"the 10 old-model staged rows must be discarded, not folded: ${ann2.stats}")
    assert(ann2.stats("version") == 1L,
      s"an all-stale flush must not publish a version: ${ann2.stats}")
    // the code store is EXACTLY the batch encode under the new model —
    // no old-codebook row leaked in (old codes under a new ADC table are
    // silently wrong distances)
    val model = ann2.loadModel()
    assert(codeSet(ann2.currentCodes) ==
      codeSet(graft.functions.Ivfadc.encode(full, model)),
      "stale staging contaminated the rebuilt code store")
    // staging is gone — the discard is once, not per flush
    assert(!new java.io.File(s"$root/codes_staging").exists())
    ann2.close()
  }

  test("ANN pointer: a data-but-unmarked codes version is a torn claim — restart reconciles and advances, no wedge") {
    val root = tmp("mannx_torn")
    val fs = hadoopFs(root)
    val ann = new MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8,
      pointer = Some(new AtomicFileVersionPointer(fs, root, "codes_v", "w#1")))
    ann.initIndex(vecs(0L until 40L))
    ann.ingestBatch(vecs(100L until 110L), 0)(_ => ()) // major → codes_v1
    assert(ann.stats("version") == 1L)
    ann.close()
    // a writer that died between its codes parquet write and its floor
    // marker: the claim survives under the DEAD owner's id, and the
    // directory holds committed DATA but fails the index's commit point
    new AtomicFileVersionPointer(fs, root, "codes_v", "dead#1").advance(2)
    spark.read.parquet(s"$root/codes_v1").write.parquet(s"$root/codes_v2")
    // restart under a NEW ownerId — the wedge scenario: a pointer judging
    // commitment by the layout rule would keep the claim and every
    // advance(2) would die as a foreign claim forever
    val ann2 = new MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8,
      pointer = Some(new AtomicFileVersionPointer(fs, root, "codes_v", "w#2")))
    assert(ann2.stats("version") == 1L, "the torn v2 must be invisible")
    ann2.ingestBatch(vecs(110L until 120L), 0)(_ => ()) // advance(2) must win
    assert(ann2.stats("version") == 2L,
      s"the restarted maintainer must claim past the torn version: ${ann2.stats}")
    assert(ann2.currentCodes.count() == 60L)
    ann2.close()
  }

  test("near-dup pointer: an orphan sig half is a torn claim — restart advances, no wedge") {
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("mndix_torn")
    val fs = hadoopFs(root)
    val n = new Pipelines.MaintainedNearDupIndex(sparkS, root, flushEvery = 1,
      pointer = Some(new AtomicFileVersionPointer(fs, root, "sig_v", "w#1")))
    n.initIndex(Seq((1L, "aa bb cc dd ee ff")).toDF("doc_id", "text"))
    n.screenBatch(Seq((2L, "zz yy xx ww vv uu")).toDF("doc_id", "text"), 0)(_ => ())
    assert(n.stats("version") == 1L)
    n.close()
    // dead writer's crash between the sig and tg writes: sig_v2 data
    // exists, tg_v2 never did — the pair is incomplete, the index will
    // never serve it, so its claim is torn
    new AtomicFileVersionPointer(fs, root, "sig_v", "dead#1").advance(2)
    sparkS.read.parquet(s"$root/sig_v1").write.parquet(s"$root/sig_v2")
    val n2 = new Pipelines.MaintainedNearDupIndex(sparkS, root, flushEvery = 1,
      pointer = Some(new AtomicFileVersionPointer(fs, root, "sig_v", "w#2")))
    assert(n2.stats("version") == 1L, "the orphan sig_v2 must be invisible")
    n2.screenBatch(Seq((3L, "mm nn oo pp qq rr")).toDF("doc_id", "text"), 0)(_ => ())
    assert(n2.stats("version") == 2L,
      s"the restarted maintainer must claim past the orphan: ${n2.stats}")
    n2.close()
  }

  test("ANN updates: a re-ingested vec_id serves the latest write across deltas, majors, and within one staging window") {
    val root = tmp("mannx_upd")
    val ann = new MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8, maxDeltas = 2)
    ann.initIndex(vecs(0L until 40L))
    val model = ann.loadModel()
    def reid(src: Long, as: Long) = vecs(Seq(src))
      .select(lit(as).as("vec_id"), col("embedding"))
    def expect(src: Long, as: Long) =
      codeSet(graft.functions.Ivfadc.encode(reid(src, as), model))
    def served(id: Long) = codeSet(ann.currentCodes.filter(col("vec_id") === id))
    // update in a delta: the delta row must beat the base row
    ann.ingestBatch(reid(50L, 1L), 0)(_ => ())
    assert(ann.stats("delta_versions") == 1L)
    assert(served(1L) == expect(50L, 1L), "delta must outrank base")
    // a NEWER delta outranks the older one
    ann.ingestBatch(reid(60L, 1L), 1)(_ => ())
    assert(served(1L) == expect(60L, 1L), "newer delta must win")
    // the major fold keeps the latest write
    ann.ingestBatch(vecs(200L until 205L), 2)(_ => ())
    assert(ann.stats("version") == 1L && ann.stats("delta_versions") == 0L)
    assert(served(1L) == expect(60L, 1L), "major fold must keep the latest write")
    assert(ann.currentCodes.filter(col("vec_id") === 1L).count() == 1L)
    ann.close()
    // within ONE staging window, the later batch wins deterministically
    val root2 = tmp("mannx_upd2")
    val ann2 = new MaintainedAnnIndex(spark, root2,
      flushEvery = 2, nlist = 4, m = 8, k = 8, maxDeltas = 2)
    ann2.initIndex(vecs(0L until 40L))
    val model2 = ann2.loadModel()
    ann2.ingestBatch(reid(70L, 1L), 0)(_ => ()) // staged, no flush yet
    ann2.ingestBatch(reid(80L, 1L), 1)(_ => ()) // flush boundary → one delta
    assert(ann2.stats("delta_versions") == 1L)
    assert(codeSet(ann2.currentCodes.filter(col("vec_id") === 1L)) ==
      codeSet(graft.functions.Ivfadc.encode(reid(80L, 1L), model2)),
      "within one window the later batch must win")
    ann2.close()
  }

  test("ANN flush folds legacy unstamped staging rows (mixed staging schema) instead of dropping them") {
    val root = tmp("mannx_mixed")
    val ann = new MaintainedAnnIndex(spark, root,
      flushEvery = 100, nlist = 4, m = 8, k = 8)
    ann.initIndex(vecs(0L until 40L))
    val model = ann.loadModel()
    // a pre-upgrade writer staged codes with NO stamp columns...
    graft.functions.Ivfadc.encode(vecs(100L until 105L), model)
      .write.mode("append").parquet(s"$root/codes_staging")
    // ...and the upgraded writer appends stamped rows into the same dir
    ann.ingestBatch(vecs(105L until 110L), 0)(_ => ())
    ann.flush()
    assert(ann.stats("stale_staged_discarded") == 0L,
      s"legacy rows are current-model, never stale: ${ann.stats}")
    assert(ann.currentCodes.count() == 50L,
      "every staged row must fold — unstamped legacy rows must not vanish")
    ann.close()
  }

  test("crashed seeds heal on retry: torn/orphan remnants don't wedge initIndex (text, ANN, near-dup)") {
    val sparkS = spark
    import sparkS.implicits._
    // text index: the dl half landed, post + floor marker never did
    val t = tmp("mtix_seedcrash")
    Seq((1L, 5L)).toDF("doc_id", "dl").write.parquet(s"$t/dl_v0")
    val tIdx = new graft.streaming.MaintainedTextIndex(spark, t, flushEvery = 1)
    tIdx.initIndex(Seq((1L, "spark index")).toDF("doc_id", "text"))
    assert(tIdx.search(Seq("spark"), 5).count() == 1L)
    tIdx.close()
    // ANN: the model committed, the codes never did (the orphan-seed shape)
    val a = tmp("mannx_seedcrash")
    Seq(("cent", 0, 0, Seq(1.0))).toDF("kind", "i", "j", "vec")
      .write.parquet(s"$a/model_v0")
    val aIdx = new MaintainedAnnIndex(spark, a,
      flushEvery = 1, nlist = 4, m = 8, k = 8)
    aIdx.initIndex(vecs(0L until 20L))
    assert(aIdx.currentCodes.count() == 20L)
    aIdx.close()
    // near-dup: the sig half landed, the tg half never did
    val n = tmp("mndix_seedcrash")
    Seq((0, 1L, 2L)).toDF("band", "min_hash", "doc_id").write.parquet(s"$n/sig_v0")
    val nIdx = new Pipelines.MaintainedNearDupIndex(sparkS, n, flushEvery = 1)
    nIdx.initIndex(Seq((1L, "aa bb cc dd ee ff")).toDF("doc_id", "text"))
    assert(nIdx.stats("version") == 0L)
    nIdx.close()
  }

  test("writer lease: expired remnant taken via the staged-rename claim; no claim temps remain; live foreign still rejects") {
    val root = tmp("lease12")
    val fs = hadoopFs(root)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root))
    def writeLease(owner: String, ts: Long): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(root, "_writer_lease"), true)
      try out.write(s"$owner\n$ts".getBytes("UTF-8")) finally out.close()
    }
    // an abandoned claim temp from a crashed acquirer, older than the ttl
    val oldTmp = new org.apache.hadoop.fs.Path(root, "_writer_lease.claim.1.dead")
    val o = fs.create(oldTmp, true); o.write("dead".getBytes("UTF-8")); o.close()
    fs.setTimes(oldTmp, System.currentTimeMillis() - 60000L, -1)
    writeLease("dead#9", System.currentTimeMillis() - 60000L) // expired
    val lease = new Pipelines.WriterLease(fs, root, ttlMs = 5000L, "me#1")
    lease.acquire()
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).toSet
    assert(names.contains("_writer_lease"))
    assert(!names.exists(_.startsWith("_writer_lease.claim.")),
      s"claim temps must not survive acquisition: $names")
    val content = {
      val in = fs.open(new org.apache.hadoop.fs.Path(root, "_writer_lease"))
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    }
    assert(content.startsWith("me#1\n"), s"lease must carry the winner: $content")
    // a LIVE foreign lease still rejects at acquire
    writeLease("other#2", System.currentTimeMillis())
    intercept[IllegalStateException] {
      new Pipelines.WriterLease(fs, root, ttlMs = 60000L, "me#1").acquire()
    }
  }

  test("GraftSystem.start refuses while a control query is live — own restart and a rival sharing the checkpointRoot") {
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("gsys12")
    val controlDir = s"$root/control"
    // inactive CCD: the control plane runs, no data-plane queue starts
    Service.appendControl(sparkS, controlDir, Ccd("k1", "inactive", "Q1", 0))
    def mkSystem() = new GraftSystem(
      dataSourceFor = q => throw new IllegalStateException(s"no queue may start: $q"),
      outRoot = s"$root/out", checkpointRoot = s"$root/ckpt")
    def control = sparkS.readStream.schema(Service.CcdSchema)
      .parquet(controlDir).as[Ccd]
    val sys1 = mkSystem()
    val q1 = sys1.start(control)
    try {
      assert(q1.isActive)
      // restarting a LIVE system would clear the running query's checkpoint
      intercept[IllegalStateException] { sys1.start(control) }
      // a second system sharing the checkpointRoot is the same hazard
      intercept[IllegalStateException] { mkSystem().start(control) }
      assert(q1.isActive, "the guard must not have touched the live query")
    } finally sys1.stop()
    // after a clean stop the root is reusable
    val sys3 = mkSystem()
    val q3 = sys3.start(control)
    assert(q3.isActive)
    sys3.stop()
  }

  test("ANN tier serving: base never shuffles (broadcast anti-join; single delta = zero shuffle); oversized tier falls back and majors early") {
    val root = tmp("mannx_tier")
    val ann = new MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8, maxDeltas = 3)
    ann.initIndex(vecs(0L until 40L))
    val model = ann.loadModel()
    def reid(src: Long, as: Long) = vecs(Seq(src))
      .select(lit(as).as("vec_id"), col("embedding"))
    ann.ingestBatch(vecs(100L until 110L), 0)(_ => ()) // delta 0
    // ONE live delta: the serving plan is base anti-join a BROADCAST
    // delta id set + union — no exchange anywhere (the delta dir is
    // already one-row-per-vec_id, so there is nothing to fold)
    val plan1 = ann.currentCodes.queryExecution.executedPlan.toString
    assert(plan1.contains("BroadcastExchange"), plan1)
    assert(!plan1.contains("Exchange hashpartitioning"),
      s"single-delta serve must not shuffle anything:\n$plan1")
    ann.ingestBatch(reid(60L, 1L), 1)(_ => ()) // delta 1: update of base id 1
    assert(ann.stats("delta_versions") == 2L && ann.stats("delta_bytes") > 0L)
    // parity: the guarded serve ≡ one encode of the LOGICAL corpus
    // (base minus the updated id, plus its new write, plus the additions)
    val logical = vecs((0L until 40L).filterNot(_ == 1L))
      .unionByName(reid(60L, 1L)).unionByName(vecs(100L until 110L))
    assert(codeSet(ann.currentCodes) ==
      codeSet(graft.functions.Ivfadc.encode(logical, model)),
      "guarded tier serve must equal the logical-corpus encode")
    ann.close()

    // oversized tier: serving drops the broadcast hint (delta_fallbacks),
    // the next flush forces an EARLY major (early_majors) — the text
    // index's guard applied to codes
    val root2 = tmp("mannx_tier2")
    val ann2 = new MaintainedAnnIndex(spark, root2, flushEvery = 1,
      nlist = 4, m = 8, k = 8, maxDeltas = 3, maxDeltaBroadcastBytes = 1L)
    ann2.initIndex(vecs(0L until 40L))
    val model2 = ann2.loadModel()
    ann2.ingestBatch(vecs(100L until 105L), 0)(_ => ()) // tier empty → minor
    assert(ann2.stats("delta_versions") == 1L && ann2.stats("delta_bytes") > 1L)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan2 = ann2.currentCodes.queryExecution.executedPlan.toString
      assert(!plan2.contains("BroadcastExchange"),
        s"oversized tier must not be broadcast:\n$plan2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(ann2.stats("delta_fallbacks") >= 1L)
    assert(codeSet(ann2.currentCodes) ==
      codeSet(graft.functions.Ivfadc.encode(
        vecs((0L until 40L) ++ (100L until 105L)), model2)),
      "the fallback serve must be bit-identical")
    ann2.ingestBatch(vecs(105L until 110L), 1)(_ => ()) // oversized → early major
    assert(ann2.stats("version") == 1L && ann2.stats("delta_versions") == 0L &&
      ann2.stats("early_majors") == 1L,
      s"oversized tier must force an early major: ${ann2.stats}")
    assert(codeSet(ann2.currentCodes) ==
      codeSet(graft.functions.Ivfadc.encode(
        vecs((0L until 40L) ++ (100L until 110L)), model2)))
    ann2.close()
  }

  test("maybeRetrain: fires only past the drift threshold; retrain resets the window; corpus is untouched when the gauge is quiet") {
    val root = tmp("mannx_drift")
    val ann = new MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8)
    ann.initIndex(vecs(0L until 40L))
    // in-distribution window: drift stays near zero, no retrain — and the
    // corpus argument must never be evaluated on the quiet path
    ann.ingestBatch(vecs(100L until 110L), 0)(_ => ())
    def poisoned: org.apache.spark.sql.DataFrame =
      throw new IllegalStateException("corpus evaluated on the quiet path")
    assert(ann.stats("drift_micro") < 300000L, s"${ann.stats}")
    assert(!ann.maybeRetrain(poisoned, 300000L))
    assert(ann.stats("model_version") == 0L && ann.stats("drift_retrains") == 0L)
    // drifted window: negated vectors score negative cosine against every
    // stored centroid, so the window mean collapses and the gauge crosses
    val drifted = vecs(200L until 210L).select(col("vec_id"),
      org.apache.spark.sql.functions.transform(col("embedding"),
        x => -x).as("embedding"))
    ann.ingestBatch(drifted, 1)(_ => ())
    assert(ann.stats("drift_micro") > 300000L, s"${ann.stats}")
    val full = vecs((0L until 40L) ++ (100L until 110L)).unionByName(drifted)
    assert(ann.maybeRetrain(full, 300000L))
    val st = ann.stats
    assert(st("model_version") == 1L && st("drift_retrains") == 1L)
    // the fresh model's window is empty: gauge reports 0, no retrain storm
    assert(st("drift_micro") == 0L)
    assert(!ann.maybeRetrain(poisoned, 300000L))
    // the stored index now represents exactly the retrain corpus
    assert(codeSet(ann.currentCodes) ==
      codeSet(graft.functions.Ivfadc.encode(full, ann.loadModel())))
    ann.close()
  }

  test("x82 semantic screen: verdicts match a brute-force exact nearest-indexed-neighbor threshold on the clustered corpus") {
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("mannx_screen")
    val ann = new MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8, maxDeltas = 1)
    val indexed = vecs(0L until 40L)
    ann.initIndex(indexed)
    ann.ingestBatch(vecs(40L until 50L), 0)(_ => ())
    val corpus = indexed.unionByName(vecs(40L until 50L))
    // batch: half near-clones of indexed members (same generator family),
    // half far-out vectors — the screen must split them
    val near = vecs(50L until 56L)
    val far = vecs(300L until 306L).select(col("vec_id"),
      org.apache.spark.sql.functions.transform(col("embedding"),
        x => x * 10.0 + 5.0).as("embedding"))
    val batch = near.unionByName(far)
    val got = ann.screenSemantic(corpus, batch,
        distThreshold = 0.5, nprobe = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // brute force: exact min squared-L2 to ANY indexed vector; nprobe=4
    // covers all cells here so ADC-shortlisted top-1 agrees on the verdict
    val cvecs = corpus.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val bvecs = batch.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val want = bvecs.map { case (id, b) =>
      id -> (cvecs.map { case (_, c) =>
        c.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum }.min <= 0.5)
    }.toMap
    assert(got == want, s"got $got want $want")
    assert(want.values.count(identity) == 6 && want.size == 12,
      "the constructed batch must split 6 dup / 6 novel")
    ann.close()
  }

  test("screenAndAdmit: duplicates rejected, novels admitted, and a clone of a STAGED admission is caught within the flush window") {
    val root = tmp("mannx_admit")
    val ann = new MaintainedAnnIndex(spark, root,
      flushEvery = 100, nlist = 4, m = 8, k = 8) // no auto-flush: staging visibility is the point
    val indexed = vecs(0L until 40L)
    ann.initIndex(indexed)
    def reid(src: Long, as: Long) = vecs(Seq(src))
      .select(lit(as).as("vec_id"), col("embedding"))
    def farOf(ids: Seq[Long]) = vecs(ids).select(col("vec_id"),
      org.apache.spark.sql.functions.transform(col("embedding"),
        x => x * 10.0 + 5.0).as("embedding"))
    // batch 0: two exact clones of indexed members + two far novels
    val novel0 = farOf(Seq(300L, 301L))
    val batch0 = reid(3L, 100L).unionByName(reid(7L, 101L)).unionByName(novel0)
    var corpus = indexed
    var v0: Map[Long, Boolean] = Map.empty
    ann.screenAndAdmit(corpus, batch0, distThreshold = 0.5, nprobe = 4, 0L) {
      df => v0 = df.collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap }
    assert(v0 == Map(100L -> true, 101L -> true, 300L -> false, 301L -> false),
      s"batch-0 verdicts: $v0")
    // batch 1, SAME flush window: a clone of batch-0's ADMITTED novel 300
    // must be flagged dup (staged visibility), a fresh far novel passes
    corpus = corpus.unionByName(novel0) // the vector store grew by the admissions
    val batch1 = novel0.filter(col("vec_id") === 300L)
      .select(lit(400L).as("vec_id"), col("embedding"))
      .unionByName(farOf(Seq(310L)).select(col("vec_id"),
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => -x).as("embedding")))
    var v1: Map[Long, Boolean] = Map.empty
    ann.screenAndAdmit(corpus, batch1, distThreshold = 0.5, nprobe = 4, 1L) {
      df => v1 = df.collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap }
    assert(v1 == Map(400L -> true, 310L -> false), s"batch-1 verdicts: $v1")
    // after the fold the index holds exactly base + the three admissions
    ann.flush()
    val ids = ann.currentCodes.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 40L).toSet ++ Set(300L, 301L, 310L),
      s"admitted set wrong: ${ids -- (0L until 40L).toSet}")
    ann.close()
  }

  test("screenAndAdmit oversized staging: broadcast hint dropped (staging_fallbacks), verdicts bit-identical") {
    def farOf(ids: Seq[Long]) = vecs(ids).select(col("vec_id"),
      org.apache.spark.sql.functions.transform(col("embedding"),
        x => x * 10.0 + 5.0).as("embedding"))
    def negOf(ids: Seq[Long]) = vecs(ids).select(col("vec_id"),
      org.apache.spark.sql.functions.transform(col("embedding"),
        x => -x - 3.0).as("embedding"))
    def build(root: String, maxBytes: Long) = {
      val ann = new MaintainedAnnIndex(spark, root, flushEvery = 100,
        nlist = 4, m = 8, k = 8, maxDeltaBroadcastBytes = maxBytes)
      ann.initIndex(vecs(0L until 40L))
      // stage an admission window of genuinely novel (far) vectors, unflushed
      ann.screenAndAdmit(vecs(0L until 40L), farOf(100L until 105L),
        distThreshold = 0.5, nprobe = 4, 0L)(_.count())
      assert(ann.stats("staged_batches") == 1L, s"${ann.stats}")
      ann
    }
    def screen(ann: MaintainedAnnIndex, corpus: org.apache.spark.sql.DataFrame) = {
      var got: Map[Long, (Option[Long], Boolean)] = Map.empty
      ann.screenAndAdmit(corpus, negOf(200L until 206L)
          .unionByName(farOf(Seq(102L)).select(lit(300L).as("vec_id"), col("embedding"))),
        distThreshold = 0.5, nprobe = 4, 1L) { df =>
        got = df.collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(3))).toMap }
      got
    }
    val corpus = vecs(0L until 40L).unionByName(farOf(100L until 105L))
    val normal = build(tmp("mannx_sfb1"), 256L << 20)
    val vNormal = screen(normal, corpus)
    assert(normal.stats("staging_fallbacks") == 0L)
    normal.close()
    // 1-byte bound: the staged id set must not broadcast, the gauge
    // counts the fallback, and the verdicts are bit-identical — notably
    // vec 300 (a clone of STAGED 102) is still caught as a dup
    val tiny = build(tmp("mannx_sfb2"), 1L)
    val vTiny = screen(tiny, corpus)
    assert(tiny.stats("staging_fallbacks") >= 1L, s"${tiny.stats}")
    assert(vTiny == vNormal, s"fallback verdicts diverged:\n$vTiny\nvs\n$vNormal")
    assert(vTiny(300L)._2, "a clone of a staged admission must be caught")
    assert((200L until 206L).forall(id => !vTiny(id)._2))
    tiny.close()
  }

  test("base-sim gauge cache: a stats() read before initIndex doesn't pin a stale -1") {
    val root = tmp("mannx_simcache")
    val ann = new MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8)
    assert(ann.stats("base_assign_sim_micro") == -1L) // unseeded: no marker yet
    ann.initIndex(vecs(0L until 40L))
    assert(ann.stats("base_assign_sim_micro") > 0L,
      s"seed must refresh the cached sim marker: ${ann.stats}")
    ann.close()
  }

  test("retrieval service maintain: policy sweep is lazy on the quiet path and retrains the ANN pillar when fired") {
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("retmaint")
    val docs = (1L until 21L).map(i =>
      (i, s"alpha bravo doc$i term${i % 5}")).toDF("doc_id", "text")
    val svc = new graft.streaming.RetrievalService(
      sparkS, s"$root/text", s"$root/ann", flushEvery = 1,
      nlist = 4, m = 8, k = 8)
    svc.initIndex(docs)
    def poisoned: org.apache.spark.sql.DataFrame =
      throw new IllegalStateException("corpus evaluated on the quiet path")
    // fresh index: no window yet, gauge 0 — a positive threshold is quiet
    assert(!svc.maintain(poisoned, 1L))
    // threshold -1 always fires (gauge ≥ 0): the service embeds the
    // corpus it is handed and retrains the dense pillar
    assert(svc.maintain(docs, -1L))
    assert(svc.stats("retrieval_ann")("model_version") == 1L &&
      svc.stats("retrieval_ann")("drift_retrains") == 1L)
    svc.close()
  }

  test("assembled retrieval service runs the drift policy inside the batch loop (unattended retrain)") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = tmp("retdrift")
    val queue = "RD.DOCS"
    def docsOf(ids: Seq[Long]) = ids.map(i =>
      (i, s"gamma delta doc$i term${i % 5}")).toDF("doc_id", "text")
    val svc = new graft.streaming.RetrievalService(
      sparkS, s"$root/text", s"$root/ann", flushEvery = 100,
      nlist = 4, m = 8, k = 8)
    svc.initIndex(docsOf(1L until 21L))
    Service.appendControl(sparkS, s"$root/control",
      Ccd("r1", "active", queue, 0))
    docsOf(21L until 26L).coalesce(1)
      .write.mode("append").parquet(s"$root/data/$queue")
    // the corpus of record at fire time: everything written to the queue
    // plus the bootstrap — re-read, not captured
    val policy = graft.streaming.RetrievalService.DriftPolicy(
      thresholdMicro = -1L, // always fire: this test pins the LOOP wiring
      corpus = () => docsOf(1L until 21L).unionByName(
        sparkS.read.parquet(s"$root/data/$queue").select("doc_id", "text")))
    val (system, control) = graft.streaming.RetrievalService.assemble(
      sparkS, svc, s"$root/control", s"$root/data", s"$root/out",
      s"$root/ckpt", trigger = Trigger.ProcessingTime("200 milliseconds"),
      driftRetrain = Some(policy))
    try {
      val ackDir = s"$root/out/${queue.replaceAll("[^A-Za-z0-9._-]", "_")}/indexed"
      val deadline = System.currentTimeMillis() + 180000
      def acked() = committedIds(ackDir).size >= 5
      while (!acked() && System.currentTimeMillis() < deadline) Thread.sleep(250)
      assert(acked(), "batch must be indexed")
      // the policy fired inside the loop: the dense pillar retrained on
      // the corpus of record without any operator action
      val retrainDeadline = System.currentTimeMillis() + 180000
      while (svc.stats("retrieval_ann")("drift_retrains") < 1L &&
             System.currentTimeMillis() < retrainDeadline) Thread.sleep(250)
      val ast = svc.stats("retrieval_ann")
      assert(ast("drift_retrains") >= 1L && ast("model_version") >= 1L,
        s"drift policy must retrain in-loop: $ast")
    } finally { control.stop(); system.stop() }
    svc.close()
  }
}
