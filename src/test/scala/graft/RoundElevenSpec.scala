package graft

import org.apache.spark.sql.functions._

/** Round-11 hardening of the maintained-index tier: the delta-tier
  * broadcast GUARD (an oversized tier must degrade to a shuffle join and
  * force an early major compaction, never a forced corpus-scale
  * broadcast), the one-cycle grace GC of folded/torn delta directories,
  * the atomic version-pointer seam, instance-scoped classify-pin release,
  * the single-winner lease acquisition, and the maintained-index gauges on
  * the O17 reporter surface. */
class RoundElevenSpec extends SparkSpec {
  import graft.streaming.Pipelines

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def hadoopFs(root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dirs(root: String): Set[String] =
    Option(new java.io.File(root).listFiles())
      .map(_.filter(_.isDirectory).map(_.getName).toSet).getOrElse(Set.empty)

  test("delta-tier broadcast guard (exact): oversized tier falls back to shuffle and majors early, decisions unchanged") {
    val sparkS = spark
    import sparkS.implicits._
    val rootC = tmp("mdix_guard_ctl")
    val rootG = tmp("mdix_guard")
    val idx = Seq(("fpA", 100L)).toDF("fp", "corpus_id")
    val ctl = new Pipelines.MaintainedDedupIndex(sparkS, rootC, ttlMs = 1000,
      flushEvery = 1, maxDeltas = 4)
    ctl.initIndex(idx)
    // 1-byte bound: the first delta written makes the tier "oversized"
    val g = new Pipelines.MaintainedDedupIndex(sparkS, rootG, ttlMs = 1000,
      flushEvery = 1, maxDeltas = 4, maxDeltaBroadcastBytes = 1L)
    g.initIndex(idx)

    def drive(id: Long, batch: Seq[Pipelines.DedupDecision]): Unit = {
      var a: Seq[org.apache.spark.sql.Row] = null
      var b: Seq[org.apache.spark.sql.Row] = null
      ctl.finalizeBatch(batch.toDS(), id)(df => a = df.orderBy("doc_id").collect().toSeq)
      g.finalizeBatch(batch.toDS(), id)(df => b = df.orderBy("doc_id").collect().toSeq)
      assert(a == b, s"guard changed batch $id decisions:\n$a\nvs\n$b")
    }

    // batch 0: tier empty (not oversized) → minor flush writes delta_v0
    drive(0, Seq(Pipelines.DedupDecision(1L, "fpB", "new", None)))
    assert(g.stats("delta_versions") == 1L && g.stats("delta_bytes") > 1L)
    // the finalize plan against the oversized tier must NOT broadcast it:
    // with auto-broadcast off, no BroadcastExchange anywhere — the forced
    // hint is what the guard exists to drop
    val prev = sparkS.conf.get("spark.sql.autoBroadcastJoinThreshold")
    sparkS.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pG = g.finalizeJoined(
        Seq(Pipelines.DedupDecision(9L, "fpB", "new", None)).toDS().toDF())
        .queryExecution.executedPlan.toString
      assert(!pG.contains("BroadcastExchange"),
        s"oversized delta tier must not be broadcast:\n$pG")
      // control: the same tier under a healthy bound still rides the hint
      val pC = ctl.finalizeJoined(
        Seq(Pipelines.DedupDecision(9L, "fpB", "new", None)).toDS().toDF())
        .queryExecution.executedPlan.toString
      assert(pC.contains("BroadcastHashJoin"),
        s"healthy delta tier must keep the broadcast:\n$pC")
    } finally sparkS.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(g.stats("delta_fallbacks") >= 1L, s"fallback must be counted: ${g.stats}")

    // batch 1: decisions identical through the fallback join; its flush
    // sees the oversized tier → EARLY major compaction clears it
    drive(1, Seq(Pipelines.DedupDecision(2L, "fpB", "new", None),
                 Pipelines.DedupDecision(3L, "fpC", "new", None)))
    assert(g.stats("version") == 1L && g.stats("delta_versions") == 0L &&
      g.stats("early_majors") == 1L,
      s"oversized tier must force an early major: ${g.stats}")
    assert(ctl.stats("version") == 0L && ctl.stats("delta_versions") == 2L,
      s"control must still be on minors: ${ctl.stats}")
    // logical index identical between guard and control
    val ci = ctl.currentIndex.collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    val gi = g.currentIndex.collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(ci == gi, s"logical index diverged:\n$ci\nvs\n$gi")
  }

  test("delta-tier broadcast guard (near-dup): oversized tier screens via shuffle, majors early, decisions unchanged") {
    val sparkS = spark
    import sparkS.implicits._
    val rootC = tmp("mndix_guard_ctl")
    val rootG = tmp("mndix_guard")
    val corpus = Seq((1L, "aa bb cc dd ee ff gg hh")).toDF("doc_id", "text")
    val ctl = new Pipelines.MaintainedNearDupIndex(sparkS, rootC, flushEvery = 1,
      maxDeltas = 4)
    ctl.initIndex(corpus)
    val g = new Pipelines.MaintainedNearDupIndex(sparkS, rootG, flushEvery = 1,
      maxDeltas = 4, maxDeltaBroadcastBytes = 1L)
    g.initIndex(corpus)

    def drive(id: Long, batch: Seq[(Long, String)]): Unit = {
      var a: Seq[org.apache.spark.sql.Row] = null
      var b: Seq[org.apache.spark.sql.Row] = null
      ctl.screenBatch(batch.toDF("doc_id", "text"), id)(df => a = df.collect().toSeq)
      g.screenBatch(batch.toDF("doc_id", "text"), id)(df => b = df.collect().toSeq)
      assert(a == b, s"guard changed batch $id decisions:\n$a\nvs\n$b")
    }

    // batch 0: novel → accepted → minor flush writes delta pair 0
    drive(0, Seq((10L, "zz yy xx ww vv uu tt ss")))
    assert(g.stats("delta_versions") == 1L && g.stats("delta_bytes") > 1L)
    // screen plan against the oversized tier: no BroadcastExchange
    val prev = sparkS.conf.get("spark.sql.autoBroadcastJoinThreshold")
    sparkS.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val batchSig = graft.functions.Dedup.minhashSignatures(
        Seq((11L, "zz yy xx ww vv uu tt ss")).toDF("doc_id", "text"))
        .select(col("band"), col("min_hash"), col("doc_id").as("batch_id"))
      val pG = g.screenCandidates(batchSig).queryExecution.executedPlan.toString
      assert(!pG.contains("BroadcastExchange"),
        s"oversized near-dup tier must not be broadcast:\n$pG")
      val pC = ctl.screenCandidates(batchSig).queryExecution.executedPlan.toString
      assert(pC.contains("BroadcastExchange"),
        s"healthy near-dup tier must keep its broadcasts:\n$pC")
    } finally sparkS.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(g.stats("delta_fallbacks") == 1L,
      s"the guard must count ONCE per screen, not per hinted relation: ${g.stats}")

    // batch 1: a clone of the DELTA-resident doc must match it through the
    // fallback path exactly as through the broadcast; a novel doc stages,
    // so the flush boundary fires and majors early
    drive(1, Seq((11L, "zz yy xx ww vv uu tt ss"),
                 (12L, "k1 k2 k3 k4 k5 k6 k7 k8")))
    assert(g.stats("version") == 1L && g.stats("delta_versions") == 0L &&
      g.stats("early_majors") == 1L,
      s"oversized tier must force an early major: ${g.stats}")
    assert(g.stats("delta_fallbacks") == 2L,
      s"one more screen through the oversized tier adds exactly one: ${g.stats}")
    assert(ctl.stats("version") == 0L)
    val cs = ctl.currentSignatures.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    val gs = g.currentSignatures.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(cs == gs, "logical signature relations diverged")
  }

  test("delta-tier broadcast guard (near-dup): the logical relations' tombstone anti-join drops its hint on an oversized tier") {
    val sparkS = spark
    import sparkS.implicits._
    val g = new Pipelines.MaintainedNearDupIndex(sparkS, tmp("mndix_guard_tomb"),
      flushEvery = 1, maxDeltas = 4, maxDeltaBroadcastBytes = 1L)
    g.initIndex(Seq((1L, "aa bb cc dd ee ff gg hh"),
      (2L, "zz yy xx ww vv uu tt ss")).toDF("doc_id", "text"))
    // the delete closes its window: its tombstone pair folds into delta 0,
    // which the 1-byte bound makes oversized
    g.deleteDocs(Seq(2L).toDF("doc_id"), 0)
    assert(g.stats("version") == 0L && g.stats("delta_versions") == 1L)
    // the flush and shadow majors fold through these relations, so the
    // deleted-id set must not be force-broadcast either
    val prev = sparkS.conf.get("spark.sql.autoBroadcastJoinThreshold")
    sparkS.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try
      for ((name, df) <- Seq("signatures" -> g.currentSignatures,
                             "shingles" -> g.currentShingles)) {
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("BroadcastExchange"),
          s"oversized tier's deleted-id set must not be broadcast ($name):\n$p")
      }
    finally sparkS.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(g.currentSignatures.select("doc_id").distinct().as[Long].collect().toSet == Set(1L))
    assert(g.stats("delta_fallbacks") == 0L, s"no screen ran: ${g.stats}")
  }

  test("delta GC: folded deltas linger one compaction cycle, then are swept with torn remnants") {
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("mdix_deltagc")
    val m = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000,
      flushEvery = 1, maxDeltas = 2)
    m.initIndex(Seq(("fpA", 100L)).toDF("fp", "corpus_id"))
    // two minors → delta_v0, delta_v1
    m.finalizeBatch(Seq(Pipelines.DedupDecision(1L, "fpB", "new", None)).toDS(), 0)(_ => ())
    m.finalizeBatch(Seq(Pipelines.DedupDecision(2L, "fpC", "new", None)).toDS(), 1)(_ => ())
    assert(dirs(root).contains("delta_v0") && dirs(root).contains("delta_v1"))
    // first major: folds v0/v1, floor → 2; folded dirs LINGER (grace for
    // lazy plans built from currentIndex just before the major) but leave
    // the tier
    m.finalizeBatch(Seq(Pipelines.DedupDecision(3L, "fpD", "new", None)).toDS(), 2)(_ => ())
    assert(m.stats("version") == 1L && m.stats("delta_versions") == 0L)
    assert(dirs(root).contains("delta_v0") && dirs(root).contains("delta_v1"),
      s"folded deltas must survive one cycle for in-flight plans: ${dirs(root)}")
    // reduce delta_v0 to a TORN remnant (its data files vanish — the shape
    // a killed cleanup or crash leaves): the sweep must still retire the
    // directory, which committed-only discovery would skip forever
    new java.io.File(root, "delta_v0").listFiles().foreach(_.delete())
    new java.io.File(root, "delta_v0/_temporary").mkdirs()
    // next window: two minors resume numbering ABOVE the floor (no reuse
    // of lingering numbers) …
    m.finalizeBatch(Seq(Pipelines.DedupDecision(4L, "fpE", "new", None)).toDS(), 3)(_ => ())
    m.finalizeBatch(Seq(Pipelines.DedupDecision(5L, "fpF", "new", None)).toDS(), 4)(_ => ())
    assert(dirs(root).contains("delta_v2") && dirs(root).contains("delta_v3"),
      s"delta numbering must continue past the floor: ${dirs(root)}")
    // … and the second major sweeps everything below the previous floor:
    // the superseded committed delta AND the torn remnant
    m.finalizeBatch(Seq(Pipelines.DedupDecision(6L, "fpG", "new", None)).toDS(), 5)(_ => ())
    assert(m.stats("version") == 2L)
    assert(!dirs(root).contains("delta_v0") && !dirs(root).contains("delta_v1"),
      s"second major must sweep superseded + torn deltas: ${dirs(root)}")
    assert(dirs(root).contains("delta_v2") && dirs(root).contains("delta_v3"),
      "the just-folded window lingers for its own grace cycle")
    // the logical index never lost anything across the whole lifecycle
    assert(m.currentIndex.count() == 7L)
    // restart discovers base + floor and still excludes lingering deltas
    val m2 = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000,
      flushEvery = 1, maxDeltas = 2)
    assert(m2.stats("version") == 2L && m2.stats("delta_versions") == 0L)
    assert(m2.currentIndex.count() == 7L)
  }

  test("near-dup delta GC: folded pairs linger one cycle, orphan halves below the floor are swept") {
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("mndix_deltagc")
    val m = new Pipelines.MaintainedNearDupIndex(sparkS, root, flushEvery = 1,
      maxDeltas = 2)
    m.initIndex(Seq((1L, "aa bb cc dd ee ff gg hh")).toDF("doc_id", "text"))
    m.screenBatch(Seq((10L, "zz yy xx ww vv uu tt ss")).toDF("doc_id", "text"), 0)(_ => ())
    m.screenBatch(Seq((11L, "m1 m2 m3 m4 m5 m6 m7 m8")).toDF("doc_id", "text"), 1)(_ => ())
    assert(dirs(root).contains("dsig_v0") && dirs(root).contains("dtg_v1"))
    // first major: pairs 0/1 fold, floor → 2, dirs linger
    m.screenBatch(Seq((12L, "n1 n2 n3 n4 n5 n6 n7 n8")).toDF("doc_id", "text"), 2)(_ => ())
    assert(m.stats("version") == 1L && m.stats("delta_versions") == 0L)
    assert(dirs(root).contains("dsig_v0") && dirs(root).contains("dtg_v0"))
    // orphan one lingering pair's shingle half (crash shape): the sweep
    // must retire the orphan dsig too
    hadoopFs(root).delete(new org.apache.hadoop.fs.Path(s"$root/dtg_v1"), true)
    // next window + second major
    m.screenBatch(Seq((13L, "p1 p2 p3 p4 p5 p6 p7 p8")).toDF("doc_id", "text"), 3)(_ => ())
    assert(dirs(root).contains("dsig_v2"),
      s"pair numbering must continue past the floor: ${dirs(root)}")
    m.screenBatch(Seq((14L, "q1 q2 q3 q4 q5 q6 q7 q8")).toDF("doc_id", "text"), 4)(_ => ())
    m.screenBatch(Seq((15L, "r1 r2 r3 r4 r5 r6 r7 r8")).toDF("doc_id", "text"), 5)(_ => ())
    assert(m.stats("version") == 2L)
    assert(!dirs(root).exists(n => n == "dsig_v0" || n == "dtg_v0" ||
      n == "dsig_v1" || n == "dtg_v1"),
      s"second major must sweep superseded pairs and orphan halves: ${dirs(root)}")
    assert(m.currentShingles.select("doc_id").distinct().count() == 7L,
      "no accepted doc may be lost across the GC lifecycle")
  }

  test("AtomicFileVersionPointer: concurrent bumps yield one winner; torn claims reconcile under the lease") {
    val root = tmp("vptr")
    val fs = hadoopFs(root)
    val ptr = new graft.streaming.AtomicFileVersionPointer(fs, root, "index_v")
    assert(ptr.current().isEmpty)
    // race: 8 concurrent DISTINCT-owner claimants of version 0 (distinct
    // drivers — the split-brain scenario) — exactly one wins, the losers
    // fail loudly
    val latch = new java.util.concurrent.CountDownLatch(1)
    val winners = new java.util.concurrent.atomic.AtomicInteger()
    val losers = new java.util.concurrent.atomic.AtomicInteger()
    val winnerIdx = new java.util.concurrent.atomic.AtomicInteger(-1)
    val racers = (0 until 8).map(i =>
      new graft.streaming.AtomicFileVersionPointer(fs, root, "index_v", s"racer#$i"))
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        latch.await()
        try { racers(i).advance(0); winners.incrementAndGet(); winnerIdx.set(i); () }
        catch { case e: IllegalStateException =>
          assert(e.getMessage.contains("version-pointer race"))
          losers.incrementAndGet(); ()
        }
      })
    }
    threads.foreach(_.start()); latch.countDown(); threads.foreach(_.join())
    assert(winners.get() == 1 && losers.get() == 7,
      s"exactly one claimant may win: winners=${winners.get()} losers=${losers.get()}")
    // the WINNER retrying its own claim (version write failed, engine
    // re-runs the batch) proceeds idempotently instead of wedging
    racers(winnerIdx.get()).advance(0)
    // the claim alone is TORN (no committed directory): current() refuses
    // it, a FOREIGN claimant still loses, reconcile() under the lease
    // clears it, and the version becomes claimable again
    assert(ptr.current().isEmpty)
    intercept[IllegalStateException] { ptr.advance(0) }
    ptr.reconcile()
    ptr.advance(0)
    val sparkS = spark
    import sparkS.implicits._
    Seq((1, "x")).toDF("a", "b").write.parquet(s"$root/index_v0")
    assert(ptr.current().contains(0))
  }

  test("maintained index over the atomic pointer: claim-then-write majors, rival claim loses, restart resumes") {
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("mdix_vptr")
    val fs = hadoopFs(root)
    def ptr() = new graft.streaming.AtomicFileVersionPointer(fs, root, "index_v")
    val m = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000,
      flushEvery = 1, pointer = Some(ptr()))
    m.initIndex(Seq(("fpA", 100L)).toDF("fp", "corpus_id"))
    m.finalizeBatch(Seq(Pipelines.DedupDecision(1L, "fpB", "new", None)).toDS(), 0)(_ => ())
    assert(m.stats("version") == 1L)
    // a second driver racing the same next version loses BEFORE writing
    // the directory — the split-brain sequence the seam exists to stop
    m.finalizeBatch(Seq(Pipelines.DedupDecision(2L, "fpC", "new", None)).toDS(), 1)(_ => ())
    // the INDEX's own pointer may re-claim idempotently (engine retry)…
    ptr().advance(2)
    // …but a FOREIGN driver racing the same bump loses loudly
    intercept[IllegalStateException] {
      new graft.streaming.AtomicFileVersionPointer(fs, root, "index_v", "rival#1").advance(2)
    }
    // restart resolves the version through the pointer
    val m2 = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000,
      flushEvery = 1, pointer = Some(ptr()))
    assert(m2.stats("version") == 2L)
    assert(m2.currentIndex.count() == 3L)
  }

  test("ANN index over the atomic pointer: rival codes-version claim loses; restart resumes") {
    val root = tmp("mannx_vptr")
    val fs = hadoopFs(root)
    def ptr() = new graft.streaming.AtomicFileVersionPointer(fs, root, "codes_v")
    val ann = new graft.streaming.MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8, pointer = Some(ptr()))
    ann.initIndex(vecs(0L until 40L))                       // claims codes_v0
    ann.ingestBatch(vecs(100L until 110L), 0)(_ => ())      // major → claims codes_v1
    assert(ann.stats("version") == 1L)
    intercept[IllegalStateException] {                      // foreign rival loses loudly
      new graft.streaming.AtomicFileVersionPointer(fs, root, "codes_v", "rival#1").advance(1)
    }
    ann.close()
    val ann2 = new graft.streaming.MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8, pointer = Some(ptr()))
    assert(ann2.stats("version") == 1L)
    assert(ann2.currentCodes.count() == 50L)
    ann2.close()
  }

  test("near-dup index over the atomic pointer: claim-then-write majors, rival claim loses, restart resumes") {
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("mndix_vptr")
    val fs = hadoopFs(root)
    def ptr() = new graft.streaming.AtomicFileVersionPointer(fs, root, "sig_v")
    val n = new Pipelines.MaintainedNearDupIndex(sparkS, root, flushEvery = 1,
      pointer = Some(ptr()))
    n.initIndex(Seq((1L, "aa bb cc dd ee ff")).toDF("doc_id", "text"))
    n.screenBatch(Seq((2L, "zz yy xx ww vv uu")).toDF("doc_id", "text"), 0)(_ => ())
    assert(n.stats("version") == 1L)
    // a FOREIGN driver claiming the version this writer already claimed
    // loses loudly BEFORE any pair write
    intercept[IllegalStateException] {
      new graft.streaming.AtomicFileVersionPointer(fs, root, "sig_v", "rival#1").advance(1)
    }
    val n2 = new Pipelines.MaintainedNearDupIndex(sparkS, root, flushEvery = 1,
      pointer = Some(ptr()))
    assert(n2.stats("version") == 1L)
    assert(n2.currentShingles.select("doc_id").distinct().count() == 2L)
  }

  test("classify-pin release is instance-scoped: one instance's release keeps the other's pins") {
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("mdix_mypins")
    val a = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1)
    a.initIndex(Seq(("fpA", 100L)).toDF("fp", "corpus_id"))
    a.classify(Seq((1L, "doc")).toDF("doc_id", "text")) // pins v0
    a.finalizeBatch(Seq(Pipelines.DedupDecision(1L, "fpB", "new", None)).toDS(), 0)(_ => ())
    val b = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1)
    b.classify(Seq((2L, "doc")).toDF("doc_id", "text")) // pins v1
    b.finalizeBatch(Seq(Pipelines.DedupDecision(2L, "fpC", "new", None)).toDS(), 1)(_ => ())
    b.finalizeBatch(Seq(Pipelines.DedupDecision(3L, "fpD", "new", None)).toDS(), 2)(_ => ())
    assert(new java.io.File(root, "index_v0").exists() &&
      new java.io.File(root, "index_v1").exists(),
      "both instances' pins must hold while both streams are live")
    // A stops ITS stream and releases: only A's v0 pin may drop — B's v1
    // pin must survive A's release and the next GC
    a.releaseClassifyPins()
    b.finalizeBatch(Seq(Pipelines.DedupDecision(4L, "fpE", "new", None)).toDS(), 3)(_ => ())
    assert(!new java.io.File(root, "index_v0").exists(),
      "A's released pin must free v0 for GC")
    assert(new java.io.File(root, "index_v1").exists(),
      "A's release must NOT drop B's live classify pin")
    b.releaseClassifyPins()
    assert(b.stats("pinned_versions") == 0L)
  }

  test("writer-lease acquisition race: exactly one of N concurrent distinct-owner acquirers wins") {
    val root = tmp("lease_race")
    val fs = hadoopFs(root)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val winners = new java.util.concurrent.atomic.AtomicInteger()
    val losers = new java.util.concurrent.atomic.AtomicInteger()
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        latch.await()
        try {
          new Pipelines.WriterLease(fs, root, 60000L, s"racer#$i").acquire()
          winners.incrementAndGet(); ()
        } catch { case _: IllegalStateException => losers.incrementAndGet(); () }
      })
    }
    threads.foreach(_.start()); latch.countDown(); threads.foreach(_.join())
    assert(winners.get() == 1 && losers.get() == 7,
      s"lease acquisition must have exactly one winner: winners=${winners.get()}")
  }

  /** Deterministic CLUSTERED embeddings: dim 16 (divisible by m=8), four
    * block-one-hot cluster centers (cluster = id % 4 owns dimensions
    * 4c..4c+3) plus a small fixed trig jitter — structure ADC can
    * actually rank, and ids 0..3 seed k-means with one vector per
    * cluster. `flip` negates the vectors: cosine to every trained
    * centroid collapses, the maximal distribution shift for the drift
    * gauge. */
  private def vecs(ids: Seq[Long], flip: Boolean = false) = {
    val sparkS = spark
    import sparkS.implicits._
    ids.map { i =>
      val c = (i % 4).toInt
      val sign = if (flip) -1.0 else 1.0
      (i, Seq.tabulate(16) { j =>
        val center = if (j / 4 == c) 1.0 else 0.0
        sign * (center + 0.05 * math.rint(math.sin(i * 31.0 + j * 7.0) * 100.0) / 100.0)
      })
    }.toDF("vec_id", "embedding")
  }

  test("maintained ANN index: stream-ingested codes match the batch encode+search on the grown corpus") {
    val root = tmp("mannx")
    val ann = new graft.streaming.MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8, maxDeltas = 2)
    val base = vecs(0L until 40L)
    ann.initIndex(base)
    assert(ann.stats("version") == 0L && ann.stats("model_version") == 0L)
    // three ingest windows: two minors, then a major fold
    var sunk = 0L
    ann.ingestBatch(vecs(100L until 110L), 0)(df => sunk += df.count())
    ann.ingestBatch(vecs(110L until 120L), 1)(df => sunk += df.count())
    assert(ann.stats("delta_versions") == 2L && ann.stats("version") == 0L)
    ann.ingestBatch(vecs(120L until 130L), 2)(df => sunk += df.count())
    assert(sunk == 30L)
    assert(ann.stats("version") == 1L && ann.stats("delta_versions") == 0L,
      s"third window must major-fold: ${ann.stats}")
    // parity vs the batch path: encode the GROWN corpus with the STORED
    // model — the maintained code store must be row-identical (assign +
    // encode are deterministic under a fixed model)
    val grown = base.unionByName(vecs(100L until 130L))
    val model = ann.loadModel()
    def codeSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cell"), col("codes"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    val maintained = codeSet(ann.currentCodes)
    val batch = codeSet(graft.functions.Ivfadc.encode(grown, model))
    assert(maintained == batch,
      s"maintained codes diverged from batch encode (${maintained.size} vs ${batch.size})")
    // search parity — the batch x31 ADC search over the same model+codes
    val queries = vecs(Seq(5L, 105L, 125L))
    def hits(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("neighbor_id"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sM = hits(ann.search(queries, kTop = 3, nprobe = 2))
    val sB = hits(graft.functions.Ivfadc.search(
      graft.functions.Ivfadc.encode(grown, model), queries, model, 3, 2))
    assert(sM == sB, s"maintained search diverged:\n$sM\nvs\n$sB")
    // ADC+R exact re-rank parity (the caller supplies the raw vectors)
    val rM = hits(ann.searchRerank(grown, queries, kTop = 3, nprobe = 2))
    val rB = hits(graft.functions.Ivfadc.searchRerank(grown,
      graft.functions.Ivfadc.encode(grown, model), queries, model, 3, 2))
    assert(rM == rB, s"maintained rerank search diverged:\n$rM\nvs\n$rB")
    // parity must hold with a LIVE delta tier too (base + unfolded delta
    // codes serve searches between majors)
    ann.ingestBatch(vecs(130L until 140L), 3)(_ => ())
    assert(ann.stats("delta_versions") == 1L)
    val grown2 = grown.unionByName(vecs(130L until 140L))
    val sM2 = hits(ann.search(queries, kTop = 3, nprobe = 2))
    val sB2 = hits(graft.functions.Ivfadc.search(
      graft.functions.Ivfadc.encode(grown2, model), queries, model, 3, 2))
    assert(sM2 == sB2, s"delta-tier search diverged:\n$sM2\nvs\n$sB2")
    // a post-flush arrival finds a stored near-twin: vector 200 == vector
    // 100's pattern is distinct, so instead check the stored copy of an
    // ingested id ranks itself out (self-filter) but its exact clone hits
    val clone = vecs(Seq(100L)).select(lit(9999L).as("vec_id"), col("embedding"))
    val cloneHits = ann.search(clone, kTop = 5, nprobe = 4).collect()
      .map(_.getLong(1)).toSet
    assert(cloneHits.contains(100L),
      "a clone of an ingested vector must retrieve the stored copy in its " +
        s"ADC shortlist (quantized distances are approximate): $cloneHits")
    // restart: a fresh instance resumes model + codes + LIVE tier from
    // storage (base v1 plus the unfolded delta)
    ann.close()
    val ann2 = new graft.streaming.MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8, maxDeltas = 2)
    assert(ann2.stats("version") == 1L && ann2.stats("model_version") == 0L &&
      ann2.stats("delta_versions") == 1L)
    assert(codeSet(ann2.currentCodes) ==
      codeSet(graft.functions.Ivfadc.encode(grown2, model)),
      "restart must serve the same stored codes, delta tier included")
    ann2.close()
  }

  test("maintained ANN index: drift gauge flags a distribution shift; retrain rebinds model and codes") {
    val root = tmp("mannx_drift")
    val ann = new graft.streaming.MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8, maxDeltas = 4)
    val base = vecs(0L until 40L)
    ann.initIndex(base)
    val baseSim = ann.stats("base_assign_sim_micro")
    assert(baseSim > 0L, s"training corpus must sit near its centroids: $baseSim")
    // in-distribution window: drift stays near zero
    ann.ingestBatch(vecs(40L until 50L), 0)(_ => ())
    val calm = ann.stats("drift_micro")
    // shifted window (negated vectors — maximally far from every
    // centroid): the gauge must move sharply
    ann.ingestBatch(vecs(50L until 60L, flip = true), 1)(_ => ())
    val shifted = ann.stats("drift_micro")
    assert(shifted > calm && shifted > 500000L,
      s"a negated-vector window must show large drift: calm=$calm shifted=$shifted")
    // operator responds: retrain on the full raw corpus — model_v1 binds
    // to the new codes version, drift window resets, search serves the
    // retrained pair
    val full = base.unionByName(vecs(40L until 50L))
      .unionByName(vecs(50L until 60L, flip = true))
    // nlist pinned to the fixture's cluster geometry (the flipped family
    // needs its own probe-reachable cell at nprobe=4): this test pins the
    // gauge→retrain→rebind behavior, not the default √N sizing, which has
    // its own spec (RoundThirteenSpec)
    ann.retrainModel(full, nlistOverride = Some(4))
    assert(ann.stats("model_version") == 1L)
    assert(ann.stats("window_assign_sim_micro") == -1L, "retrain resets the drift window")
    val q = vecs(Seq(55L), flip = true).select(lit(8888L).as("vec_id"), col("embedding"))
    val got = ann.search(q, kTop = 5, nprobe = 4).collect().map(_.getLong(1)).toSet
    assert(got.contains(55L),
      s"after retrain the shifted region must be retrievable (ADC top-5): $got")
    // the shifted hits must come from the shifted (negated) family only
    assert(got.forall(_ >= 50L),
      s"a negated query's neighbors must be negated vectors: $got")
    // the retrained base's assign-sim covers the shifted mass too
    assert(ann.stats("base_assign_sim_micro") > 0L)
    assert(ann.currentCodes.count() == 60L)
    ann.close()
  }

  test("10-batch curation-composition soak: decisions follow the flush-visibility rule; stored state matches the replay") {
    import graft.streaming.CurationService
    val sparkS = spark
    import sparkS.implicits._
    def fam(k: Int): String = (0 until 32).map(i => s"s${k}w$i").mkString(" ")
    def famVar(k: Int, salt: Int): String =
      ((0 until 29).map(i => s"s${k}w$i") ++ (0 until 3).map(i => s"v${k}x${salt}_$i")).mkString(" ")
    val root = tmp("cursoak")
    // flushEvery = 2: odd batches leave kept docs STAGED — the window the
    // visibility rule is about
    val svc = new CurationService(sparkS, s"$root/exact", s"$root/near", flushEvery = 2)
    svc.initEmpty()

    // ground-truth state, replayed alongside the service:
    // per family: kept member ids in arrival order, with a flushed flag
    val keptOf = scala.collection.mutable.Map[Int, Vector[Long]]()
    val flushedOf = scala.collection.mutable.Map[Int, Set[Long]]()
    var pendingFlush = Vector.empty[(Int, Long)]
    val rng = new scala.util.Random(13)
    var nextId = 5000L
    var nextFam = 0
    val allDecisions = scala.collection.mutable.Map[Long, (String, Option[Long], Option[String])]()
    val expect = scala.collection.mutable.Map[Long, (String, Option[Set[Long]])]()
    // texts of every doc that reaches the EXACT index's staging (all docs
    // neither gated out nor exact_dup'd) — the end-state index oracle
    val exactStaged = scala.collection.mutable.ArrayBuffer[(String, Long)]()

    for (b <- 0 until 10) {
      val docs = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      def add(text: String): Long = { val id = nextId; nextId += 1; docs += ((id, text)); id }

      // 1. a brand-new family base → kept
      val kNew = nextFam; nextFam += 1
      val idNew = add(fam(kNew))
      expect(idNew) = ("kept", None)
      keptOf(kNew) = Vector(idNew); flushedOf(kNew) = Set.empty
      pendingFlush :+= ((kNew, idNew))
      exactStaged += ((fam(kNew), idNew))

      // 2. an exact clone of a random existing family (may be this batch's
      // own — the in-batch window case)
      val kC = rng.nextInt(nextFam)
      val idC = add(fam(kC))
      val flushedKept = flushedOf(kC)
      if (kC == kNew) {
        // same-batch exact pair: the window keeps the first
        expect(idC) = ("exact_dup", Some(Set(idNew)))
      } else if (flushedKept.nonEmpty) {
        // the stored fp index carries the min folded id
        expect(idC) = ("exact_dup", Some(Set(keptOf(kC).filter(flushedKept).min)))
      } else {
        // family kept but nothing flushed: INVISIBLE → kept again (the
        // flush-visibility drift the index soaks document)
        expect(idC) = ("kept", None)
        keptOf(kC) :+= idC
        pendingFlush :+= ((kC, idC))
        exactStaged += ((fam(kC), idC))
      }

      // 3. sometimes a variant probe of a family with FLUSHED members →
      // near_dup of one of them (all stored members share the base text,
      // so the verified match set is exactly the flushed kept set)
      // (exclude the exact-clone's family: if that clone was invisibly
      // re-kept THIS batch, an in-batch edge would hand the probe to the
      // batch CC instead of the stored screen — a different, also-correct
      // keeper, but not the one this replay models)
      val flushedFams = (0 until nextFam)
        .filter(k => flushedOf(k).nonEmpty && k != kC)
      if (flushedFams.nonEmpty && rng.nextBoolean()) {
        val kP = flushedFams(rng.nextInt(flushedFams.length))
        val idP = add(famVar(kP, b))
        expect(idP) = ("near_dup", Some(flushedOf(kP)))
        exactStaged += ((famVar(kP, b), idP)) // exact-new, near-rejected
      }

      // 4. sometimes an in-batch NEAR pair: new family base + its variant
      if (rng.nextBoolean()) {
        val kB = nextFam; nextFam += 1
        val idB = add(fam(kB))
        val idV = add(famVar(kB, 999))
        expect(idB) = ("kept", None)
        expect(idV) = ("near_dup", Some(Set(idB)))
        keptOf(kB) = Vector(idB); flushedOf(kB) = Set.empty
        pendingFlush :+= ((kB, idB))
        exactStaged += ((fam(kB), idB))
        exactStaged += ((famVar(kB, 999), idV))
      }

      // 5. sometimes a gate reject
      if (rng.nextBoolean()) {
        val idG = add("too short")
        expect(idG) = ("gated_out", None)
      }

      svc.processBatch(docs.toSeq.toDF("doc_id", "text"), b) { out =>
        out.collect().foreach(r => allDecisions(r.getLong(0)) =
          ((r.getString(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)),
            if (r.isNullAt(3)) None else Some(r.getString(3)))))
      }
      // visibility boundary: both indexes flush every 2nd batch
      if ((b + 1) % 2 == 0) {
        pendingFlush.foreach { case (k, id) => flushedOf(k) += id }
        pendingFlush = Vector.empty
      }
    }

    // every decision matches the visibility replay
    for ((id, (st, keepers)) <- expect) {
      val (gotSt, gotKeep, gotSplit) = allDecisions(id)
      assert(gotSt == st, s"doc $id: expected $st, got $gotSt (${allDecisions(id)})")
      keepers match {
        case Some(ks) => assert(gotKeep.exists(ks.contains),
          s"doc $id must defer to one of $ks, got $gotKeep")
        case None => assert(gotKeep.isEmpty, s"doc $id: unexpected keeper $gotKeep")
      }
      assert((st == "kept") == gotSplit.nonEmpty,
        s"doc $id: split must be set exactly for kept docs, got $gotSplit")
    }

    // end-state stored indexes equal the replay: drain the staged tail
    svc.exact.flush(); svc.near.flush()
    val truthExact = exactStaged.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).min }
    val gotExact = svc.exact.currentIndex.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // compare via the engine's own fingerprint of each text
    val fpRows = exactStaged.map(_._1).distinct.toSeq.toDF("text")
      .select(col("text"), graft.functions.Text.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gotExact == truthExact.map { case (t, id) => fpRows(t) -> id },
      "the exact index must hold min-id per staged fingerprint")
    val keptIds = expect.collect { case (id, ("kept", _)) => id }.toSet
    val gotNear = svc.near.currentShingles.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(gotNear == keptIds,
      s"the near index must hold exactly the kept canonicals:\n$gotNear\nvs\n$keptIds")
    svc.close()
  }

  test("u09: the multibyte vocabulary trains real multibyte merges; native apply matches the HOF fold") {
    import graft.functions.Bpe
    import org.apache.spark.sql.functions.col
    val sparkS = spark
    import sparkS.implicits._
    val merges = Bpe.cachedUtf8Merges(spark, sf0001)
    assert(merges.nonEmpty)
    assert(merges.exists { case (l, r) => (l + r).exists(_ > 127) },
      s"the projected corpus must train merges containing 2-/3-byte code points: $merges")
    // native BpeApply vs the chained-HOF fold on multibyte words — the
    // same cross-check the ASCII path has, under the multibyte table
    val words = graft.Tables.documents(spark, sf0001)
      .select(graft.functions.Text.utf8Text(col("text")).as("text"))
      .select(org.apache.spark.sql.functions.explode(
        graft.functions.Text.tokens(col("text"))).as("w"))
      .distinct().limit(200)
    val native = Bpe.applyMerges(words, merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val hof = Bpe.applyMergesHof(words, merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(native == hof, "native multibyte apply must equal the HOF fold")
  }

  test("classify pins are reference-counted: a version pinned by two holders survives one release") {
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("mdix_refpins")
    val a = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1)
    a.initIndex(Seq(("fpA", 100L)).toDF("fp", "corpus_id"))
    // BOTH instances pin the SAME version 0 (the restart-in-place overlap
    // a set-based registry gets wrong)
    a.classify(Seq((1L, "doc")).toDF("doc_id", "text"))
    val b = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1)
    b.classify(Seq((2L, "doc")).toDF("doc_id", "text"))
    (0 to 2).foreach(i => b.finalizeBatch(
      Seq(Pipelines.DedupDecision(10L + i, s"fpN$i", "new", None)).toDS(), i)(_ => ()))
    // A releases ITS reference: v0 must SURVIVE the next GC — B's live
    // classify stream still reads it
    a.releaseClassifyPins()
    b.finalizeBatch(Seq(Pipelines.DedupDecision(20L, "fpX", "new", None)).toDS(), 3)(_ => ())
    assert(new java.io.File(root, "index_v0").exists(),
      "v0 is still pinned by B — one holder's release must not free it")
    // B releases the LAST reference: the next GC retires v0
    b.releaseClassifyPins()
    b.finalizeBatch(Seq(Pipelines.DedupDecision(21L, "fpY", "new", None)).toDS(), 4)(_ => ())
    assert(!new java.io.File(root, "index_v0").exists(),
      "after the last holder releases, GC must retire v0")
  }

  test("ANN index: a codes version missing its floor marker is uncommitted — restart serves the previous triple") {
    val root = tmp("mannx_torn")
    val ann = new graft.streaming.MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8)
    ann.initIndex(vecs(0L until 40L))
    ann.ingestBatch(vecs(100L until 110L), 0)(_ => ()) // major → codes_v1
    assert(ann.stats("version") == 1L)
    val v1 = ann.currentCodes.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    // simulate a crash mid-publish of codes_v2: committed PARQUET, but the
    // floor marker (the commit point, written last) never landed
    ann.currentCodes.limit(5).write.parquet(s"$root/codes_v2")
    ann.close()
    val ann2 = new graft.streaming.MaintainedAnnIndex(spark, root,
      flushEvery = 1, nlist = 4, m = 8, k = 8)
    assert(ann2.stats("version") == 1L,
      "a marker-less codes dir is a crash remnant, not a version")
    assert(ann2.currentCodes.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet == v1,
      "restart must serve the previous committed (model, codes, deltas) triple")
    // the next major overwrites the remnant and publishes it properly
    ann2.ingestBatch(vecs(110L until 120L), 1)(_ => ())
    assert(ann2.stats("version") == 2L)
    assert(ann2.currentCodes.count() == 60L)
    ann2.close()
  }

  test("maintained-index gauges emit through the O17 periodic reporter across a flush") {
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("mdix_gauges")
    val outDir = tmp("mdix_gauges_out")
    val m = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1)
    m.initIndex(Seq(("fpA", 100L)).toDF("fp", "corpus_id"))
    val sm = new graft.metrics.Observability.StreamingMetrics
    val reporter = graft.metrics.Observability.startReporter(sm, outDir,
      intervalMs = 100L, indexGauges = () => Map("dedup" -> m.stats))
    try {
      m.finalizeBatch(Seq(Pipelines.DedupDecision(1L, "fpB", "new", None)).toDS(), 0)(_ => ())
      // poll for a snapshot that carries the flushed state — the reporter
      // owns the cadence, the test only waits for it
      val deadline = System.currentTimeMillis() + 60000
      var seen = Seq.empty[String]
      while (System.currentTimeMillis() < deadline &&
             !seen.exists(l => l.contains(""""index":"dedup"""") &&
               l.contains(""""flushes":1""") && l.contains(""""version":1"""))) {
        Thread.sleep(50)
        seen = Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".jsonl")).toSeq
          .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
      }
      assert(seen.exists(l => l.contains(""""index":"dedup"""") &&
        l.contains(""""flushes":1""") && l.contains(""""version":1""") &&
        l.contains(""""delta_bytes":""")),
        s"reporter must emit the index lifecycle gauges; saw:\n${seen.mkString("\n")}")
    } finally reporter.close()
  }
}
