package graft

import graft.functions.Bpe

/** Round-10 additions: the bounded BPE word-count collect — tail pruning
  * with the pair-mass invariance bound, and the hard driver-side row cap
  * with a loud bail-out (no silent truncation, no driver OOM). */
class RoundTenSpec extends SparkSpec {

  private def syms(w: String): Vector[String] =
    w.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp)))

  /** Per-step (winner − runner-up) pair-count margins of a training run,
    * replayed quadratically: margin(step) is how far the chosen merge beat
    * every other pair at that step (Long.MaxValue when it was the only
    * pair). */
  private def stepMargins(counts: Iterable[(String, Long)], steps: Int): Seq[Long] = {
    val merges = Bpe.trainJvmMerges(counts.toSeq, steps)
    var words: Map[Vector[String], Long] =
      counts.groupMapReduce { case (w, _) => syms(w) } { case (_, c) => c }(_ + _)
    merges.map { case (_, l, r, lr, winnerCount) =>
      val pairCounts = scala.collection.mutable.Map[(String, String), Long]()
      for ((sym, c) <- words; i <- 0 until sym.length - 1)
        pairCounts((sym(i), sym(i + 1))) = pairCounts.getOrElse((sym(i), sym(i + 1)), 0L) + c
      assert(pairCounts((l, r)) == winnerCount)
      val runnerUp = (pairCounts - ((l, r))).values.maxOption.getOrElse(0L)
      words = words.groupMapReduce { case (sym, _) =>
        val acc = scala.collection.mutable.ArrayBuffer[String]()
        for (x <- sym)
          if (acc.nonEmpty && acc.last == l && x == r) { acc.remove(acc.length - 1); acc += lr }
          else acc += x
        acc.toVector
      } { case (_, c) => c }(_ + _)
      if (pairCounts.size == 1) Long.MaxValue else winnerCount - runnerUp
    }
  }

  test("x37b: pruning below the per-step margin leaves the merge table unchanged") {
    // head words dominate; a cnt-1 tail shares a symbol (the 'xyq' word
    // feeds pair (x,y)) so pruning DOES move a winner's count — but by at
    // most M, under every step's margin, so the merge table is invariant.
    val full = Seq(
      "xy" -> 10000L, "yz" -> 6000L, "qr" -> 3000L,
      "xyq" -> 1L, "mn" -> 1L, "op" -> 1L)
    val minFreq = 2L
    val m = Bpe.prunedPairMass(full, minFreq)
    assert(m == 4L) // xyq contributes 1·2, mn and op 1·1 each
    val steps = 3
    val margins = stepMargins(full, steps)
    assert(margins.forall(_ > m), s"margins $margins not all > $m")
    val pruned = full.filter(_._2 >= minFreq)
    val fullRun = Bpe.trainJvmMerges(full, steps)
    val prunedRun = Bpe.trainJvmMerges(pruned, steps)
    // identical merge pairs in identical order…
    assert(fullRun.map(t => (t._1, t._2, t._3, t._4)) ==
      prunedRun.map(t => (t._1, t._2, t._3, t._4)))
    // …with counts shifted by at most the pruned mass (step 0 actually
    // shifts: (x,y) is 10001 full vs 10000 pruned)
    assert(fullRun.head._5 == prunedRun.head._5 + 1)
    assert(fullRun.zip(prunedRun).forall { case (f, p) =>
      f._5 >= p._5 && f._5 - p._5 <= m })
  }

  test("corpus-version-scoped cache release: dir A eviction leaves dir B live and persisted") {
    val sparkS = spark
    import sparkS.implicits._
    // dir-A artifact: the BPE merge table; dir-B artifact: a persisted
    // signature relation under a distinct tag (tags ARE corpus versions)
    graft.functions.Bpe.cachedMerges(spark, sf0001)
    val dirB = "/tmp/graft-corpusB-test"
    val docs = Seq((1L, "aa bb cc dd ee ff gg hh"), (2L, "aa bb cc dd ee ff gg ii"))
      .toDF("doc_id", "text")
    val sigB = graft.functions.Dedup.signaturesFor(spark, docs, dirB)
    sigB.count()
    assert(sigB.storageLevel.useMemory, "cached signatures start persisted")
    assert(GraftCaches.entriesFor(spark, sf0001) >= 1)
    assert(GraftCaches.entriesFor(spark, dirB) == 1)
    // a tag that is a string-prefix of dirB must not sweep dirB
    GraftCaches.release(spark, "/tmp/graft-corpus")
    assert(GraftCaches.entriesFor(spark, dirB) == 1)
    // releasing dir A drops only dir A; dir B stays live AND persisted
    GraftCaches.release(spark, sf0001)
    assert(GraftCaches.entriesFor(spark, sf0001) == 0)
    assert(GraftCaches.entriesFor(spark, dirB) == 1)
    assert(sigB.storageLevel.useMemory, "sibling corpus must stay persisted")
    // releasing dir B drops and unpersists it
    GraftCaches.release(spark, dirB)
    assert(GraftCaches.entriesFor(spark, dirB) == 0)
    assert(sigB.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("maintained indexes resume at the latest flushed version after restart") {
    import graft.streaming.Pipelines
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    // exact-dedup index: flush under one instance, read under a fresh one
    val root = java.nio.file.Files.createTempDirectory("mdix_restart").toString
    val m1 = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1)
    m1.initIndex(Seq(("fpA", 100L)).toDF("fp", "corpus_id"))
    val decisions = Seq(Pipelines.DedupDecision(2L, "fpX", "new", None)).toDS()
    m1.finalizeBatch(decisions, 0)(_ => ())
    assert(m1.currentIndex.count() == 2)
    val m2 = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1)
    assert(m2.currentIndex.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("fpA" -> 100L, "fpX" -> 2L),
      "a fresh instance over an existing root must resume at the flushed version, not the seed")
    // near-dup index: same restart contract for the co-versioned pair
    val root2 = java.nio.file.Files.createTempDirectory("mndix_restart").toString
    val n1 = new Pipelines.MaintainedNearDupIndex(sparkS, root2, flushEvery = 1)
    n1.initIndex(Seq((1L, "aa bb cc dd ee ff")).toDF("doc_id", "text"))
    val sig0 = n1.currentSignatures.count()
    n1.screenBatch(Seq((2L, "zz yy xx ww vv uu")).toDF("doc_id", "text"), 0)(_ => ())
    val n2 = new Pipelines.MaintainedNearDupIndex(sparkS, root2, flushEvery = 1)
    assert(n2.currentSignatures.count() > sig0,
      "restart must see the flushed acceptance's signatures")
    assert(n2.currentShingles.select("doc_id").distinct().count() == 2)
  }

  test("writer lease: second process rejected; stale takeover; lost lease fails the next mutation") {
    import graft.streaming.Pipelines
    val sparkS = spark
    import sparkS.implicits._
    val root = java.nio.file.Files.createTempDirectory("mdix_lease").toString
    val m = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1)
    m.initIndex(Seq(("fpA", 100L)).toDF("fp", "corpus_id"))
    // a FOREIGN writer (distinct writerId = another process) is rejected
    // while the live lease is younger than the acquirer's ttl
    val e = intercept[IllegalStateException] {
      new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1,
        writerId = "otherhost#999")
    }
    assert(e.getMessage.contains("single-writer"))
    // same-process re-construction (restart-in-place) shares the host#pid
    // owner and passes — this is the restart path the resume test uses
    new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1)
    // a foreign acquirer that considers the lease EXPIRED (its ttl has
    // elapsed — here forced with a 0ms ttl) takes the root over
    val thief = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000,
      flushEvery = 1, leaseTtlMs = 0, writerId = "otherhost#999")
    // the original maintainer lost its lease: its next mutation fails
    // loudly instead of corrupting the new owner's index
    intercept[IllegalStateException] { m.flush() }
    // close() of the deposed maintainer must NOT drop the thief's lease
    m.close()
    intercept[IllegalStateException] {
      new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1,
        writerId = "thirdhost#1")
    }
    // a RELEASED root is immediately acquirable, no ttl wait
    thief.close()
    new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1,
      writerId = "thirdhost#1").close()
    // the near-dup index enforces the same contract
    val root2 = java.nio.file.Files.createTempDirectory("mndix_lease").toString
    val n = new Pipelines.MaintainedNearDupIndex(sparkS, root2, flushEvery = 1)
    intercept[IllegalStateException] {
      new Pipelines.MaintainedNearDupIndex(sparkS, root2, flushEvery = 1,
        writerId = "otherhost#999")
    }
    n.close()
  }

  test("maintained-index lifecycle: empty-accept batches stage nothing; GC retains current+previous") {
    import graft.streaming.Pipelines
    val sparkS = spark
    import sparkS.implicits._
    val root = java.nio.file.Files.createTempDirectory("mdix_gc").toString
    val m = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1)
    m.initIndex(Seq(("fpA", 100L)).toDF("fp", "corpus_id"))
    // all-duplicate batch: nothing accepted → nothing staged → the flush
    // boundary must NOT read-and-rewrite the index (a zero-row parquet
    // part's footer bytes used to defeat the file-size no-op guard)
    m.finalizeBatch(Seq(Pipelines.DedupDecision(7L, "fpA", "new", None)).toDS(), 0)(_ => ())
    assert(!new java.io.File(root, "index_v1").exists(),
      "an all-duplicate batch must not produce a new index version")
    assert(!new java.io.File(root, "staging").exists(),
      "an all-duplicate batch must not leave staging behind")
    // three novel batches at flushEvery=1 → v1..v3; GC keeps current +
    // previous (previous may be pinned by an in-flight plan), retires older
    m.finalizeBatch(Seq(Pipelines.DedupDecision(1L, "fpB", "new", None)).toDS(), 1)(_ => ())
    m.finalizeBatch(Seq(Pipelines.DedupDecision(2L, "fpC", "new", None)).toDS(), 2)(_ => ())
    m.finalizeBatch(Seq(Pipelines.DedupDecision(3L, "fpD", "new", None)).toDS(), 3)(_ => ())
    assert(new java.io.File(root, "index_v3").exists())
    assert(new java.io.File(root, "index_v2").exists(),
      "previous version must survive for in-flight readers")
    assert(!new java.io.File(root, "index_v1").exists(), "GC must retire v1")
    assert(!new java.io.File(root, "index_v0").exists(), "GC must retire v0")
    assert(m.currentIndex.count() == 4)
    // footer-less staging remnant (a killed append leaves only
    // _temporary/): flush must drop it without reading it
    val stg = new java.io.File(root, "staging")
    new java.io.File(stg, "_temporary").mkdirs()
    m.flush()
    assert(!stg.exists(), "a _temporary-only staging remnant must be dropped, not read")
    assert(m.currentIndex.count() == 4)
    // lifecycle gauges: 3 staged batches (the all-duplicate batch staged
    // nothing), 3 folds, version 3, a recorded last-flush wall time
    val st = m.stats
    assert(st("version") == 3L && st("staged_batches") == 3L && st("flushes") == 3L,
      s"unexpected lifecycle stats: $st")
    assert(st("last_flush_ms") >= 0L)
  }

  test("delta-tier index: minor flushes write deltas, major folds them; decisions match fold-every-flush") {
    import graft.streaming.Pipelines
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    val rootM = java.nio.file.Files.createTempDirectory("mdix_major").toString
    val rootD = java.nio.file.Files.createTempDirectory("mdix_delta").toString
    val idx = Seq(("fpA", 100L)).toDF("fp", "corpus_id")
    val ctl = new Pipelines.MaintainedDedupIndex(sparkS, rootM, ttlMs = 1000, flushEvery = 1)
    ctl.initIndex(idx)
    val del = new Pipelines.MaintainedDedupIndex(sparkS, rootD, ttlMs = 1000,
      flushEvery = 1, maxDeltas = 2)
    del.initIndex(idx)

    def drive(id: Long, batch: Seq[Pipelines.DedupDecision]): Unit = {
      var a: Seq[org.apache.spark.sql.Row] = null
      var b: Seq[org.apache.spark.sql.Row] = null
      ctl.finalizeBatch(batch.toDS(), id)(df => a = df.orderBy("doc_id").collect().toSeq)
      del.finalizeBatch(batch.toDS(), id)(df => b = df.orderBy("doc_id").collect().toSeq)
      assert(a == b, s"delta tier changed batch $id decisions:\n$a\nvs\n$b")
    }
    def dirs(root: String): Set[String] =
      new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName).toSet

    // batch 0: novel fpB → minor flush writes delta_v0, base untouched
    drive(0, Seq(Pipelines.DedupDecision(1L, "fpB", "new", None)))
    assert(dirs(rootD).contains("delta_v0") && !dirs(rootD).contains("index_v1"),
      s"first delta-mode flush must write a delta, not a base: ${dirs(rootD)}")
    // batch 1: fpB again — the DELTA-resident fp must classify
    // dup_of_corpus with the delta's keeper; fpC is novel → delta_v1
    drive(1, Seq(Pipelines.DedupDecision(2L, "fpB", "new", None),
                 Pipelines.DedupDecision(3L, "fpC", "new", None)))
    assert(dirs(rootD).contains("delta_v1") && !dirs(rootD).contains("index_v1"))
    assert(del.stats("delta_versions") == 2L)
    // batch 2: tier is at maxDeltas → MAJOR compaction folds base+deltas+
    // staging into index_v1 and EXCLUDES the folded deltas from the tier
    // (floor advance); their directories linger one compaction cycle for
    // in-flight lazy plans — the grace window RoundElevenSpec pins
    drive(2, Seq(Pipelines.DedupDecision(4L, "fpD", "new", None)))
    assert(dirs(rootD).contains("index_v1"), s"major fold expected: ${dirs(rootD)}")
    assert(del.stats("version") == 1L && del.stats("delta_versions") == 0L,
      s"folded deltas must leave the tier: ${del.stats}")
    // batch 3: base-resident and novel fps both behave; tier restarts
    drive(3, Seq(Pipelines.DedupDecision(5L, "fpB", "new", None),
                 Pipelines.DedupDecision(6L, "fpE", "new", None)))
    assert(del.stats("delta_versions") == 1L)
    // the logical index is identical between modes after all four batches
    val ci = ctl.currentIndex.collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    val di = del.currentIndex.collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(ci == di, s"logical index diverged:\n$ci\nvs\n$di")
    // restart over the delta root discovers base version AND the live tier
    val del2 = new Pipelines.MaintainedDedupIndex(sparkS, rootD, ttlMs = 1000,
      flushEvery = 1, maxDeltas = 2)
    assert(del2.stats("version") == 1L && del2.stats("delta_versions") == 1L)
    assert(del2.currentIndex.collect().map(r => r.getString(0) -> r.getLong(1)).toSet == ci)
  }

  test("version GC under a live classify pin: keep the pin, retire unpinned intermediates") {
    import graft.streaming.Pipelines
    val sparkS = spark
    import sparkS.implicits._
    val root = java.nio.file.Files.createTempDirectory("mdix_pin").toString
    val m = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1)
    m.initIndex(Seq(("fpA", 100L)).toDF("fp", "corpus_id"))
    // a classify plan pins version 0 for its query lifetime
    m.classify(Seq((1L, "some doc text")).toDF("doc_id", "text"))
    m.finalizeBatch(Seq(Pipelines.DedupDecision(1L, "fpB", "new", None)).toDS(), 0)(_ => ())
    m.finalizeBatch(Seq(Pipelines.DedupDecision(2L, "fpC", "new", None)).toDS(), 1)(_ => ())
    m.finalizeBatch(Seq(Pipelines.DedupDecision(3L, "fpD", "new", None)).toDS(), 2)(_ => ())
    assert(new java.io.File(root, "index_v0").exists(),
      "the classify stream's pinned query-start version must survive GC")
    assert(!new java.io.File(root, "index_v1").exists(),
      "unpinned intermediates must be retired even while a pin is live " +
        "(a floor-based GC would keep one dead copy per flush window)")
    assert(new java.io.File(root, "index_v2").exists())
    assert(new java.io.File(root, "index_v3").exists())
    assert(m.currentIndex.count() == 4)
  }

  test("near-dup delta tier: pair flushes, major fold, decisions match fold-every-flush") {
    import graft.streaming.Pipelines
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    val rootM = java.nio.file.Files.createTempDirectory("mndix_major").toString
    val rootD = java.nio.file.Files.createTempDirectory("mndix_delta").toString
    val corpus = Seq((1L, "aa bb cc dd ee ff gg hh")).toDF("doc_id", "text")
    val ctl = new Pipelines.MaintainedNearDupIndex(sparkS, rootM, flushEvery = 1)
    ctl.initIndex(corpus)
    val del = new Pipelines.MaintainedNearDupIndex(sparkS, rootD, flushEvery = 1,
      maxDeltas = 2)
    del.initIndex(corpus)

    def drive(id: Long, batch: Seq[(Long, String)]): Unit = {
      var a: Seq[org.apache.spark.sql.Row] = null
      var b: Seq[org.apache.spark.sql.Row] = null
      ctl.screenBatch(batch.toDF("doc_id", "text"), id)(df => a = df.collect().toSeq)
      del.screenBatch(batch.toDF("doc_id", "text"), id)(df => b = df.collect().toSeq)
      assert(a == b, s"delta tier changed batch $id decisions:\n$a\nvs\n$b")
    }
    def dirs(root: String): Set[String] =
      new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName).toSet

    // batch 0: novel doc → accepted → minor flush writes delta PAIR 0
    drive(0, Seq((10L, "zz yy xx ww vv uu tt ss")))
    assert(dirs(rootD).contains("dsig_v0") && dirs(rootD).contains("dtg_v0"),
      s"minor flush must write the delta pair: ${dirs(rootD)}")
    assert(!dirs(rootD).contains("sig_v1"), "base must be untouched by a minor flush")
    // batch 1: clone of the DELTA-resident doc → must match it (via the
    // delta signatures AND its shingles) identically in both modes;
    // nothing accepted → no new delta
    drive(1, Seq((11L, "zz yy xx ww vv uu tt ss")))
    assert(del.stats("delta_versions") == 1L)
    // batch 2: another novel doc → delta pair 1 (tier at maxDeltas)
    drive(2, Seq((12L, "m1 m2 m3 m4 m5 m6 m7 m8")))
    assert(del.stats("delta_versions") == 2L && del.stats("version") == 0L)
    // batch 3: novel → MAJOR fold into sig_v1/tg_v1; the folded pairs
    // leave the TIER (floor advance) and their dirs linger one compaction
    // cycle (the grace window RoundElevenSpec pins)
    drive(3, Seq((13L, "n1 n2 n3 n4 n5 n6 n7 n8")))
    assert(dirs(rootD).contains("sig_v1") && dirs(rootD).contains("tg_v1"),
      s"major fold expected: ${dirs(rootD)}")
    assert(del.stats("version") == 1L && del.stats("delta_versions") == 0L,
      s"folded delta pairs must leave the tier: ${del.stats}")
    // logical relations identical between modes
    val cs = ctl.currentSignatures.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    val ds = del.currentSignatures.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(cs == ds, "logical signature relations diverged")
    assert(ctl.currentShingles.select("doc_id").collect().map(_.getLong(0)).toSet ==
      del.currentShingles.select("doc_id").collect().map(_.getLong(0)).toSet)
    // restart discovers base + (empty) tier
    val del2 = new Pipelines.MaintainedNearDupIndex(sparkS, rootD, flushEvery = 1,
      maxDeltas = 2)
    assert(del2.stats("version") == 1L && del2.stats("delta_versions") == 0L)
  }

  test("near-dup delta tier: the MaxBucket verdict counts base and delta members together") {
    import graft.streaming.Pipelines
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    // base: a clone family exactly AT the cap — every band bucket has
    // MaxBucket members, so a base-only window ADMITS them all
    val cap = graft.functions.Dedup.MaxBucket
    val text = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"
    val corpus = (0 until cap).map(i => (i.toLong, text)).toDF("doc_id", "text")
    // control root WITHOUT a delta: a clone batch matches the family
    val rootC = java.nio.file.Files.createTempDirectory("mndix_capc").toString
    val ctl = new Pipelines.MaintainedNearDupIndex(sparkS, rootC, flushEvery = 100,
      maxDeltas = 2)
    ctl.initIndex(corpus)
    var matched: Long = -1
    ctl.screenBatch(Seq((9000L, text)).toDF("doc_id", "text"), 0)(df =>
      matched = df.head().getLong(1))
    assert(matched == cap.toLong, s"at the cap the family must still match: $matched")
    // delta root: one extra member in EVERY family bucket arrives via the
    // delta tier (hand-written pair — discovery is listing-based), tipping
    // each combined count to cap+1 > cap. The screen must now drop every
    // bucket: a base-only window would still admit the base rows and
    // report cap matches — the wrong answer the correction exists for.
    val rootD = java.nio.file.Files.createTempDirectory("mndix_capd").toString
    val del = new Pipelines.MaintainedNearDupIndex(sparkS, rootD, flushEvery = 100,
      maxDeltas = 2)
    del.initIndex(corpus)
    graft.functions.Dedup.minhashSignatures(Seq((0L, text)).toDF("doc_id", "text"))
      .select(col("band"), col("min_hash"), lit(999999L).as("doc_id"))
      .write.parquet(s"$rootD/dsig_v0")
    Seq((999999L, Seq("zz1 zz2 zz3"))).toDF("doc_id", "tg")
      .write.parquet(s"$rootD/dtg_v0")
    assert(del.stats("delta_versions") == 1L)
    var n: Long = -1
    del.screenBatch(Seq((9001L, text)).toDF("doc_id", "text"), 0)(df =>
      n = df.head().getLong(1))
    assert(n == 0L,
      s"every bucket is at cap+1 with the delta counted — candidates must drop, got $n")
  }

  test("near-dup flush tolerates a half-staged crash remnant and folds only complete docs") {
    import graft.streaming.Pipelines
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    val root = java.nio.file.Files.createTempDirectory("mndix_orphan").toString
    val n = new Pipelines.MaintainedNearDupIndex(sparkS, root, flushEvery = 1)
    n.initIndex(Seq((1L, "aa bb cc dd ee ff")).toDF("doc_id", "text"))
    // a crash between the two staging appends leaves one relation without
    // the other (worst case: signatures without shingles — folding those
    // would make later verifies silently admit real near-dups). flush must
    // not throw, must not fold the orphan, and must clear staging.
    Seq((0, 1L, 99L)).toDF("band", "min_hash", "doc_id")
      .write.parquet(s"$root/sig_staging")
    n.flush()
    assert(!new java.io.File(root, "sig_staging").exists(), "orphan staging cleared")
    assert(!new java.io.File(root, "sig_v1").exists(), "no fold from an incomplete pair")
    assert(n.currentSignatures.filter(col("doc_id") === 99L).count() == 0)
    // the lifecycle continues normally afterwards
    n.screenBatch(Seq((2L, "zz yy xx ww vv uu")).toDF("doc_id", "text"), 0)(_ => ())
    assert(n.currentShingles.select("doc_id").distinct().count() == 2)
    assert(n.currentSignatures.filter(col("doc_id") === 99L).count() == 0,
      "the orphan's rows must never reach a folded version")
    // lifecycle gauges: the orphan drop folded nothing; the real batch did
    val st = n.stats
    assert(st("version") == 1L && st("staged_batches") == 1L && st("flushes") == 1L,
      s"unexpected lifecycle stats: $st")
  }

  test("torn version dirs are invisible: discovery resumes at the last committed version") {
    import graft.streaming.Pipelines
    val sparkS = spark
    import sparkS.implicits._
    val root = java.nio.file.Files.createTempDirectory("mdix_torn").toString
    val m = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1)
    m.initIndex(Seq(("fpA", 100L)).toDF("fp", "corpus_id"))
    m.finalizeBatch(Seq(Pipelines.DedupDecision(1L, "fpB", "new", None)).toDS(), 0)(_ => ())
    assert(m.stats("version") == 1L)
    // a crash mid-writeIndex leaves index_v2 holding only _temporary/ —
    // a restart must resume at v1, not wedge on the torn dir
    new java.io.File(root, "index_v2/_temporary").mkdirs()
    val m2 = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1)
    assert(m2.stats("version") == 1L,
      "a torn version directory must not be counted as committed")
    assert(m2.currentIndex.count() == 2L)
    // a torn DELTA is invisible too, and the next minor flush overwrites it
    new java.io.File(root, "delta_v0/_temporary").mkdirs()
    val m3 = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000,
      flushEvery = 1, maxDeltas = 2)
    assert(m3.stats("delta_versions") == 0L)
    m3.finalizeBatch(Seq(Pipelines.DedupDecision(2L, "fpC", "new", None)).toDS(), 0)(_ => ())
    assert(m3.stats("delta_versions") == 1L, "the minor flush must heal the torn delta")
    assert(m3.currentIndex.count() == 3L)
    // near-dup: a torn dsig half keeps the whole PAIR invisible (the
    // committed dtg alone must not complete it)
    val root2 = java.nio.file.Files.createTempDirectory("mndix_torn").toString
    val n = new Pipelines.MaintainedNearDupIndex(sparkS, root2, flushEvery = 1,
      maxDeltas = 2)
    n.initIndex(Seq((1L, "aa bb cc dd ee ff")).toDF("doc_id", "text"))
    Seq((50L, Seq("aa bb cc"))).toDF("doc_id", "tg").write.parquet(s"$root2/dtg_v0")
    new java.io.File(root2, "dsig_v0/_temporary").mkdirs()
    assert(n.stats("delta_versions") == 0L,
      "a pair with a torn half must stay invisible")
    assert(n.currentSignatures
      .filter(org.apache.spark.sql.functions.col("doc_id") === 50L).count() == 0L)
    // stored DSIR model: a torn v=N is skipped by load and healed by save
    val mroot = java.nio.file.Files.createTempDirectory("dsir_torn").toString
    graft.functions.Sampling.saveDsirModel(
      Seq((0, 5L)).toDF("bucket", "lq"), mroot)
    new java.io.File(mroot, "v=1/_temporary").mkdirs()
    assert(graft.functions.Sampling.loadDsirModel(sparkS, mroot).count() == 1L)
    val v = graft.functions.Sampling.saveDsirModel(
      Seq((0, 9L)).toDF("bucket", "lq"), mroot)
    assert(v == 1, "save must heal the torn target and write there")
    assert(graft.functions.Sampling.loadDsirModel(sparkS, mroot)
      .head().getLong(1) == 9L)
  }

  test("replay after an in-batch flush is idempotent: keepers never match themselves") {
    import graft.streaming.Pipelines
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    // exact dedup: a crash between the in-batch flush and the checkpoint
    // commit replays the batch against an index already holding its own
    // acceptances — the keeper must re-emit as its original decision, not
    // as a dup_of_corpus of itself
    val root = java.nio.file.Files.createTempDirectory("mdix_replay").toString
    val m = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1)
    m.initIndex(Seq(("fpA", 100L)).toDF("fp", "corpus_id"))
    val batch = Seq(Pipelines.DedupDecision(1L, "fpB", "new", None),
                    Pipelines.DedupDecision(2L, "fpB", "dup_in_batch", Some(1L))).toDS()
    def run(): Map[Long, (String, Option[Long])] = {
      var out: Map[Long, (String, Option[Long])] = null
      m.finalizeBatch(batch, 0)(df => out = df.collect().map(r =>
        r.getLong(0) -> ((r.getString(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap)
      out
    }
    val first = run()
    assert(first(1L) == (("new", None)) && first(2L) == (("dup_in_batch", Some(1L))))
    val replay = run()
    assert(replay(1L) == (("new", None)),
      s"the replayed keeper must not become a dup of itself: ${replay(1L)}")
    assert(replay(2L)._2 == Some(1L),
      "the replayed in-batch dup must keep the same keeper (label may shift)")
    assert(m.currentIndex.filter(col("fp") === "fpB").count() == 1L,
      "the re-staged replay must fold idempotently")
    // near-dup: the replayed accepted doc must not match its own stored
    // copy — it re-accepts, and the staging fold is idempotent
    val root2 = java.nio.file.Files.createTempDirectory("mndix_replay").toString
    val n = new Pipelines.MaintainedNearDupIndex(sparkS, root2, flushEvery = 1)
    n.initIndex(Seq((1L, "aa bb cc dd ee ff")).toDF("doc_id", "text"))
    val nb = Seq((10L, "zz yy xx ww vv uu")).toDF("doc_id", "text")
    var a: Seq[org.apache.spark.sql.Row] = null
    n.screenBatch(nb, 0)(df => a = df.collect().toSeq)
    assert(a.head.getLong(1) == 0L, "first pass accepts the novel doc")
    var b: Seq[org.apache.spark.sql.Row] = null
    n.screenBatch(nb, 0)(df => b = df.collect().toSeq)
    assert(b == a, s"the replay must not match the doc's own stored copy: $b")
    assert(n.currentShingles.filter(col("doc_id") === 10L).count() == 1L)
  }

  test("initIndex refuses a root that already holds committed versions") {
    import graft.streaming.Pipelines
    val sparkS = spark
    import sparkS.implicits._
    val root = java.nio.file.Files.createTempDirectory("mdix_reseed").toString
    val m = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1)
    m.initIndex(Seq(("fpA", 100L)).toDF("fp", "corpus_id"))
    intercept[IllegalStateException] {
      m.initIndex(Seq(("fpB", 200L)).toDF("fp", "corpus_id"))
    }
    val root2 = java.nio.file.Files.createTempDirectory("mndix_reseed").toString
    val n = new Pipelines.MaintainedNearDupIndex(sparkS, root2, flushEvery = 1)
    n.initIndex(Seq((1L, "aa bb cc dd ee ff")).toDF("doc_id", "text"))
    intercept[IllegalStateException] {
      n.initIndex(Seq((2L, "gg hh ii jj kk ll")).toDF("doc_id", "text"))
    }
  }

  test("classify pins survive restart-in-place: a new instance's GC keeps the old stream's version") {
    import graft.streaming.Pipelines
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val root = java.nio.file.Files.createTempDirectory("mdix_pins").toString
    val a = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1)
    a.initIndex(Seq(("fpA", 100L)).toDF("fp", "corpus_id"))
    // a classify plan built from instance A pins v0 (the stream's static
    // side file listing) — the pin registry is per ROOT, not per instance
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    a.classify(in.toDF().toDF("doc_id", "text"))
    // restart-in-place: instance B drives the index two majors ahead; its
    // GC must still see A's pin and keep v0 on disk
    val b = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000, flushEvery = 1)
    b.finalizeBatch(Seq(Pipelines.DedupDecision(1L, "fpB", "new", None)).toDS(), 0)(_ => ())
    b.finalizeBatch(Seq(Pipelines.DedupDecision(2L, "fpC", "new", None)).toDS(), 1)(_ => ())
    b.finalizeBatch(Seq(Pipelines.DedupDecision(3L, "fpD", "new", None)).toDS(), 2)(_ => ())
    assert(b.stats("version") == 3L)
    assert(new java.io.File(root, "index_v0").exists(),
      "the old instance's classify pin must protect v0 from the new instance's GC")
    a.releaseClassifyPins()
  }

  test("12-batch delta-mode soak: the maintained index converges to the batch-recompute truth") {
    import graft.streaming.Pipelines
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    val root = java.nio.file.Files.createTempDirectory("mdix_soak").toString
    val corpus = Seq("fpA" -> 100L, "fpB" -> 101L, "fpC" -> 102L)
    val m = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 1000,
      flushEvery = 2, maxDeltas = 2)
    m.initIndex(corpus.toDF("fp", "corpus_id"))
    // deterministic mixed traffic: every batch carries corpus dups, dups
    // of earlier batches' acceptances, in-batch dups, and novel fps; doc
    // ids strictly increase, so the stream's first-wins keeper equals the
    // batch recompute's min-id keeper
    val rng = new scala.util.Random(7)
    var nextId = 1000L
    val fpsSeen = scala.collection.mutable.ArrayBuffer[String]()
    val allDocs = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val decisions = scala.collection.mutable.Map[Long, (String, Option[Long])]()
    val firstOf = scala.collection.mutable.Map[String, Long]()
    for (b <- 0 until 12) {
      val docs = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      def add(fp: String): Unit = { docs += ((nextId, fp)); nextId += 1 }
      add(corpus(rng.nextInt(3))._1)                   // corpus dup
      if (fpsSeen.nonEmpty) add(fpsSeen(rng.nextInt(fpsSeen.length))) // earlier acceptance dup
      val novel = s"fpN${b}_${rng.nextInt(1000)}"
      add(novel); add(novel)                            // novel + in-batch dup
      fpsSeen += novel
      allDocs ++= docs
      // feed = what classify's first-wins keyed state would emit (a
      // never-expiring state, emulated by firstOf): first occurrence ever
      // is "new", later ones dup_in_batch at the first id; finalizeBatch
      // then overrides against the stored index (corpus fps, flushed
      // acceptances) exactly as in the real wiring
      val ds = docs.toSeq.map { case (id, fp) =>
        firstOf.get(fp) match {
          case Some(first) => Pipelines.DedupDecision(id, fp, "dup_in_batch", Some(first))
          case None =>
            firstOf(fp) = id
            Pipelines.DedupDecision(id, fp, "new", None)
        }
      }.toDS()
      m.finalizeBatch(ds, b) { out =>
        out.collect().foreach(r => decisions(r.getLong(0)) =
          (r.getString(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      }
    }
    m.flush() // drain any staged tail past the last flush boundary
    // ground truth: min id per fp over corpus ∪ every doc ever screened
    val truth = (corpus.map { case (fp, id) => (id, fp) } ++ allDocs)
      .groupBy(_._2).map { case (fp, xs) => fp -> xs.map(_._1).min }
    val got = m.currentIndex.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == truth, s"index diverged from batch recompute:\n$got\nvs\n$truth")
    // every decision names the truth keeper (or none, for the keeper itself)
    for ((id, fp) <- allDocs) {
      val (status, dupOf) = decisions(id)
      if (truth(fp) == id)
        assert(status == "new" && dupOf.isEmpty, s"doc $id ($fp): $status/$dupOf")
      else
        assert(dupOf.contains(truth(fp)),
          s"doc $id ($fp) must point at keeper ${truth(fp)}, got $status/$dupOf")
    }
    assert(m.stats("flushes") >= 6L)
  }

  test("8-batch near-dup delta-mode soak: acceptance follows flush visibility exactly") {
    import graft.streaming.Pipelines
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    val root = java.nio.file.Files.createTempDirectory("mndix_soak").toString
    // distinct corpus families (no cross-matches at Jaccard 0.5)
    val corpusTexts = Seq(
      100L -> "aa bb cc dd ee ff gg",
      101L -> "hh ii jj kk ll mm nn",
      102L -> "oo pp qq rr ss tt uu")
    val m = new Pipelines.MaintainedNearDupIndex(sparkS, root, flushEvery = 2,
      maxDeltas = 2)
    m.initIndex(corpusTexts.toDF("doc_id", "text"))
    // visibility rule the screen implements: a batch doc matches only
    // what is FLUSHED (base or delta) at screen time — corpus docs
    // always, earlier acceptances only once their flush boundary passed.
    // The test replays that rule as ground truth.
    val rng = new scala.util.Random(11)
    var nextId = 2000L
    var visible: Map[Long, String] = corpusTexts.toMap // flushed docs
    var pendingFlush: List[(Long, String)] = Nil       // staged, not flushed
    val novelPool = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    for (b <- 0 until 8) {
      val docs = scala.collection.mutable.ArrayBuffer[(Long, String, Option[Long])]()
      def add(text: String, expect: Option[Long]): Long = {
        val id = nextId; nextId += 1
        docs += ((id, text, expect)); id
      }
      // clone of a corpus doc: always matched, never accepted
      val (cid, ctext) = corpusTexts(rng.nextInt(3))
      add(ctext, Some(cid))
      // clone of an earlier acceptance: matched iff its copy is FLUSHED
      if (novelPool.nonEmpty) {
        val (nid, ntext) = novelPool(rng.nextInt(novelPool.length))
        add(ntext, if (visible.contains(nid)) Some(nid) else None)
      }
      // a brand-new family: never matched
      val fresh = s"n${b}a n${b}b n${b}c n${b}d n${b}e n${b}f"
      val fid = add(fresh, None)
      novelPool += ((fid, fresh))
      var out: Map[Long, (Long, Option[Long])] = null
      m.screenBatch(docs.toSeq.map(d => (d._1, d._2)).toDF("doc_id", "text"), b) { df =>
        out = df.collect().map(r => r.getLong(0) ->
          ((r.getLong(1), if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
      }
      for ((id, text, expect) <- docs) {
        val (n, best) = out(id)
        expect match {
          case Some(k) => assert(n >= 1L && best.contains(k),
            s"batch $b doc $id must match flushed copy $k, got ($n, $best)")
          case None => assert(n == 0L,
            s"batch $b doc $id must be accepted (nothing visible matches), got ($n, $best)")
        }
      }
      // maintain the ground-truth visibility: accepted docs stage now...
      pendingFlush :::= docs.toSeq.filter(_._3.isEmpty).map(d => (d._1, d._2)).toList
      // ...and become visible at the flush boundary (flushEvery = 2)
      if ((b + 1) % 2 == 0) { visible ++= pendingFlush; pendingFlush = Nil }
    }
    m.flush()
    // the stored relations hold exactly corpus ∪ accepted
    val expectIds = (corpusTexts.map(_._1) ++
      (visible.keySet -- corpusTexts.map(_._1).toSet) ++ pendingFlush.map(_._1)).toSet
    val gotIds = m.currentShingles.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotIds == (visible.keySet ++ pendingFlush.map(_._1)),
      s"stored docs diverged: $gotIds vs ${visible.keySet ++ pendingFlush.map(_._1)}; expect set $expectIds")
    assert(m.currentSignatures.select("doc_id").distinct().count() == gotIds.size)
    assert(m.stats("flushes") >= 4L)
  }

  test("x37b: collectWordCounts prunes by min frequency and caps loudly") {
    val all = Bpe.collectWordCounts(spark, sf0001).toMap
    assert(all.nonEmpty)
    // minFreq filter is exactly a count filter on the same relation
    val pruned = Bpe.collectWordCounts(spark, sf0001, minFreq = 2L).toMap
    assert(pruned == all.filter(_._2 >= 2L))
    // cap smaller than the vocabulary → loud bail-out, not truncation
    val e = intercept[IllegalStateException] {
      Bpe.collectWordCounts(spark, sf0001, maxWords = 5)
    }
    assert(e.getMessage.contains("driver cap"))
    assert(e.getMessage.contains("minFreq"))
    // cap equal to the vocabulary → fine (boundary: limit is cap+1)
    assert(Bpe.collectWordCounts(spark, sf0001, maxWords = all.size).length == all.size)
  }
}
