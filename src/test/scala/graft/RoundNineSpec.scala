package graft

import org.apache.spark.sql.functions._
import graft.functions.Bpe

/** Round-9 additions: BPE at real vocabulary scale — the one-collect JVM
  * trainer (x37b) and the native fold-once merge-apply expression (x55b,
  * and x55's rewired apply path). */
class RoundNineSpec extends SparkSpec {

  private lazy val corpusCounts: Map[String, Long] =
    Bpe.collectWordCounts(spark, sf0001).toMap

  test("x37b: incremental JVM trainer matches the reference replay to exhaustion") {
    val want = Bpe.referenceMerges(corpusCounts, Bpe.ScaledMergeSteps)
    val got = Bpe.trainJvmMerges(corpusCounts.toSeq, Bpe.ScaledMergeSteps)
    assert(got == want, s"first divergence: ${got.zip(want).indexWhere(p => p._1 != p._2)}")
    // the corpus exhausts well under the cap AND well past the 8-round form
    assert(got.length > Bpe.MergeSteps && got.length < Bpe.ScaledMergeSteps,
      s"trained ${got.length} merges")
  }

  test("x37b: first rounds equal the distributed loop's (declared-oracle prefix)") {
    val dist = Bpe.x37BpeMerges(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    val jvm = Bpe.trainJvmMerges(corpusCounts.toSeq, Bpe.MergeSteps)
    assert(dist.toSeq == jvm)
  }

  test("x37b: >=1000 merges train in zero Spark jobs on a rich synthetic vocabulary") {
    // deterministic synthetic vocabulary large enough not to exhaust:
    // 400 distinct 26-letter words over a 26-symbol alphabet
    val rnd = new scala.util.Random(9)
    val counts = (0 until 400).map { i =>
      (Seq.fill(26)(('a' + rnd.nextInt(26)).toChar).mkString, (i % 7 + 1).toLong)
    }.distinct
    val t0 = System.nanoTime()
    val merges = Bpe.trainJvmMerges(counts, 1200)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(merges.length >= 1000, s"only ${merges.length} merges before exhaustion")
    assert(merges.map(_._1) == merges.indices.toSeq) // dense, ordered steps
    assert(secs < 30.0, f"JVM trainer took $secs%.1f s")
    // spot-check parity with the quadratic reference on a prefix
    val want = Bpe.referenceMerges(counts.toMap, 120)
    assert(merges.take(120) == want)
  }

  test("x37b: the declared query is O(1) Spark jobs") {
    val (rows, jobs) = jobsIn("x37b")(Bpe.x37bBpeMergesScaled(spark, sf0001).collect())
    assert(rows.length > Bpe.MergeSteps)
    // one word-count collect + the local-relation collect (AQE splits each
    // into a few jobs); the 2-jobs-PER-MERGE distributed loop would need
    // ~180 at this corpus's exhaustion point
    assert(jobs > 0 && jobs <= 8, s"$jobs jobs")
  }

  test("bpe_apply: native expression matches the chained-HOF fold and a JVM replay") {
    val sparkS = spark
    import sparkS.implicits._
    val merges = Bpe.trainJvmMerges(corpusCounts.toSeq, Bpe.ScaledMergeSteps)
      .map(m => (m._2, m._3))
    val words = corpusCounts.keySet.toSeq.sorted.toDF("w")
    val native = Bpe.applyMerges(words, merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    // HOF twin on a prefix (its plan grows per merge — demonstration scale only)
    val hof = Bpe.applyMergesHof(words, merges.take(12))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    def replay(w: String, ms: Seq[(String, String)]): List[String] = {
      var cur = w.codePoints().toArray.toList.map(cp => new String(Character.toChars(cp)))
      for ((l, r) <- ms) {
        val acc = scala.collection.mutable.ArrayBuffer[String]()
        for (x <- cur)
          if (acc.nonEmpty && acc.last == l && x == r) { acc.remove(acc.length - 1); acc += (l + r) }
          else acc += x
        cur = acc.toList
      }
      cur
    }
    corpusCounts.keySet.foreach { w =>
      assert(native(w) == replay(w, merges), s"native vs replay on '$w'")
      assert(hof(w) == replay(w, merges.take(12)), s"hof vs replay on '$w'")
    }
  }

  test("bpe_apply: non-BMP symbols stay whole through the native expression") {
    val sparkS = spark
    import sparkS.implicits._
    graft.plans.GraftExtensions.register(spark)
    val deseret = new String(Character.toChars(0x10400))
    val w = deseret + deseret + "b"
    val got = Seq(w).toDF("w")
      .select(Bpe.bpeApply(col("w"), Seq((deseret, deseret))).as("sym"))
      .collect()(0).getSeq[String](0).toList
    assert(got == List(deseret + deseret, "b"))
  }

  test("GraftCaches.release drops the session's cache entries and unpersists relations") {
    // populate caches of several families
    val sig = graft.functions.Dedup.cachedSignatures(spark, sf0001, 8, fast = false)
    sig.count()
    Bpe.cachedMerges(spark, sf0001)
    graft.functions.Sampling.x77DsirSelect(spark, sf0001).count()
    assert(GraftCaches.entriesFor(spark) > 0)
    assert(sig.storageLevel.useMemory || sig.storageLevel.useDisk)
    GraftCaches.release(spark)
    assert(GraftCaches.entriesFor(spark) == 0)
    assert(sig.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    // consumers rebuild transparently after a release
    val again = graft.functions.Dedup.cachedSignatures(spark, sf0001, 8, fast = false)
    assert(again.count() == sig.count())
    assert(GraftCaches.entriesFor(spark) > 0)
  }

  test("u01/u02: the multibyte slice really is multibyte, and stays deterministic") {
    val u1 = graft.functions.Text.u01Utf8Tokens(spark, sf0001).collect()
    assert(u1.length == 500)
    // every doc gains multibyte chars: byte length strictly exceeds code points
    u1.foreach(r => assert(r.getInt(2) > r.getInt(1), s"doc ${r.getLong(0)}"))
    val u2a = graft.functions.Text.u02Utf8Xxhash(spark, sf0001).collect()
    val u2b = graft.functions.Text.u02Utf8Xxhash(spark, sf0001).collect()
    assert(u2a.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      u2b.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // and the projection changed the hashed bytes vs the ASCII corpus
    val ascii = Tables.documents(spark, sf0001)
      .select(col("doc_id"), xxhash64(lower(col("text"))).as("h")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(u2a.forall(r => ascii(r.getLong(0)) != r.getLong(1)))
  }

  test("x55b: full-vocab tokenization matches a JVM train+apply replay") {
    val merges = Bpe.referenceMerges(corpusCounts, Bpe.ScaledMergeSteps)
      .map(m => (m._2, m._3))
    def applyJvm(w: String): Int = {
      var sym = w.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp)))
      for ((l, r) <- merges) {
        val acc = scala.collection.mutable.ArrayBuffer[String]()
        for (x <- sym)
          if (acc.nonEmpty && acc.last == l && x == r) { acc.remove(acc.length - 1); acc += (l + r) }
          else acc += x
        sym = acc.toVector
      }
      sym.length
    }
    val docToks = Tables.documents(spark, sf0001)
      .select(col("doc_id"), graft.functions.Text.tokens(col("text")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1))
    val want = docToks.map { case (id, ts) =>
      id -> ((ts.length.toLong, ts.map(applyJvm(_).toLong).sum))
    }.toMap
    val got = Bpe.x55bBpeTokenizeFull(spark, sf0001).collect()
    assert(got.length == docToks.length)
    got.foreach { r =>
      assert(want(r.getLong(0)) == ((r.getLong(1), r.getLong(2))), s"doc ${r.getLong(0)}")
    }
    // the full vocabulary tokenizes at least as coarsely as the 8-merge one
    val base = Bpe.x55BpeTokenize(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    got.foreach(r => assert(r.getLong(2) <= base(r.getLong(0))))
  }
}
