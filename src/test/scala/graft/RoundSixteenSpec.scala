package graft

import org.apache.spark.sql.functions._

/** Round-16: serving-path and operational hardening.
  *
  *  - Takedown request identity is collision-resistant across processes
  *    and reboots (wall-clock + random, not nanoTime's arbitrary-origin
  *    monotonic clock that repeats across machines).
  *  - Ivfadc scan pruning materializes the probe relation ONCE: the
  *    `isin` filter and the broadcast join side read the same collected
  *    set, so a nondeterministic `queries` input cannot make them
  *    disagree, and callers that know their batch size skip the guard
  *    count (one fewer driver job per serve).
  *  - A bulk takedown whose id-set parquet is unreadable (immutability
  *    contract violated) dead-letters after bounded retries instead of
  *    wedging the queue's ingest forever.
  */
class RoundSixteenSpec extends SparkSpec {
  import graft.streaming.Service
  import graft.streaming.Pipelines.Ccd

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // ------------------------------------------------------ request identity

  test("freshRequestId: same-tick draws from concurrent callers carry entropy — collisions need the same millisecond AND the same 1-in-2^20 draw") {
    // simulate "two processes posting in the same tick" 500 times: each
    // trial takes two back-to-back draws (same millisecond with near
    // certainty); with 20 random low bits a single collision is a
    // 1-in-10^6 event per trial, so even ONE collision across 500 trials
    // is overwhelming evidence the random component is missing (the
    // nanoTime default this replaces collided deterministically whenever
    // two JVMs shared a tick since boot)
    val collisions = (0 until 500).count { _ =>
      Service.freshRequestId() == Service.freshRequestId()
    }
    assert(collisions == 0, s"$collisions same-tick requestId collisions in 500 trials")
    // and the id still orders by wall clock at coarse grain (the high
    // bits are millis), so log listings stay roughly chronological
    val a = Service.freshRequestId()
    Thread.sleep(5)
    val b = Service.freshRequestId()
    assert(b > a, "requestIds must stay coarsely time-ordered (millis in the high bits)")
  }

  // ------------------------------------------------- Ivfadc pruning parity

  test("Ivfadc scan pruning: pruned and unpruned paths agree exactly, and knownQueryCount skips the guard without changing results") {
    import graft.functions.Ivfadc
    val emb = graft.Tables.embeddings(spark, sf0001)
    val model = Ivfadc.train(emb, nlist = 4, m = 4, k = 8)
    val encoded = Ivfadc.encode(emb, model)
    val queries = emb.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Int)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSeq.sorted
    // default: guard count runs, batch is request-sized -> pruned
    val pruned = rows(Ivfadc.search(encoded, queries, model, k = 3, nprobe = 2))
    // knownQueryCount in range: pruned WITHOUT the guard job
    val known = rows(Ivfadc.search(encoded, queries, model, k = 3, nprobe = 2,
      knownQueryCount = Some(10L)))
    // knownQueryCount past the bound: pruning disabled, full scan
    val full = rows(Ivfadc.search(encoded, queries, model, k = 3, nprobe = 2,
      knownQueryCount = Some(Ivfadc.MaxPruneQueries + 1L)))
    assert(pruned.nonEmpty, "search must return rows")
    assert(pruned == known, "knownQueryCount must not change results")
    assert(pruned == full, "scan pruning must not change results")
  }

  // ------------------------------------------- doc_id→fp takedown sidecar

  test("dedup takedown sidecar: written at seed/major/shadow boundaries, GC'd with the base keep set, resolve falls back when it is lost, bulk-sized requests take the semi-join path") {
    import graft.streaming.Pipelines
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("dedup_sidecar")
    def dir(name: String) = new java.io.File(s"$root/$name")
    val idx = new Pipelines.MaintainedDedupIndex(spark, root,
      ttlMs = 60000L, flushEvery = 100)
    // seed writes ids_v0 alongside index_v0, and its content IS the base
    // projection (every (corpus_id, fp) pair, nothing else)
    idx.initIndex((1L to 2000L).map(i => (s"fp$i", i)).toDF("fp", "corpus_id"))
    assert(dir("ids_v0").isDirectory, "seed must write the sidecar")
    val side0 = sparkS.read.parquet(s"$root/ids_v0")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(side0 == (1L to 2000L).map(i => (i, s"fp$i")).toSet,
      "sidecar must be exactly the base's (doc_id, fp) projection")
    // the layout prunes: a pushed In(doc_id) reaches the parquet scan
    val plan = sparkS.read.parquet(s"$root/ids_v0")
      .filter(col("doc_id").isin(5L, 7L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(doc_id"),
      s"In(doc_id, ...) must push into the sidecar scan:\n$plan")
    // driver-sized resolve (isin path)
    idx.deleteIds(Seq(2L).toDF("doc_id"), 0)
    assert(idx.stats("n_deleted") == 1L)
    // BULK-sized resolve (past MaxLocalResolveKeys -> semi-join path)
    idx.deleteIds((100L until 1600L).toDF("doc_id"), 1)
    assert(idx.stats("n_deleted") == 1501L,
      s"bulk resolve must land all 1500: ${idx.stats("n_deleted")}")
    // crash window: the sidecar is LOST — resolve must fall back to the
    // base scan with identical semantics
    def deleteDir(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteDir)
      f.delete(); ()
    }
    deleteDir(dir("ids_v0"))
    idx.deleteIds(Seq(3L).toDF("doc_id"), 2)
    assert(idx.stats("n_deleted") == 1502L,
      "a lost sidecar must degrade to the base-scan fallback, not to a miss")
    // MAJOR flush rewrites base + sidecar; two majors retire ids_v0's slot
    // under the keep-current-plus-previous rule
    idx.flush()
    assert(dir("ids_v1").isDirectory, "a major must write the new sidecar")
    val live1 = sparkS.read.parquet(s"$root/ids_v1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!live1.exists(id => id == 2L || id == 3L || (id >= 100L && id < 1600L)),
      "the new sidecar must not carry taken-down docs")
    // post-major resolve rides the NEW sidecar
    idx.deleteIds(Seq(1700L).toDF("doc_id"), 3)
    idx.flush()
    assert(dir("ids_v2").isDirectory)
    assert(!dir("ids_v0").exists, "retired versions' sidecars must GC")
    idx.close()

    // SHADOW major: the off-lock build swaps a sidecar in with the base
    val root2 = tmp("dedup_sidecar_shadow")
    val idx2 = new Pipelines.MaintainedDedupIndex(spark, root2,
      ttlMs = 60000L, flushEvery = 100, maxDeltas = 8)
    idx2.initIndex(Seq(("fpX", 10L), ("fpY", 11L)).toDF("fp", "corpus_id"))
    idx2.finalizeBatch(
      Seq(Pipelines.DedupDecision(12L, "fpZ", "new", None)).toDS(), 0)(_ => ())
    idx2.flush() // minor: delta, base untouched
    assert(idx2.compactBase(), "shadow major must fold the live tier")
    assert(new java.io.File(s"$root2/ids_v1").isDirectory,
      "the shadow swap must install the new sidecar")
    val side2 = sparkS.read.parquet(s"$root2/ids_v1")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(side2 == Set((10L, "fpX"), (11L, "fpY"), (12L, "fpZ")),
      s"shadow sidecar must project the folded base: $side2")
    idx2.deleteIds(Seq(12L).toDF("doc_id"), 1)
    assert(idx2.stats("n_deleted") == 1L, "resolve must ride the swapped sidecar")
    idx2.close()
  }

  // ------------------------------------------------ control-log compaction

  test("control-log compaction: lifecycle folds to latest-per-key, executed takedowns drop, pending ones survive byte-for-byte; below the bound it is a no-op") {
    import graft.streaming.TakedownDoneLog
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("ctl_compact")
    val (controlDir, ckpt) = (s"$root/control", s"$root/ckpt")
    (0 until 40).foreach(i => Service.appendControl(sparkS, controlDir,
      Ccd("r1", if (i % 2 == 0) "inactive" else "active", "Q.A", i)))
    Service.appendControl(sparkS, controlDir, Ccd("r2", "active", "Q.B", 5))
    Service.appendTakedown(sparkS, controlDir, "Q.A", Seq(7L), requestId = 1L)
    Service.appendTakedown(sparkS, controlDir, "Q.A", Seq(8L), requestId = 2L)
    Service.appendTakedownBulk(sparkS, controlDir, "Q.A", s"$root/ids", requestId = 3L)
    val done = new TakedownDoneLog(sparkS.sparkContext.hadoopConfiguration, ckpt)
    done.record("Q.A", Seq("takedown:Q.A:7:1"))
    def dataFiles(): Array[java.io.File] =
      new java.io.File(controlDir).listFiles().filter(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(dataFiles().length > 40, "precondition: a genesis-deep log")
    assert(Service.compactControlLog(sparkS, controlDir, ckpt, maxFiles = 10))
    assert(dataFiles().length <= 2,
      s"compaction must leave O(state) files: ${dataFiles().length}")
    val back = sparkS.read.schema(Service.CcdSchema).parquet(controlDir)
      .as[Ccd].collect()
    assert(back.count(_.key == "r1") == 1 &&
      back.find(_.key == "r1").get == Ccd("r1", "active", "Q.A", 39, None),
      s"lifecycle must fold to the latest-by-offset row: ${back.toSeq}")
    assert(back.exists(_ == Ccd("r2", "active", "Q.B", 5, None)))
    val reqs = back.filter(_.status == "takedown")
    assert(reqs.map(_.key).toSet == Set("takedown:Q.A:8:2", "takedown-bulk:Q.A:3"),
      s"executed requests drop, PENDING ones survive: ${reqs.toSeq}")
    assert(reqs.find(_.key == "takedown-bulk:Q.A:3").get.error.contains(s"$root/ids"),
      "the bulk request's id-set pointer must survive the fold intact")
    // below the bound: no-op (a small log replays fine as-is)
    assert(!Service.compactControlLog(sparkS, controlDir, ckpt, maxFiles = 10))
    // CRASH WINDOW: compacted file landed but the folded inputs were not
    // all deleted — the duplicates must fold to the same state on the
    // next compaction, never to a loss or an error
    val dataFile = dataFiles().head
    java.nio.file.Files.copy(dataFile.toPath,
      new java.io.File(dataFile.getParent, "compact-crashdup.parquet").toPath)
    assert(Service.compactControlLog(sparkS, controlDir, ckpt, maxFiles = 1))
    val after = sparkS.read.schema(Service.CcdSchema).parquet(controlDir)
      .as[Ccd].collect()
    assert(after.toSet == back.toSet,
      s"duplicate-absorbing refold must reproduce the same state: ${after.toSeq}")
  }

  test("boot auto-compacts a genesis-deep control log and behaves identically: queue reactivates, suppressed takedowns stay suppressed, a pending takedown executes") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.RetrievalService
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("ctl_compact_boot")
    val (controlDir, dataRoot, outRoot, ckptRoot) =
      (s"$root/control", s"$root/data", s"$root/out", s"$root/ckpt")
    val queue = "RET.CMP"
    def docs(ids: Seq[Long]) = ids.map(i => (i, s"alpha doc$i beta"))
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
      flushEvery = 1000, nlist = 4, m = 8, k = 8, maxDeltas = 100)
    svc.initIndex(docs(1L until 21L))
    Service.appendControl(sparkS, controlDir, Ccd("r1", "active", queue, 0))
    append(21L until 24L)
    val (system, control) = RetrievalService.assemble(sparkS, svc,
      controlDir, dataRoot, outRoot, ckptRoot,
      trigger = Trigger.ProcessingTime("200 milliseconds"))
    try {
      awaitIndexed(21L, 23L)
      Service.appendTakedown(sparkS, controlDir, queue, Seq(5L), requestId = 77L)
      val deadline = System.currentTimeMillis() + 120000
      var nudge = 400L
      // wait for the DONE-LOG record, not just the delete: stopping the
      // stream between the two lands in the documented at-least-once
      // window and the request would legitimately re-execute after reboot
      def recorded(): Boolean = new graft.streaming.TakedownDoneLog(
        sparkS.sparkContext.hadoopConfiguration, ckptRoot)
        .contains(queue, s"takedown:$queue:5:77")
      while (!recorded() && System.currentTimeMillis() < deadline) {
        append(Seq(nudge)); nudge += 1; Thread.sleep(400)
      }
      assert(recorded(), "first takedown must execute and reach the done-log")
    } finally { control.stop(); system.stop() }
    svc.close()
    // a genesis-deep log: years of re-activations at increasing offsets,
    // plus a takedown posted while the service was DOWN (pending)
    (1 until 70).foreach(i =>
      Service.appendControl(sparkS, controlDir, Ccd("r1", "active", queue, i.toLong)))
    Service.appendTakedown(sparkS, controlDir, queue, Seq(22L), requestId = 88L)
    def dataFiles(): Int =
      new java.io.File(controlDir).listFiles().count(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(dataFiles() > Service.MaxControlFilesAtBoot,
      s"precondition: log past the boot bound (${dataFiles()})")
    val svc2 = new RetrievalService(sparkS, s"$root/text", s"$root/ann",
      flushEvery = 1000, nlist = 4, m = 8, k = 8, maxDeltas = 100)
    val (system2, control2) = RetrievalService.assemble(sparkS, svc2,
      controlDir, dataRoot, outRoot, ckptRoot,
      trigger = Trigger.ProcessingTime("200 milliseconds"))
    try {
      assert(dataFiles() <= 2,
        s"boot must compact the log to O(state): ${dataFiles()} files")
      // the queue reactivates from the folded CCD and ingest proceeds
      append(800L until 803L)
      awaitIndexed(800L, 802L)
      // the PENDING takedown (doc 22) executes exactly once; the executed
      // one (doc 5, request 77) stays suppressed
      val deadline = System.currentTimeMillis() + 120000
      var nudge = 900L
      while (svc2.text.stats("n_deleted") < 1L &&
             System.currentTimeMillis() < deadline) {
        append(Seq(nudge)); nudge += 1; Thread.sleep(400)
      }
      assert(svc2.text.stats("n_deleted") == 1L,
        s"pending executes, replayed stays suppressed: ${svc2.text.stats("n_deleted")}")
      svc2.text.flush() // staged ingests + tombstones fold into the served index
      val hits = svc2.text.search(Seq("alpha"), 500).collect().map(_.getLong(0)).toSet
      assert(!hits.contains(22L) && !hits.contains(5L) && hits.contains(21L),
        s"docs 22 (pending) and 5 (pre-reboot) taken down, doc 21 live: " +
          s"${hits.intersect(Set(5L, 21L, 22L))}")
    } finally { control2.stop(); system2.stop() }
    svc2.close()
  }

  // ------------------------------------------------ bulk dead-letter path

  test("bulk takedown with an unreadable id-set dead-letters after bounded retries: error CCD posted under the REQUEST key, ingest continues, restart stays suppressed") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.RetrievalService
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("retsvc_deadletter")
    val (controlDir, dataRoot, outRoot, ckptRoot) =
      (s"$root/control", s"$root/data", s"$root/out", s"$root/ckpt")
    val queue = "RET.DL"
    def docs(ids: Seq[Long]) = ids.map(i => (i, s"alpha doc$i beta"))
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
    def errorCcds(): Seq[Ccd] =
      try sparkS.read.schema(Service.CcdSchema).parquet(controlDir)
        .filter(col("status") === "error").as[Ccd].collect().toSeq
      catch { case _: Exception => Seq.empty }
    val svc = new RetrievalService(sparkS, s"$root/text", s"$root/ann",
      flushEvery = 1000, nlist = 4, m = 8, k = 8, maxDeltas = 100)
    svc.initIndex(docs(1L until 21L))
    Service.appendControl(sparkS, controlDir, Ccd("r1", "active", queue, 0))
    append(21L until 24L)
    val (system, control) = RetrievalService.assemble(sparkS, svc,
      controlDir, dataRoot, outRoot, ckptRoot,
      trigger = Trigger.ProcessingTime("200 milliseconds"))
    var nudge = 300L
    try {
      awaitIndexed(21L, 23L)
      // post a bulk takedown pointing at a NONEXISTENT id-set (the
      // immutability contract violated in the worst way)
      Service.appendTakedownBulk(sparkS, controlDir, queue,
        s"$root/no_such_ids", requestId = 424242L)
      // each data batch probes the id-set once; after the bounded
      // retries the request must dead-letter — keep batches flowing
      val deadline = System.currentTimeMillis() + 120000
      while (errorCcds().isEmpty && System.currentTimeMillis() < deadline) {
        append(Seq(nudge)); nudge += 1; Thread.sleep(400)
      }
      val errs = errorCcds()
      assert(errs.nonEmpty, "the poisoned bulk request must dead-letter, not retry forever")
      assert(errs.exists(c => c.key == s"takedown-bulk:$queue:424242" &&
        c.error.exists(_.contains("no_such_ids"))),
        s"dead-letter CCD must carry the request key and the bad path: $errs")
      // the queue's ingest survived the whole episode
      append(Seq(900L))
      awaitIndexed(900L)
      assert(svc.text.stats("n_deleted") == 0L,
        "a dead-lettered request must not delete anything")
    } finally { control.stop(); system.stop() }
    svc.close()
    // restart replays the full control log: the dead-lettered request is
    // in the done-log — never re-parked, never re-probed, never executed
    val svc2 = new RetrievalService(sparkS, s"$root/text", s"$root/ann",
      flushEvery = 1000, nlist = 4, m = 8, k = 8, maxDeltas = 100)
    val (system2, control2) = RetrievalService.assemble(sparkS, svc2,
      controlDir, dataRoot, outRoot, ckptRoot,
      trigger = Trigger.ProcessingTime("200 milliseconds"))
    try {
      val before = errorCcds().size
      append(901L until 906L)
      awaitIndexed(901L, 905L)
      append(Seq(906L))
      awaitIndexed(906L)
      assert(svc2.text.stats("n_deleted") == 0L && svc2.ann.stats("n_deleted") == 0L,
        "the replayed dead-lettered request must stay suppressed")
      assert(errorCcds().size == before,
        "suppression must also stop duplicate dead-letter CCDs on replay")
    } finally { control2.stop(); system2.stop() }
    svc2.close()
  }
}
