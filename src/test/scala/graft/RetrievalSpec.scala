package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The retrieval indexing service ([[graft.streaming.RetrievalService]])
  * — both retrieval pillars maintained from ONE control-driven document
  * stream, kill/restart mid-flush included, with hybrid search answered
  * from the stored artifacts pinned equal to the batch-artifact fusion. */
class RetrievalSpec extends SparkSpec {
  import graft.streaming.{Pipelines, RetrievalService, Service}
  import graft.streaming.Pipelines.Ccd

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val Terms = Seq("spark", "index", "vector")

  private def docs(ids: Seq[Long]) = {
    val sparkS = spark
    import sparkS.implicits._
    ids.map { i =>
      val words =
        Seq.fill((i % 4 + 1).toInt)("spark") ++
          Seq.fill((i % 3).toInt)("index") ++
          Seq.fill((i % 5).toInt)("vector") ++
          Seq.fill((i % 7 + 2).toInt)(s"filler$i")
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("retrieval service e2e: streamed indexing + kill/restart mid-flush; hybrid search equals the batch-artifact fusion") {
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("retsvc")
    val (controlDir, dataRoot, outRoot, ckptRoot) =
      (s"$root/control", s"$root/data", s"$root/out", s"$root/ckpt")
    val queue = "RET.DOCS"
    val indexedDir = s"$outRoot/${queue.replaceAll("[^A-Za-z0-9._-]", "_")}/indexed"

    def append(ids: Seq[Long]): Unit =
      docs(ids).coalesce(1).write.mode("append").parquet(s"$dataRoot/$queue")
    def indexed(): Set[Long] = committedIds(indexedDir)
    def awaitIndexed(ids: Long*): Unit = {
      val deadline = System.currentTimeMillis() + 180000
      while (!ids.forall(indexed().contains) &&
             System.currentTimeMillis() < deadline) Thread.sleep(250)
      assert(ids.forall(indexed().contains),
        s"missing indexed acks for ${ids.filterNot(indexed().contains)}")
    }

    // seed both pillars with the bootstrap corpus (the ANN model trains
    // on it), then stream the rest through the control-driven system.
    // flushEvery is set beyond the test's horizon: micro-batch ids are
    // the engine's business (stream start and restart both shift them),
    // so the test drives every flush boundary EXPLICITLY through the
    // operator surface instead of assuming which batch id lands on one.
    val svc = new RetrievalService(sparkS, s"$root/text", s"$root/ann",
      flushEvery = 100, nlist = 4, m = 8, k = 8, maxDeltas = 2)
    svc.initIndex(docs(1L until 31L))
    Service.appendControl(sparkS, controlDir, Ccd("r1", "active", queue, 0))
    append(31L until 36L) // batch 0: staged
    val (system, control) = RetrievalService.assemble(sparkS, svc,
      controlDir, dataRoot, outRoot, ckptRoot,
      trigger = Trigger.ProcessingTime("200 milliseconds"))
    try {
      awaitIndexed(31L, 35L)
      append(36L until 41L) // batch 1
      awaitIndexed(36L, 40L)
      svc.text.flush(); svc.ann.flush() // explicit boundary → delta pairs
      append(41L until 46L) // batch 2: staged — the mid-flush kill state
      awaitIndexed(41L, 45L)
      // wait for the staged-but-unflushed state to be ON DISK before the
      // kill (the ack lands mid-batch, before the staging appends); no
      // auto-flush can fold it away, so the poll converges
      val stageDeadline = System.currentTimeMillis() + 90000
      def stagedOnDisk() =
        new java.io.File(s"$root/text/post_staging").exists() &&
          new java.io.File(s"$root/ann/codes_staging").exists()
      while (!stagedOnDisk() && System.currentTimeMillis() < stageDeadline)
        Thread.sleep(100)
      assert(stagedOnDisk(), "the kill must land with staged-but-unflushed rows")
    } finally { control.stop(); system.stop() }
    svc.close()

    // restart: fresh service over the same roots resumes the stored
    // versions; the next batch's flush folds the pre-kill staging too
    val svc2 = new RetrievalService(sparkS, s"$root/text", s"$root/ann",
      flushEvery = 100, nlist = 4, m = 8, k = 8, maxDeltas = 2)
    val (system2, control2) = RetrievalService.assemble(sparkS, svc2,
      controlDir, dataRoot, outRoot, ckptRoot,
      trigger = Trigger.ProcessingTime("200 milliseconds"))
    try {
      append(46L until 51L)
      awaitIndexed(46L, 50L)
      // the ack lands mid-batch, BEFORE the staging appends (the
      // kill-block rationale above) — stopping the stream in that window
      // strands the batch's staging, which the ENGINE would replay on
      // its next start but this test asserts now. Fold staging as it
      // lands (flush is a no-op on empty staging and idempotent under
      // replay), polling the stored index until the full corpus is in.
      val foldDeadline = System.currentTimeMillis() + 180000
      while (svc2.text.stats("n_docs") < 50L &&
             System.currentTimeMillis() < foldDeadline) {
        svc2.text.flush(); svc2.ann.flush(); Thread.sleep(250)
      }
    } finally { control2.stop(); system2.stop() }
    // operator-initiated flush: batch numbering across a replayed window
    // is the engine's business (an uncommitted batch can merge with new
    // data on restart), so the test folds any remaining staging
    // explicitly rather than assuming which batch id lands the boundary
    svc2.text.flush(); svc2.ann.flush()

    // the stream-built indexes must answer hybrid search exactly like
    // the batch-built artifacts over the total corpus (stored model)
    val all = docs(1L until 51L)
    assert(svc2.text.stats("n_docs") == 50L, s"text: ${svc2.text.stats}")
    assert(svc2.ann.currentCodes.count() == 50L)
    val queryText = "spark vector retrieval"
    def fused(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    val got = fused(svc2.search(Terms, queryText, kTop = 10, depth = 15, nprobe = 4))
    val model = svc2.ann.loadModel()
    val lexB = graft.functions.Search.bm25TopK(all, Terms, 15)
      .select(col("doc_id").as("id"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("bm25").desc, col("doc_id"))).as("r_lex"))
    val queryVec = Seq((-1L, queryText)).toDF("doc_id", "text")
      .select(col("doc_id").as("vec_id"),
        svc2.embedOf(col("text")).as("embedding"))
    val allVecs = all.select(col("doc_id").as("vec_id"),
      svc2.embedOf(col("text")).as("embedding"))
    val denseB = graft.functions.Ivfadc.search(
        graft.functions.Ivfadc.encode(allVecs, model), queryVec, model, 15, 4)
      .select(col("neighbor_id").as("id"), col("rk").as("r_dense"))
    val want = fused(graft.functions.Search.rrfFuse(lexB, denseB, 10))
    assert(got == want, s"stream-built hybrid diverged:\n$got\nvs\n$want")
    // the operator surface is live: drift gauge present, both pillars report
    val st = svc2.stats
    assert(st("retrieval_ann").contains("drift_micro") &&
      st("retrieval_text")("flushes") >= 1L,
      s"both pillars must report their lifecycle: $st")
    svc2.close()
  }
}
