package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The maintained indexes' flush window. A write inside an open window
  * appends its rows to staging; the write that closes the window folds its
  * rows straight from memory, together with whatever is staged. Pinned
  * here:
  *
  *  - **Layout parity.** The same writes (ingests, a re-ingest, a
  *    takedown) through `flushEvery = 1` (every write folds in memory) and
  *    through `flushEvery = 1000` plus an explicit `flush()` after each
  *    write (every write stages and the flush reads it back) serve the
  *    same rows and leave the same number of parquet files in every base
  *    and delta directory — the in-memory rows are sized for the write
  *    like their staged copy was.
  *  - **Commit point.** A kill after an in-memory major's base data lands
  *    but before its floor marker leaves the previous version serving, and
  *    the replayed batch reaches the uninterrupted run's index.
  *  - **No read-back.** A warm `flushEvery = 1` service batch runs no
  *    schema-inference job and leaves no staging directory.
  */
class FlushWindowSpec extends SparkSpec {
  import graft.streaming.{CurationService, MaintainedAnnIndex, MaintainedTextIndex,
    Pipelines, RetrievalService}
  import Pipelines.{MaintainedDedupIndex, MaintainedNearDupIndex}

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def slice(lo: Long, hi: Long): DataFrame =
    graft.Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
      .filter(col("doc_id") >= lo && col("doc_id") < hi)

  /** docs [lo, hi) with the text of those below `changedBelow` changed —
    * an update of already-indexed ids. */
  private def reingest(lo: Long, hi: Long, changedBelow: Long): DataFrame =
    slice(lo, hi).withColumn("text",
      when(col("doc_id") < changedBelow, concat(col("text"), lit(" revised edition appendix")))
        .otherwise(col("text")))

  private def ids(xs: Long*): DataFrame = {
    val sparkS = spark
    import sparkS.implicits._
    xs.toDF("doc_id")
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  // a fold that sized its in-memory rows as unknown would drop the
  // broadcast hints the staged fold keeps
  private def fallbacks(stats: Map[String, Long]): String =
    s"delta_fallbacks=${stats("delta_fallbacks")}"

  /** Parquet files per versioned base/delta directory under `root`. */
  private def layout(root: String): Map[String, Int] =
    new java.io.File(root).listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.matches("[a-z]+_v\\d+"))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
      .toMap

  private def stagingDirs(root: String): Seq[String] =
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => java.nio.file.Files.isDirectory(p) && p.getFileName.toString.endsWith("staging"))
      .map(_.toString)

  /** Run `writes` (write i under batch id i) over a fresh index twice:
    * `flushEvery = 1`, and `flushEvery = 1000` with `flush` after each
    * write. Both runs must serve the same rows and lay out the same file
    * counts. */
  private def parity[I](open: (String, Int) => I, seed: I => Unit,
                        writes: Seq[(I, Long) => Unit], flush: I => Unit,
                        served: I => Seq[String], close: I => Unit): Unit = {
    def run(flushEvery: Int): (Seq[String], Map[String, Int]) = {
      val root = tmp(s"fw_parity_$flushEvery")
      val idx = open(root, flushEvery)
      try {
        seed(idx)
        writes.zipWithIndex.foreach { case (w, b) =>
          w(idx, b.toLong)
          if (flushEvery > 1) flush(idx)
        }
        assert(stagingDirs(root).isEmpty, s"staging left behind: ${stagingDirs(root)}")
        (served(idx), layout(root))
      } finally close(idx)
    }
    val (direct, directLayout) = run(1)
    val (staged, stagedLayout) = run(1000)
    assert(direct.nonEmpty && direct == staged,
      "an in-memory fold must serve what the staged fold serves")
    assert(directLayout.keys.exists(_.startsWith("d")) && directLayout == stagedLayout,
      s"file counts differ: in-memory $directLayout, staged $stagedLayout")
  }

  private def decisions(w: DataFrame): Dataset[Pipelines.DedupDecision] = {
    val sparkS = spark
    import sparkS.implicits._
    w.select(col("doc_id"), graft.functions.Text.fingerprint(col("text")).as("fp"),
      lit("new").as("status"), lit(null).cast("long").as("dup_of"))
      .as[Pipelines.DedupDecision]
  }

  private def seedFps(w: DataFrame): DataFrame =
    w.select(graft.functions.Text.fingerprint(col("text")).as("fp"), col("doc_id").as("corpus_id"))

  // maxDeltas = 1 alternates minor and major flushes: an ingest folds
  // into a delta, a re-ingest into a new base, a takedown into a delta

  test("dedup: folding the closing batch in memory serves and lays out what staging did") {
    def fin(w: DataFrame) = (m: MaintainedDedupIndex, b: Long) =>
      m.finalizeBatch(decisions(w), b)(_.count())
    parity[MaintainedDedupIndex](
      (root, fe) => new MaintainedDedupIndex(spark, root, ttlMs = 60000L,
        flushEvery = fe, maxDeltas = 1),
      _.initIndex(seedFps(slice(0, 40))),
      Seq(fin(slice(40, 50)), fin(slice(45, 60)), (m, b) => m.deleteIds(ids(41L, 52L), b)),
      _.flush(), m => rows(m.currentIndex) :+ fallbacks(m.stats), _.close())
  }

  test("near-dup: folding the closing batch in memory serves and lays out what staging did") {
    def screen(w: DataFrame) = (m: MaintainedNearDupIndex, b: Long) =>
      m.screenBatch(w, b)(_.count())
    parity[MaintainedNearDupIndex](
      (root, fe) => new MaintainedNearDupIndex(spark, root, flushEvery = fe, maxDeltas = 1),
      _.initIndex(slice(0, 40)),
      Seq(screen(slice(40, 50)), screen(reingest(45, 60, 50)),
        (m, b) => m.deleteDocs(ids(41L, 52L), b)),
      _.flush(), m => rows(m.currentSignatures) ++ rows(m.currentShingles) :+ fallbacks(m.stats),
      _.close())
  }

  test("text: folding the closing batch in memory serves and lays out what staging did") {
    def ingest(w: DataFrame) = (m: MaintainedTextIndex, b: Long) => m.ingestBatch(w, b)(_ => ())
    parity[MaintainedTextIndex](
      (root, fe) => new MaintainedTextIndex(spark, root, flushEvery = fe, maxDeltas = 1),
      _.initIndex(slice(0, 40)),
      Seq(ingest(slice(40, 50)), ingest(reingest(45, 60, 50)),
        (m, b) => m.deleteDocs(ids(41L, 52L), b)),
      _.flush(),
      m => rows(m.invertedIndex()) :+ fallbacks(m.stats) :+
        s"n_docs=${m.stats("n_docs")} sum_dl=${m.stats("sum_dl")}",
      _.close())
  }

  test("ANN: folding the closing batch in memory serves and lays out what staging did") {
    def vecs(w: DataFrame) = w.select(col("doc_id").as("vec_id"),
      array((0 until 16).map(j => pmod(xxhash64(col("text"), lit(j)), lit(1000L))
        .cast("double") / 500.0 - 1.0): _*).as("embedding"))
    def ingest(w: DataFrame) = (m: MaintainedAnnIndex, b: Long) =>
      m.ingestBatch(vecs(w), b)(_ => ())
    parity[MaintainedAnnIndex](
      (root, fe) => new MaintainedAnnIndex(spark, root, flushEvery = fe,
        nlist = 4, m = 8, k = 8, maxDeltas = 1),
      _.initIndex(vecs(slice(0, 40))),
      Seq(ingest(slice(40, 50)), ingest(reingest(45, 60, 50)),
        (m, b) => m.deleteVectors(ids(41L, 52L).select(col("doc_id").as("vec_id")), b)),
      _.flush(), m => rows(m.currentCodes) :+ fallbacks(m.stats), _.close())
  }

  private def dropMarker(dir: String): Unit =
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_graft_delta_floor"))

  /** Run batches 0 and 1 (both majors) on a fresh root; then, on a second
    * root, the same batches with a kill between batch 1's base data and
    * its floor marker (`tear`), a reopen, and the engine's replay of
    * batch 1. The reopened writer must serve version 1 until the replay,
    * and the replay must reach the uninterrupted index. */
  private def killBeforeMarker[I](open: String => I, seed: I => Unit,
                                  batch: Seq[(I, Long) => Unit], tear: String => Unit,
                                  served: I => Seq[String], version: I => Long,
                                  close: I => Unit): Unit = {
    def twoBatches(root: String): I = {
      val idx = open(root)
      seed(idx)
      batch.zipWithIndex.foreach { case (w, b) => w(idx, b.toLong) }
      idx
    }
    val ref = twoBatches(tmp("fw_kill_ref"))
    val want = try served(ref) finally close(ref)
    val root = tmp("fw_kill")
    close(twoBatches(root))
    tear(root)
    val reopened = open(root)
    try {
      assert(version(reopened) == 1L, "a base without its floor marker must not serve")
      batch(1)(reopened, 1L)
      assert(version(reopened) == 2L && served(reopened) == want,
        "the replayed batch must reach the uninterrupted index")
    } finally close(reopened)
  }

  test("dedup: a kill between an in-memory major's base data and its marker replays to the uninterrupted index") {
    killBeforeMarker[MaintainedDedupIndex](
      root => new MaintainedDedupIndex(spark, root, ttlMs = 60000L, flushEvery = 1),
      _.initIndex(seedFps(slice(0, 40))),
      Seq((m, b) => m.finalizeBatch(decisions(slice(40, 50)), b)(_.count()),
        (m, b) => m.finalizeBatch(decisions(slice(50, 60)), b)(_.count())),
      // the sidecar lands after the marker, so the kill leaves none
      root => { dropMarker(s"$root/index_v2"); deleteDir(s"$root/ids_v2") },
      m => rows(m.currentIndex), _.stats("version"), _.close())
  }

  test("near-dup: a kill between an in-memory major's base pair and its marker replays to the uninterrupted index") {
    killBeforeMarker[MaintainedNearDupIndex](
      root => new MaintainedNearDupIndex(spark, root, flushEvery = 1),
      _.initIndex(slice(0, 40)),
      Seq((m, b) => m.screenBatch(slice(40, 50), b)(_.count()),
        (m, b) => m.screenBatch(slice(50, 60), b)(_.count())),
      root => dropMarker(s"$root/sig_v2"),
      m => rows(m.currentSignatures) ++ rows(m.currentShingles), _.stats("version"), _.close())
  }

  private def deleteDir(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  test("a warm flushEvery = 1 curation + retrieval batch runs no schema-inference job and stages nothing") {
    val root = tmp("fw_warm")
    val cur = new CurationService(spark, s"$root/exact", s"$root/near", flushEvery = 1)
    val ret = new RetrievalService(spark, s"$root/text", s"$root/ann", flushEvery = 1)
    try {
      cur.initEmpty()
      ret.initIndex(slice(0, 40))
      def batch(docs: DataFrame, id: Long): Unit = {
        cur.processBatch(docs, id)(_.count())
        ret.processBatch(docs, id)(_.count())
      }
      batch(slice(40, 60), 0L) // warm-up
      val docs = slice(60, 80) // the fixture read's own inference job runs here
      val (_, jobs) = jobsDuring(batch(docs, 1L))
      info(s"a warm curation + retrieval batch ran ${jobs.size} Spark jobs")
      // a schema-inference job starts inside DataFrameReader; the detector
      // must see one for an undeclared read
      val (_, control) = jobsDuring(spark.read.parquet(s"$root/text/post_v1"))
      def inference(js: Seq[SparkSpec.JobStart]) = js.filter(_.callSite.contains("DataFrameReader"))
      assert(inference(control).nonEmpty, s"detector missed an inference job: $control")
      assert(inference(jobs).isEmpty,
        s"schema-inference jobs in a warm batch:\n${inference(jobs).map(_.callSite).mkString("\n\n")}")
      assert(jobs.size <= WarmBatchJobs, s"a warm batch ran ${jobs.size} Spark jobs (want <= $WarmBatchJobs)")
      assert(stagingDirs(root).isEmpty, s"staging left behind: ${stagingDirs(root)}")
    } finally { cur.close(); ret.close() }
  }

  // measured on the 20-doc batch: 92 jobs (122 when every write staged
  // its rows and the flush read them back)
  private val WarmBatchJobs = 100
}
