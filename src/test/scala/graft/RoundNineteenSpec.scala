package graft

import org.apache.spark.sql.functions._

/** Round-19: commit-point hardening on the dedup/near-dup pillars (the
  * round-18 ADVICE races), serve-time-exact text-index stats (the
  * round-18 verdict's one `weak`, closed by x101), and the assembled
  * service's takedown observability (the x100 clone mechanism).
  *
  *  - The exact-dedup index's commit point is now DATA + FLOOR MARKER
  *    (marker written last on every publish path): a flush-path major's
  *    multi-file write into `index_v<N+1>` is invisible to cross-process
  *    readers until the marker lands, so a reader can never resolve a
  *    partially-written base (and read floor 0 with it).
  *  - The near-dup pair follows the same rule (every pillar's, from the
  *    TieredStore): sig and tg written, then the floor marker on the sig
  *    half last, so a reader never observes a partially-written shingle
  *    relation.
  *  - BM25's additive corpus stats resolve delta-superseded base docs at
  *    serve time (tombstones AND updates), so served scores equal the
  *    batch recompute in EVERY window — x101 pins the delete-before-major
  *    window under the hash oracle; this spec pins the gauge arithmetic
  *    and the update case the oracle row doesn't cover.
  */
class RoundNineteenSpec extends SparkSpec {
  import graft.streaming.{MaintainedTextIndex, Pipelines}

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docs = graft.Tables.documents(spark, sf0001)
    .select(col("doc_id"), col("text"))

  private def marker(dir: String) = java.nio.file.Paths.get(dir, "_graft_delta_floor")

  // --------------------------- dedup pillar: marker-gated commit point

  test("dedup reader never resolves a data-but-unmarked base version (the mid-write window)") {
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("r19_dedup_commit")
    val writer = new Pipelines.MaintainedDedupIndex(spark, root,
      ttlMs = 60000L, flushEvery = 1)
    writer.initIndex(Seq(("fp_a", 1L), ("fp_b", 2L)).toDF("fp", "corpus_id"))
    // simulate the flush-path major's mid-write state: index_v1 holds
    // committed-looking data files but the floor marker has not landed
    copyDir(s"$root/index_v0", s"$root/index_v1")
    java.nio.file.Files.deleteIfExists(marker(s"$root/index_v1"))
    val reader = Pipelines.openDedupReader(spark, root)
    assert(reader.stats("version") == 0L,
      "a data-but-unmarked version must be invisible to the reader")
    // the marker landing is the commit: the SAME handle re-resolves per
    // read and serves v1 with no reopen
    java.nio.file.Files.write(marker(s"$root/index_v1"), "0".getBytes)
    assert(reader.stats("version") == 1L,
      "the floor marker must commit the version for the live reader")
    writer.close()
  }

  test("dedup initIndex retries over a torn seed (data written, marker lost) instead of wedging") {
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("r19_dedup_tornseed")
    // a seed that crashed between the data write and the floor marker
    Seq(("fp_x", 9L)).toDF("fp", "corpus_id")
      .write.parquet(s"$root/index_v0")
    assert(!java.nio.file.Files.exists(marker(s"$root/index_v0")))
    val writer = new Pipelines.MaintainedDedupIndex(spark, root,
      ttlMs = 60000L, flushEvery = 1)
    // must heal, not throw "already holds committed versions"
    writer.initIndex(Seq(("fp_a", 1L)).toDF("fp", "corpus_id"))
    assert(writer.stats("version") == 0L)
    assert(writer.currentIndex.collect().map(_.getString(0)).toSeq == Seq("fp_a"),
      "the retried seed must replace the torn remnant")
    writer.close()
  }

  // ------------- near-dup pillar: the one commit rule (sig-half marker)

  test("near-dup pair commits on its sig-half floor marker: no marker, or a marker without the tg half, keeps the old pair serving") {
    val root = tmp("r19_neardup_commit")
    val writer = new Pipelines.MaintainedNearDupIndex(spark, root, flushEvery = 1)
    writer.initIndex(docs.filter(col("doc_id") < 50))
    // one real flush-path major: both halves written, marker last on sig_v1
    writer.screenBatch(docs.filter(col("doc_id") >= 50 && col("doc_id") < 60), 0)(_ => ())
    assert(writer.stats("version") == 1L)
    assert(java.nio.file.Files.exists(marker(s"$root/sig_v1")))
    writer.close()
    def servesV1(window: String): Unit = {
      val reader = Pipelines.openNearDupReader(spark, root)
      assert(reader.stats("version") == 1L, s"$window must stay invisible to a reader")
      val reopened = new Pipelines.MaintainedNearDupIndex(spark, root, flushEvery = 1)
      assert(reopened.stats("version") == 1L,
        s"$window must stay invisible to a reopened writer")
      reopened.close()
    }
    // crash window of a major: both halves of v2 landed, the marker not
    copyDir(s"$root/sig_v1", s"$root/sig_v2")
    java.nio.file.Files.delete(marker(s"$root/sig_v2"))
    copyDir(s"$root/tg_v1", s"$root/tg_v2")
    servesV1("a pair without its floor marker")
    // a marked sig half whose tg half is missing
    java.nio.file.Files.write(marker(s"$root/sig_v2"), "0".getBytes)
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/tg_v2"))
      .sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
    servesV1("a marked sig half without its tg half")
  }

  // --------------- text pillar: serve-time-exact additive corpus stats

  test("text-index stats are exact INSIDE the tombstoned/updated tier window (deletes subtract, updates resolve)") {
    val root = tmp("r19_text_stats")
    val idx = new MaintainedTextIndex(spark, root, flushEvery = 1, maxDeltas = 8)
    val base = docs.filter(col("doc_id") < 100)
    idx.initIndex(base)
    def expectStats(live: org.apache.spark.sql.DataFrame): Unit = {
      val exp = live.select(
          coalesce(size(graft.functions.Text.tokens(col("text"))), lit(0))
            .cast("long").as("dl"))
        .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
      val st = idx.stats
      assert(st("n_docs") == exp.getLong(0) && st("sum_dl") == exp.getLong(1),
        s"stats (${st("n_docs")}, ${st("sum_dl")}) vs batch " +
          s"(${exp.getLong(0)}, ${exp.getLong(1)})")
    }
    // delete a base-resident slice: stats must drop by the deleted docs'
    // base lengths WHILE the tombstone delta is live (pre-major)
    idx.deleteDocs(docs.filter(col("doc_id") < 20).select(col("doc_id")), 0)
    assert(idx.stats("delta_versions") == 1L, "the tombstone delta must be live")
    val live1 = base.filter(col("doc_id") >= 20)
    expectStats(live1)
    // UPDATE a base-resident doc (re-ingest with longer text): the
    // superseded base length must resolve out, the new one in — the
    // case x101's delete-only oracle row doesn't cover
    val updated = base.filter(col("doc_id") >= 20 && col("doc_id") < 30)
      .select(col("doc_id"), concat(col("text"), lit(" zzupdated zzmore")).as("text"))
    idx.ingestBatch(updated, 1)(_ => ())
    assert(idx.stats("delta_versions") == 2L)
    val live2 = live1.filter(col("doc_id") >= 30).unionByName(updated)
    expectStats(live2)
    // and the served ranking equals the batch scorer over the live set
    // in this same window (the wider x101 property, update case included)
    val served = idx.search(graft.functions.Search.QueryTerms, 10)
      .collect().map(_.toSeq).toSeq
    val expected = graft.functions.Search
      .bm25TopK(live2, graft.functions.Search.QueryTerms, 10)
      .collect().map(_.toSeq).toSeq
    assert(served == expected,
      s"tombstoned/updated-window serve must equal the batch scorer:\n$served\nvs\n$expected")
    idx.close()
  }

  test("text-index stats memo invalidates on tier change and survives reader re-resolution") {
    val root = tmp("r19_text_memo")
    val writer = new MaintainedTextIndex(spark, root, flushEvery = 1, maxDeltas = 8)
    writer.initIndex(docs.filter(col("doc_id") < 100))
    val reader = MaintainedTextIndex.openReader(spark, root)
    val n0 = reader.stats("n_docs")
    writer.deleteDocs(docs.filter(col("doc_id") < 10).select(col("doc_id")), 0)
    val n1 = reader.stats("n_docs")
    assert(n1 == n0 - docs.filter(col("doc_id") < 10).count(),
      "the reader's per-read snapshot must see the new tombstone delta's exact stats")
    writer.deleteDocs(docs.filter(col("doc_id") >= 10 && col("doc_id") < 15)
      .select(col("doc_id")), 1)
    assert(reader.stats("n_docs") == n1 - 5,
      "a second tier change must invalidate the reader's stats memo")
    reader.close(); writer.close()
  }

  // --------------- x100: the clone mechanism's takedown observability

  test("x100's gate really observes the takedown: a clone is exact_dup without it, kept (new keeper) with it") {
    val sparkS = spark
    import sparkS.implicits._
    val root = tmp("r19_x100_observe")
    val svc = new graft.streaming.CurationService(
      spark, s"$root/exact", s"$root/near", flushEvery = 1)
    svc.initEmpty()
    val text = (0 until 40).map(i => s"obsw$i").mkString(" ")
    def decide(batch: Seq[(Long, String)], id: Long): Map[Long, (String, Option[Long])] = {
      var out = Map.empty[Long, (String, Option[Long])]
      svc.processBatch(batch.toDF("doc_id", "text"), id) { d =>
        out = d.collect().map(r => r.getLong(0) ->
          ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
      }
      out
    }
    assert(decide(Seq(100L -> text), 0)(100L)._1 == "kept")
    // WITHOUT a takedown, an exact clone under a new id defers to the
    // stored keeper — the replay guards never make it "new"
    val d1 = decide(Seq(200L -> text), 1)
    assert(d1(200L) == (("exact_dup", Some(100L))),
      s"clone without takedown must defer to the original: $d1")
    // WITH the takedown executed first, the same content is NEW and the
    // clone becomes the keeper — the decision x100's oracle demands
    svc.takedownByIds(Seq(100L).toDF("doc_id"), 2)
    val d2 = decide(Seq(300L -> text), 3)
    assert(d2(300L)._1 == "kept",
      s"clone after takedown must be re-admitted as the new keeper: $d2")
    svc.close()
  }

  // ------------------- widened text soak: parity in tombstoned windows

  test("seeded ASSEMBLED-service chaos soak: control-topic batches, takedowns, mid-flight kills + reboots end model-parity-exact") {
    val root = tmp("r19_asm_soak")
    val res = graft.streaming.Soak.assembledSoak(spark, root,
      seed = 191919L, batches = 8)
    assert(res.opCounts.values.sum >= 8L)
    assert(res.opCounts.getOrElse("batch_killed_replayed", 0L) +
      res.opCounts.getOrElse("reboot", 0L) >= 1L,
      s"the seed must exercise at least one kill/reboot: ${res.opCounts}")
  }

  test("text soak checks parity UNCONDITIONALLY — tombstoned-tier windows included") {
    val root = tmp("r19_soak_widened")
    val res = graft.streaming.Soak.textSoak(spark, docs, root,
      seed = 191919L, windows = 12)
    assert(res.parityChecks >= 1)
    assert(res.opCounts.getOrElse("delete", 0L) +
      res.opCounts.getOrElse("delete_replayed", 0L) >= 1L,
      s"seed must exercise deletes for the widened gate to mean anything: ${res.opCounts}")
  }
}
