package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{GraftSystem, Pipelines}
import graft.streaming.Pipelines.Ccd
import scala.jdk.CollectionConverters._

/** Streaming-semantics tests (SURVEY.md §5.2.3): compaction, dead-letter
  * routing, event-time windows — the behaviors the reference left untested
  * but that SURVEY §3 reverse-engineered.
  */
class StreamingSpec extends SparkSpec {

  test("control plane: streaming last-write-wins compaction (O2/O3)") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val in = MemoryStream[Ccd]
    val q = Pipelines.compactLatest(in.toDS())
      .writeStream.format("memory").queryName("ccd_compact")
      .outputMode("update").start()
    try {
      in.addData(Ccd("k1", "active", "LP.Q1", 0), Ccd("k2", "pending", "LP.Q2", 1))
      q.processAllAvailable()
      in.addData(Ccd("k1", "error", "LP.Q1", 5), Ccd("k2", "active", "LP.Q2", 3),
        Ccd("k1", "stale", "LP.Q1", 2)) // stale offset must lose
      q.processAllAvailable()
      val state = sparkS.table("ccd_compact")
        .groupBy("key").agg(max_by(struct("status", "offset"), col("offset")).as("w"))
        .select(col("key"), col("w.status"), col("w.offset"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(state == Set(("k1", "error", 5L), ("k2", "active", 3L)))
    } finally q.stop()
  }

  test("stream-stream interval join: trailing-hour click enrichment (D29 streaming twin)") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    def ts(m: Long) = new java.sql.Timestamp(86400000L + m * 60000L)
    val in = MemoryStream[(java.sql.Timestamp, Long, Long, String)]
    val df = in.toDF().toDF("ts", "user_id", "event_id", "event_type")
    val joined = Pipelines.intervalJoin(
      df.filter(col("event_type") === "purchase"),
      df.filter(col("event_type") === "click"))
    val q = joined.writeStream.format("memory").queryName("ij")
      .outputMode("append").start()
    try {
      in.addData(
        (ts(0), 1L, 100L, "click"),
        (ts(30), 1L, 101L, "click"),
        (ts(45), 1L, 200L, "purchase"),  // both clicks inside the trailing hour
        (ts(200), 1L, 201L, "purchase"), // nothing in range
        (ts(10), 2L, 102L, "click"),
        (ts(90), 2L, 202L, "purchase")) // 80-minute gap -> excluded
      q.processAllAvailable()
      val got = sparkS.table("ij").select("purchase_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((200L, 100L), (200L, 101L)))
    } finally q.stop()
  }

  test("control plane: transformWithState compaction matches mapGroupsWithState (O2, RocksDB)") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val old = sparkS.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sparkS.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ccd]
      in.addData(Ccd("k1", "active", "LP.Q1", 0), Ccd("k1", "error", "LP.Q1", 7),
        Ccd("k1", "stale", "LP.Q1", 3), Ccd("k2", "active", "LP.Q2", 1))
      val q = Pipelines.compactLatestTws(in.toDS())
        .writeStream.format("memory").queryName("ccd_tws")
        .outputMode("update")
        .option("checkpointLocation", Files.createTempDirectory("tws_ck").toString)
        .trigger(Trigger.AvailableNow()).start()
      try {
        q.awaitTermination()
        val state = sparkS.table("ccd_tws")
          .groupBy("key").agg(max_by(struct("status", "offset"), col("offset")).as("w"))
          .select(col("key"), col("w.status"), col("w.offset"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
        assert(state == Set(("k1", "error", 7L), ("k2", "active", 1L)))
      } finally q.stop()
    } finally old match {
      case Some(v) => sparkS.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => sparkS.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("control plane: compaction + active filter yields the queue set (O6/O8)") {
    val sparkS = spark
    import sparkS.implicits._
    val ccds = Seq(
      Ccd("k1", "active", "LP.Q1", 1), Ccd("k1", "error", "LP.Q1", 2),
      Ccd("k2", "pending", "LP.Q2", 1), Ccd("k2", "active", "LP.Q2", 4),
      Ccd("k3", "active", "LP.Q3", 9)).toDF()
    val queues = Pipelines.activeQueues(Pipelines.compactLatestBatch(ccds))
      .collect().map(_.getString(0)).toSet
    assert(queues == Set("LP.Q2", "LP.Q3"))
  }

  test("data plane: dml pipeline writes keyed main output and dead-letters malformed (EP3)") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val out = Files.createTempDirectory("graft_dml_out").toString
    val ckpt = Files.createTempDirectory("graft_dml_ckpt").toString
    val in = MemoryStream[String]
    in.addData(
      """{"id":{"b":2,"a":1},"type":"insert","table":"t","data":{"x":"1"}}""",
      """{"id":{"pk":"p1"},"type":"delete","table":"t","data":{}}""",
      "THIS IS NOT JSON",
      """{"type":"update","table":"t"}""")
    Pipelines.runDmlPipeline(in.toDF(), out, ckpt, Trigger.AvailableNow())
    val main = sparkS.read.parquet(s"$out/main")
    val dead = sparkS.read.parquet(s"$out/dead_letter")
    assert(main.count() == 2 && dead.count() == 2)
    val keys = main.select("key").collect().map(_.getString(0)).toSet
    assert(keys == Set("""["a",1,"b",2]""", """["pk","p1"]"""))
  }

  test("checkpointed resume: a second run over the same source adds nothing (at-least-once, no dup)") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val out = Files.createTempDirectory("graft_dml_out2").toString
    val ckpt = Files.createTempDirectory("graft_dml_ckpt2").toString
    val in = MemoryStream[String]
    in.addData("""{"id":{"a":1},"type":"insert","table":"t","data":{}}""")
    Pipelines.runDmlPipeline(in.toDF(), out, ckpt, Trigger.AvailableNow())
    // resume from the same checkpoint: offsets already committed, no new rows
    Pipelines.runDmlPipeline(in.toDF(), out, ckpt, Trigger.AvailableNow())
    assert(sparkS.read.parquet(s"$out/main").count() == 1)
  }

  /** DML payloads: `good` rows derive a key, `bad` rows are dead-lettered. */
  private def dmlRows(good: Int, bad: Int): Seq[String] =
    (0 until good).map(i => s"""{"id":{"b":$i,"a":"x$i"},"type":"insert","table":"t","data":{}}""") ++
      (0 until bad).map(i => if (i % 2 == 0) s"NOT JSON $i" else s"""{"id":$i,"type":"delete"}""")

  /** Keyed batch as the sink receives it, spread over `parts` partitions. */
  private def keyedBatch(rows: Seq[String], parts: Int): org.apache.spark.sql.DataFrame = {
    val sparkS = spark
    import sparkS.implicits._
    Pipelines.dmlTransform(sparkS.sparkContext.parallelize(rows, parts).toDF("value"))
  }

  test("routed sink: a one-sided batch still leaves both sides readable with their schemas") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val mainSchema = StructType(Seq(StructField("key", StringType), StructField("value", StringType)))
    val deadSchema = StructType(Seq(StructField("value", StringType)))
    val allValid = Files.createTempDirectory("routed_valid").toString
    GraftSystem.keyedParquetHandler("", allValid, keyedBatch(dmlRows(6, 0), 3), 0L)
    val vDead = spark.read.parquet(s"$allValid/dead_letter")
    assert(vDead.schema == deadSchema && vDead.count() == 0)
    assert(spark.read.parquet(s"$allValid/main").count() == 6)
    val allBad = Files.createTempDirectory("routed_bad").toString
    GraftSystem.keyedParquetHandler("", allBad, keyedBatch(dmlRows(0, 5), 3), 0L)
    val bMain = spark.read.parquet(s"$allBad/main")
    assert(bMain.schema == mainSchema && bMain.count() == 0)
    assert(spark.read.parquet(s"$allBad/dead_letter").count() == 5)
  }

  test("routed sink: a mixed batch equals the two-write split on both sides") {
    val rows = dmlRows(40, 9)
    val routed = Files.createTempDirectory("routed_mixed").toString
    GraftSystem.keyedParquetHandler("", routed, keyedBatch(rows, 4), 0L)
    // the split the routed write replaces: one filtered append per side
    val split = Files.createTempDirectory("split_mixed").toString
    val (ok, dead) = graft.ops.CoreOps.splitMalformed(keyedBatch(rows, 4), "key")
    ok.select(col("key"), col("value")).write.mode("append").parquet(s"$split/main")
    dead.select(col("value")).write.mode("append").parquet(s"$split/dead_letter")
    Seq("main", "dead_letter").foreach { side =>
      val got = spark.read.parquet(s"$routed/$side")
      val want = spark.read.parquet(s"$split/$side")
      assert(got.schema == want.schema, side)
      assert(got.collect().map(_.toString).sorted.toSeq ==
        want.collect().map(_.toString).sorted.toSeq, side)
    }
    assert(spark.read.parquet(s"$routed/main").count() == 40)
  }

  test("routed sink: a keyed micro-batch runs exactly one Spark job") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val out = Files.createTempDirectory("routed_jobs").toString
    val ckpt = Files.createTempDirectory("routed_jobs_ck").toString
    val in = MemoryStream[String]
    in.addData(dmlRows(20, 3))
    val jobGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobGroups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = sparkS.sparkContext
    sc.addSparkListener(listener)
    try {
      val q = Pipelines.dmlTransform(in.toDF()).writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          GraftSystem.keyedParquetHandler("", out, b, id)
        }
        .start()
      q.awaitTermination()
      // the stream tags its jobs with its run id; a marker job drains the
      // listener bus of every earlier job event
      sc.setJobGroup("routed-jobs-end", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (!jobGroups.contains("routed-jobs-end") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      val batches = q.recentProgress.count(_.numInputRows > 0)
      val jobs = jobGroups.asScala.count(_ == q.runId.toString)
      assert(batches == 1 && jobs == 1, s"$batches keyed batch(es) ran $jobs Spark jobs (want 1 and 1)")
      assert(sparkS.read.parquet(s"$out/main").count() == 20)
      assert(sparkS.read.parquet(s"$out/dead_letter").count() == 3)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  test("routed sink: a failed batch leaves no new file and no _temporary") {
    val out = Files.createTempDirectory("routed_fail").toString
    GraftSystem.keyedParquetHandler("", out, keyedBatch(dmlRows(6, 2), 2), 0L)
    def listing(): Seq[String] = {
      val root = java.nio.file.Paths.get(out)
      Files.walk(root).iterator().asScala.map(root.relativize(_).toString).toSeq.sorted
    }
    val before = listing()
    // the last of four partitions throws, but only once the other three
    // have committed their tasks: the job abort must also drop their output
    val poisoned = udf { (v: String) =>
      if (v == "POISON") {
        val committed = java.nio.file.Paths.get(out, "_temporary", "0")
        val deadline = System.currentTimeMillis() + 30000
        def done = Option(committed.toFile.list()).exists(_.count(_.startsWith("task_")) >= 3)
        while (!done && System.currentTimeMillis() < deadline) Thread.sleep(10)
        throw new IllegalStateException("poisoned row")
      }
      v
    }
    val batch = keyedBatch(dmlRows(6, 1) :+ "POISON", 4).withColumn("value", poisoned(col("value")))
    val err = intercept[Exception](GraftSystem.keyedParquetHandler("", out, batch, 1L))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("poisoned row"))), err.toString)
    assert(listing() == before)
    assert(!listing().exists(_.contains("_temporary")))
  }

  test("event-time tumbling window (D18): streaming result equals batch date_trunc form") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val batchEvents = Tables.events(sparkS, sf0001)
      .select(col("ts"), col("event_type")).limit(500)
    case class Ev(ts: java.sql.Timestamp, event_type: String)
    val rows = batchEvents.as[(java.sql.Timestamp, String)].collect()
    val in = MemoryStream[(java.sql.Timestamp, String)]
    in.addData(rows.toIndexedSeq)
    val q = Pipelines.hourlyCounts(in.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("hourly").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = sparkS.table("hourly")
        .select(date_format(col("hour_start"), "yyyy-MM-dd HH:00").as("h"), col("event_type"), col("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val batch = batchEvents
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("session windows (D19): streaming session counts equal the batch lag-gap form") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val batchEvents = Tables.events(sparkS, sf0001)
      .select(col("ts"), col("user_id"), col("event_id")).limit(1000)
    val rows = batchEvents.select("ts", "user_id").as[(java.sql.Timestamp, Long)].collect()
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    in.addData(rows.toIndexedSeq)
    val q = Pipelines.sessionCounts(in.toDF().toDF("ts", "user_id"))
      .writeStream.format("memory").queryName("sessions").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = sparkS.table("sessions")
        .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // batch oracle: gap > 30min starts a new session (strictly greater,
      // matching session_window's [start, start+gap) inclusion)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val batch = batchEvents
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess", when(col("prev_ts").isNull ||
          (col("ts").cast("double") - col("prev_ts").cast("double")) >= 1800.0, 1).otherwise(0))
        .groupBy("user_id").agg(sum("new_sess").as("n_sessions"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming dedup drops duplicate keys within the watermark (D17 streaming twin)") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    def ts(m: Long) = new java.sql.Timestamp(86400000L + m * 60000L)
    val in = MemoryStream[(java.sql.Timestamp, Long, String)]
    in.addData((ts(0), 1L, "a"), (ts(1), 1L, "a-dup"), (ts(2), 2L, "b"),
      (ts(3), 1L, "a-dup2"), (ts(4), 3L, "c"))
    val q = Pipelines.streamingDedup(in.toDF().toDF("ts", "k", "payload"), Seq("k"))
      .writeStream.format("memory").queryName("dedup_stream")
      .option("checkpointLocation", Files.createTempDirectory("dd_ck").toString)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val rows = sparkS.table("dedup_stream")
        .collect().map(r => (r.getLong(1), r.getString(2)))
      assert(rows.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L))
      assert(rows.toMap.apply(1L) == "a", "first arrival must win")
    } finally q.stop()
  }

  test("token-budget admission carries per-source state across micro-batches (x46 twin)") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val in = MemoryStream[Pipelines.DocTokens]
    // budget 10: batch 1 admits (1: 6 tokens, used 0) and (2: 5, used 6 < 10);
    // batch 2 must see used = 11 ≥ 10 and reject everything for srcA while
    // srcB's untouched budget still admits
    in.addData(
      Pipelines.DocTokens("srcA", 1L, 6L), Pipelines.DocTokens("srcA", 2L, 5L))
    val q = Pipelines.budgetAdmission(in.toDS(), budget = 10L)
      .writeStream.format("memory").queryName("budget_stream")
      .option("checkpointLocation", Files.createTempDirectory("ba_ck").toString)
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      q.processAllAvailable()
      in.addData(
        Pipelines.DocTokens("srcA", 3L, 1L), Pipelines.DocTokens("srcB", 4L, 9L))
      q.processAllAvailable()
      val rows = sparkS.table("budget_stream").collect()
        .map(r => r.getLong(1) -> ((r.getLong(3), r.getBoolean(4)))).toMap
      assert(rows(1L) == ((0L, true)))
      assert(rows(2L) == ((6L, true)), "under budget before admission -> admitted")
      assert(rows(3L) == ((11L, false)), "carried state must close the budget")
      assert(rows(4L) == ((0L, true)), "other sources keep their own budget")
    } finally q.stop()
  }

  test("x77 streaming twin: stored-model scoring matches the batch scores for every doc") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    // train offline and PERSIST; the stream must resolve the model from
    // storage (the restart path), not from the training session's caches
    val modelRoot = Files.createTempDirectory("dsir_model_stream").toString
    graft.functions.Sampling.saveDsirModel(
      graft.functions.Sampling.dsirLogRatioModel(spark, sf0001, "src0"), modelRoot)
    // batch reference: the full pre-top-N score relation (keepN >= corpus)
    val batch = graft.functions.Sampling.x77DsirSelect(spark, sf0001, keepN = 600)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = Pipelines.importanceScoreStored(in.toDF().toDF("doc_id", "text"), modelRoot)
      .writeStream.format("memory").queryName("imp_score_stream")
      .option("checkpointLocation", Files.createTempDirectory("is_ck").toString)
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      in.addData(docs.take(250).toIndexedSeq: _*)
      q.processAllAvailable()
      in.addData(docs.drop(250).toIndexedSeq: _*)
      q.processAllAvailable()
      val got = sparkS.table("imp_score_stream").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
      assert(got.size == docs.length)
      docs.foreach { case (id, _) =>
        assert(got(id) == batch(id), s"doc $id: stream ${got(id)} vs batch ${batch(id)}")
      }
    } finally q.stop()
  }

  test("x59 streaming twin: corpus-index join + first-wins state classify across micro-batches") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    // static corpus fingerprint index: the already-ingested doc 100 = "alpha"
    val corpusIdx = Seq(("alpha", 100L)).toDF("text", "corpus_id")
      .select(graft.functions.Text.fingerprint(col("text")).as("fp"), col("corpus_id"))
    val in = MemoryStream[(Long, String)]
    val q = Pipelines.incrementalDedup(in.toDF().toDF("doc_id", "text"), corpusIdx)
      .writeStream.format("memory").queryName("incr_dedup_stream")
      .option("checkpointLocation", Files.createTempDirectory("id_ck").toString)
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      in.addData((1L, "alpha"), (2L, "beta"), (3L, "beta"))
      q.processAllAvailable()
      // batch 2: beta's keeper (doc 2) must be remembered across batches,
      // and the corpus index keeps winning for alpha
      in.addData((4L, "beta"), (5L, "gamma"), (6L, "alpha"))
      q.processAllAvailable()
      val rows = sparkS.table("incr_dedup_stream").collect()
        .map(r => r.getLong(0) -> ((r.getString(2), if (r.isNullAt(3)) -1L else r.getLong(3))))
        .toMap
      assert(rows(1L) == (("dup_of_corpus", 100L)))
      assert(rows(2L) == (("new", -1L)))
      assert(rows(3L) == (("dup_in_batch", 2L)), "in-batch dup points at the keeper")
      assert(rows(4L) == (("dup_in_batch", 2L)), "keeper state must survive the batch boundary")
      assert(rows(5L) == (("new", -1L)))
      assert(rows(6L) == (("dup_of_corpus", 100L)))
    } finally q.stop()
  }

  test("x59 maintained lifecycle: TTL bounds state, flushed index takes over, replay matches batch") {
    x59MaintainedLifecycle(maxDeltas = 0)
  }

  // the same TTL + flush + hand-off contract in DELTA mode: the flush
  // boundary writes a delta version (base stays at v0) and the post-expiry
  // arrival is classified through the finalize's broadcast delta read —
  // every decision and keeper identical to fold-every-flush mode
  test("x59 maintained lifecycle, delta tier: same decisions with minor flushes") {
    x59MaintainedLifecycle(maxDeltas = 4)
  }

  private def x59MaintainedLifecycle(maxDeltas: Int): Unit = {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val root = Files.createTempDirectory("mdix").toString
    val outDir = Files.createTempDirectory("mdix_out").toString
    def fpOf(texts: (String, Long)*) = texts.toDF("text", "corpus_id")
      .select(graft.functions.Text.fingerprint(col("text")).as("fp"), col("corpus_id"))
    val m = new Pipelines.MaintainedDedupIndex(sparkS, root, ttlMs = 4000,
      flushEvery = 2, maxDeltas = maxDeltas)
    m.initIndex(fpOf("alpha" -> 100L))
    val in = MemoryStream[(Long, String)]
    // a processing-time-timeout query never quiesces (it runs no-data
    // batches forever to fire timeouts), so processAllAvailable would hang
    // — poll the sink instead
    def seen(): Set[Long] =
      scala.util.Try(sparkS.read.parquet(outDir).select("doc_id").collect()
        .map(_.getLong(0)).toSet).getOrElse(Set.empty)
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!cond) {
        assert(System.nanoTime() < deadline, s"timed out waiting for $what")
        Thread.sleep(200)
      }
    }
    val q = m.classify(in.toDF().toDF("doc_id", "text"))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Pipelines.DedupDecision], id: Long) =>
        m.finalizeBatch(b, id)(_.write.mode("append").parquet(outDir))
      }
      .option("checkpointLocation", Files.createTempDirectory("mdix_ck").toString)
      .trigger(Trigger.ProcessingTime(100))
      .start()
    try {
      in.addData((1L, "alpha"), (2L, "beta"), (3L, "beta"))
      waitFor("batch A")(seen() == Set(1L, 2L, 3L))
      in.addData((4L, "gamma"), (5L, "beta"))
      waitFor("batch B")(seen() == Set(1L, 2L, 3L, 4L, 5L))
      // keeper state alive for the two novel fps (beta, gamma) — polled:
      // progress events publish after the sink commit
      waitFor("2 live state rows")(
        Option(q.lastProgress).exists(_.stateOperators(0).numRowsTotal == 2))
      // flush boundary crossed by the ongoing no-data batches: the stored
      // index picks up beta -> its stream keeper 2 and gamma -> 4
      val fpMap = Seq("alpha", "beta", "gamma").map(t =>
        t -> fpOf(t -> 0L).collect()(0).getString(0)).toMap
      waitFor("index flush")(
        m.currentIndex.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
          Map(fpMap("alpha") -> 100L, fpMap("beta") -> 2L, fpMap("gamma") -> 4L))
      // TTL fires on the no-data batches: live state drains to zero even
      // with no traffic — state is bounded by the flush window's novelty,
      // not by how many fps the stream has ever accepted
      waitFor("state expiry")(
        Option(q.lastProgress).exists(_.stateOperators(0).numRowsTotal == 0))
      in.addData((6L, "delta"))
      waitFor("batch C")(seen().contains(6L))
      // post-expiry beta arrival: classified by the STORED index, with the
      // SAME keeper the state would have named
      in.addData((7L, "beta"))
      waitFor("batch D")(seen().contains(7L))
      assert(q.lastProgress.stateOperators(0).numRowsTotal <= 2)
    } finally q.stop()
    val got = sparkS.read.parquet(outDir).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), if (r.isNullAt(3)) -1L else r.getLong(3))))
      .toMap
    assert(got(1L) == (("dup_of_corpus", 100L)))
    assert(got(2L) == (("new", -1L)))
    assert(got(3L) == (("dup_in_batch", 2L)))
    // doc 5's LABEL is timing-dependent by design (live state says
    // dup_in_batch; if an interleaved no-data batch crossed the flush
    // boundary first, the stored index says dup_of_corpus) — the invariant
    // is the KEEPER, which both paths must name identically
    assert(Set("dup_in_batch", "dup_of_corpus").contains(got(5L)._1) && got(5L)._2 == 2L,
      s"pre-flush arrival must keep keeper 2 under either resolution path: ${got(5L)}")
    assert(got(6L) == (("new", -1L)))
    assert(got(7L) == (("dup_of_corpus", 2L)),
      "post-expiry arrival resolved by the flushed index, same keeper")
    if (maxDeltas > 0)
      assert(m.stats("version") == 0L && m.stats("delta_versions") >= 1L,
        s"delta mode must flush into the tier, not the base: ${m.stats}")
    // replay parity with the batch x59 classification: same new-set, same
    // kept copy for every duplicate (statuses differ only by the
    // dup_in_batch/dup_of_corpus relabel at the flush boundary)
    val allDocs = Seq((1L, "alpha"), (2L, "beta"), (3L, "beta"), (4L, "gamma"),
      (5L, "beta"), (6L, "delta"), (7L, "beta")).toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.Text.fingerprint(col("text")).as("fp"))
    val batchRef = graft.functions.Dedup.x59IncrementalDedupOf(fpOf("alpha" -> 100L), allDocs)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(2) == "new", if (r.isNullAt(3)) -1L else r.getLong(3))))
      .toMap
    val streamAs = got.map { case (id, (st, dupOf)) => id -> ((st == "new", dupOf)) }
    assert(streamAs == batchRef)
  }

  test("x62 streaming twin: stored-index screen matches batch; flushed acceptances catch later clones") {
    x62MaintainedStreamRoundTrip(maxDeltas = 0)
  }

  // same stream-driven round trip in DELTA mode: the phase-2 clone must be
  // caught via the delta PAIR a minor flush wrote (the base is untouched),
  // and phase-1 batch parity must hold bit for bit
  test("x62 streaming twin, delta tier: minor-flushed acceptances catch later clones") {
    x62MaintainedStreamRoundTrip(maxDeltas = 4)
  }

  private def x62MaintainedStreamRoundTrip(maxDeltas: Int): Unit = {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val root = Files.createTempDirectory("mndix").toString
    val outDir = Files.createTempDirectory("mndix_out").toString
    val docs = Tables.documents(spark, sf0001).select("doc_id", "source", "text")
    val m = new Pipelines.MaintainedNearDupIndex(sparkS, root, flushEvery = 1,
      maxDeltas = maxDeltas)
    m.initIndex(docs.filter(!(col("source") <=> "src19")).select("doc_id", "text"))
    val batchDocs = docs.filter(col("source") === "src19").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        m.screenBatch(b, id)(_.write.mode("append").parquet(outDir))
      }
      .option("checkpointLocation", Files.createTempDirectory("mndix_ck").toString)
      .start()
    try {
      // phase 1: the whole src19 batch in one micro-batch — must equal the
      // batch x62 on the same corpus/batch split, bit for bit
      in.addData(batchDocs.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = rowsOf(sparkS.read.parquet(outDir))
      val want = rowsOf(graft.functions.Dedup.x62IncrementalNearDup(spark, sf0001))
      assert(got == want, s"stream/batch divergence: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
      // phase 2: an exact clone of an ACCEPTED doc arrives after the
      // flush — the stored index (now holding the acceptance) must name
      // the accepted copy as the best match
      val acceptedIds = got.filter(_._2 == 0L).map(_._1)
      val (accId, accText) = batchDocs
        .filter(d => acceptedIds.contains(d._1) && d._2.trim.split("\\s+").length >= 5)
        .minBy(_._1)
      in.addData((900001L, accText))
      q.processAllAvailable()
      val later = rowsOf(sparkS.read.parquet(outDir)).filter(_._1 == 900001L)
      assert(later.size == 1)
      val (_, n, bj, bid) = later.head
      assert(n >= 1L, "post-flush clone must match the stored acceptance")
      assert(bj.contains(1.0) && bid.contains(accId),
        s"best match must be the accepted copy $accId at Jaccard 1.0, got ($bj, $bid)")
      if (maxDeltas > 0)
        assert(m.stats("version") == 0L && m.stats("delta_versions") >= 1L,
          s"delta mode must have caught the clone via the tier, not a base fold: ${m.stats}")
    } finally q.stop()
  }

  test("bucketed signature index: identical decisions; corpus side of the screen needs no exchange") {
    val sparkS = spark
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sf0001).select("doc_id", "source", "text")
    val corpus = docs.filter(!(col("source") <=> "src19")).select("doc_id", "text")
    val batch = docs.filter(col("source") === "src19").select("doc_id", "text")
    val rootP = Files.createTempDirectory("mndix_plain").toString
    val rootB = Files.createTempDirectory("mndix_buck").toString
    val plain = new Pipelines.MaintainedNearDupIndex(sparkS, rootP, flushEvery = 100)
    plain.initIndex(corpus)
    val buck = new Pipelines.MaintainedNearDupIndex(sparkS, rootB, flushEvery = 100,
      sigBuckets = 4)
    buck.initIndex(corpus)
    var a: Seq[org.apache.spark.sql.Row] = null
    var b: Seq[org.apache.spark.sql.Row] = null
    plain.screenBatch(batch, 0)(df => a = df.collect().toSeq)
    buck.screenBatch(batch, 0)(df => b = df.collect().toSeq)
    assert(a == b, "bucketed storage must not change decisions")
    // plan pin: the bucket-cap window runs on the bucketed scan's own
    // partitioning — the corpus side of the screen never shuffles
    val w = Window.partitionBy("band", "min_hash")
    def cappedPlan(sig: org.apache.spark.sql.DataFrame) = sig
      .withColumn("bn", count(lit(1)).over(w))
      .filter(col("bn") <= graft.functions.Dedup.MaxBucket).drop("bn")
      .queryExecution.executedPlan.toString
    val pc = cappedPlan(buck.currentSignatures)
    assert(pc.contains("Bucketed: true"), pc)
    assert(!pc.contains("Exchange hashpartitioning"),
      s"bucketed corpus side must not shuffle for the cap window:\n$pc")
    // control: the same window over the plain parquet version shuffles
    assert(cappedPlan(plain.currentSignatures).contains("Exchange hashpartitioning"))
    // restart path: drop the catalog entries, build a fresh instance over
    // the same root — it must re-register the external bucketed table and
    // keep the no-shuffle plan (data + bucket-id file naming persist; the
    // in-memory catalog does not)
    sparkS.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_mndix_"))
      .foreach(t => sparkS.sql(s"DROP TABLE IF EXISTS $t"))
    val sigRows = buck.currentSignatures.collect().toSet
    val buck2 = new Pipelines.MaintainedNearDupIndex(sparkS, rootB, flushEvery = 100,
      sigBuckets = 4)
    val pc2 = cappedPlan(buck2.currentSignatures)
    assert(pc2.contains("Bucketed: true") && !pc2.contains("Exchange hashpartitioning"),
      s"restart must re-register the bucketed table:\n$pc2")
    assert(buck2.currentSignatures.collect().toSet == sigRows,
      "re-registered table must serve the same rows")
    // restart under a CHANGED constructor bucket count: registration must
    // use the count stamped in the stored layout (bucket ids ride the file
    // names — registering 4-bucket files as 8 buckets silently misroutes
    // co-partitioned joins)
    sparkS.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_mndix_"))
      .foreach(t => sparkS.sql(s"DROP TABLE IF EXISTS $t"))
    val buck3 = new Pipelines.MaintainedNearDupIndex(sparkS, rootB, flushEvery = 100,
      sigBuckets = 8)
    assert(buck3.currentSignatures.collect().toSet == sigRows)
    // ---- delta + bucketed: decisions unchanged, corpus side still
    // exchange-free. Hand a delta pair to BOTH roots (discovery is
    // listing-based) and re-screen with a clone of the delta doc in the
    // batch: plain and bucketed delta modes must agree row-for-row, and
    // the clone must match the delta-resident copy.
    val deltaDoc = {
      import sparkS.implicits._
      Seq((7777L, "d1 d2 d3 d4 d5")).toDF("doc_id", "text")
    }
    val dsig = graft.functions.Dedup.minhashSignatures(deltaDoc)
      .select(col("band"), col("min_hash"), col("doc_id"))
    for (r <- Seq(rootP, rootB)) {
      dsig.write.parquet(s"$r/dsig_v0")
      graft.functions.Dedup.shingleRelation(deltaDoc).write.parquet(s"$r/dtg_v0")
    }
    val plainD = new Pipelines.MaintainedNearDupIndex(sparkS, rootP, flushEvery = 100,
      maxDeltas = 2)
    val buckD = new Pipelines.MaintainedNearDupIndex(sparkS, rootB, flushEvery = 100,
      sigBuckets = 4, maxDeltas = 2)
    val batch2 = {
      import sparkS.implicits._
      batch.unionByName(Seq((8888L, "d1 d2 d3 d4 d5")).toDF("doc_id", "text"))
    }
    var a2: Seq[org.apache.spark.sql.Row] = null
    var b2: Seq[org.apache.spark.sql.Row] = null
    plainD.screenBatch(batch2, 1)(df => a2 = df.collect().toSeq)
    buckD.screenBatch(batch2, 1)(df => b2 = df.collect().toSeq)
    assert(a2 == b2, "bucketed + delta must not change decisions")
    assert(a2.exists(r => r.getLong(0) == 8888L && r.getLong(1) >= 1L &&
      !r.isNullAt(3) && r.getLong(3) == 7777L),
      s"the clone must match the delta-resident copy: ${a2.filter(_.getLong(0) == 8888L)}")
    // plan pin: the delta correction's base-member count (the only new
    // corpus-side consumer) rides the bucket layout — semi-filtered scan
    // + aggregate with NO exchange on the corpus-scale side
    val pb = buckD.baseSignatures
      .join(broadcast(dsig.select(col("band"), col("min_hash")).distinct()),
        Seq("band", "min_hash"))
      .groupBy(col("band"), col("min_hash")).agg(count(lit(1)).as("nb"))
      .queryExecution.executedPlan.toString
    assert(pb.contains("Bucketed: true"), pb)
    // the corpus side (printed before the broadcast build of the tiny key
    // set) must carry no exchange — the semi-filter and the aggregate both
    // ride the stored bucket layout
    assert(!pb.split("BroadcastExchange")(0).contains("Exchange hashpartitioning"),
      s"the cap-correction count must not shuffle the corpus side:\n$pb")
    val tbl = sparkS.catalog.listTables().collect()
      .map(_.name).find(_.startsWith("graft_mndix_")).get
    val numBuckets = sparkS.sql(s"DESCRIBE EXTENDED $tbl").collect()
      .find(r => r.getString(0) == "Num Buckets").map(_.getString(1))
    assert(numBuckets.contains("4"),
      s"re-registration must use the STORED bucket count, got $numBuckets")
  }

  test("custom stateful sessionizer (flatMapGroupsWithState) matches batch session logic (D19)") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    import graft.streaming.Pipelines.{SessionOut, UserEvent}
    // base offset keeps the earliest event strictly above the initial
    // watermark (epoch 0), which would otherwise drop it as late
    def ts(minute: Long) = new java.sql.Timestamp(86400000L + minute * 60000L)
    // u1: events at 0,10,20 (one session), gap, 60,65 (second session)
    // u2: single event at 5
    // sentinel events far in the future advance the watermark so every real
    // session times out and emits
    val events = Seq(
      UserEvent(1, ts(0)), UserEvent(1, ts(10)), UserEvent(1, ts(20)),
      UserEvent(1, ts(60)), UserEvent(1, ts(65)),
      UserEvent(2, ts(5)),
      UserEvent(1, ts(100000)), UserEvent(2, ts(100000)))
    val in = MemoryStream[UserEvent]
    in.addData(events.take(6))
    val out = Files.createTempDirectory("sess_out").toString
    val q = Pipelines.sessionizeCustom(in.toDS())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", Files.createTempDirectory("sess_ck").toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      in.addData(events.drop(6)) // watermark jump flushes open sessions
      q.processAllAvailable()
      // one more empty-ish advance so timeout fires after watermark update
      in.addData(UserEvent(3, ts(200000)))
      q.processAllAvailable()
      val got = sparkS.read.parquet(out).as[SessionOut].collect()
        .filter(_.start_ms < 86400000L + 100000L * 60000) // drop sentinel sessions
        .map(s => (s.user_id, (s.start_ms - 86400000L) / 60000,
          (s.end_ms - 86400000L) / 60000, s.n_events)).toSet
      assert(got == Set((1L, 0L, 20L, 3L), (1L, 60L, 65L, 2L), (2L, 5L, 5L, 1L)))
    } finally q.stop()
  }

  test("rate limiter emits once per interval per key, counting suppressions (O18)") {
    var t = 0L
    val rl = new graft.metrics.Observability.RateLimiter(600000L, () => t)
    assert(rl.tryAcquire("q1").contains(0L))
    t += 1000; assert(rl.tryAcquire("q1").isEmpty)
    t += 1000; assert(rl.tryAcquire("q1").isEmpty)
    assert(rl.tryAcquire("q2").contains(0L)) // independent keys
    t += 600000; assert(rl.tryAcquire("q1").contains(2L))
  }

  test("supervisor restarts with cubic backoff until the query survives (O15/O16)") {
    import org.apache.spark.sql.streaming.StreamingQuery
    var starts = 0
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    def fakeQuery(): StreamingQuery = new StreamingQuery {
      starts += 1
      private val failing = starts <= 2
      override def name: String = "fake"
      override def id: java.util.UUID = java.util.UUID.randomUUID()
      override def runId: java.util.UUID = java.util.UUID.randomUUID()
      override def sparkSession: org.apache.spark.sql.SparkSession = spark
      override def isActive: Boolean = false
      override def exception: Option[org.apache.spark.sql.streaming.StreamingQueryException] = None
      override def status: org.apache.spark.sql.streaming.StreamingQueryStatus = null
      override def recentProgress: Array[org.apache.spark.sql.streaming.StreamingQueryProgress] = Array()
      override def lastProgress: org.apache.spark.sql.streaming.StreamingQueryProgress = null
      override def awaitTermination(): Unit = if (failing) sys.error("stream died")
      override def awaitTermination(timeoutMs: Long): Boolean = true
      override def processAllAvailable(): Unit = ()
      override def stop(): Unit = ()
      override def explain(): Unit = ()
      override def explain(extended: Boolean): Unit = ()
    }
    val restarts = graft.streaming.Supervisor.superviseStreaming(() => fakeQuery(), sleep = sleeps.append(_))
    assert(restarts == 2 && starts == 3)
    assert(sleeps.toSeq == Seq(5000L, 10000L))
  }

  test("supervisor resets the consecutive-restart counter after a healthy run (reset-on-ok)") {
    import org.apache.spark.sql.streaming.StreamingQuery
    var starts = 0
    var clock = 0L
    def fakeQuery(healthyMs: Long, failures: Int): StreamingQuery = new StreamingQuery {
      starts += 1
      private val failing = starts <= failures
      override def name: String = "fake"
      override def id: java.util.UUID = java.util.UUID.randomUUID()
      override def runId: java.util.UUID = java.util.UUID.randomUUID()
      override def sparkSession: org.apache.spark.sql.SparkSession = spark
      override def isActive: Boolean = false
      override def exception: Option[org.apache.spark.sql.streaming.StreamingQueryException] = None
      override def status: org.apache.spark.sql.streaming.StreamingQueryStatus = null
      override def recentProgress: Array[org.apache.spark.sql.streaming.StreamingQueryProgress] = Array()
      override def lastProgress: org.apache.spark.sql.streaming.StreamingQueryProgress = null
      override def awaitTermination(): Unit = { clock += healthyMs; if (failing) sys.error("fault") }
      override def awaitTermination(timeoutMs: Long): Boolean = true
      override def processAllAvailable(): Unit = ()
      override def stop(): Unit = ()
      override def explain(): Unit = ()
      override def explain(extended: Boolean): Unit = ()
    }
    // 15 intermittent failures, each after a healthy 61 s run: with the
    // reference's reset-on-ok semantics this never exhausts maxRestarts=10
    val total = graft.streaming.Supervisor.superviseStreaming(
      () => fakeQuery(61000L, 15), maxRestarts = 10, sleep = _ => (),
      minHealthyMillis = 60000L, now = () => clock)
    assert(total == 15 && starts == 16)
    // quick crash-loops (1 s runs) still exhaust the budget
    starts = 0
    val e = intercept[RuntimeException] {
      graft.streaming.Supervisor.superviseStreaming(
        () => fakeQuery(1000L, 100), maxRestarts = 3, sleep = _ => (),
        minHealthyMillis = 60000L, now = () => clock)
    }
    assert(e.getMessage == "fault" && starts == 4)
  }

  test("idempotent sink: a retried batch replaces its partition — no duplicates") {
    val sparkS = spark
    import sparkS.implicits._
    val out = Files.createTempDirectory("idem_out").toString
    val write = Pipelines.idempotentBatchWriter(out) _
    write(Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "value"), 0L)
    // simulate the at-least-once failure mode: batch 0 re-executes (possibly
    // with a recomputed superset) after a partial append
    write(Seq(("k1", "v1"), ("k2", "v2"), ("k3", "v3")).toDF("key", "value"), 0L)
    write(Seq(("k4", "v4")).toDF("key", "value"), 1L)
    val rows = sparkS.read.parquet(out)
    assert(rows.count() == 4, "retried batch 0 must replace, not append")
    assert(rows.filter(col("batch_id") === 0).count() == 3)
    assert(rows.filter(col("batch_id") === 1).count() == 1)
    // exactly-once end to end through a checkpointed keyed stream
    val src = Files.createTempDirectory("idem_src").toString
    (0 until 50).map(i => s"""{"id":{"k":$i},"type":"insert","table":"t","data":{}}""")
      .toDF("value").coalesce(1).write.mode("overwrite").parquet(src)
    val pOut = Files.createTempDirectory("idem_p").toString
    val ckpt = Files.createTempDirectory("idem_ck").toString
    def run(): Unit = Pipelines.dmlTransform(
        sparkS.readStream.schema("value STRING").parquet(src))
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Pipelines.idempotentBatchWriter(pOut)(b.select(col("key"), col("value")), id) }
      .start().awaitTermination()
    run(); run() // second run: checkpoint says nothing new; output unchanged
    assert(sparkS.read.parquet(pOut).count() == 50)
  }

  test("x35 streaming twin: bloom bits merged across micro-batches equal the batch filter") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val shingles = (0 until 120).map(i => s"stream shingle $i")
    val in = MemoryStream[String]
    val q = Pipelines.streamingBloom(in.toDF().select(col("value").as("sh")))
      .writeStream.format("memory").queryName("bloom_stream")
      .outputMode("complete").start()
    try {
      shingles.grouped(40).foreach { g => in.addData(g); q.processAllAvailable() }
      val streamed = sparkS.table("bloom_stream").as[Array[Long]].collect().last
      val batch = graft.functions.Bloom.build(shingles.toDF("sh"))
      assert(streamed.sameElements(batch))
    } finally q.stop()
  }

  test("x38 streaming twin: CMS grid merged across micro-batches equals the batch sketch") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val words = (0 until 300).map(i => s"tok${i % 40}")
    val in = MemoryStream[String]
    val q = Pipelines.streamingCms(in.toDF().select(col("value").as("token")))
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    try {
      // three micro-batches — partial grids must vector-add across them
      words.grouped(100).foreach { g => in.addData(g); q.processAllAvailable() }
      val streamed = sparkS.table("cms_stream").as[Array[Long]].collect().last
      val batch = graft.functions.Cms.sketch(words.toDF("token"))
      assert(streamed.sameElements(batch),
        s"streamed grid != batch grid (first diff at ${streamed.zip(batch).indexWhere(p => p._1 != p._2)})")
    } finally q.stop()
  }
}
