package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The graft-changelog DSv2 source: offset-ranged replay of a parquet
  * changelog with checkpoint resumption and admission control (O10's
  * Spark-native stand-in). */
class ChangelogSourceSpec extends SparkSpec {

  private def eventsPath = s"$sf0001/events.parquet"

  test("batch read: full changelog surfaces as (offset, value)") {
    val df = spark.read.format("graft-changelog")
      .option("path", eventsPath).option("offsetColumn", "event_id").option("valueColumn", "props")
      .load()
    assert(df.schema.fieldNames.toSeq == Seq("offset", "value"))
    assert(df.count() == 1000)
    val r = df.orderBy("offset").limit(1).collect()(0)
    assert(r.getLong(0) == 0 && r.getString(1).startsWith("{\"k\":"))
  }

  test("streaming read: AvailableNow replays everything once; checkpoint blocks replay") {
    val out = Files.createTempDirectory("chg_out").toString
    val ckpt = Files.createTempDirectory("chg_ckpt").toString
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-changelog")
        .option("path", eventsPath).option("offsetColumn", "event_id").option("valueColumn", "props")
        .load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", out)
        .start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 1000)
    runOnce() // same checkpoint: no new offsets, no duplicates
    assert(spark.read.parquet(out).count() == 1000)
  }

  test("admission control: maxRowsPerBatch bounds each micro-batch (segmented changelog)") {
    // the production changelog shape: a directory of segment files, each
    // segment (row group) an admission atom smaller than the batch budget
    val seg = Files.createTempDirectory("chg_seg").toString
    Tables.events(spark, sf0001).select(col("event_id"), col("props"))
      .repartitionByRange(10, col("event_id"))
      .write.mode("overwrite").parquet(seg)
    val out = Files.createTempDirectory("chg_out2").toString
    val ckpt = Files.createTempDirectory("chg_ckpt2").toString
    val q = spark.readStream.format("graft-changelog")
      .option("path", seg).option("offsetColumn", "event_id").option("valueColumn", "props")
      .option("maxRowsPerBatch", "300")
      .load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", out)
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == 1000)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 4, s"expected >=4 rate-limited batches, got ${batches.length}")
    assert(batches.forall(_.numInputRows <= 300))
  }

  test("admission rounds to the row-group atom: a single-group file drains in one batch") {
    // one parquet file with ONE row group: an end offset inside the group
    // would make every batch re-decode the whole group (no page indexes),
    // so the budget rounds UP to the atom boundary and the log drains in a
    // single batch of all rows
    val one = Files.createTempDirectory("chg_one").toString
    Tables.events(spark, sf0001).select(col("event_id"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(one)
    val out = Files.createTempDirectory("chg_out3").toString
    val ckpt = Files.createTempDirectory("chg_ckpt3").toString
    val q = spark.readStream.format("graft-changelog")
      .option("path", one).option("offsetColumn", "event_id").option("valueColumn", "props")
      .option("maxRowsPerBatch", "300")
      .load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", out)
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == 1000)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 1, s"expected one whole-atom batch, got ${batches.length}")
    assert(batches(0).numInputRows == 1000)
  }

  test("page-level admission: an indexed single-group file admits sub-group batches") {
    // one row group, offset pages of 100 rows (forced via the writer's
    // page row limit): admission must honor the 300-row budget at PAGE
    // granularity — the group-atom fallback would drain all 1000 rows in
    // one batch
    val dir = Files.createTempDirectory("chg_pg").toString
    Tables.events(spark, sf0001).select(col("event_id"), col("props"))
      .coalesce(1)
      .write.option("parquet.page.row.count.limit", "100")
      .mode("overwrite").parquet(dir)
    val out = Files.createTempDirectory("chg_pg_out").toString
    val ckpt = Files.createTempDirectory("chg_pg_ckpt").toString
    val q = spark.readStream.format("graft-changelog")
      .option("path", dir).option("offsetColumn", "event_id").option("valueColumn", "props")
      .option("maxRowsPerBatch", "300")
      .load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", out)
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == 1000)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 3,
      s"expected sub-group page-snapped batches, got ${batches.length}")
    assert(batches.forall(_.numInputRows <= 400),
      s"page-snapped batches must stay near the 300-row target: ${batches.map(_.numInputRows).mkString(",")}")
  }

  test("interleaved segment ranges: everywhere-boundary preferred within one-atom overshoot") {
    // two single-group files with INTERLEAVED offset ranges (evens vs
    // odds): each file's own group edge sits INSIDE the other file's
    // group. With a budget that covers the backlog, the admissible
    // (everywhere-boundary) global max is chosen — one batch, no atom
    // straddled. With a 300-row budget, progress requires completing at
    // least one atom: the first per-file atom end (998) is taken even
    // though it straddles the odd file's group — a bounded decode cost,
    // and strictly bounded admission (999 + 1 rows, never more than one
    // atom past the budget).
    val dir = Files.createTempDirectory("chg_il").toString
    val ev = Tables.events(spark, sf0001).select(col("event_id"), col("props"))
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(dir)
    ev.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(dir)
    val out = Files.createTempDirectory("chg_il_out").toString
    val ckpt = Files.createTempDirectory("chg_il_ckpt").toString
    val q = spark.readStream.format("graft-changelog")
      .option("path", dir).option("offsetColumn", "event_id").option("valueColumn", "props")
      .option("maxRowsPerBatch", "2000")
      .load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", out)
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == 1000)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 1,
      s"budget >= backlog: interleaved files drain in one everywhere-boundary batch, got ${batches.length}")
  }

  test("compacted segment overlapping its sources: admission stays bounded (no whole-backlog batch)") {
    // the layout that defeats the everywhere-boundary preference: one
    // COMPACTED single-group file spanning [0, 999] coexists with the ten
    // fine-grained 100-row segments it compacted. Every fine-grained atom
    // end lies inside the compacted file's group and every interior
    // boundary of the compacted file lies inside a segment's atom, so NO
    // everywhere-admissible boundary exists below the global max. A
    // 300-row budget must NOT collapse to a single whole-backlog batch
    // (the unbounded-admission failure mode): per-file snapping bounds
    // each batch end to within one atom of the budget — the compacted
    // group is re-decoded across batches (page indexes prune it in real
    // writers), but executor memory sizing by maxRowsPerBatch holds.
    val sparkS = spark
    import sparkS.implicits._
    val dir = Files.createTempDirectory("chg_cmp").toString
    val rows = Seq.tabulate(1000)(i => (i.toLong, s"v$i"))
    rows.toDF("event_id", "props").coalesce(1).write.mode("append").parquet(dir)
    for (s <- 0 until 10)
      rows.slice(s * 100, s * 100 + 100).toDF("event_id", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    val out = Files.createTempDirectory("chg_cmp_out").toString
    val ckpt = Files.createTempDirectory("chg_cmp_ckpt").toString
    val q = spark.readStream.format("graft-changelog")
      .option("path", dir).option("offsetColumn", "event_id").option("valueColumn", "props")
      .option("maxRowsPerBatch", "300")
      .load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", out)
      .start()
    q.awaitTermination()
    // every offset is stored twice (compacted + segment), so 2000 rows out
    assert(spark.read.parquet(out).count() == 2000)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 3,
      s"bounded admission must split the overlapped backlog, got ${batches.length} batches")
    val biggest = batches.map(_.numInputRows).max
    assert(biggest <= 800,
      s"batch admission must stay within one atom of the 300-row budget per file, got $biggest rows")
  }

  test("admissibleBoundaries: sweep matches the quadratic definition") {
    import graft.sources.ChangelogSource.{GroupMeta, admissibleBoundaries}
    def quad(atoms: Seq[GroupMeta]): Seq[Long] =
      atoms.map(_.maxOff).distinct.sorted
        .filter(b => !atoms.exists(g => g.minOff <= b && b < g.maxOff))
    val disjoint = Seq(GroupMeta(0, 99, 100), GroupMeta(100, 199, 100), GroupMeta(200, 299, 100))
    assert(admissibleBoundaries(disjoint).toSeq == Seq(99L, 199L, 299L))
    // a compacted atom spanning the lot vetoes every interior boundary
    assert(admissibleBoundaries(GroupMeta(0, 299, 300) +: disjoint).toSeq == Seq(299L))
    // fully interleaved single-group files: only the global max survives
    assert(admissibleBoundaries(Seq(GroupMeta(0, 998, 500), GroupMeta(1, 999, 500))).toSeq
      == Seq(999L))
    assert(admissibleBoundaries(Nil).isEmpty)
    val rnd = new scala.util.Random(42)
    for (i <- 1 to 100) {
      val atoms = Seq.fill(1 + rnd.nextInt(20)) {
        val lo = rnd.nextInt(100).toLong
        val len = 1 + rnd.nextInt(50)
        GroupMeta(lo, lo + len, len + 1)
      }
      assert(admissibleBoundaries(atoms).toSeq == quad(atoms), s"case $i: $atoms")
    }
  }

  test("mixed INT32/INT64 offset columns across files read correctly (per-file filter sniff)") {
    val sparkS = spark
    import sparkS.implicits._
    val dir = Files.createTempDirectory("chg_mixed").toString
    // file A: INT32 offsets 0..49, file B: INT64 offsets 50..99
    Seq.tabulate(50)(i => (i, s"v$i")).toDF("off", "props")
      .coalesce(1).write.parquet(s"$dir/a")
    Seq.tabulate(50)(i => (50L + i, s"v${50 + i}")).toDF("off", "props")
      .coalesce(1).write.parquet(s"$dir/b")
    val mixed = new java.io.File(dir, "mixed"); mixed.mkdirs()
    for (sub <- Seq("a", "b"); f <- new java.io.File(dir, sub).listFiles()
         if f.getName.endsWith(".parquet"))
      Files.copy(f.toPath, new java.io.File(mixed, s"${sub}_${f.getName}").toPath)
    val df = spark.read.format("graft-changelog")
      .option("path", mixed.toString)
      .option("offsetColumn", "off").option("valueColumn", "props")
      .load()
    assert(df.count() == 100)
    assert(df.agg(min("offset"), max("offset")).collect()(0).toSeq == Seq(0L, 99L))
  }

  test("splitRange clamps non-positive numPartitions; option validation rejects it up front") {
    import graft.sources.{ChangelogConfig, ChangelogMicroBatchStream}
    // a hand-built config with numPartitions=0 must still plan >=1 partition
    // (zero partitions would drop the batch while the checkpoint advanced)
    val cfg = ChangelogConfig(eventsPath, "event_id", "props", Long.MaxValue, 0)
    val parts = ChangelogMicroBatchStream.splitRange(cfg, -1L, 99L)
    assert(parts.length == 1)
    // every planned partition carries only footer-overlapping files, with
    // the full footer meta (bounds + shape + length) riding along for the
    // executor reader
    val p0 = parts(0).asInstanceOf[graft.sources.ChangelogInputPartition]
    assert(p0.files.map(m => new org.apache.hadoop.fs.Path(m.path).toUri.getPath) == Seq(eventsPath))
    assert(p0.files.forall(m => m.len > 0 && m.minOff <= m.maxOff))
    // and the DSv2 option path rejects it before any planning
    val err = intercept[Exception] {
      spark.read.format("graft-changelog")
        .option("path", eventsPath).option("numPartitions", "0").load().count()
    }
    assert(err.getMessage.contains("numPartitions"))
  }

  test("the changelog source feeds the dml pipeline end to end (EP3 composition)") {
    val src = spark.read.format("graft-changelog")
      .option("path", eventsPath).option("offsetColumn", "event_id").option("valueColumn", "props")
      .load()
    // props is plain JSON without an id map -> derive a DML envelope first
    val dml = src.select(col("offset"),
      concat(lit("{\"id\":{\"offset\":"), col("offset"), lit("},\"type\":\"insert\",\"table\":\"events\",\"data\":"),
        col("value"), lit("}")).as("value"))
    val out = graft.streaming.Pipelines.dmlTransform(dml, "value")
    assert(out.filter(col("valid")).count() == 1000)
    val k = out.orderBy("offset").select("key").limit(1).collect()(0).getString(0)
    assert(k == "[\"offset\",0]")
  }

  test("the source reaches files through the session's Hadoop conf (a scheme only it names)") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftfs.impl", classOf[GraftSchemeFs].getName)
    hc.setBoolean("fs.graftfs.impl.disable.cache", true)
    try {
      val df = spark.read.format("graft-changelog")
        .option("path", s"graftfs:$eventsPath")
        .option("offsetColumn", "event_id").option("valueColumn", "props")
        .load()
      assert(df.count() == 1000)
      assert(df.agg(min("offset"), max("offset")).collect()(0).toSeq == Seq(0L, 999L))
    } finally {
      hc.unset("fs.graftfs.impl")
      hc.unset("fs.graftfs.impl.disable.cache")
    }
  }

  test("a null offset inside a file fails loudly, never silently mis-filters") {
    // footer stats only prove SOME non-null offset exists; a row-level null
    // must throw (the vectorized path would otherwise read an undefined
    // long and silently drop or misroute the row)
    val sparkS = spark
    import sparkS.implicits._
    val dir = Files.createTempDirectory("chg_nulls").toString
    Seq[(Option[Long], String)]((Some(0L), "a"), (None, "b"), (Some(2L), "c"))
      .toDF("event_id", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val thrown = intercept[Throwable] {
      spark.read.format("graft-changelog")
        .option("path", dir).option("offsetColumn", "event_id").option("valueColumn", "props")
        .load().collect()
    }
    val messages = Iterator.iterate(thrown)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("null value in offset column")),
      s"expected the loud null-offset error, got: $messages")
  }
}

/** The local filesystem under its own scheme, `graftfs:`: a path on it
  * opens only through a Hadoop conf that names the implementation. */
class GraftSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}
