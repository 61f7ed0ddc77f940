package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptContext, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration
import graft.streaming.Pipelines.Ccd

/** O19 — system assembly (reference system.clj:15-29 + main.clj:58-62):
  * wire the control plane (CCD stream → compaction → orchestrator) to the
  * data plane (per-queue DML pipeline → keyed sink) and manage lifecycle.
  *
  * `dataSourceFor(queue)` supplies the per-queue streaming DataFrame with a
  * `value` payload column (in production: the graft-changelog source or a
  * Kafka topic; in tests: a MemoryStream). Each activated queue gets its
  * own checkpointed query — the EP3 hot path (jms_publisher.clj:138-194).
  * With the default handler ([[GraftSystem.keyedParquetHandler]]) every
  * micro-batch is ONE Spark job: each task routes keyed rows to
  * `outRoot/<queue>/main` and malformed payloads to
  * `outRoot/<queue>/dead_letter`, and the job's `commitJob` publishes
  * both sides; a failed batch is aborted and adds to neither.
  *
  * Each queue query is supervised (cubic-backoff restarts); when
  * `maxRestartsPerQueue` consecutive restarts are exhausted the system
  * writes a `status = "error"` CCD (with the failure detail) back through
  * `errorSink` — in production a producer to the control topic
  * (KafkaBridge.errorCcdJson), in tests the control MemoryStream — so the
  * control plane observes the failure and deactivates the queue (reference
  * README.md:19-22, the documented error write-back the reference never
  * implemented in code).
  */
class GraftSystem(dataSourceFor: String => DataFrame,
                  outRoot: String, checkpointRoot: String,
                  queueTrigger: Trigger = Trigger.ProcessingTime("1 second"),
                  maxRestartsPerQueue: Int = graft.ops.Backoff.MaxRetries,
                  restartSleep: Long => Unit = Thread.sleep,
                  errorSink: Ccd => Unit = _ => (),
                  transform: DataFrame => DataFrame = GraftSystem.dmlTransform,
                  batchHandler: (String, String, DataFrame, Long) => Unit =
                    GraftSystem.keyedParquetHandler,
                  takedownSink: Ccd => Unit = _ => ()) {

  private def sanitize(queue: String): String = queue.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Build and start one incarnation of the data-plane query. The default
    * `transform`/`batchHandler` pair is the reference EP3 hot path (DML
    * envelope → key derivation → keyed main + dead-letter parquet);
    * services with richer per-batch logic — the curation composition's
    * gate → dedup → near-dup → split chain ([[CurationService]]) — plug
    * in their own pair and inherit the whole control plane: activation,
    * supervision, error write-back, shutdown order. */
  private[graft] def startQueueOnce(queue: String): StreamingQuery = {
    val dir = s"$outRoot/${sanitize(queue)}"
    transform(dataSourceFor(queue))
      .writeStream
      .queryName(s"graft-queue-$queue")
      .option("checkpointLocation", s"$checkpointRoot/${sanitize(queue)}")
      .trigger(queueTrigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batchHandler(queue, dir, batch, id)
      }
      .start()
  }

  /** The CCD posted back on unrecoverable failure: same key as the CCD
    * that activated the queue, offset above the latest seen so compaction
    * picks it, and the failure message in `error`. */
  private def exhausted(queue: String, e: Throwable): Unit = {
    val (key, offset) = orchestrator.compactedState.find(_._2.queue == queue)
      .map { case (k, c) => (k, c.offset + 1) }
      .getOrElse((queue, Long.MaxValue))
    errorSink(Ccd(key, "error", queue, offset,
      Some(Option(e.getMessage).getOrElse(e.getClass.getName))))
  }

  /** Supervised per-queue start: the orchestrator holds the wrapper, so
    * deactivation stops both the watchdog and the live incarnation. */
  private[graft] def startQueue(queue: String): StreamingQuery =
    new Supervisor.SupervisedQueueQuery(queue, () => startQueueOnce(queue),
      maxRestartsPerQueue, restartSleep, exhausted)

  val orchestrator = new QueueOrchestrator(startQueue, takedownSink)

  @volatile private var controlQuery: Option[StreamingQuery] = None
  @volatile private var controlCkptKey: Option[String] = None

  private val closers = new java.util.concurrent.ConcurrentLinkedQueue[AutoCloseable]()

  /** Register a resource (metrics reporter, listener detach, …) to be closed
    * by [[stop]] after the queries are down. */
  def onStop(c: AutoCloseable): Unit = { closers.add(c); () }

  /** Start the whole system from a CCD control stream.
    *
    * Boot = FULL control-log replay: the control checkpoint is cleared
    * here, every boot. The orchestrator's compacted state is in-memory
    * and dies with the process, so resuming the control source past the
    * already-seen CCDs would leave every queue inactive after a driver
    * restart — the CCDs that encode which queues should be running
    * would never be re-read. Replaying instead reconstructs the active
    * set from the log itself (the snapshot∪tail unification), and the
    * last-write-wins compaction makes the replay idempotent, so the
    * cleared checkpoint costs nothing but a control-sized re-read. The
    * per-QUEUE checkpoints are untouched — data-plane exactly-once is
    * theirs.
    *
    * REQUIREMENT this replay imposes on the control source: it must
    * retain its FULL history (the compacted control-topic / complete
    * parquet-log shape). Against a retention-trimmed source the replay
    * reconstructs only the surviving suffix and every queue whose
    * activating CCD aged out stays inactive at boot — compact the
    * control log instead of trimming it.
    *
    * Guarded against double-start: a second start() while the control
    * query is live — on this system or on ANOTHER system sharing the
    * same checkpointRoot in this JVM — would delete a RUNNING query's
    * checkpoint out from under it; both shapes throw instead. */
  def start(controlStream: Dataset[Ccd],
            controlTrigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    val ckpt = GraftSystem.normalizedControlCkpt(checkpointRoot,
      controlStream.sparkSession.sparkContext.hadoopConfiguration)
    if (controlQuery.exists(_.isActive))
      throw new IllegalStateException(
        s"this GraftSystem's control query is still running (checkpoint $ckpt); " +
          "stop() the system before starting it again — clearing a live " +
          "query's checkpoint corrupts it")
    val q = GraftSystem.controlRegistry.synchronized {
      Option(GraftSystem.controlRegistry.get(ckpt)).filter(_.isActive) match {
        case Some(_) => throw new IllegalStateException(
          s"another GraftSystem's control query is live on checkpoint $ckpt; " +
            "two systems must not share a checkpointRoot — stop the other " +
            "system or use a distinct root")
        case None =>
          val p = new org.apache.hadoop.fs.Path(ckpt)
          val fs = p.getFileSystem(
            controlStream.sparkSession.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
          val started = orchestrator.run(controlStream, ckpt, controlTrigger)
          GraftSystem.controlRegistry.put(ckpt, started)
          started
      }
    }
    controlQuery = Some(q)
    controlCkptKey = Some(ckpt)
    q
  }

  /** Graceful shutdown in dependency order (main.clj:62 analogue). */
  def stop(): Unit = {
    controlQuery.foreach { q =>
      q.stop()
      // drop our registry entry so stopped queries aren't pinned for the
      // JVM lifetime (remove only OUR mapping — a newer system may have
      // re-registered the path already); the key is the NORMALIZED form
      // start() registered under
      controlCkptKey.foreach(k => GraftSystem.controlRegistry.remove(k, q))
    }
    orchestrator.stopAll()
    closers.forEach(c => try c.close() catch { case _: Exception => () })
    closers.clear()
  }
}

object GraftSystem {
  /** JVM-global control-checkpoint registry (the [[Pipelines.rootLock]]
    * pattern): start() refuses to clear a checkpoint another system's
    * LIVE control query is using. Entries for stopped queries are
    * overwritten by the next start on the same path. */
  private val controlRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, StreamingQuery]()

  /** Canonical registry key for a control checkpoint: the path qualified
    * against its FileSystem (scheme + authority, `.`/`..`/double-slash
    * collapsed), so two systems addressing one directory via different
    * spellings — trailing slash, relative vs absolute — collide in the
    * registry instead of bypassing the live-query guard and deleting a
    * running query's checkpoint. */
  private[streaming] def normalizedControlCkpt(
      checkpointRoot: String,
      conf: org.apache.hadoop.conf.Configuration): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointRoot, "_control")
    val fs = p.getFileSystem(conf)
    p.makeQualified(fs.getUri, fs.getWorkingDirectory).toString
  }

  /** The reference EP3 transform: DML envelope → derived key. */
  val dmlTransform: DataFrame => DataFrame = Pipelines.dmlTransform(_, "value")

  /** The reference EP3 sink (jms_publisher.clj:138-194: derive the key,
    * publish the record once) as ONE Spark job per micro-batch, with no
    * persist. Each task routes its rows by the derived key: a row with a
    * key goes to a `dir/main` file (key, value), a row with a null key to
    * a `dir/dead_letter` file (value). Both writers come from
    * `ParquetFileFormat.prepareWrite` and stage their files under ONE
    * file-commit protocol over `dir`; the commit point is `commitJob`,
    * which moves every task's `main/` and `dead_letter/` files in and
    * writes the one `dir/_SUCCESS` marker. A failed task aborts its
    * attempt and a failed job aborts the whole staging tree
    * (`dir/_temporary`), so a failed batch adds nothing to either side.
    * Partition 0 always opens both writers, so after every batch both
    * directories exist and read back with their schemas even when one
    * side got no rows (what a parquet append does for an empty side).
    * Cached DataFrames over the output directories are not refreshed. */
  val keyedParquetHandler: (String, String, DataFrame, Long) => Unit =
    (_, dir, batch, _) => routedWrite(batch.select(col("key"), col("value")), dir)

  /** Writes `keyed` = (key, value) to `dir/main` and `dir/dead_letter` in
    * one job under one commit (see [[keyedParquetHandler]]). */
  private def routedWrite(keyed: DataFrame, dir: String): Unit = {
    val spark = keyed.sparkSession
    val qe = keyed.queryExecution
    val mainSchema = StructType(keyed.schema.map(_.copy(nullable = true)))
    val deadSchema = StructType(Seq(mainSchema("value")))
    val valueType = deadSchema.head.dataType
    val hadoopConf = spark.sessionState.newHadoopConf()
    // one Hadoop job per side: the parquet write support reads its schema
    // from the job conf, so the two writers cannot share one
    def prepare(schema: StructType): (Job, OutputWriterFactory) = {
      val job = Job.getInstance(hadoopConf)
      job.setOutputKeyClass(classOf[Void])
      job.setOutputValueClass(classOf[InternalRow])
      FileOutputFormat.setOutputPath(job, new Path(dir))
      (job, new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema))
    }
    val (mainJob, mainFactory) = prepare(mainSchema)
    val (deadJob, deadFactory) = prepare(deadSchema)
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      java.util.UUID.randomUUID().toString, dir)
    val mainConf = new SerializableConfiguration(mainJob.getConfiguration)
    val deadConf = new SerializableConfiguration(deadJob.getConfiguration)
    val trackerId = new java.text.SimpleDateFormat("yyyyMMddHHmmss", java.util.Locale.US)
      .format(new java.util.Date())
    SQLExecution.withNewExecutionId(qe, Some(s"keyed sink $dir")) {
      val computed = qe.toRdd
      // an empty batch still writes partition 0's two empty files
      val rdd = if (computed.partitions.nonEmpty) computed
        else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
      committer.setupJob(mainJob)
      try {
        val commits = spark.sparkContext.runJob(rdd,
          (ctx: TaskContext, rows: Iterator[InternalRow]) => {
            // the Hadoop task identity both writers and the committer share
            val jobId = new JobID(trackerId, ctx.stageId())
            val attempt = new TaskAttemptID(
              new TaskID(jobId, TaskType.MAP, ctx.partitionId()), ctx.attemptNumber())
            def context(c: SerializableConfiguration): TaskAttemptContext = {
              val conf = c.value
              conf.set("mapreduce.job.id", jobId.toString)
              conf.set("mapreduce.task.id", attempt.getTaskID.toString)
              conf.set("mapreduce.task.attempt.id", attempt.toString)
              conf.setBoolean("mapreduce.task.ismap", true)
              conf.setInt("mapreduce.task.partition", 0)
              new TaskAttemptContextImpl(conf, attempt)
            }
            val mainCtx = context(mainConf)
            val deadCtx = context(deadConf)
            committer.setupTask(mainCtx)
            def open(sub: String, f: OutputWriterFactory, s: StructType,
                     c: TaskAttemptContext): OutputWriter =
              f.newInstance(committer.newTaskTempFile(mainCtx, Some(sub),
                FileNameSpec("", "-c000" + f.getFileExtension(c))), s, c)
            var main: OutputWriter = null
            var dead: OutputWriter = null
            // closes both writers, the second also when the first fails
            def closeWriters(): Unit = {
              val (m, d) = (main, dead)
              main = null; dead = null
              try { if (m != null) m.close() } finally { if (d != null) d.close() }
            }
            try {
              if (ctx.partitionId() == 0) {
                main = open("main", mainFactory, mainSchema, mainCtx)
                dead = open("dead_letter", deadFactory, deadSchema, deadCtx)
              }
              val deadRow = new GenericInternalRow(1)
              rows.foreach { r =>
                if (r.isNullAt(0)) {
                  if (dead == null) dead = open("dead_letter", deadFactory, deadSchema, deadCtx)
                  deadRow.update(0, r.get(1, valueType))
                  dead.write(deadRow)
                } else {
                  if (main == null) main = open("main", mainFactory, mainSchema, mainCtx)
                  main.write(r)
                }
              }
              closeWriters()
              committer.commitTask(mainCtx)
            } catch { case t: Throwable =>
              try closeWriters() catch { case s: Throwable => t.addSuppressed(s) }
              committer.abortTask(mainCtx)
              throw t
            }
          })
        commits.foreach(committer.onTaskCommit)
        committer.commitJob(mainJob, commits.toSeq)
      } catch { case t: Throwable =>
        committer.abortJob(mainJob)
        throw t
      }
    }
  }
}
