package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (tests fork one JVM; the session is
  * reused across suites and never stopped mid-run). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  /** Run a ScalaCheck property under scalatest. */
  def checkProp(p: org.scalacheck.Prop, min: Int = 50): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(min), p)
    assert(res.passed, res.status.toString)
  }

  /** Run `body` with this thread's job group set to `group` and return
    * its result with the number of Spark jobs started in that group
    * ([[jobsDuring]]). */
  def jobsIn[T](group: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val (out, jobs) = jobsDuring {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    (out, jobs.count(_.group == group))
  }

  /** Run `body` and return every Spark job started meanwhile, from any
    * thread: its job group ("" outside any group — a stream tags its jobs
    * with its run id) and the long call site of its first stage. A marker
    * job in its own group drains the listener bus before the jobs are
    * read: once the listener has seen the marker, it has seen every
    * earlier job. */
  def jobsDuring[T](body: => T): (T, Seq[SparkSpec.JobStart]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkSpec.JobStart]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(SparkSpec.JobStart(
          Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .getOrElse(""),
          e.stageInfos.headOption.map(_.details).getOrElse("")))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      val marker = s"jobs-marker-${java.util.UUID.randomUUID()}"
      sc.setJobGroup(marker, "listener-bus marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      import scala.jdk.CollectionConverters._
      def drained = seen.asScala.exists(_.group == marker)
      val deadline = System.currentTimeMillis() + 30000
      while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(drained, "the listener bus did not deliver the marker job")
      (out, seen.asScala.toSeq.filterNot(_.group == marker))
    } finally sc.removeSparkListener(listener)
  }

  /** The `doc_id`s a service has written to output dir `dir`, empty until
    * its first batch commits data there (the `Soak.committedIds` rule):
    * a read of the not-yet-written dir would make Spark log a
    * FileStreamSink WARN with a full stack trace on every poll. */
  def committedIds(dir: String): Set[Long] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!VersionedDirs.hasCommittedData(fs, dir)) Set.empty
    else try spark.read.parquet(dir).select("doc_id").collect().map(_.getLong(0)).toSet
    catch { case _: Exception => Set.empty }
  }

  /** Recursive directory copy — the crash-simulation snapshot primitive
    * (snapshot staging/version dirs, crash, restore) shared by the
    * maintained-index specs. */
  def copyDir(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else {
        java.nio.file.Files.createDirectories(t.getParent)
        java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }
}

object SparkSpec {
  /** One job start seen by [[SparkSpec.jobsDuring]]. */
  final case class JobStart(group: String, callSite: String)

  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
