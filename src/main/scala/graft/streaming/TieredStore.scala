package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The versioned base + delta-tier lifecycle under the four maintained
  * indexes ([[Pipelines.MaintainedDedupIndex]],
  * [[Pipelines.MaintainedNearDupIndex]], [[MaintainedTextIndex]],
  * [[MaintainedAnnIndex]]). A pillar names its relations and keeps its
  * folds, resolve and serve logic; the store owns versions, and runs no
  * Spark job.
  *
  *  - **Layout.** Base version N of relation `p` (`basePrefixes`, primary
  *    first) lives at `root/<p><N>`, delta k of relation `d`
  *    (`deltaPrefixes`) at `root/<d><k>`, and a shadow build of `p` at
  *    `root/<p minus "_v">_shadow` (never served: not a `<p><N>` name).
  *  - **Commit rule.** Base version N is committed when every base
  *    relation holds committed data ([[graft.VersionedDirs]]) AND the
  *    floor marker `_graft_delta_floor` exists on the primary relation.
  *    The marker is written last on every publish path (seed, flush major,
  *    shadow swap), so a crash at any earlier point leaves N invisible and
  *    the previous version serving; a multi-file base write is never
  *    served half-landed. The marker holds the floor: the first delta
  *    number NOT folded into N. The [[VersionPointer]] judges claims by
  *    the same predicate, and a handle serves the newest committed
  *    version at or below the pointer.
  *  - **Delta tier.** Delta k is live when k is at or above the served
  *    floor, every delta relation of k holds committed data, and the
  *    pillar's `deltaCommitted(k)` holds (a pillar whose last delta write
  *    is a marker names it there). Delta numbers are monotonic; the tier's
  *    bytes are those of the first delta relation, the one the serve-side
  *    broadcasts derive from, and past `maxDeltaBroadcastBytes` the tier
  *    is `oversized`.
  *  - **Snapshot.** A read builds its whole plan from one (version, floor)
  *    pair, captured under this store's monitor, which every publish also
  *    takes: no serve, reader or writer, pairs a base with another base's
  *    floor (double-counted or dropped deltas). A read-only handle
  *    re-resolves the pair from storage at each capture (FS metadata
  *    only), so it serves what the writer last committed.
  *  - **Retention.** A publish keeps the newest `keepVersions` bases plus
  *    every pinned version (a classify stream's query-start base), and
  *    the deltas at or above the oldest kept base's floor, so a plan built
  *    on any kept snapshot still finds its files (the reader SLA,
  *    SCALING.md "Readers"). Everything else under the prefixes, torn
  *    remnants included, is deleted.
  *  - **Writer.** A writer handle takes the single-writer
  *    [[Pipelines.WriterLease]] and clears torn pointer claims at
  *    construction; every mutation renews it. A read-only handle takes
  *    nothing and refuses every mutation.
  *  - **Flush and rebuild.** A flush window is MINOR (one delta) until
  *    `maxDeltas` deltas accumulate or the tier oversizes (an early
  *    major), else MAJOR (base N+1); while a shadow rebuild is in flight
  *    majors are deferred to minors, so the rebuild's snapshot stays
  *    immutable. One rebuild (shadow compaction or ANN retrain) runs at a
  *    time; its swap moves each shadow into place and commits. */
final class TieredStore(s: SparkSession, root: String, pillar: String, owner: String,
                        basePrefixes: Seq[String], deltaPrefixes: Seq[String],
                        maxDeltas: Int, maxDeltaBroadcastBytes: Long,
                        keepVersions: Int, pointer: Option[VersionPointer],
                        leaseTtlMs: Long, writerId: String, readOnly: Boolean,
                        sidecarPrefixes: Seq[String] = Nil,
                        deltaCommitted: Int => Boolean = _ => true,
                        unregister: Int => Unit = _ => ()) {
  import TieredStore._

  require(maxDeltas >= 0, "maxDeltas must be >= 0")
  // keep >= 2: an in-flight lazy plan built just before a major still
  // reads the previous base version (the grace rule); raise it for
  // deployments with cross-process readers slower than one major cycle
  require(keepVersions >= 2, "keepVersions must be >= 2")

  def fs: org.apache.hadoop.fs.FileSystem =
    new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  private val primary = basePrefixes.head
  private def baseDir(prefix: String, v: Int): String = s"$root/$prefix$v"
  def shadowDir(prefix: String): String = s"$root/${prefix.stripSuffix("_v")}_shadow"

  /** The commit rule (see the class doc). */
  def committed(v: Int): Boolean =
    basePrefixes.forall(p => graft.VersionedDirs.hasCommittedData(fs, baseDir(p, v))) &&
      Pipelines.readIntMarker(fs, baseDir(primary, v), FloorMarker).nonEmpty

  private val vptr: VersionPointer =
    pointer.getOrElse(new DiscoveredVersionPointer(fs, root, primary))
  vptr.bindCommitted(committed)

  private def resolveVersion(): Int = {
    val cand = vptr.current().getOrElse(0)
    (cand to 0 by -1).find(committed).getOrElse(0)
  }
  private def readFloor(v: Int): Int =
    Pipelines.readIntMarker(fs, baseDir(primary, v), FloorMarker).getOrElse(0)

  @volatile private var current = resolveVersion()
  @volatile private var currentFloor = readFloor(current)
  /** The writer's base version (a read-only handle's last capture). */
  def version: Int = current

  // lifecycle counters shared by every pillar's `stats`
  val stagedBatches = new java.util.concurrent.atomic.AtomicLong()
  val flushes = new java.util.concurrent.atomic.AtomicLong()
  val deltaFallbacks = new java.util.concurrent.atomic.AtomicLong()
  val earlyMajors = new java.util.concurrent.atomic.AtomicLong()
  val nDeleted = new java.util.concurrent.atomic.AtomicLong()
  val shadowDeferredMajors = new java.util.concurrent.atomic.AtomicLong()
  @volatile private var lastFlushMs = -1L
  private val rebuildInFlight = new java.util.concurrent.atomic.AtomicBoolean(false)

  private val lease: Option[Pipelines.WriterLease] =
    if (readOnly) None
    else Some(new Pipelines.WriterLease(fs, root, leaseTtlMs, writerId))
  lease.foreach(_.acquire())
  // reconcile only under the lease: deleting a torn pointer remnant is
  // safe only when no rival writer can be mid-claim
  if (!readOnly) vptr.reconcile()

  /** Renew the writer lease before a mutation — also the gate that makes
    * every mutator on a read-only handle fail loudly instead of racing
    * the live writer's staging. */
  def renewWriter(op: String): Unit = lease match {
    case Some(l) => l.checkAndRenew()
    case None => throw new UnsupportedOperationException(
      s"$op on a read-only $pillar-index handle for $root — construct " +
        s"the writer (new $owner) to mutate")
  }

  /** Release the writer lease (maintainer shutdown); no-op on a read-only
    * handle (it holds nothing). */
  def close(): Unit = lease.foreach(_.release())

  /** Capture the serve snapshot: O(1) for a writer, FS metadata reads for
    * a read-only handle — never a Spark job, so the monitor hold is tiny
    * and plan build and evaluation run unserialized. */
  def captureSnap(): Snap = this.synchronized {
    if (readOnly) {
      current = resolveVersion()
      currentFloor = readFloor(current)
    }
    Snap(current, currentFloor)
  }

  /** The live delta tier at `floor` (the writer's floor by default). */
  def listDeltaTier(floor: Int = currentFloor): DeltaTier = {
    val sized = graft.VersionedDirs.allWithBytes(fs, root, deltaPrefixes.head)
      .filter(_._1 >= floor)
    val others = deltaPrefixes.tail.map(p => graft.VersionedDirs.all(fs, root, p).toSet)
    val live = sized.filter { case (k, _) => others.forall(_.contains(k)) && deltaCommitted(k) }
    val bytes = live.map(_._2).sum
    DeltaTier(floor, live.map(_._1), bytes, bytes > maxDeltaBroadcastBytes)
  }

  private def pinned: Set[Int] = {
    import scala.jdk.CollectionConverters._
    Pipelines.pinsFor(root).keySet().asScala.toSet
  }

  /** Base versions a publish keeps: the newest `keepVersions` plus every
    * pinned version. */
  def baseKeepSet: Set[Int] = pinned ++ ((current - keepVersions + 1) to current)

  /** Deltas below this survive no longer: the oldest kept base's floor
    * (pins included). A missing floor marker reads 0 — sweep nothing
    * rather than a live reader's files. */
  private def deltaSweepFloor: Int = {
    val oldestKept = math.max(0, current - keepVersions + 1)
    readFloor(pinned.minOption.fold(oldestKept)(math.min(oldestKept, _)))
  }

  /** The lifecycle gauges every pillar reports, for snapshot `sn` and its
    * tier. */
  def stats(sn: Snap, tier: DeltaTier): Map[String, Long] = Map(
    "version" -> sn.v.toLong,
    "staged_batches" -> stagedBatches.get(),
    "flushes" -> flushes.get(),
    "last_flush_ms" -> lastFlushMs,
    "delta_versions" -> tier.versions.size.toLong,
    "delta_bytes" -> tier.bytes,
    "delta_fallbacks" -> deltaFallbacks.get(),
    "early_majors" -> earlyMajors.get(),
    "shadow_deferred_majors" -> shadowDeferredMajors.get(),
    "n_deleted" -> nDeleted.get())

  /** Start a seed: refuse a root that already holds a committed version
    * (the seed would be invisible behind it), then claim version 0. A
    * torn seed (data without its marker) is not committed, so the retry's
    * overwrite-mode writes heal it. */
  def beginSeed(): Unit = {
    if (graft.VersionedDirs.all(fs, root, primary).exists(committed))
      throw new IllegalStateException(
        s"$pillar index root $root already holds committed versions; seeding " +
          "would be invisible — use a fresh root, or delete the existing " +
          "versions to rebuild")
    vptr.advance(0)
  }

  /** Claim base version `version + 1` on the pointer before any of its
    * directories is written (claim-then-write: a losing claimant fails
    * before clobbering the winner). */
  def claimNext(): Int = {
    val v = current + 1
    vptr.advance(v)
    v
  }

  /** Commit base version `v` once the pillar has written every base
    * relation (and its own markers): the floor marker lands last, then
    * (v, floor) is published — `bind` runs inside the same monitor hold,
    * for pillar state that must change atomically with the snapshot —
    * and everything outside the retention window is deleted. */
  def commit(v: Int, floor: Int, bind: => Unit = ()): Unit = {
    Pipelines.writeIntMarker(fs, baseDir(primary, v), FloorMarker, floor)
    this.synchronized {
      bind
      current = v
      currentFloor = floor
    }
    val sweep = deltaSweepFloor
    deltaPrefixes.foreach(p => Pipelines.retireVersionsBelow(fs, root, p, sweep))
    val keep = baseKeepSet
    Pipelines.retireVersionsExcept(fs, root, primary, keep, onRetire = unregister)
    (basePrefixes.tail ++ sidecarPrefixes).foreach(p =>
      Pipelines.retireVersionsExcept(fs, root, p, keep))
  }

  /** One flush window's lifecycle: decide minor vs major on one tier
    * listing, run the pillar's `minor(tier)` (write delta `tier.next`) or
    * `major(tier, v)` (write base `v`, then [[commit]] it at `tier.next`),
    * and count it. While a rebuild is in flight a due major is deferred to
    * a minor: a blocking fold would move the base out from under the
    * rebuild's snapshot, and the rebuild's swap advances the floor anyway. */
  def flushWindow(minor: DeltaTier => Unit)(major: (DeltaTier, Int) => Unit): Unit = {
    val t0 = System.nanoTime()
    val tier = listDeltaTier()
    val due = !(maxDeltas > 0 && tier.versions.size < maxDeltas && !tier.oversized)
    val defer = rebuildInFlight.get()
    if (due && defer) shadowDeferredMajors.incrementAndGet()
    if (!due || defer) minor(tier)
    else {
      if (maxDeltas > 0 && tier.oversized) {
        earlyMajors.incrementAndGet()
        Pipelines.log.warn(
          s"$pillar delta tier at $root is ${tier.bytes} bytes " +
            s"(> $maxDeltaBroadcastBytes): forcing an EARLY major " +
            s"compaction at ${tier.versions.size}/$maxDeltas deltas")
      }
      major(tier, claimNext())
    }
    flushes.incrementAndGet()
    lastFlushMs = (System.nanoTime() - t0) / 1000000L
  }

  /** Run `body` as THE rebuild in flight, or return `busy` at once when
    * another one holds the flag (it does not queue). */
  def exclusive[T](busy: => T)(body: => T): T =
    if (!rebuildInFlight.compareAndSet(false, true)) busy
    else try body finally rebuildInFlight.set(false)

  /** SHADOW MAJOR compaction — the flush major's O(base) fold run off the
    * root lock: snapshot (version, tier) under the lock, let `prepare(v0,
    * tier)` write every base relation's shadow (tombstones GC'd, the tier
    * folded, staging untouched) while ingest, flush and serves proceed
    * (flush majors deferred), then swap under the lock in O(1) metadata.
    * Rows ingested mid-build live in deltas above the snapshot tier or in
    * staging and stay live across the swap. Returns false without folding
    * on an empty tier or when another rebuild holds the flag (the
    * maintenance-cadence caller's stand-down signal). `onPrepared` is the
    * test seam between build and swap. */
  def shadowMajor(onPrepared: () => Unit)(prepare: (Int, DeltaTier) => Unit): Boolean =
    exclusive(false) {
      renewWriter("compactBase")
      val (v0, tier) = Pipelines.rootLock(root).synchronized((current, listDeltaTier()))
      if (tier.isEmpty) false
      else {
        (basePrefixes ++ sidecarPrefixes).foreach(p => fs.delete(new Path(shadowDir(p)), true))
        prepare(v0, tier)
        onPrepared()
        Pipelines.rootLock(root).synchronized {
          renewWriter("compactBase")
          assert(current == v0, s"base version moved under an in-flight shadow major at $root")
          swapShadows(tier.next)
        }
        true
      }
    }

  /** The swap step (call under the root lock): claim `version + 1`, move
    * each base relation's shadow into place (the target cleared first — a
    * torn swap's remnant there cannot be committed, or the handle would
    * have resumed it), [[commit]] at `floor`, then move sidecar shadows
    * in. Returns the new version. */
  def swapShadows(floor: Int, bind: => Unit = ()): Int = {
    val v = claimNext()
    unregister(v)
    def moveIn(p: String): Unit = {
      val target = new Path(baseDir(p, v))
      fs.delete(target, true)
      if (!fs.rename(new Path(shadowDir(p)), target))
        throw new IllegalStateException(
          s"shadow swap failed: cannot rename ${shadowDir(p)} to $target")
    }
    basePrefixes.foreach(moveIn)
    commit(v, floor, bind)
    // sidecars land after the commit point (a missing sidecar must be
    // tolerated by its readers; a sidecar over an uncommitted version
    // would not be)
    sidecarPrefixes.filter(p => fs.exists(new Path(shadowDir(p)))).foreach(moveIn)
    v
  }

  /** The unattended compaction decision: run `compact` exactly when the
    * live tier has at least `maxTier` deltas. Costs one tier listing per
    * call — run it on the flush cadence. */
  def maybeCompact(maxTier: Int)(compact: => Boolean): Boolean =
    listDeltaTier().versions.size >= maxTier && compact
}

object TieredStore {
  private val FloorMarker = "_graft_delta_floor"

  /** One immutable serve snapshot: base version `v` and its floor. */
  final case class Snap(v: Int, floor: Int)

  /** The live delta tier at `floor`: committed delta numbers, ascending,
    * and their byte total. `next` is both the number the next minor
    * flush writes and the floor of a base that folds this tier. */
  final case class DeltaTier(floor: Int, versions: Seq[Int], bytes: Long,
                             oversized: Boolean) {
    def isEmpty: Boolean = versions.isEmpty
    def next: Int = versions.lastOption.map(_ + 1).getOrElse(floor)
  }
}
