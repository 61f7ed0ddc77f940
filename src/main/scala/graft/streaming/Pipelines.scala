package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.ops.CoreOps

/** Structured Streaming pipelines mirroring the reference's control plane
  * and data plane (SURVEY.md §3 EP2/EP3).
  *
  *  - Control plane: CCD changelog stream → last-write-wins compaction →
  *    active-only filter (reference kafka_ccd_store.clj + jms_publisher.clj
  *    125-136). Snapshot∪tail unify into one replayed stream — the
  *    reference's snapshot/tail race (jms_publisher.clj:125-136) is
  *    eliminated by construction.
  *  - Data plane: raw DML payload stream → key derivation (core.clj:13-22)
  *    → keyed sink, with malformed payloads dead-lettered
  *    (jms_publisher.clj:160-186; we dead-letter instead of blocking the
  *    queue head — documented improvement).
  *
  * State scale: compaction state is one row per key, hash-partitioned —
  * at 100 TB of traffic the state is bounded by |keys|, not |records|, and
  * lives in the state store (RocksDB in prod configs).
  */
object Pipelines {

  /** Bounded-record files for key-SORTED index bases (ANN codes by
    * cell, text postings by term): the writer splits each sorted
    * partition into ~500k-row files (8-20 MB), so every base file covers
    * a NARROW key range and the search paths' pushed `In(key, ...)`
    * filters skip whole files from their footer stats. Without the
    * bound, a 128 MB partition is one file whose single default-sized
    * row group spans every key it holds and nothing skips — measured on
    * a 10M-row A/B (ScaleProbe `scanprune`). `maxRecordsPerFile` is the
    * per-write knob Spark actually honors (a `parquet.block.size`
    * writer option is silently ignored); partitions smaller than the
    * bound are untouched, so fixture-scale layouts are unchanged. */
  val BaseFileRecords: String = 500000.toString

  /** Delete every `<prefix><N>` dir whose N is not in `keep` — the
    * maintained indexes' version GC. `keep` is the reachable set: the
    * current version, the previous one (an in-flight batch plan may still
    * read it), and any version a live classify stream pinned at query
    * start. A keep-SET (not a floor) is what makes GC effective under a
    * long-running stream: the pin stays fixed while versions advance, and
    * a floor at the pin would retire nothing — one dead index copy per
    * flush window. Listing-driven, so a crash-left gap doesn't turn into
    * per-version existence probes forever. */
  private[streaming] def retireVersionsExcept(fs: org.apache.hadoop.fs.FileSystem,
                                              root: String, prefix: String,
                                              keep: Set[Int],
                                              onRetire: Int => Unit = _ => ()): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    if (fs.exists(p))
      fs.listStatus(p).toSeq.filter(_.isDirectory)
        .flatMap { st =>
          val n = st.getPath.getName
          if (n.startsWith(prefix))
            n.drop(prefix.length).toIntOption.filterNot(keep.contains).map((st, _))
          else None
        }
        .foreach { case (st, v) =>
          // catalog entry (bucketed mode) drops before the directory goes
          onRetire(v)
          fs.delete(st.getPath, true)
        }
  }

  /** Delete every `<prefix><N>` dir with N < `floor` — committed, TORN, or
    * half-written alike (this is raw-listing-driven, not
    * [[graft.VersionedDirs]] committed-only discovery, precisely so crash
    * remnants below the floor cannot accrete forever). The maintained
    * indexes' delta-tier GC: a major compaction advances the floor past
    * the deltas it folded, and the NEXT major retires everything below the
    * previous floor — a one-compaction-cycle grace window mirroring the
    * keep-current-plus-previous rule for base versions, so a lazy plan
    * built from `currentIndex`/`currentSignatures` just before a major
    * still finds its delta files when evaluated. */
  private[streaming] def retireVersionsBelow(fs: org.apache.hadoop.fs.FileSystem,
                                             root: String, prefix: String,
                                             floor: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    if (fs.exists(p))
      fs.listStatus(p).toSeq.filter(_.isDirectory)
        .filter { st =>
          val n = st.getPath.getName
          n.startsWith(prefix) &&
            n.drop(prefix.length).toIntOption.exists(_ < floor)
        }
        .foreach(st => fs.delete(st.getPath, true))
  }

  /** Write a small integer marker file into a version directory (the
    * delta-tier floor stamp — see the maintained indexes). Leading `_`
    * keeps it invisible to parquet readers and commitment checks. */
  private[streaming] def writeIntMarker(fs: org.apache.hadoop.fs.FileSystem,
                                        dir: String, name: String, v: Int): Unit =
    writeLongsMarker(fs, dir, name, Seq(v.toLong))

  private[streaming] def readIntMarker(fs: org.apache.hadoop.fs.FileSystem,
                                       dir: String, name: String): Option[Int] =
    readLongsMarker(fs, dir, name).collect {
      case Seq(v) if v.isValidInt => v.toInt }

  /** Per-task byte target for delta/flush-window writes (estimated plan
    * bytes, not output parquet bytes — Catalyst's in-memory estimate runs
    * ~2-4× the compressed file size). Overridable for deployments whose
    * flush windows or storage profile differ. */
  private[graft] val DeltaWriteTargetBytes: Long =
    sys.env.get("SPARK_GRAFT_DELTA_WRITE_TARGET_BYTES").map(_.toLong)
      .getOrElse(256L * 1024 * 1024)

  /** Size a delta/flush-window relation for its write: below one
    * [[DeltaWriteTargetBytes]] of estimated plan size, the historical
    * `coalesce(1)` (one file per flush, narrow, no shuffle — the bench-
    * scale layout, where every window is KBs); above it, enough
    * round-robin partitions to keep ~target bytes per write task, so a
    * large flush window never serializes its resolve + encode + write
    * through ONE task (guide §6 file sizing / §2.5 stragglers). The
    * estimate is Catalyst's `stats.sizeInBytes` over the optimized plan —
    * no job; for these delta-sized relations (projections/folds of
    * just-written parquet) it is file-size-derived. A join-inflated or
    * unknown estimate is capped so a bad guess degrades to at most 64
    * write tasks, never thousands of files. `minParts` raises the floor
    * for layouts whose readers want a minimum split count (the ANN code
    * deltas). */
  private[graft] def sizedForWrite(df: org.apache.spark.sql.DataFrame,
                                   minParts: Int = 1)
      : org.apache.spark.sql.DataFrame = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val parts = ((est / DeltaWriteTargetBytes).min(BigInt(63)).toInt + 1).max(minParts)
    if (sys.env.contains("SPARK_GRAFT_DEBUG_WRITE_SIZING"))
      // scalastyle:off println
      println(s"[sizedForWrite] est=$est parts=$parts")
      // scalastyle:on println
    if (parts <= 1) df.coalesce(1) else df.repartition(parts)
  }

  /** Long-vector marker (one value per line) — the single marker codec:
    * the delta-tier floor / model-binding stamps ride the one-value Int
    * form above, the text index's corpus-stats stamp the two-value form
    * (n_docs, sum_dl exceed Int at corpus scale). */
  private[streaming] def writeLongsMarker(fs: org.apache.hadoop.fs.FileSystem,
                                          dir: String, name: String,
                                          vs: Seq[Long]): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, name), true)
    try out.write(vs.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  private[streaming] def readLongsMarker(fs: org.apache.hadoop.fs.FileSystem,
                                         dir: String, name: String): Option[Seq[Long]] = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val parsed = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        .split("\n").toSeq.map(_.trim.toLongOption)
      finally in.close()
      if (parsed.forall(_.nonEmpty)) Some(parsed.flatten) else None
    }
  }

  /** Default ceiling on the delta tier's on-disk byte total before the
    * finalize/screen joins stop FORCING a broadcast of it and the next
    * flush compacts early. The tier is "bounded by maxDeltas flush windows
    * of novelty" only as an OPERATING-POINT assumption — an initial corpus
    * load, a crawl dump, or a misconfigured flushEvery makes it
    * corpus-scale, and a forced broadcast of a corpus-scale relation is a
    * driver OOM (or the 8 GB broadcast-limit job failure). 256 MB of
    * parquet keeps the expanded rows comfortably inside a normal driver/
    * executor budget; past it the indexes (a) log loudly and drop the
    * broadcast hint — the join falls back to shuffle, slower but correct —
    * and (b) trigger a MAJOR compaction at the next flush boundary. */
  val DefaultMaxDeltaBroadcastBytes: Long = 256L << 20

  /** Ceiling on how many takedown-resolve keys (request ids / candidate
    * fps) ride the driver as a pushed `In(…)` filter before the resolve
    * falls back to a distributed semi-join. Pushed literals buy parquet
    * row-group skips against the clustered layouts ([[MaintainedDedupIndex]]
    * sidecar / base), which is the whole point for the common
    * request-sized compliance batch; a bulk 10^5-id set must never
    * materialize on the driver (the appendTakedownBulk contract), so it
    * takes the semi-join path — one narrow scan, still no index fold. */
  val MaxLocalResolveKeys: Int = 1024

  private[streaming] val log =
    org.slf4j.LoggerFactory.getLogger("graft.streaming.Pipelines")

  /** Stamp the bucket count a bucketed index version was WRITTEN with into
    * its directory (`_graft_buckets`). Restart re-registration must use
    * this count, not the constructor's: bucket ids are encoded in the file
    * names, and registering the layout under a different count silently
    * misroutes co-partitioned joins. */
  private[streaming] def writeBucketMarker(fs: org.apache.hadoop.fs.FileSystem,
                                           dir: String, n: Int): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_graft_buckets"), true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The stored bucket count of a bucketed layout, or a LOUD failure
    * when the marker is missing: falling back to the constructor's count
    * would re-create the silent-misroute hazard the marker exists to
    * prevent (4-bucket files registered as 8 buckets route rows to
    * hash%8 while the files hold hash%4 — missed matches, no error). A
    * marker can only be missing after a crash between the table commit
    * and the marker write, or external tampering; the error names the
    * fix (re-stamp with the count the files were written with, or
    * recompact). */
  private[streaming] def requireBucketMarker(fs: org.apache.hadoop.fs.FileSystem,
                                             dir: String, configured: Int): Int =
    readBucketMarker(fs, dir).getOrElse(throw new IllegalStateException(
      s"bucketed index layout at $dir has no _graft_buckets marker; refusing " +
        s"to register it with the configured count ($configured) — a mismatched " +
        "registration silently misroutes co-partitioned joins. Re-stamp the " +
        "marker with the count the files were written with, or recompact."))

  private[streaming] def readBucketMarker(fs: org.apache.hadoop.fs.FileSystem,
                                          dir: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_buckets")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        .trim.toIntOption
      finally in.close()
    }
  }

  /** True when `dir` holds at least one COMMITTED data file (a kill during
    * a staging append can leave only `_temporary/` — no readable footer, so
    * `spark.read.parquet` would throw; a committed zero-ROW part still has
    * footer bytes, which is why callers additionally check `isEmpty` on the
    * read relation before folding). */
  private[streaming] def stagedHasData(fs: org.apache.hadoop.fs.FileSystem,
                                       dir: String): Boolean =
    graft.VersionedDirs.hasCommittedData(fs, dir)

  /** Cross-process single-writer lease over a maintained-index root. The
    * maintained indexes are single-writer BY CONTRACT (one maintainer per
    * `indexRoot`); this turns the contract into an ENFORCED guard: a
    * second maintainer over the same root fails LOUDLY at construction
    * instead of silently interleaving flushes with the first (two writers
    * racing version N+1 cross-fold each other's staging — acceptances
    * lost with no error anywhere, the worst unattended-operation outcome).
    *
    * Mechanics (plain HDFS-compatible file ops, no transactional catalog
    * required): `root/_writer_lease` holds `ownerId\nepochMillis`.
    * [[acquire]] reads the current lease — a DIFFERENT owner's lease
    * younger than `ttlMs` rejects; absent, own, expired, or unreadable
    * leases are (re)taken. Every index mutation calls [[checkAndRenew]]:
    * it verifies the lease is still OURS before any directory mutates —
    * a maintainer that lost its lease to a stale-takeover (a GC pause or
    * network partition longer than the TTL while a replacement started)
    * fails its next mutation instead of corrupting the new owner's
    * writes — and refreshes the timestamp (the heartbeat: an index that
    * mutates at least once per TTL is never treated as dead).
    *
    * `ownerId` defaults to host#pid, so a same-process re-construction
    * (restart-in-place, or the in-JVM concurrent wiring the index's own
    * lock already serializes) shares the lease, while a second PROCESS
    * is rejected until the first's lease expires. The take itself stages
    * the claim under a unique temp name and renames it in, deleting a
    * dead remnant only after a content-verified re-read (see [[acquire]]);
    * a microsecond-scale two-believers window survives on filesystems
    * whose rename overwrites, closed by the next [[checkAndRenew]] and,
    * for version writes, the [[VersionPointer]]'s single-winner claim.
    * The target failure mode is operational — a misconfigured second
    * service instance, a forgotten backfill job pointed at a live root —
    * not adversarial races. */
  final class WriterLease(fs: org.apache.hadoop.fs.FileSystem, root: String,
                          ttlMs: Long, ownerId: String) {
    private val path = new org.apache.hadoop.fs.Path(root, "_writer_lease")

    /** One read attempt: Right(lease) when parsed, Left(absent=false)
      * when the file exists but cannot be read or parsed. */
    private def readOnce(): Either[Boolean, (String, Long)] =
      if (!fs.exists(path)) Left(true)
      else try {
        val in = fs.open(path)
        val raw = try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        finally in.close()
        raw.split("\n", 2) match {
          case Array(o, ts) => ts.trim.toLongOption.map(o.trim -> _)
            .toRight(false)
          case _ => Left(false)
        }
      } catch { case _: java.io.IOException => Left(false) }

    private sealed trait LeaseState
    private case class HeldBy(owner: String, ts: Long) extends LeaseState
    private case object Takeable extends LeaseState // absent or ancient garbage
    private case object UnreadableFresh extends LeaseState

    /** Read the lease. An absent file is Takeable. A file that is
      * UNREADABLE or UNPARSABLE is NOT treated as stale outright — a
      * transient storage fault or a read racing the non-atomic rewrite
      * must not let an acquirer steal a LIVE foreign lease (that creates
      * exactly the two-concurrent-writers state the lease prevents).
      * Retry briefly; if still unreadable, fall back to the FILE's
      * modification time: older than the ttl → genuinely stale garbage,
      * takeable; fresh → [[UnreadableFresh]], which callers resolve with
      * [[tornByUs]] (heal our own interrupted rewrite) or fail loudly
      * rather than guess. */
    private def readState(): LeaseState = {
      // retry budget is deliberately SMALL (~80 ms worst case): it runs
      // under the per-root mutation lock, so every finalize/screen/flush
      // over this root stalls while it spins — the mtime fallback below
      // already decides the persistent-unreadable case, the retries only
      // paper over a read racing a CROSS-process non-atomic rewrite
      var attempt = 0
      while (true) {
        readOnce() match {
          case Right((o, ts)) => return HeldBy(o, ts)
          case Left(true) => return Takeable
          case Left(false) if attempt < 2 =>
            attempt += 1; Thread.sleep(40L)
          case Left(false) =>
            val mtime = try Some(fs.getFileStatus(path).getModificationTime)
              catch { case _: java.io.IOException => None }
            mtime match {
              case Some(t) if System.currentTimeMillis() - t > ttlMs =>
                return Takeable // ancient unreadable remnant: stale
              case None => return Takeable // vanished between attempts
              case Some(_) => return UnreadableFresh
            }
        }
      }
      Takeable // unreachable
    }

    private def unreadableFresh(): Nothing = throw new IllegalStateException(
      s"writer lease at $path is unreadable but freshly written; " +
        "refusing to assume staleness (a live maintainer may hold " +
        "it) — retry, or remove the file if the holder is known dead")

    /** Is an [[UnreadableFresh]] lease OUR OWN torn write? True when this
      * JVM's last successful lease write at this root was by this owner
      * within the ttl: in that window no foreign acquire can have landed
      * (it rejects a live lease and refuses a fresh-unreadable one), so
      * the only way the file became unreadable is our own interrupted
      * rewrite — e.g. shutdownNow catching a background sweep's
      * checkAndRenew mid-truncate, which without this would wedge the
      * same owner's next mutation (and a restart-in-place acquire) with
      * a spurious "unreadable but freshly written" until the ttl
      * expired. Tracked JVM-globally (Pipelines.lastLeaseWrite) so the
      * restart-in-place instance heals too. */
    private def tornByUs(): Boolean =
      Option(Pipelines.lastLeaseWrite.get(root)).exists { case (o, ms) =>
        o == ownerId && System.currentTimeMillis() - ms < ttlMs
      }

    private def write(): Unit = {
      val out = fs.create(path, true)
      try out.write(s"$ownerId\n${System.currentTimeMillis()}".getBytes("UTF-8"))
      finally out.close()
      Pipelines.lastLeaseWrite.put(root, (ownerId, System.currentTimeMillis()))
      ()
    }

    /** Take the lease, or throw if a live foreign lease holds the root.
      *
      * The take stages the claim as a UNIQUELY-NAMED temp file
      * (create-exclusive that cannot collide) and moves it into place
      * with a rename, deleting a dead remnant first ONLY if a re-read
      * proves it is byte-identical to the lease we judged dead — a
      * remnant whose content moved between the reads means a racer
      * claimed the root, and deleting it would hand two processes the
      * same lease. On a no-overwrite-rename filesystem (HDFS) at most
      * one racer's rename lands once a claim exists; a POSIX local FS
      * renames over the rival, leaving a residual two-believers window
      * (the interval between one racer's content-verified delete and its
      * rename, during which the other completes a full claim) that the
      * next mutation's [[checkAndRenew]] re-read — and, for version
      * writes, the [[VersionPointer]]'s single-winner claim — closes.
      * In-process racers are fully serialized by the per-root JVM lock
      * (the same lock the index mutators hold), so the single-winner
      * contract is deterministic within one JVM. */
    def acquire(): Unit = Pipelines.rootLock(root).synchronized {
      val first = readState()
      first match {
        case HeldBy(o, ts) if o != ownerId &&
          System.currentTimeMillis() - ts < ttlMs =>
          throw new IllegalStateException(
            s"maintained index at $root is held by writer '$o' " +
              s"(lease ${System.currentTimeMillis() - ts} ms old, ttl $ttlMs ms); " +
              "a maintained index is single-writer — stop the other maintainer " +
              "or wait for its lease to expire")
        case UnreadableFresh if !tornByUs() => unreadableFresh()
        case _ =>
          // own, expired, our-own-torn, or absent: stage our claim
          // under a unique name, then swap it in
          sweepClaimTemps()
          val tmp = new org.apache.hadoop.fs.Path(root,
            s"_writer_lease.claim.${System.nanoTime()}.${Integer.toHexString(ownerId.hashCode)}")
          val out = fs.create(tmp, false)
          try out.write(s"$ownerId\n${System.currentTimeMillis()}".getBytes("UTF-8"))
          finally out.close()
          try {
            val again = readState()
            again match {
              case HeldBy(o2, ts2) if o2 != ownerId &&
                System.currentTimeMillis() - ts2 < ttlMs =>
                throw new IllegalStateException(
                  s"lost the writer-lease acquisition race for $root to '$o2' " +
                    "(claimed between read and take); a maintained index is " +
                    "single-writer — stop the other maintainer")
              case _ => ()
            }
            if (fs.exists(path)) {
              // delete the remnant ONLY while it still holds the exact
              // lease we judged dead: content that moved between the two
              // reads is a racer's fresh claim, never ours to remove
              if (again != first) throw new IllegalStateException(
                s"lost the writer-lease acquisition race for $root (the " +
                  "remnant changed between reads — a concurrent acquirer is " +
                  "claiming); a maintained index is single-writer")
              fs.delete(path, false)
            }
            if (!fs.rename(tmp, path)) throw new IllegalStateException(
              s"lost the writer-lease acquisition race for $root (rename " +
                "refused — a concurrent claim landed first); a maintained " +
                "index is single-writer — stop the other maintainer")
            Pipelines.lastLeaseWrite.put(root, (ownerId, System.currentTimeMillis()))
          } catch {
            case e: Throwable =>
              try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
              throw e
          }
          readState() match {
            case HeldBy(o, _) if o != ownerId => throw new IllegalStateException(
              s"lost the writer-lease acquisition race for $root to '$o' " +
                "(post-claim verification); a maintained index is " +
                "single-writer — stop the other maintainer")
            // guarded like the entry check: at this point the file is our
            // own just-renamed claim, so a flaky-FS unreadable read here
            // is a torn/partial read of OUR write, not a rival's — the
            // entry check and checkAndRenew both heal that state, and an
            // unguarded throw would fail an acquire they'd survive
            case UnreadableFresh if !tornByUs() => unreadableFresh()
            case _ => ()
          }
      }
    }

    /** Remove claim temps a crashed acquirer abandoned (older than the
      * ttl — a live acquirer's temp exists for microseconds). */
    private def sweepClaimTemps(): Unit = {
      val rootP = new org.apache.hadoop.fs.Path(root)
      if (fs.exists(rootP))
        fs.listStatus(rootP).iterator
          .filter(st => st.getPath.getName.startsWith("_writer_lease.claim.") &&
            System.currentTimeMillis() - st.getModificationTime > ttlMs)
          .foreach(st =>
            try fs.delete(st.getPath, false)
            catch { case _: java.io.IOException => () })
    }

    /** Verify the lease is still ours and refresh it — called before every
      * index mutation. Throws when a foreign writer took the root (this
      * maintainer must stop, not write).
      *
      * Runs under the per-root JVM lock: the renewal REWRITE is not
      * atomic (truncate + write), and the background-maintenance daemon
      * calls this OFF the mutation lock during a shadow build's prepare
      * phase — without the lock here, its rewrite races a foreground
      * mutator's read of the same file and the reader can catch the
      * truncated window (observed as a spurious "unreadable but freshly
      * written" failure under load; read()'s 80 ms retry budget papers
      * over CROSS-process renewal races only, by design). Reentrant for
      * mutators already holding the root lock; the daemon just waits out
      * the in-flight mutation, which it would do at its swap anyway. */
    def checkAndRenew(): Unit = Pipelines.rootLock(root).synchronized {
      readState() match {
        case HeldBy(o, _) if o != ownerId =>
          throw new IllegalStateException(
            s"maintained index at $root lost its writer lease to '$o' " +
              "(stale-takeover after a pause longer than the ttl?); refusing " +
              "to mutate the new owner's index")
        case UnreadableFresh if !tornByUs() => unreadableFresh()
        case _ =>
          // own (possibly torn by our own interrupted rewrite — heal),
          // absent, or ancient: (re)write
          write()
      }
    }

    /** Drop the lease if it is still ours (maintainer shutdown).
      * Root-locked like [[checkAndRenew]] — a release racing a daemon
      * renewal must not read the truncated window either. A
      * fresh-unreadable file that is NOT our own torn write is left in
      * place without throwing (release is best-effort cleanup on the
      * shutdown path; the file expires by ttl). */
    def release(): Unit = Pipelines.rootLock(root).synchronized {
      readState() match {
        case HeldBy(o, _) if o == ownerId => fs.delete(path, false); ()
        case UnreadableFresh if tornByUs() => fs.delete(path, false); ()
        case _ => ()
      }
      // drop our lastLeaseWrite record: once released, a FOREIGN process
      // may legitimately acquire this root, and a stale record would let
      // tornByUs() misjudge that process's fresh-unreadable lease (its
      // own crash-torn renewal, or a read racing its rewrite past the
      // retry budget) as OUR torn write — healing would steal a live
      // foreign lease, the exact state the guard exists to prevent. The
      // heal path only matters for a predecessor that did NOT release
      // (killed mid-renewal), whose record correctly survives.
      Option(Pipelines.lastLeaseWrite.get(root)).foreach { case (o, _) =>
        if (o == ownerId) { Pipelines.lastLeaseWrite.remove(root); () }
      }
    }
  }

  /** JVM-global mutation lock per index root: the maintained indexes'
    * mutators synchronize on THIS, not on the instance — two instances
    * over one root in the same process (the restart-in-place pattern the
    * writer lease deliberately allows, since both share the host#pid
    * owner) must not interleave a staging append with a
    * list-then-delete flush. Cross-process exclusion is the
    * [[WriterLease]]'s job; this closes the in-process gap an
    * instance-scoped `synchronized` left open. */
  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[streaming] def rootLock(root: String): Object =
    rootLocks.computeIfAbsent(root, _ => new Object)

  /** JVM-global record of the last SUCCESSFUL lease write per root
    * (owner, epochMillis) — the [[WriterLease.tornByUs]] evidence that a
    * fresh-but-unreadable lease file is this process's own interrupted
    * rewrite (healable) rather than an unknown writer's (refuse).
    * Global, not instance state, so a restart-in-place instance heals
    * the torn file its predecessor's interrupted sweep left behind. */
  private[streaming] val lastLeaseWrite =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** JVM-global classify-pin registry per index root, for the same
    * reason as [[rootLock]]: a re-constructed instance over a live root
    * (restart-in-place) must see the pins of the OLD instance's still-
    * running classify streams, or its flush GC would retire a version a
    * live stream's pinned file listing still reads. REFERENCE-COUNTED,
    * not a set: two instances (or two classify calls) pinning the SAME
    * version must each hold it — a set-based release by either would
    * drop the other's live pin and let GC retire a version its stream
    * still reads. */
  private val rootPins = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicInteger]]()
  private[streaming] def pinsFor(root: String)
      : java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicInteger] =
    rootPins.computeIfAbsent(root,
      _ => new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicInteger]())
  private[streaming] def pinVersion(root: String, v: Int): Unit = {
    pinsFor(root).computeIfAbsent(v,
      _ => new java.util.concurrent.atomic.AtomicInteger()).incrementAndGet()
    ()
  }
  /** Drop one reference per entry in `mine`; a version's pin only clears
    * when every holder has released it. Serialized on the root lock so a
    * decrement-to-zero removal cannot race a concurrent re-pin. */
  private[streaming] def releasePins(root: String, mine: Iterable[Int]): Unit =
    rootLock(root).synchronized {
      val pins = pinsFor(root)
      mine.foreach { v =>
        val c = pins.get(v)
        if (c != null && c.decrementAndGet() <= 0) { pins.remove(v); () }
      }
    }

  /** Default writer-lease TTL: long enough that a healthy maintainer's
    * per-batch heartbeat (micro-batches are seconds to minutes apart)
    * never lapses, short enough that a replacement process after a crash
    * is not locked out for long. */
  val DefaultLeaseTtlMs: Long = 120000L

  private[streaming] def defaultOwnerId: String =
    s"${java.net.InetAddress.getLocalHost.getHostName}#${ProcessHandle.current().pid()}"

  /** Control-plane record (FIXTURES.md §2). `error` carries the failure
    * detail when a publisher writes a `status = "error"` CCD back to the
    * control topic (reference README.md:19-22). */
  case class Ccd(key: String, status: String, queue: String, offset: Long,
                 error: Option[String] = None)

  /** Streaming last-write-wins compaction (O2): latest CCD per key via
    * mapGroupsWithState; emits the current winner each trigger (update
    * mode). */
  def compactLatest(ccds: Dataset[Ccd]): Dataset[Ccd] = {
    import ccds.sparkSession.implicits._
    ccds.groupByKey(_.key)
      .mapGroupsWithState[Ccd, Ccd](GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Ccd], state: GroupState[Ccd]) =>
          val incoming = rows.maxBy(_.offset)
          val winner = state.getOption match {
            case Some(prev) if prev.offset >= incoming.offset => prev
            case _ => incoming
          }
          state.update(winner)
          winner
      }
  }

  /** The same compaction on the transformWithState API (Spark 4's
    * arbitrary-state processor, RocksDB-backed): one ValueState[Ccd] per
    * key holding the current winner. Prefer this on clusters where the
    * RocksDB store is standard; semantics identical to [[compactLatest]]
    * (StreamingSpec asserts both). */
  def compactLatestTws(ccds: Dataset[Ccd]): Dataset[Ccd] = {
    import ccds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    ccds.groupByKey(_.key)
      .transformWithState(new LatestCcdProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** StatefulProcessor keeping the highest-offset CCD per key. */
  class LatestCcdProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[String, Ccd, Ccd] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
    @transient private var latest: ValueState[Ccd] = _

    override def init(outputMode: OutputMode, timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      latest = getHandle.getValueState[Ccd]("latest",
        org.apache.spark.sql.Encoders.product[Ccd], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Ccd],
                                 timerValues: TimerValues): Iterator[Ccd] = {
      val incoming = rows.maxBy(_.offset)
      val winner = Option(latest.get()) match {
        case Some(prev) if prev.offset >= incoming.offset => prev
        case _ => incoming
      }
      latest.update(winner)
      Iterator.single(winner)
    }
  }

  /** Batch form of the same compaction (used by foreachBatch consumers and
    * as the oracle for the streaming test). */
  def compactLatestBatch(ccds: DataFrame): DataFrame =
    CoreOps.lastValuePerKey(ccds, Seq("key"), "offset")

  /** Active-queue view: compacted CCDs with status == active, projected to
    * queue names (O6 + O8). */
  def activeQueues(compacted: DataFrame): DataFrame =
    CoreOps.activeOnly(compacted).select(col("queue"))

  /** Data-plane transform (EP3 hot path): raw DML strings → (key, value,
    * valid). Pure plan — bind it to any streaming or batch source. Uses the
    * native dml_key expression (graft.plans.DmlKey — no UDF encoder
    * boundary); CoreOps.dmlKey remains the registration-free UDF form. */
  def dmlTransform(raw: DataFrame, payloadCol: String = "value"): DataFrame = {
    graft.plans.GraftExtensions.register(raw.sparkSession)
    raw
      .withColumn("key", call_function("dml_key", col(payloadCol)))
      .withColumn("valid", col("key").isNotNull)
      .withColumn("value", col(payloadCol))
  }

  /** Run the data-plane pipeline from a streaming source to parquet sinks
    * (main + dead-letter), checkpointed. Each micro-batch is ONE Spark job:
    * [[GraftSystem.keyedParquetHandler]] routes valid and malformed rows
    * in a single pass and commits both sides in one job commit, so a
    * failed batch adds to neither. Delivery is at-least-once (a batch
    * whose output committed but whose offsets did not is replayed and
    * appended again) — the reference's semantics exactly (no-ack
    * redelivery, jms_publisher.clj:173-176); downstream compaction (O2)
    * absorbs duplicates by construction. */
  def runDmlPipeline(src: DataFrame, outDir: String, checkpointDir: String,
                     trigger: org.apache.spark.sql.streaming.Trigger): Unit = {
    val q = dmlTransform(src).writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        GraftSystem.keyedParquetHandler("", outDir, batch, id)
      }
      .start()
    q.awaitTermination()
  }

  /** Event-time tumbling window + watermark (D18 streaming twin). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"))

  /** Session windows with a 30-minute gap (D19 streaming twin) — built-in
    * session_window keeps state per (user, open session) only. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("sess_start"), col("n_events"))

  /** Streaming exact dedup (D17's streaming twin): drop duplicate keys with
    * watermark-bounded state — the 100 TB-safe form (state expires past the
    * watermark instead of growing with the stream). */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
                     tsCol: String = "ts", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Stream-stream time-interval join (D29's streaming counterpart):
    * purchases enriched with the same user's clicks from the trailing
    * `intervalSecs`. Both sides are watermarked and the join condition is
    * time-bounded, so Spark can expire buffered rows past the watermark —
    * state is O(rate × interval) per side, never O(stream). Inner join:
    * purchases with no click in range are dropped (the outer variant only
    * emits once the watermark closes the window). */
  def intervalJoin(purchases: DataFrame, clicks: DataFrame,
                   intervalSecs: Long = 3600L, watermark: String = "1 hour"): DataFrame = {
    val p = purchases
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
      .withWatermark("p_ts", watermark)
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("click_id"))
      .withWatermark("c_ts", watermark)
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $intervalSecs SECONDS"))
      .select(col("user_id"), col("purchase_id"), col("p_ts"), col("click_id"), col("c_ts"))
  }

  /** Idempotent (effectively exactly-once) batch sink: each micro-batch
    * writes into its own `batch_id=` partition with DYNAMIC partition
    * overwrite, so a batch retried after a partial append REPLACES its own
    * partition instead of appending duplicates. This upgrades the
    * reference's at-least-once contract (no-ack redelivery,
    * jms_publisher.clj:173-176) to exactly-once OBSERVABLE output for any
    * reader that treats the directory as a table — the idempotence the
    * Kafka path would get from transactional produce. Readers never see a
    * torn batch: parquet commit is atomic per partition directory. */
  def idempotentBatchWriter(outDir: String, partitionCols: Seq[String] = Nil)
                           (batch: DataFrame, batchId: Long): Unit =
    batch
      .withColumn("batch_id", lit(batchId))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id" +: partitionCols: _*)
      .parquet(outDir)

  /** x38 streaming twin: the count-min sketch as a global streaming
    * aggregate (complete mode). The CmsAgg partials vector-add across
    * tasks AND across micro-batches — the mergeability that makes a
    * sketch the right heavy-hitter state at 100 TB: streaming state is
    * the fixed 96 KB grid, not the unbounded key universe a plain
    * groupBy(token).count() would accumulate. */
  def streamingCms(tokens: DataFrame): Dataset[Array[Long]] = {
    import tokens.sparkSession.implicits._
    val ps = graft.functions.Cms.positions(col("token"))
    tokens
      .select(ps(0).as("p0"), ps(1).as("p1"), ps(2).as("p2"))
      .as[(Int, Int, Int)]
      .select(new graft.functions.Cms.CmsAgg(graft.functions.Cms.Width).toColumn)
  }

  /** x35 streaming twin: the bloom bit array as a complete-mode streaming
    * aggregate — reference-set members arriving on a stream OR-merge into
    * the same fixed 8 KB filter the batch build produces, so membership
    * state never grows with the stream (the CMS twin's argument, for set
    * membership). */
  def streamingBloom(shingles: DataFrame): Dataset[Array[Long]] = {
    import shingles.sparkSession.implicits._
    shingles
      .select(explode(array(graft.functions.Bloom.positions(col("sh")): _*)).as("pos"))
      .as[Int]
      .select(new graft.functions.Bloom.BitsetAgg().toColumn)
  }

  case class UserEvent(user_id: Long, ts: java.sql.Timestamp)
  case class OpenSession(user_id: Long, startMs: Long, endMs: Long, n: Long)
  case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long)

  /** D19 custom-state path: sessionization via flatMapGroupsWithState with
    * event-time timeout. Sessions close either when a later event arrives
    * past the gap (emitted immediately) or when the watermark passes
    * lastEvent+gap (emitted on timeout). State per key = one open session —
    * bounded, watermark-expired; the RocksDB state store carries this shape
    * at 100 TB. The built-in session_window covers the declarative case;
    * this is the template for semantics the built-in can't express
    * (per-session custom payloads, early triggers, side outputs).
    */
  def sessionizeCustom(events: Dataset[UserEvent],
                       gapMs: Long = 30 * 60 * 1000L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.startMs, s.endMs, s.n))
          } else {
            val sorted = rows.map(_.ts.getTime).toArray.sorted
            val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
            var open = state.getOption
            sorted.foreach { t =>
              open match {
                case Some(s) if t - s.endMs < gapMs =>
                  open = Some(s.copy(endMs = math.max(s.endMs, t), n = s.n + 1))
                case Some(s) =>
                  closed += SessionOut(userId, s.startMs, s.endMs, s.n)
                  open = Some(OpenSession(userId, t, t, 1))
                case None =>
                  open = Some(OpenSession(userId, t, t, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endMs + gapMs)
            }
            closed.iterator
          }
      }
  }

  case class DocTokens(source: String, doc_id: Long, n_tokens: Long)
  case class BudgetUsed(used: Long)
  case class Admission(source: String, doc_id: Long, n_tokens: Long,
                       cum_before: Long, admitted: Boolean)

  /** x46 streaming twin — per-source token-budget ADMISSION: as documents
    * arrive, each source's slice of the mix fills until its token budget
    * is reached, after which further docs are emitted rejected (admitted =
    * false). Same keep-iff-the-tokens-before-it-are-under-budget rule as
    * the batch x46; the ranking differs by design — a stream admits in
    * arrival order (ingestion-time policy), the batch op re-ranks by md5
    * (reproducible global mix). Within a micro-batch, docs are processed
    * in doc_id order so replays are deterministic. State per source = ONE
    * counter (the tokens admitted so far) — bounded by the source
    * universe, not the stream length, and it carries across micro-batches
    * so a budget filled in batch 1 stays closed in batch 100. */
  def budgetAdmission(docs: Dataset[DocTokens],
                      budget: Long): Dataset[Admission] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState[BudgetUsed, Admission](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (source: String, rows: Iterator[DocTokens], state: GroupState[BudgetUsed]) =>
          var used = state.getOption.map(_.used).getOrElse(0L)
          val out = rows.toArray.sortBy(_.doc_id).map { d =>
            val admit = used < budget
            val r = Admission(source, d.doc_id, d.n_tokens, used, admit)
            if (admit) used += d.n_tokens
            r
          }
          state.update(BudgetUsed(used))
          out.iterator
      }
  }

  case class IncomingDoc(doc_id: Long, fp: String, corpus_id: Option[Long])
  case class Keeper(keep_id: Long)
  case class DedupDecision(doc_id: Long, fp: String, status: String,
                           dup_of: Option[Long])

  /** x59 streaming twin — incremental ingestion dedup as a continuous
    * pipeline: the corpus fingerprint index is the STATIC side of a
    * stream-static left join (stateless, re-planned per micro-batch, so an
    * index that grows between batches is picked up), and in-stream
    * first-wins dedup is per-fp state. A doc whose fp is in the index is
    * `dup_of_corpus` (no state consumed); otherwise the first arrival per
    * fp is `new` and becomes the keeper, later arrivals are `dup_in_batch`
    * pointing at it. Same classification rule as the batch x59; the keeper
    * differs by design — the stream keeps the FIRST ARRIVAL (ingestion-time
    * policy), the batch op the min doc_id (reproducible backfill). Within a
    * micro-batch, docs are processed in doc_id order so replays are
    * deterministic. State per fp = one long, and ONLY for fps absent from
    * the corpus index; at 100 TB the steady-state pattern is a periodic
    * flush of accepted fps into the stored index plus a state TTL
    * (`GroupStateTimeout`), keeping live state bounded by the flush
    * interval's novelty rate rather than the corpus. */
  /** x77 streaming twin — incremental importance SCORING: score each
    * arriving document against the STORED 256-bucket log-ratio model
    * ([[graft.functions.Sampling.dsirLogRatioModel]] — a trained artifact
    * like a BPE merge table or PQ codebook). The model is collected once
    * (256 rows, control-plane) and folded into the plan as an
    * array-literal lookup, so scoring is a PURE MAP over the stream —
    * tokenize, feature-hash, sum the quantized log-ratios in one
    * codegen'd higher-order fold. No shuffle, no state, no watermark:
    * exactly-once under retries for free (scores are deterministic), and
    * at 100 TB/day ingest this is the admission-scoring shape — the model
    * retrains offline on the corpus cadence and a restart (or a
    * `foreachBatch` re-resolve) picks up the new table.
    *
    * Score semantics are exactly the batch x77's pre-top-N relation:
    * `score_q = Σ_features lq[bucket(f)]` (the same exact-integer dot
    * product, order-free), `n_feats` the unigram+bigram count, and
    * `log_weight = score_q / 1e6` rounded to 4 — the StreamingSpec parity
    * test pins stream == batch per doc over the whole corpus. */
  def importanceScore(docs: DataFrame, model: DataFrame,
                      buckets: Int = graft.functions.Sampling.DsirBuckets): DataFrame = {
    val lqArr = Array.fill[Long](buckets)(0L)
    model.collect().foreach(r => lqArr(r.getInt(0)) = r.getLong(1))
    val lqLit = typedLit(lqArr.toSeq)
    val feats = concat(
      coalesce(graft.functions.Text.tokens(col("text")), array().cast("array<string>")),
      graft.functions.Corpus.bigrams(graft.functions.Text.tokens(col("text"))))
    docs
      .select(col("doc_id"), feats.as("feats"))
      .select(col("doc_id"),
        size(col("feats")).cast("long").as("n_feats"),
        aggregate(
          transform(col("feats"),
            f => element_at(lqLit,
              graft.functions.Sampling.hashBucket(f, buckets) + 1)),
          lit(0L), (acc, x) => acc + x).as("score_q"))
      .withColumn("log_weight",
        round(col("score_q").cast("double") / lit(1.0e6), 4))
  }

  /** The x59 streaming twin AT STEADY STATE — the state lifecycle the
    * [[incrementalDedup]] Scaladoc promises, made concrete:
    *
    *  - **Stored index, versioned.** The corpus fingerprint index lives as
    *    parquet under `indexRoot/index_v<N>`; each flush writes version
    *    N+1 via [[graft.functions.Dedup.updateFingerprintIndex]] (the x59
    *    maintained-index fold) and bumps the current pointer — readers
    *    never race a rewrite. (A production deployment would put the
    *    version pointer in a transactional catalog; the single-writer
    *    pointer here is the same shape.)
    *  - **Staging.** Every micro-batch appends its accepted (`new`) fps to
    *    `indexRoot/staging` — small per-trigger files, compacted into the
    *    next index version every `flushEvery` batches, so the index dir
    *    doesn't accrete one file per trigger.
    *  - **Delta tier (`maxDeltas > 0`).** At corpus scale a full base
    *    rewrite per flush window is the dominant I/O bill; in delta mode
    *    a flush writes the window's acceptances as a flush-sized DELTA
    *    version instead, and only every (maxDeltas+1)-th flush runs a
    *    MAJOR compaction folding base + deltas into base N+1 — the LSM
    *    shape. The finalize join reads the base on its own bucketed
    *    layout (no exchange) and the delta tier broadcast, so decisions
    *    stay bit-identical to the fold-every-flush mode at a fraction of
    *    the write amplification.
    *  - **State TTL.** The first-wins keeper state uses
    *    `GroupStateTimeout.ProcessingTimeTimeout` with `ttlMs`: a key's
    *    state dies `ttlMs` after its last arrival. Live state is therefore
    *    bounded by the flush interval's NOVELTY RATE (fps first seen since
    *    the last flush, still inside their TTL), not by the corpus.
    *  - **Hand-off.** [[finalizeBatch]] joins each batch's decisions
    *    against a FRESH read of the current index version (re-read per
    *    batch — this is why the index is read in the sink, not in the
    *    streaming plan, whose static side pins its file listing at query
    *    start): once a flushed fp's state expires, the index classifies
    *    later arrivals `dup_of_corpus` with the SAME keeper the state
    *    would have named, so decisions are invariant to when the TTL
    *    fires. `ttlMs` must cover the flush interval (TTL shorter than
    *    time-to-flush would drop a keeper before the index knows it).
    *
    * Wiring: `classify(docs).writeStream.foreachBatch { (b, id) =>
    * m.finalizeBatch(b, id).write(...) }`. StreamingSpec pins: state
    * count bounded across micro-batches (expiry observed via the state
    * operator metrics), post-flush arrivals classified by the stored
    * index, and replay parity with the batch x59 classification. */
  final class MaintainedDedupIndex(s: SparkSession, indexRoot: String,
                                   ttlMs: Long, flushEvery: Int,
                                   fpBuckets: Int = 0,
                                   leaseTtlMs: Long = DefaultLeaseTtlMs,
                                   writerId: String = defaultOwnerId,
                                   maxDeltas: Int = 0,
                                   maxDeltaBroadcastBytes: Long = DefaultMaxDeltaBroadcastBytes,
                                   pointer: Option[VersionPointer] = None,
                                   keepVersions: Int = 2,
                                   readOnly: Boolean = false) {
    import TieredStore.DeltaTier
    require(flushEvery >= 1, "flushEvery must be >= 1")
    private def bucketed = fpBuckets > 0
    // catalog-safe, root-derived table family (unsigned hex — no '-')
    private val tableSuffix = java.lang.Integer.toHexString(indexRoot.hashCode)
    private def idxTable(v: Int) = s"graft_mdix_${tableSuffix}_v$v"
    private def indexDir(v: Int) = s"$indexRoot/index_v$v"
    private def stagingDir = s"$indexRoot/staging"
    private def fs: org.apache.hadoop.fs.FileSystem = store.fs
    // ---- versions (the TieredStore): base `index_v<N>` with its
    // `ids_v<N>` sidecar, delta tier `delta_v<k>`. With maxDeltas = 0
    // (default) every flush FOLDS staging into a full new base version —
    // O(index) I/O per flush window, fine until the index is corpus-scale.
    // With maxDeltas > 0 a flush writes the staged acceptances as a
    // flush-window-sized DELTA (O(staged) I/O) until the tier is due a
    // major. The per-batch finalize joins the base bucketed (no exchange)
    // and the delta tier BROADCAST while it is under
    // maxDeltaBroadcastBytes; past that bound the hint is DROPPED (loud
    // log + delta_fallbacks gauge) and the join falls back to shuffle.
    // Base and delta fps are disjoint in steady state (an fp present in
    // the index is never re-accepted); crash replays can duplicate an fp
    // ACROSS deltas or into the new base with the SAME keeper id, and a
    // crash between a major's base write and its floor marker re-includes
    // the folded deltas (the version never committed) — the min fold and
    // the coalesce precedence absorb both exactly.
    private val store = new TieredStore(s, indexRoot, "dedup", "MaintainedDedupIndex",
      basePrefixes = Seq("index_v"), deltaPrefixes = Seq("delta_v"),
      maxDeltas, maxDeltaBroadcastBytes, keepVersions, pointer, leaseTtlMs, writerId,
      readOnly, sidecarPrefixes = Seq("ids_v"),
      unregister = v => if (bucketed) s.sql(s"DROP TABLE IF EXISTS ${idxTable(v)}"))
    private def version = store.version
    private def deltaDir(k: Int) = s"$indexRoot/delta_v$k"
    /** The delta tier as one relation, min-folded per fp (replayed staging
      * can duplicate an fp across deltas — same keeper, the fold is a
      * no-op on it). None when the tier is empty. */
    private def deltaRelation(tier: DeltaTier): Option[DataFrame] =
      if (tier.isEmpty) None
      else Some(tier.versions.map(k => s.read.parquet(deltaDir(k)))
        .reduce(_ unionByName _)
        .groupBy(col("fp")).agg(min(col("corpus_id")).as("corpus_id")))
    // THIS instance's classify pin references (one entry per classify
    // call) in the JVM-global, REF-COUNTED registry the store's retention
    // keeps: release drops exactly these — a set-based clear would drop
    // another live instance's pin on the same version, letting the next
    // major GC retire a base that instance's pinned file listing still
    // reads (failing its stream mid-query)
    private val myPins = new java.util.concurrent.ConcurrentLinkedQueue[Int]()

    /** Release the writer lease (maintainer shutdown); no-op on a
      * read-only handle (it holds nothing). The instance must not mutate
      * the index afterwards. */
    def close(): Unit = store.close()

    /** Seed version 0 of the stored index from `(fp, corpus_id)`
      * ([[TieredStore.beginSeed]] refuses a root with a committed
      * version). */
    def initIndex(idx: DataFrame): Unit = {
      store.renewWriter("initIndex")
      store.beginSeed()
      writeIndex(idx.select(col("fp"), col("corpus_id")), 0)
      store.commit(0, 0)
      // sidecar after the commit point: a crash before it leaves a
      // committed version without one, which the takedown resolve heals
      // via its semi-join fallback
      writeSidecar(0)
    }

    /** Write an index version: plain parquet, or (bucketed mode) a
      * path-pinned external table clustered on `fp` — the per-batch
      * finalize join's key — so the INDEX side of that join reads
      * pre-partitioned and only the batch-sized side shuffles (the index
      * is corpus-scale; re-shuffling it per micro-batch is the cost this
      * removes at 100 TB). The bucket count is stamped into the layout
      * ([[Pipelines.writeBucketMarker]]) so a restart re-registers with
      * the count the FILES were written with, never the constructor's. */
    private def writeIndex(idx: DataFrame, v: Int): Unit =
      if (bucketed) {
        s.sql(s"DROP TABLE IF EXISTS ${idxTable(v)}")
        fs.delete(new org.apache.hadoop.fs.Path(indexDir(v)), true)
        idx.write.mode("overwrite")
          .bucketBy(fpBuckets, "fp").sortBy("fp")
          .option("path", indexDir(v))
          .saveAsTable(idxTable(v))
        Pipelines.writeBucketMarker(fs, indexDir(v), fpBuckets)
      } else idx.write.mode("overwrite").parquet(indexDir(v))

    // ---- doc_id→fp SIDECAR: the takedown-resolve projection ----------
    // The base is fp-bucketed (the finalize join's key), which cannot
    // prune a corpus_id predicate — so an id-keyed takedown resolve
    // against the base alone costs a full scan per request batch, the
    // costliest operation on the compliance path at a 10^10-row index.
    // Each base version therefore carries a `(doc_id, fp)` SIDECAR
    // projection (`ids_v<N>`), hash-clustered by doc_id and sorted
    // within partitions (the ANN base-layout rationale: row-group skips
    // only need within-file key locality, and a range partitioner's
    // sampling pass would re-read the fold), so a driver-sized id set
    // pushes `In(doc_id, …)` into parquet row-group skips. Written at
    // the same boundaries as the base (seed, major flush, shadow-major
    // swap) from the just-committed base files — one narrow re-read
    // instead of re-running the fold — and GC'd with the same keep set.
    // CRASH WINDOW: a version whose sidecar write was lost (kill between
    // the base commit and the sidecar commit) simply resolves via the
    // base-scan fallback — correctness never depends on the sidecar.
    private def sidecarDir(v: Int) = s"$indexRoot/ids_v$v"
    private def writeSidecar(v: Int): Unit = writeSidecar(indexDir(v), sidecarDir(v))
    private def writeSidecar(base: String, out: String): Unit =
      s.read.parquet(base)
        .select(col("corpus_id").as("doc_id"), col("fp"))
        .repartition(col("doc_id")).sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", Pipelines.BaseFileRecords)
        .parquet(out)
    private def sidecarAt(v: Int): Option[DataFrame] =
      if (graft.VersionedDirs.hasCommittedData(fs, sidecarDir(v)))
        Some(s.read.parquet(sidecarDir(v)))
      else None

    /** Re-register a bucketed version in THIS session's catalog when
      * missing (restart path — see MaintainedNearDupIndex.ensureSigTable).
      * Registers with the bucket count STORED in the layout: bucket ids
      * ride the file names, so registering a 4-bucket layout as 8 buckets
      * would silently misroute the join (rows land in partition hash%8
      * while the files hold hash%4) — missed matches, no error. */
    private def ensureIdxTable(v: Int): Unit =
      if (!s.catalog.tableExists(idxTable(v))) {
        val n = Pipelines.requireBucketMarker(fs, indexDir(v), fpBuckets)
        s.sql(s"CREATE TABLE ${idxTable(v)} (fp STRING, corpus_id BIGINT) " +
          s"USING PARQUET CLUSTERED BY (fp) SORTED BY (fp) " +
          s"INTO $n BUCKETS LOCATION '${indexDir(v)}'")
      }

    /** The current logical index, read fresh (new versions are new
      * directories, so no stale file-listing cache): the base version
      * plus, in delta mode, the min-folded delta tier — with DELETED fps
      * excluded (a tombstone's `corpus_id = -1` sorts under every real
      * keeper, so it wins the idempotent min-fold and then drops out
      * here; the raw form feeds the major compaction, which GCs it). */
    def currentIndex: DataFrame = {
      val sn = store.captureSnap()
      currentIndexRaw(store.listDeltaTier(sn.floor), sn.v).filter(col("corpus_id") >= 0)
    }
    private def currentIndexRaw(tier: DeltaTier, v: Int): DataFrame =
      foldedIndexRaw(tier, None, v)

    /** Min-fold base ∪ delta tier ∪ (optionally) staging WITHOUT
      * shuffling the corpus-scale base (guide §2.4/§8: decide with the
      * small rows): the delta∪staged side min-folds alone (delta-sized
      * by construction), then its fp set anti-joins the base as a
      * broadcast under the tier byte-bound guard, the base rows it DOES
      * touch come back through one broadcast semi-join (delta-sized
      * output), and the per-fp minimum resolves between the two small
      * relations. The old shape union-grouped the whole base on fp —
      * a full corpus-scale exchange per fold (and per [[currentIndex]]
      * read under a live tier). Oversized side → hints dropped
      * (`delta_fallbacks`), Spark plans shuffle joins, results identical.
      * Tombstones (`corpus_id = -1`) win the min exactly as before. */
    private def foldedIndexRaw(tier: DeltaTier, staged: Option[DataFrame],
                               v: Int): DataFrame = {
      val deltaSide0 = (deltaRelation(tier).toSeq ++
        staged.map(_.select(col("fp"), col("doc_id").as("corpus_id"))).toSeq)
        .reduceOption(_ unionByName _)
      deltaSide0 match {
        case None => indexAt(v)
        case Some(d0) =>
          val d = d0.groupBy(col("fp")).agg(min(col("corpus_id")).as("corpus_id"))
          val oversized = tier.oversized || (staged.isDefined &&
            graft.VersionedDirs.committedBytes(fs, stagingDir) > maxDeltaBroadcastBytes)
          if (oversized) store.deltaFallbacks.incrementAndGet()
          def hinted(df: DataFrame): DataFrame =
            if (oversized) df else broadcast(df)
          val base = indexAt(v)
          val baseMatch = base
            .join(hinted(d.select(col("fp"))), Seq("fp"), "left_semi")
            .withColumnRenamed("corpus_id", "b_cid")
          val deltaOut = d.join(hinted(baseMatch), Seq("fp"), "left")
            .select(col("fp"),
              least(col("corpus_id"),
                coalesce(col("b_cid"), col("corpus_id"))).as("corpus_id"))
          base.join(hinted(d.select(col("fp"))), Seq("fp"), "left_anti")
            .unionByName(deltaOut)
      }
    }

    private def indexAt(v: Int): DataFrame =
      if (bucketed) { ensureIdxTable(v); s.table(idxTable(v)) }
      else s.read.parquet(indexDir(v))

    /** Lifecycle gauges ([[TieredStore.stats]]) plus `pinned_versions`,
      * the live classify pins. Wire through
      * [[graft.metrics.Observability.startReporter]]'s `indexGauges` to
      * emit these on the periodic O17 surface. */
    def stats: Map[String, Long] = {
      val sn = store.captureSnap()
      store.stats(sn, store.listDeltaTier(sn.floor)) +
        ("pinned_versions" -> Pipelines.pinsFor(indexRoot).size().toLong)
    }

    /** DELETE fingerprints (the takedown operation): stage one tombstone
      * row (`corpus_id` stand-in `doc_id = -1` — real ids are ≥ 0) per
      * fp. The tombstone WINS the index's idempotent min-fold (-1 sorts
      * under every keeper), so the fp reads as absent from
      * [[currentIndex]] and [[finalizeBatch]] immediately, and the next
      * MAJOR compaction drops it from the stored base physically — the
      * GC moment. EPOCH semantics, deliberately: the min-fold is
      * first-wins, so a re-accepted copy of deleted content does not
      * re-enter the STORED index until the major clears the tombstone —
      * copies arriving in that window each classify "new" (admit-
      * rather-than-block, the conservative direction for a takedown) and
      * the first post-major copy becomes the durable keeper. `fps` is
      * `(fp)`; `n_deleted` counts staged tombstones. */
    def deleteFps(fps: DataFrame, batchId: Long): Unit = rootLock(indexRoot).synchronized {
      store.renewWriter("deleteFps")
      val tomb = fps.select(col("fp"), lit(-1L).as("doc_id")).persist()
      try {
        val n = tomb.count()
        if (n > 0) {
          tomb.write.mode("append").parquet(stagingDir)
          store.nDeleted.addAndGet(n)
          store.stagedBatches.incrementAndGet()
        }
        if ((batchId + 1) % flushEvery == 0) flush()
      } finally tomb.unpersist()
    }

    /** DELETE by doc id (the control-topic takedown carrier form — the
      * CCD holds only an id, but this index is keyed by content
      * fingerprint): resolve the ids to their stored fingerprints and
      * stage tombstones for them ([[deleteFps]] semantics). Resolution
      * reads the LIVE state — base ∪ delta tier ∪ staged-but-unflushed
      * rows — so a takedown racing its own doc's recent ingest still
      * lands; the whole resolve-and-stage runs under the root lock, so
      * a concurrent flush cannot delete the staging dir out from under
      * the resolve. Only an fp whose min-fold WINNER is a requested id
      * resolves (the same winner rule every read path uses): an
      * exact-duplicate's id never removes its keeper's content —
      * staged or flushed — and an fp already under a tombstone epoch
      * resolves to nothing (the extra tombstone would be a no-op
      * anyway). A requester that wants content-keyed removal supplies
      * the text via [[deleteFps]] instead.
      *
      * Scale shape: NO full base scan for a request-sized id set. The
      * base contribution to candidate discovery reads the doc_id-
      * clustered SIDECAR projection (`ids_v<N>`, see [[sidecarDir]]) —
      * a driver-sized request pushes `In(doc_id, …)` into row-group
      * skips, so the read is O(request) bytes; a bulk (DataFrame-borne)
      * request semi-joins the sidecar in one narrow pass. The winner
      * fold is then restricted to candidate fps, with the base rows for
      * those fps read fp-pruned against the fp-bucketed, fp-sorted base
      * layout (driver-sized candidate sets push `In(fp, …)`). The delta
      * tier and staging are flush-window sized by construction and scan
      * directly. A base version without a committed sidecar (crash
      * between the base commit and the sidecar write) falls back to the
      * base scan — the r15 shape — never to wrong results. */
    def deleteIds(ids: DataFrame, batchId: Long): Unit = rootLock(indexRoot).synchronized {
      val idsOnly = ids.select(col("doc_id"))
      val tier = store.listDeltaTier()
      val staged =
        if (Pipelines.stagedHasData(fs, stagingDir))
          Some(s.read.parquet(stagingDir)
            .select(col("fp"), col("doc_id").as("corpus_id")))
        else None
      // the window-sized relations (delta tier + staging), tombstones
      // included: an existing tombstone must win its fp's fold so a
      // mid-epoch re-accept's takedown stays a no-op
      val small = (deltaRelation(tier).toSeq ++ staged.toSeq)
        .reduceOption((a: DataFrame, b: DataFrame) => a unionByName b)
      // driver-sized requests resolve with PUSHED In filters (row-group
      // skips on both clustered layouts); larger sets fall back to
      // semi-joins — one narrow scan each, still no index fold
      val idsLocal: Option[Seq[Long]] = {
        val head = idsOnly.limit(MaxLocalResolveKeys + 1).collect()
          .map(_.getLong(0)).toSeq
        if (head.length <= MaxLocalResolveKeys) Some(head) else None
      }
      def byIds(df: DataFrame): DataFrame = idsLocal match {
        case Some(seq) => df.filter(col("corpus_id").isin(seq.map(Long.box): _*))
        case None => df.join(idsOnly, col("corpus_id") === col("doc_id"), "left_semi")
      }
      val baseIdKeyed = sidecarAt(version) match {
        case Some(sc) => sc.select(col("fp"), col("doc_id").as("corpus_id"))
        case None => indexAt(version) // sidecar lost to a crash: full-scan fallback
      }
      val candidates = (Seq(byIds(baseIdKeyed)) ++ small.map(byIds).toSeq)
        .reduce(_ unionByName _).select(col("fp")).distinct().persist()
      try {
        val candLocal: Option[Seq[String]] = {
          val head = candidates.limit(MaxLocalResolveKeys + 1).collect()
            .map(_.getString(0)).toSeq
          if (head.length <= MaxLocalResolveKeys) Some(head) else None
        }
        def byFps(df: DataFrame): DataFrame = candLocal match {
          case Some(seq) => df.filter(col("fp").isin(seq: _*))
          case None => df.join(candidates, Seq("fp"), "left_semi")
        }
        // winner fold over ONLY the candidates' rows, every tier
        // represented (the same min-fold every read path uses): an fp
        // resolves iff its global winner is a requested id
        val fps = (Seq(byFps(indexAt(version))) ++ small.map(byFps).toSeq)
          .reduce(_ unionByName _)
          .groupBy(col("fp")).agg(min(col("corpus_id")).as("corpus_id"))
          .transform(byIds)
          .select(col("fp"))
        deleteFps(fps, batchId) // reentrant — same monitor, same thread
      } finally candidates.unpersist()
    }

    /** Forget THIS instance's classify-stream pins. Call after stopping
      * every classify query built from this instance: each classify()
      * pins its query-start version for GC, and nothing else can know the
      * query is gone — without a release, a driver that restarts classify
      * streams (without a process restart) accumulates one immortal
      * index-copy pin per call. The registry is reference-counted, so a
      * version another live instance (or another classify call) also
      * pinned stays pinned until EVERY holder releases. */
    def releaseClassifyPins(): Unit = {
      import scala.jdk.CollectionConverters._
      Pipelines.releasePins(indexRoot, myPins.asScala.toSeq)
      myPins.clear()
    }

    /** Stream-side classify: fingerprint → static join against the BASE
      * index snapshot AT QUERY START (keeps known-corpus fps out of
      * state; fps flushed later — including everything in the delta
      * tier, which this plan never reads and GC therefore never needs to
      * pin — are caught by [[finalizeBatch]]'s fresh read) → first-wins
      * keeper state with a `ttlMs` processing-time TTL. */
    def classify(docs: DataFrame): Dataset[DedupDecision] = rootLock(indexRoot).synchronized {
      import docs.sparkSession.implicits._
      // one read of the version for BOTH the pin and the plan: reading it
      // twice lets a concurrent flush slip between them, pinning v while
      // the plan embeds v+1 — GC would then retire the version the stream
      // actually reads. synchronized additionally excludes the flush
      // itself (finalizeBatch/flush hold the same lock); captureSnap
      // additionally re-resolves a READ-ONLY handle's committed version
      val v = store.captureSnap().v
      Pipelines.pinVersion(indexRoot, v)
      myPins.add(v)
      val ttl = ttlMs // local copy — the task closure must not capture `this`
      docs
        .select(col("doc_id"), graft.functions.Text.fingerprint(col("text")).as("fp"))
        .join(indexAt(v).select(col("fp"), col("corpus_id")), Seq("fp"), "left")
        .as[IncomingDoc]
        .groupByKey(_.fp)
        .flatMapGroupsWithState[Keeper, DedupDecision](
          OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
          (fp: String, rows: Iterator[IncomingDoc], state: GroupState[Keeper]) =>
            if (state.hasTimedOut) { state.remove(); Iterator.empty }
            else {
              val out = rows.toArray.sortBy(_.doc_id).map { d =>
                d.corpus_id match {
                  case Some(c) => DedupDecision(d.doc_id, fp, "dup_of_corpus", Some(c))
                  case None => state.getOption match {
                    case Some(k) => DedupDecision(d.doc_id, fp, "dup_in_batch", Some(k.keep_id))
                    case None =>
                      state.update(Keeper(d.doc_id))
                      DedupDecision(d.doc_id, fp, "new", None)
                  }
                }
              }
              if (state.exists) state.setTimeoutDuration(ttl)
              out.iterator
            }
        }
    }

    /** The finalize join, each index tier in its cheapest shape: the BASE
      * version joins on its own layout (bucketed mode: pre-partitioned,
      * no exchange on the corpus-scale side), the delta tier joins
      * BROADCAST while its on-disk size stays under
      * `maxDeltaBroadcastBytes`. Past that bound the tier is no longer
      * "executor-memory sized by construction" (a high-novelty phase
      * breaks the operating-point assumption) and the hint is DROPPED —
      * loud log + `delta_fallbacks` gauge, Spark falls back to a shuffle
      * join, decisions unchanged — until the early major compaction the
      * same bound triggers in [[flush]] clears the tier. Base wins the
      * keeper coalesce (an fp in both carries the same id; see the
      * delta-tier invariant above). Exposed for plan auditing. */
    private[graft] def finalizeJoined(batch: DataFrame): DataFrame =
      finalizeJoined(batch, store.listDeltaTier())
    private def finalizeJoined(batch: DataFrame, tier: DeltaTier): DataFrame = {
      val base = indexAt(version).withColumnRenamed("corpus_id", "base_id")
      val joined0 = batch.join(base, Seq("fp"), "left")
      val joined = deltaRelation(tier) match {
        case Some(d0) =>
          val d = d0.withColumnRenamed("corpus_id", "delta_id")
          val side = if (!tier.oversized) broadcast(d) else {
            store.deltaFallbacks.incrementAndGet()
            Pipelines.log.warn(
              s"delta tier at $indexRoot is ${tier.bytes} bytes " +
                s"(> $maxDeltaBroadcastBytes): dropping the broadcast hint — " +
                "finalize falls back to a shuffle join until the early " +
                "major compaction clears the tier")
            d
          }
          joined0.join(side, Seq("fp"), "left")
        case None => joined0.withColumn("delta_id", lit(null).cast("long"))
      }
      // a delta TOMBSTONE (corpus_id = -1, see deleteFps) means the fp
      // was removed from the logical index: it overrides the base row —
      // the one place the two tiers legitimately disagree — and reads as
      // ABSENT, so a post-delete arrival is genuinely novel. A
      // state-derived dup_of_corpus (classify joined a pre-delete base
      // snapshot) downgrades to "new" rather than reference a taken-down
      // keeper.
      val deleted = coalesce(col("delta_id") === -1, lit(false))
      val eff = when(deleted, lit(null).cast("long"))
        .otherwise(coalesce(col("base_id"), col("delta_id")))
      // self-reference guard: after a crash between an in-batch flush and
      // the engine's checkpoint commit, the REPLAYED batch re-finalizes
      // against an index that already contains its own acceptances — the
      // keeper doc then finds ITSELF and would be re-emitted as
      // dup_of_corpus of itself, contradicting the pre-crash sink rows.
      // A doc whose index keeper IS itself is the accepted copy: keep its
      // state-derived decision, making replays idempotent for keepers
      // (dup_in_batch rows may still relabel to dup_of_corpus — same
      // keeper either way, the documented replay-tolerant drift).
      val kept = when(eff =!= col("doc_id"), eff)
      joined.select(col("doc_id"), col("fp"),
        when(kept.isNotNull, lit("dup_of_corpus"))
          .when(deleted && col("status") === "dup_of_corpus", lit("new"))
          .otherwise(col("status")).as("status"),
        when(kept.isNotNull, kept)
          .when(deleted && col("status") === "dup_of_corpus", lit(null).cast("long"))
          .otherwise(col("dup_of")).as("dup_of"))
    }

    /** Per-batch sink step: override state-derived decisions with the
      * CURRENT stored index (an fp the index knows is `dup_of_corpus`
      * regardless of what the — possibly expired and re-seeded — state
      * said; the index carries the original keeper, so `dup_of` is
      * stable), hand the finalized decisions to `sink`, stage this batch's
      * accepted fps, and compact staging into a new index version on the
      * flush boundary. The decisions are materialized (persist + count)
      * before any directory mutates, and unpersisted before returning —
      * `sink` must consume them eagerly.
      *
      * Mutators (`finalizeBatch`, `flush`, and `classify`'s pin+plan) are
      * `synchronized`: a flush racing another caller's staging append
      * could list-then-delete rows the append just committed — accepted
      * fps silently lost from the index (the appending batch's checkpoint
      * has already committed, so no replay restores them). The lock makes
      * concurrent wiring within one JVM safe; across processes the index
      * is SINGLE-WRITER by contract (one maintainer per indexRoot). */
    def finalizeBatch(batch: Dataset[DedupDecision], batchId: Long)
                     (sink: DataFrame => Unit): Unit = rootLock(indexRoot).synchronized {
      store.renewWriter("finalizeBatch")
      val out = finalizeJoined(batch.toDF()).persist()
      try {
        // pin before staging writes shift the dirs under the plan; also the
        // cheap path for the NO-DATA batches a processing-time-timeout query
        // runs continuously (that is how timeouts fire without traffic —
        // and why tests must poll the sink, not processAllAvailable, which
        // never quiesces under this timeout mode)
        if (out.count() > 0) {
          sink(out)
          val accepted = out.filter(col("status") === "new")
            .select(col("fp"), col("doc_id"))
          // skip the append when nothing was accepted: an all-duplicate
          // batch would otherwise stage a zero-row parquet part whose
          // nonzero FOOTER bytes defeat any file-size flush guard,
          // turning every flush boundary under pure-duplicate traffic
          // into a full index read + byte-identical rewrite
          if (!accepted.isEmpty) {
            accepted.write.mode("append").parquet(stagingDir)
            store.stagedBatches.incrementAndGet()
          }
        }
        if ((batchId + 1) % flushEvery == 0) flush()
      } finally out.unpersist()
    }

    /** Fold staged fps into the stored index ([[TieredStore.flushWindow]]):
      * a MINOR flush writes one O(staged) delta; a MAJOR folds base +
      * delta tier + staging into a NEW base version (the x59
      * maintained-index write) and the store retires every version outside
      * the reachable set — disk holds O(live readers) index copies even
      * under a long-running stream. No-op when nothing is staged; a
      * footer-less `_temporary`-only staging remnant (killed append) is
      * dropped, not read. Synchronized — see [[finalizeBatch]]. */
    def flush(): Unit = rootLock(indexRoot).synchronized {
      store.renewWriter("flush")
      val staging = new org.apache.hadoop.fs.Path(stagingDir)
      if (Pipelines.stagedHasData(fs, stagingDir)) {
        val staged = s.read.parquet(stagingDir)
        if (!staged.isEmpty) // committed zero-row parts only otherwise
          store.flushWindow { tier =>
            sizedForWrite(staged.groupBy(col("fp")).agg(min(col("doc_id")).as("corpus_id")))
              .write.mode("overwrite").parquet(deltaDir(tier.next))
          } { (tier, v) =>
            // fold over the RAW tier (tombstones still winning their min
            // groups — a staged re-accept of a deleted fp must not beat
            // the epoch's tombstone), then drop the deleted fps from the
            // compacted base: the delete's GC moment. The fold rides the
            // no-base-shuffle topology ([[foldedIndexRaw]]).
            writeIndex(foldedIndexRaw(tier, Some(staged), version)
              .filter(col("corpus_id") >= 0), v)
            store.commit(v, tier.next)
            // sidecar AFTER the commit point: the takedown resolve
            // tolerates a missing sidecar (base-scan fallback), and writing
            // it first would stall readers on version N for its duration
            writeSidecar(v)
          }
        fs.delete(staging, true)
      } else if (fs.exists(staging)) {
        // crash remnant: only _temporary/ left by a killed append — no
        // readable footer, so reading would throw; the engine's checkpoint
        // replay re-stages the batch
        fs.delete(staging, true)
      }
    }

    /** SHADOW MAJOR compaction ([[TieredStore.shadowMajor]]) — the flush
      * major's min-fold, minus staging, written to the shadow index and
      * its sidecar off the root lock, then swapped in.
      *
      * EPOCH note: the fold boundary is the SNAPSHOT, not the swap — a
      * re-accept of a deleted fp staged mid-build counts as the first
      * post-epoch copy and becomes the durable keeper at its own flush
      * (under the blocking fold it would have waited one more major).
      * Same admit-rather-than-block direction, one window earlier.
      * Bucketed mode: the shadow is written as an external bucketed
      * layout (bucket marker travels with the rename) and readers
      * re-register it via the stored marker. */
    def compactBase(onPrepared: () => Unit = () => ()): Boolean =
      store.shadowMajor(onPrepared) { (_, tier) =>
        val shadowDir = store.shadowDir("index_v")
        val next = currentIndexRaw(tier, version).filter(col("corpus_id") >= 0)
        if (bucketed) {
          val shadowTable = s"graft_mdix_${tableSuffix}_shadow"
          s.sql(s"DROP TABLE IF EXISTS $shadowTable")
          next.write.mode("overwrite")
            .bucketBy(fpBuckets, "fp").sortBy("fp")
            .option("path", shadowDir)
            .saveAsTable(shadowTable)
          Pipelines.writeBucketMarker(fs, shadowDir, fpBuckets)
          // external table: dropping the metadata keeps the files for the
          // rename; the final version re-registers from the stored marker
          s.sql(s"DROP TABLE IF EXISTS $shadowTable")
        } else next.write.mode("overwrite").parquet(shadowDir)
        // the sidecar is built off-lock too, so the new version's resolve
        // path is pruned from its first request
        writeSidecar(shadowDir, store.shadowDir("ids_v"))
      }

    /** Run [[compactBase]] when the live tier holds at least `maxTier`
      * deltas ([[TieredStore.maybeCompact]]). */
    def maybeCompact(maxTier: Int): Boolean = store.maybeCompact(maxTier)(compactBase())
  }

  /** x89 — the exact-dedup TAKEDOWN lifecycle, oracle-gated (the dedup
    * pillar's x84/x85 twin): seed a maintained fp index with half the
    * documents table, ingest a window (minor delta), execute an id-keyed
    * takedown of every doc_id < 50 through [[MaintainedDedupIndex
    * .deleteIds]] — the doc_id→fp SIDECAR resolve, the winner rule, and
    * the tombstone staging all on the oracle path — then ingest a second
    * window whose flush fires the MAJOR compaction (tombstone GC). The
    * DuckDB oracle recomputes the whole sequence relationally: per-window
    * min-keeper folds, removal of exactly the fps whose WINNER id is in
    * the request (a loser id is a no-op), the deleted-reads-as-absent
    * re-accept in window 2, and the epoch rule (a re-accept staged under
    * a live tombstone does not re-enter the stored index until the next
    * major — so window 2's re-accepts of deleted fps are DROPPED by the
    * major they ride into). A resolve that misses the staged tier, beats
    * the tombstone, or removes a keeper by its duplicate's id breaks the
    * hash. Scratch-root lifecycle in [[ScratchRoots]]. */
  def x89DedupTakedown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val fp = graft.functions.Text.fingerprint(col("text"))
    val m4 = pmod(col("doc_id"), lit(4))
    def newDecisions(w: DataFrame): Dataset[DedupDecision] =
      w.select(col("doc_id"), fp.as("fp"),
        lit("new").as("status"), lit(null).cast("long").as("dup_of"))
        .as[DedupDecision]
    val idx = new MaintainedDedupIndex(s, ScratchRoots.create("graft_x89_"),
      ttlMs = 60000L, flushEvery = 1, maxDeltas = 2)
    try {
      idx.initIndex(docs.filter(m4 < 2)
        .select(fp.as("fp"), col("doc_id"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("corpus_id")))
      idx.finalizeBatch(newDecisions(docs.filter(m4 === 2)), 0)(_ => ())
      idx.deleteIds(docs.filter(col("doc_id") < 50).select(col("doc_id")), 1)
      idx.finalizeBatch(newDecisions(docs.filter(m4 === 3)), 2)(_ => ())
      require(idx.stats("version") >= 1L,
        "x89 must serve from a post-takedown MAJOR (tombstones GC'd)")
      idx.currentIndex.orderBy(col("fp"))
    } finally idx.close()
  }

  /** x94 — x89's TAKEDOWN topology served through the exact-dedup SHADOW
    * major ([[MaintainedDedupIndex.compactBase]]) instead of the
    * flush-path major (the x86/x87 pattern applied to the dedup pillar):
    * same seed, ingest, sidecar-resolved delete, and second window, but
    * maxDeltas leaves the blocking major unfired — all three windows ride
    * the delta tier — and the off-lock fold + O(1) swap produce the
    * served base. Same DuckDB oracle as x89, so the shadow fold must be
    * logically invisible: the raw-tier fold's tombstone-wins-its-min-
    * group rule (a window-2 re-accept staged under the live tombstone
    * must NOT re-enter), the GC filter, and the sidecar rebuild all
    * break this hash if they drift from the blocking form while x89
    * stays green. */
  def x94DedupShadowCompact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val fp = graft.functions.Text.fingerprint(col("text"))
    val m4 = pmod(col("doc_id"), lit(4))
    def newDecisions(w: DataFrame): Dataset[DedupDecision] =
      w.select(col("doc_id"), fp.as("fp"),
        lit("new").as("status"), lit(null).cast("long").as("dup_of"))
        .as[DedupDecision]
    val idx = new MaintainedDedupIndex(s, ScratchRoots.create("graft_x94_"),
      ttlMs = 60000L, flushEvery = 1, maxDeltas = 8)
    try {
      idx.initIndex(docs.filter(m4 < 2)
        .select(fp.as("fp"), col("doc_id"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("corpus_id")))
      idx.finalizeBatch(newDecisions(docs.filter(m4 === 2)), 0)(_ => ())
      idx.deleteIds(docs.filter(col("doc_id") < 50).select(col("doc_id")), 1)
      idx.finalizeBatch(newDecisions(docs.filter(m4 === 3)), 2)(_ => ())
      require(idx.compactBase(), "x94 needs a live tier to fold")
      require(idx.stats("delta_versions") == 0L,
        "x94 must serve from the compacted base alone")
      idx.currentIndex.orderBy(col("fp"))
    } finally idx.close()
  }

  /** x95 — x91's TAKEDOWN topology served through the near-dup SHADOW
    * major ([[MaintainedNearDupIndex.compactBase]]): the tombstone PAIR
    * rides a minor delta (maxDeltas leaves the flush-path major
    * unfired), the off-lock two-relation fold + two-rename swap GC the
    * deleted docs, and a fresh instance screens src19 from the swapped
    * base. Same DuckDB oracle as x91 — a shadow fold that leaks a
    * deleted doc's signature or shingle rows (ghost candidates), drops a
    * live doc, or swaps the halves inconsistently breaks this hash while
    * x91 (blocking major) stays green. Completes the shadow-compact
    * oracle symmetry across all four pillars (ANN x86, text x87, exact
    * dedup x94, near-dup this). */
  def x95NearDupShadowCompact(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val root = ScratchRoots.create("graft_x95_")
    val seeder = new MaintainedNearDupIndex(s, root, flushEvery = 100)
    try seeder.initIndex(docs.filter(col("source") =!= "src19")
      .select(col("doc_id"), col("text")))
    finally seeder.close()
    val deleter = new MaintainedNearDupIndex(s, root, flushEvery = 1, maxDeltas = 4)
    try {
      deleter.deleteDocs(docs.filter(col("source") =!= "src19")
        .filter(pmod(col("doc_id"), lit(10)) === 3).select(col("doc_id")), 0)
      require(deleter.stats("delta_versions") == 1L,
        "x95's tombstone pair must ride a MINOR delta (the shadow folds it)")
      require(deleter.compactBase(), "x95 needs a live tier to fold")
      require(deleter.stats("delta_versions") == 0L && deleter.stats("version") >= 1L,
        "x95 must serve from the swapped shadow base alone")
    } finally deleter.close()
    val idx = new MaintainedNearDupIndex(s, root, flushEvery = 100)
    try {
      val outDir = s"$root/screen_out"
      idx.screenBatch(docs.filter(col("source") === "src19")
        .select(col("doc_id"), col("text")), 0)(
        out => out.write.mode("overwrite").parquet(outDir))
      s.read.parquet(outDir)
        .select(col("batch_id"), col("n_matches"),
          col("best_jaccard"), col("best_corpus_id"))
        .orderBy(col("batch_id"))
    } finally idx.close()
  }

  /** x90 — the maintained NEAR-DUP lifecycle, oracle-gated (the fourth
    * pillar's x88-style shared-oracle row; text = x79/x84/x87, ANN =
    * x80/x85/x86/x88, exact dedup = x89, near-dup = this): seed the
    * stored sig+tg pair with every non-src19 document (one index
    * publish), REOPEN the root as a fresh instance — the restart path:
    * discovered version pointer, stored-layout re-read, lease
    * re-acquisition — and screen the src19 batch against the stored
    * relations. The per-doc match summary must hash-equal the batch x62
    * topology VERBATIM (same oracle string): a seed that drops a
    * signature or shingle row, a restart that resolves the wrong
    * version, or a screen whose bucket cap / Jaccard verify / portable
    * argmin drifts from the batch form breaks x90 while x62 stays
    * green. Near-dup DELETES stay spec-pinned (a deleted doc's residual
    * base rows interact with the bucket cap until the major, which a
    * fixed oracle cannot re-derive without assuming cap headroom).
    * Scratch-root lifecycle in [[ScratchRoots]]. */
  def x90NearDupScreen(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val root = ScratchRoots.create("graft_x90_")
    val seeder = new MaintainedNearDupIndex(s, root, flushEvery = 100)
    try seeder.initIndex(docs.filter(col("source") =!= "src19")
      .select(col("doc_id"), col("text")))
    finally seeder.close()
    val idx = new MaintainedNearDupIndex(s, root, flushEvery = 100)
    try {
      val outDir = s"$root/screen_out"
      idx.screenBatch(docs.filter(col("source") === "src19")
        .select(col("doc_id"), col("text")), 0)(
        out => out.write.mode("overwrite").parquet(outDir))
      s.read.parquet(outDir)
        .select(col("batch_id"), col("n_matches"),
          col("best_jaccard"), col("best_corpus_id"))
        .orderBy(col("batch_id"))
    } finally idx.close()
  }

  /** x91 — the maintained NEAR-DUP **takedown** lifecycle, oracle-gated
    * (the last delete asymmetry: text x84, ANN x85, exact dedup x89 are
    * hash-verified; near-dup deletes were spec-pinned only). Seed the
    * stored sig+tg pair with every non-src19 document, DELETE the
    * `doc_id % 10 == 3` slice through [[MaintainedNearDupIndex
    * .deleteDocs]] under a REOPENED instance — tombstone pairs staged on
    * the acceptance machinery — with the flush firing the MAJOR
    * compaction (maxDeltas = 0), so the deleted docs leave BOTH stored
    * relations physically; then reopen once more and screen the src19
    * batch. Screening POST-major is what makes a fixed oracle possible:
    * the documented residual-rows-vs-bucket-cap interaction exists only
    * while tombstoned base rows still count toward the cap window, and
    * the major GC is exactly the point where that transient ends. The
    * DuckDB oracle recomputes the x62 screen over (corpus − deleted
    * slice) — bucket caps, Jaccard verify, and portable argmin all over
    * the post-GC membership — so a takedown that leaks a signature or
    * shingle row into the compacted base (a ghost candidate), over-drops
    * a live doc, or mis-times the GC breaks this hash while x62/x90 stay
    * green. Scratch-root lifecycle in [[ScratchRoots]]. */
  def x91NearDupTakedown(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val root = ScratchRoots.create("graft_x91_")
    val seeder = new MaintainedNearDupIndex(s, root, flushEvery = 100)
    try seeder.initIndex(docs.filter(col("source") =!= "src19")
      .select(col("doc_id"), col("text")))
    finally seeder.close()
    // the takedown arrives at a RESTARTED maintainer (discovered pointer,
    // stored-layout re-read, lease re-acquisition); flushEvery = 1 +
    // maxDeltas = 0 make its flush the MAJOR — the GC moment
    val deleter = new MaintainedNearDupIndex(s, root, flushEvery = 1)
    try {
      deleter.deleteDocs(docs.filter(col("source") =!= "src19")
        .filter(pmod(col("doc_id"), lit(10)) === 3).select(col("doc_id")), 0)
      require(deleter.stats("version") >= 1L,
        "x91 must serve from a post-takedown MAJOR (tombstones GC'd)")
    } finally deleter.close()
    val idx = new MaintainedNearDupIndex(s, root, flushEvery = 100)
    try {
      val outDir = s"$root/screen_out"
      idx.screenBatch(docs.filter(col("source") === "src19")
        .select(col("doc_id"), col("text")), 0)(
        out => out.write.mode("overwrite").parquet(outDir))
      s.read.parquet(outDir)
        .select(col("batch_id"), col("n_matches"),
          col("best_jaccard"), col("best_corpus_id"))
        .orderBy(col("batch_id"))
    } finally idx.close()
  }

  /** The x77 streaming twin against the STORED model: resolve the latest
    * persisted [[graft.functions.Sampling.saveDsirModel]] version at plan
    * build and score with it. This is the restart path the
    * [[importanceScore]] Scaladoc describes — the trainer writes a new
    * version offline, and a (re)started stream picks it up from storage,
    * with no dependency on the training session's caches surviving. */
  def importanceScoreStored(docs: DataFrame, modelRoot: String,
                            buckets: Int = graft.functions.Sampling.DsirBuckets): DataFrame =
    importanceScore(docs,
      graft.functions.Sampling.loadDsirModel(docs.sparkSession, modelRoot), buckets)

  /** The x62 streaming twin at steady state — NEAR-dup screening of an
    * arriving stream against a STORED signature index, the
    * [[MaintainedDedupIndex]] lifecycle applied to x62's LSH + verify
    * pipeline:
    *
    *  - **Stored relations, versioned together.** `sig_v<N>` holds the
    *    corpus minhash band signatures `(band, min_hash, doc_id)`,
    *    `tg_v<N>` the trigram shingle sets `(doc_id, tg)` the Jaccard
    *    verifier needs — the "persisted signature table" the batch x62's
    *    Scaladoc names as the production index. With `sigBuckets > 0` the
    *    signature versions are stored as BUCKETED tables on
    *    (band, min_hash) — the 100 TB shape: the corpus side of each
    *    batch's LSH screen (bucket-cap window + candidate join) reads
    *    pre-partitioned and needs NO exchange; only the batch-sized side
    *    shuffles (plan-pinned in StreamingSpec). Bucketed versions are
    *    registered as path-pinned external tables; a fresh session
    *    re-registers them from the stored layout (bucket ids ride the
    *    file names), so restart keeps the co-partitioning.
    *  - **Per-batch screen** ([[screenBatch]], run in foreachBatch so the
    *    index re-reads fresh each batch): batch docs → signatures +
    *    shingles (map-only) → LSH join against the capped corpus buckets
    *    ([[graft.functions.Dedup.MaxBucket]], same window as batch x62)
    *    → exact-Jaccard verify + best-match fold (the SHARED
    *    `Dedup.nearDupBest` — bit-identical to the batch form) → one row
    *    per batch doc `(batch_id, n_matches, best_jaccard,
    *    best_corpus_id)`.
    *  - **Admission + flush.** Docs with no verified match are ACCEPTED:
    *    their signatures and shingle sets stage per batch and compact
    *    into version N+1 every `flushEvery` batches (distinct-folded, so
    *    replayed batches are idempotent). No keyed state at all — unlike
    *    exact dedup there is no first-wins race to arbitrate mid-window;
    *    in-batch near-dup pairs are (deliberately, like the batch x62) a
    *    separate backfill concern.
    *  - **Delta tier (`maxDeltas > 0`).** Rewriting BOTH corpus-scale
    *    relations per flush window is the write-amplification bill at
    *    100 TB; in delta mode a flush writes the window's acceptances as
    *    a flush-sized delta PAIR and only every (maxDeltas+1)-th flush
    *    major-compacts. The screen stays bit-identical to the folded
    *    index — including the MaxBucket cap, whose verdict counts base
    *    and delta members TOGETHER via a broadcast-sized correction on
    *    the delta-touched buckets (the only ones whose verdict can
    *    change); RoundTenSpec pins both the parity and the
    *    cap-flip case a base-only window would get wrong.
    *
    * StreamingSpec pins single-batch parity with
    * `Dedup.x62IncrementalNearDupOf` on the same corpus/batch split, and
    * that a post-flush arrival of an accepted doc's clone reports the
    * stored copy as its best match. */
  final class MaintainedNearDupIndex(s: SparkSession, indexRoot: String,
                                     flushEvery: Int,
                                     minJaccard: Double = 0.5,
                                     sigBuckets: Int = 0,
                                     leaseTtlMs: Long = DefaultLeaseTtlMs,
                                     writerId: String = defaultOwnerId,
                                     maxDeltas: Int = 0,
                                     maxDeltaBroadcastBytes: Long = DefaultMaxDeltaBroadcastBytes,
                                     pointer: Option[VersionPointer] = None,
                                     keepVersions: Int = 2,
                                     readOnly: Boolean = false) {
    import TieredStore.DeltaTier
    require(flushEvery >= 1, "flushEvery must be >= 1")
    private def bucketed = sigBuckets > 0
    // catalog-safe, root-derived table family (unsigned hex — no '-')
    private val tableSuffix = java.lang.Integer.toHexString(indexRoot.hashCode)
    private def sigTable(v: Int) = s"graft_mndix_${tableSuffix}_sig_v$v"
    private def sigDir(v: Int) = s"$indexRoot/sig_v$v"
    private def tgDir(v: Int) = s"$indexRoot/tg_v$v"
    private def sigStaging = s"$indexRoot/sig_staging"
    private def tgStaging = s"$indexRoot/tg_staging"
    private def fs: org.apache.hadoop.fs.FileSystem = store.fs
    // ---- versions (the TieredStore): base pair `sig_v<N>`/`tg_v<N>`
    // (markers on the sig half), delta pairs `dsig_v<k>`/`dtg_v<k>`. A
    // minor flush persists the window's accepted signatures + shingle
    // sets as a delta PAIR instead of rewriting both corpus-scale
    // relations. Screening stays BIT-IDENTICAL to the fold-every-flush
    // mode — including [[graft.functions.Dedup.MaxBucket]]: a bucket's cap
    // verdict must count base AND delta members together, so the screen
    // corrects the base-only window with the broadcast-sized set of
    // delta-touched buckets (only those buckets can change verdict; see
    // screenBatch). Shingle deltas need no such care — the verifier joins
    // shingles by doc_id, so a plain union is exact. Delta pairs write
    // dtg BEFORE dsig and count only COMPLETE pairs, for the same
    // orphan-asymmetry reason as staging (an orphan shingle delta is
    // inert; an orphan signature delta would silently admit near-dups).
    // One transient cap-count wrinkle: after a crash between a major's
    // base write and its delta deletion, a signature row exists in BOTH
    // tiers and the combined bucket count briefly double-counts it — a
    // bucket exactly at the cap can over-cap (dropping candidates the
    // folded index would keep) until the next major compaction heals the
    // duplication. Conservative (never admits an over-cap bucket), and
    // self-healing.
    private val store = new TieredStore(s, indexRoot, "near-dup", "MaintainedNearDupIndex",
      basePrefixes = Seq("sig_v", "tg_v"), deltaPrefixes = Seq("dsig_v", "dtg_v"),
      maxDeltas, maxDeltaBroadcastBytes, keepVersions, pointer, leaseTtlMs, writerId,
      readOnly,
      unregister = v => if (bucketed) s.sql(s"DROP TABLE IF EXISTS ${sigTable(v)}"))
    private def version = store.version
    private def dsigDir(k: Int) = s"$indexRoot/dsig_v$k"
    private def dtgDir(k: Int) = s"$indexRoot/dtg_v$k"
    /** Deleted doc_ids recorded in the delta tier (tombstone signature
      * rows, `band = -1` — see [[deleteDocs]]). Delta-sized by
      * construction; every serving consumer anti-joins it under the same
      * broadcast guard as the rest of the tier. None when the tier is
      * empty (the base never holds tombstones — majors GC them). */
    private def deletedIds(tier: DeltaTier): Option[DataFrame] =
      if (tier.isEmpty) None
      else Some(tier.versions.map(k => s.read.parquet(dsigDir(k)))
        .reduce(_ unionByName _)
        .filter(col("band") === -1).select(col("doc_id")).distinct())
    private def notDeleted(df: DataFrame, tier: DeltaTier,
                           hint: DataFrame => DataFrame, key: String = "doc_id"): DataFrame =
      deletedIds(tier).fold(df)(d =>
        df.join(hint(d.withColumnRenamed("doc_id", key)), Seq(key), "left_anti")
          // a USING join surfaces the key column first — restore the
          // input order (positional readers and the stored base's
          // parquet column order depend on it)
          .select(df.columns.map(col).toIndexedSeq: _*))
    /** Delta-tier signatures, distinct-folded across replays, tombstone
      * rows and DELETED docs excluded (a doc accepted in one delta and
      * deleted in a later one must stop being a candidate). None when
      * the tier is empty. */
    private def deltaSignatures(tier: DeltaTier): Option[DataFrame] =
      deltaSignatures(tier, broadcast)
    private def deltaSignatures(tier: DeltaTier,
                                hint: DataFrame => DataFrame): Option[DataFrame] =
      if (tier.isEmpty) None
      else Some(notDeleted(
        tier.versions.map(k => s.read.parquet(dsigDir(k)))
          .reduce(_ unionByName _)
          .filter(col("band") >= 0)
          .dropDuplicates("band", "min_hash", "doc_id"), tier, hint))
    private def deltaShingles(tier: DeltaTier): Option[DataFrame] =
      deltaShingles(tier, broadcast)
    private def deltaShingles(tier: DeltaTier,
                              hint: DataFrame => DataFrame): Option[DataFrame] =
      if (tier.isEmpty) None
      else Some(notDeleted(
        tier.versions.map(k => s.read.parquet(dtgDir(k)))
          .reduce(_ unionByName _)
          .filter(col("tg").isNotNull) // tombstone shingle rows are null-tg
          .dropDuplicates("doc_id"), tier, hint))
    /** Lifecycle gauges ([[TieredStore.stats]]). */
    def stats: Map[String, Long] = {
      val sn = store.captureSnap()
      store.stats(sn, store.listDeltaTier(sn.floor))
    }

    /** DELETE documents (the takedown operation): stage one tombstone
      * pair per doc_id — a null-shingle row (tg relation) plus a
      * `band = -1` signature row — on the same staging/pairing machinery
      * acceptances ride (shingle half first, same orphan asymmetry). From
      * the next flush the doc stops being a CANDIDATE (its real signature
      * rows anti-join out of every screen via the tier's tombstone set)
      * and stops VERIFYING (shingles excluded), and the next MAJOR
      * compaction drops its rows from both stored relations physically.
      * Same visibility cadence as acceptances: a delete is served from
      * the flush boundary, not mid-window. `ids` is `(doc_id)`;
      * `n_deleted` counts staged tombstones. */
    def deleteDocs(ids: DataFrame, batchId: Long): Unit = rootLock(indexRoot).synchronized {
      store.renewWriter("deleteDocs")
      val tomb = ids.select(col("doc_id")).persist()
      try {
        val n = tomb.count()
        if (n > 0) {
          tomb.select(col("doc_id"),
              lit(null).cast("array<string>").as("tg"))
            .write.mode("append").parquet(tgStaging)
          tomb.select(lit(-1).as("band"), lit("").as("min_hash"), col("doc_id"))
            .write.mode("append").parquet(sigStaging)
          store.nDeleted.addAndGet(n)
          store.stagedBatches.incrementAndGet()
        }
        if ((batchId + 1) % flushEvery == 0) flush()
      } finally tomb.unpersist()
    }

    /** Release the writer lease (maintainer shutdown). The instance must
      * not mutate the index afterwards. */
    def close(): Unit = store.close()

    /** Seed version 0 from the already-ingested corpus `(doc_id, text)`
      * ([[TieredStore.beginSeed]] refuses a root with a committed
      * version): sig half, tg half, then the commit. */
    def initIndex(corpus: DataFrame): Unit = {
      store.renewWriter("initIndex")
      store.beginSeed()
      writeSignatures(graft.functions.Dedup.minhashSignatures(corpus)
        .select(col("band"), col("min_hash"), col("doc_id")), 0)
      graft.functions.Dedup.shingleRelation(corpus)
        .write.mode("overwrite").parquet(tgDir(0))
      store.commit(0, 0)
    }

    /** Write a signature version: plain parquet, or (bucketed mode) a
      * path-pinned external table clustered on the LSH join key so every
      * later screen reads it pre-partitioned. */
    private def writeSignatures(sig: DataFrame, v: Int): Unit =
      if (bucketed) {
        s.sql(s"DROP TABLE IF EXISTS ${sigTable(v)}")
        fs.delete(new org.apache.hadoop.fs.Path(sigDir(v)), true)
        sig.write.mode("overwrite")
          .bucketBy(sigBuckets, "band", "min_hash")
          .sortBy("band", "min_hash")
          .option("path", sigDir(v))
          .saveAsTable(sigTable(v))
        Pipelines.writeBucketMarker(fs, sigDir(v), sigBuckets)
      } else sig.write.mode("overwrite").parquet(sigDir(v))

    /** Re-register a bucketed version in THIS session's catalog when
      * missing (restart path: the data + bucket-id file naming persist;
      * the in-memory catalog entry does not). Registers with the bucket
      * count STORED in the layout, never the constructor's — see
      * MaintainedDedupIndex.ensureIdxTable for the silent-misroute
      * hazard. */
    private def ensureSigTable(v: Int): Unit =
      if (!s.catalog.tableExists(sigTable(v))) {
        val n = Pipelines.requireBucketMarker(fs, sigDir(v), sigBuckets)
        s.sql(s"CREATE TABLE ${sigTable(v)} (band INT, min_hash STRING, doc_id BIGINT) " +
          s"USING PARQUET CLUSTERED BY (band, min_hash) SORTED BY (band, min_hash) " +
          s"INTO $n BUCKETS LOCATION '${sigDir(v)}'")
      }

    /** The BASE version's relations on their own storage layout (bucketed
      * mode: pre-partitioned on the LSH key). The screen reads these
      * directly so the corpus-scale side keeps its no-exchange property;
      * external readers want [[currentSignatures]]/[[currentShingles]],
      * which include the delta tier. */
    private[graft] def baseSignatures: DataFrame = baseSignatures(version)
    private def baseSignatures(v: Int): DataFrame =
      if (bucketed) { ensureSigTable(v); s.table(sigTable(v)) }
      else s.read.parquet(sigDir(v))
    private def baseShingles: DataFrame = baseShingles(version)
    private def baseShingles(v: Int): DataFrame = s.read.parquet(tgDir(v))

    /** The current LOGICAL index: base plus the delta tier, deleted docs
      * excluded from both. */
    def currentSignatures: DataFrame = {
      val sn = store.captureSnap()
      currentSignatures(store.listDeltaTier(sn.floor), sn.v)
    }
    // Base∪delta WITHOUT the old corpus-wide dropDuplicates exchange
    // (guide §2.4): base and delta doc_ids only collide on crash-replay
    // re-accepts, whose rows are IDENTICAL (the verifyShingles
    // invariant), so "dedup the union" equals "base minus delta-resident
    // docs, plus the delta rows" — and the delta doc set is
    // broadcast-sized by construction. The delta side stays the newer
    // copy (LSM order), results unchanged.
    private def currentSignatures(tier: DeltaTier, v: Int): DataFrame =
      deltaSignatures(tier) match {
        case None => baseSignatures(v)
        case Some(d) =>
          val hint: DataFrame => DataFrame =
            if (tier.oversized) identity else broadcast
          val base = notDeleted(baseSignatures(v), tier, hint)
          base.join(hint(d.select(col("doc_id")).distinct()),
              Seq("doc_id"), "left_anti")
            .select(base.columns.map(col).toIndexedSeq: _*)
            .unionByName(d)
      }
    def currentShingles: DataFrame = {
      val sn = store.captureSnap()
      currentShingles(store.listDeltaTier(sn.floor), sn.v)
    }
    private def currentShingles(tier: DeltaTier, v: Int): DataFrame =
      deltaShingles(tier) match {
        case None => baseShingles(v)
        case Some(d) =>
          val hint: DataFrame => DataFrame =
            if (tier.oversized) identity else broadcast
          val base = notDeleted(baseShingles(v), tier, hint)
          base.join(hint(d.select(col("doc_id")).distinct()),
              Seq("doc_id"), "left_anti")
            .select(base.columns.map(col).toIndexedSeq: _*)
            .unionByName(d)
      }

    /** The verify join's corpus shingle side: base ∪ delta WITHOUT the
      * doc_id dedup [[currentShingles]] applies — that dropDuplicates is
      * a corpus-wide exchange, which on the per-batch hot path would
      * cost exactly what the delta tier exists to avoid. Base and delta
      * doc_ids only collide in the crash window between a major's base
      * write and its floor-marker write, where the duplicated rows carry
      * IDENTICAL shingle arrays: a duplicate can transiently inflate a
      * doc's n_matches (never flip a match verdict or change the best
      * match) until the next major compaction heals the tier. */
    private def verifyShingles(tier: DeltaTier,
                               hint: DataFrame => DataFrame): DataFrame =
      verifyShingles(tier, hint, version)
    private def verifyShingles(tier: DeltaTier, hint: DataFrame => DataFrame,
                               v: Int): DataFrame =
      deltaShingles(tier, hint) match {
        case None => baseShingles(v)
        case Some(d) => notDeleted(baseShingles(v), tier, hint).unionByName(d)
      }

    /** LSH candidate generation for one batch's signatures against the
      * stored index, each tier in its cheapest shape — exposed for plan
      * auditing. Base side: cap by the base-only bucket window (rides the
      * stored bucket layout — no exchange on the corpus-scale side in
      * bucketed mode). Delta tier: the cap verdict must count base AND
      * delta members together to stay bit-identical to the folded index.
      * Only the delta-touched buckets (a broadcast-sized key set) can
      * change verdict, so: count base members ON those keys
      * (semi-filtered scan, tiny aggregate), compute the combined count,
      * then FLIPPED buckets (base-admitted but combined > cap) leave the
      * base side via a broadcast anti-join, and only combined-admissible
      * delta buckets join the batch at all.
      *
      * Every broadcast here derives from the SIGNATURE delta tier, so all
      * of them ride the same guard as the exact index's finalize join:
      * past `maxDeltaBroadcastBytes` the hints are dropped (loud log +
      * `delta_fallbacks` gauge; Spark plans shuffle joins — identical
      * candidates, no forced corpus-scale broadcast) until the early
      * major compaction clears the tier. */
    private[graft] def screenCandidates(batchSig: DataFrame): DataFrame =
      screenCandidates(batchSig, store.listDeltaTier())
    private def screenCandidates(batchSig: DataFrame, tier: DeltaTier): DataFrame =
      screenCandidates(batchSig, tier, version)
    private def screenCandidates(batchSig: DataFrame, tier: DeltaTier,
                                 v: Int): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val bucketW = Window.partitionBy("band", "min_hash")
      val cap = graft.functions.Dedup.MaxBucket
      // fallback decision ONCE per screen (the lambda is applied to four
      // relations — counting per application would inflate the gauge 4×
      // relative to the exact index's per-join meaning, and spam the log)
      val hinted: DataFrame => DataFrame =
        if (!tier.oversized) broadcast
        else {
          store.deltaFallbacks.incrementAndGet()
          Pipelines.log.warn(
            s"near-dup delta tier at $indexRoot is ${tier.bytes} bytes " +
              s"(> $maxDeltaBroadcastBytes): dropping the screen's broadcast " +
              "hints — shuffle joins until the early major compaction")
          identity[DataFrame]
        }
      // deleted docs leave the candidate pool via the tier's tombstone set
      // (delta-sized, same broadcast guard); their rows still count toward
      // the bucket-cap window until the next major — conservative (an
      // at-cap bucket can transiently over-cap), the documented
      // self-healing wrinkle
      val baseCapped = notDeleted(baseSignatures(v)
        .select(col("band"), col("min_hash"), col("doc_id").as("corpus_id"))
        .withColumn("bn", count(lit(1)).over(bucketW))
        .filter(col("bn") <= cap)
        .drop("bn"), tier, hinted, key = "corpus_id")
      val (corpusCands, deltaCandsOpt) = deltaSignatures(tier, hinted) match {
        case None =>
          (batchSig.join(baseCapped, Seq("band", "min_hash")), None)
        case Some(ds) =>
          val dCounts = ds.groupBy(col("band"), col("min_hash"))
            .agg(count(lit(1)).as("nd"))
          val bCounts = baseSignatures(v)
            .join(hinted(dCounts.select(col("band"), col("min_hash"))),
              Seq("band", "min_hash"))
            .groupBy(col("band"), col("min_hash")).agg(count(lit(1)).as("nb"))
          val kInfo = dCounts.join(bCounts, Seq("band", "min_hash"), "left")
            .select(col("band"), col("min_hash"),
              (coalesce(col("nb"), lit(0L)) + col("nd")).as("n"))
          val flipped = kInfo.filter(col("n") > cap)
            .select(col("band"), col("min_hash"))
          val admissibleDelta = ds
            .select(col("band"), col("min_hash"), col("doc_id").as("corpus_id"))
            .join(hinted(kInfo.filter(col("n") <= cap)
              .select(col("band"), col("min_hash"))), Seq("band", "min_hash"))
          (batchSig.join(
            baseCapped.join(hinted(flipped), Seq("band", "min_hash"), "left_anti"),
            Seq("band", "min_hash")),
            Some(batchSig.join(hinted(admissibleDelta), Seq("band", "min_hash"))))
      }
      deltaCandsOpt.fold(corpusCands)(corpusCands.unionByName(_))
        .select(col("batch_id"), col("corpus_id"))
        // self-match guard: a batch REPLAYED after a crash between an
        // in-batch flush and the checkpoint commit finds its own accepted
        // copies in the index — a doc must not match itself (it would
        // report its stored self at Jaccard 1.0 and flip its pre-crash
        // accepted verdict); with the self-pair dropped the replay
        // re-accepts, and the staging fold is idempotent
        .filter(col("batch_id") =!= col("corpus_id"))
        .distinct()
    }

    /** Screen one micro-batch `(doc_id, text)` against the current stored
      * index; hand the per-doc match summary to `sink`; stage accepted
      * docs and compact on the flush boundary. Synchronized with [[flush]]
      * — a flush racing this method's staging appends could delete rows
      * the append just committed (see MaintainedDedupIndex.finalizeBatch);
      * across processes the index is single-writer by contract. */
    def screenBatch(batch: DataFrame, batchId: Long)(sink: DataFrame => Unit): Unit = rootLock(indexRoot).synchronized {
      store.renewWriter("screenBatch")
      import org.apache.spark.sql.expressions.Window
      // one tokenize+shingle pass for the whole screen: the shingle
      // relation persists and BOTH the signatures (derived from it) and
      // the Jaccard verifier read the materialized arrays
      val tg = graft.functions.Dedup.shingleRelation(
        batch.repartition(s.sparkContext.defaultParallelism)).persist()
      val sig = graft.functions.Dedup.signaturesFromShingles(tg).persist()
      val batchSig = sig.select(col("band"), col("min_hash"), col("doc_id").as("batch_id"))
      val tier = store.listDeltaTier() // one listing for the whole screen
      val cands = screenCandidates(batchSig, tier)
      // same fallback decision as the candidate screen (no second gauge
      // increment — screenCandidates already counted this screen's)
      val vhint: DataFrame => DataFrame =
        if (tier.oversized) identity else broadcast
      val best = graft.functions.Dedup.nearDupBest(cands,
        tg.select(col("doc_id").as("batch_id"), col("tg").as("tg1")),
        verifyShingles(tier, vhint)
          .select(col("doc_id").as("corpus_id"), col("tg").as("tg2")),
        minJaccard)
      val out = batch.select(col("doc_id").as("batch_id"))
        .join(best, Seq("batch_id"), "left")
        .select(col("batch_id"), coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          col("best_jaccard"), col("best_corpus_id"))
        .orderBy(col("batch_id"))
        .persist()
      try {
        if (out.count() > 0) {
          sink(out)
          val accepted = out.filter(col("n_matches") === 0)
            .select(col("batch_id").as("doc_id"))
          // skip both appends when nothing was accepted (an all-duplicate
          // batch's zero-row parquet part would defeat the flush no-op
          // guard — see MaintainedDedupIndex.finalizeBatch). Shingles
          // stage BEFORE signatures: a crash between the two appends then
          // leaves orphan shingle rows (inert — a doc with shingles but
          // no signatures can never become a candidate) instead of orphan
          // signatures (whose verifies would find no common shingles and
          // silently admit real near-dups).
          if (!accepted.isEmpty) {
            tg.join(accepted, "doc_id")
              .select(col("doc_id"), col("tg"))
              .write.mode("append").parquet(tgStaging)
            sig.join(accepted, "doc_id")
              .select(col("band"), col("min_hash"), col("doc_id"))
              .write.mode("append").parquet(sigStaging)
            store.stagedBatches.incrementAndGet()
          }
        }
        if ((batchId + 1) % flushEvery == 0) flush()
      } finally { out.unpersist(); sig.unpersist(); tg.unpersist() }
    }

    /** Pure READ-path screen of one batch `(doc_id, text)` against the
      * current stored index — the serving form for read-only handles and
      * dry-run screens: the per-doc match summary of [[screenBatch]]
      * (same candidate generation, bucket caps, Jaccard verify, portable
      * argmin — bit-identical by construction) with NO staging, NO sink,
      * NO flush. Returns a lazy plan; the shingle relation is computed
      * per consumer (the batch path persists it only because it also
      * feeds the staging writes). */
    def screen(batch: DataFrame): DataFrame = {
      val sn = store.captureSnap()
      val tg = graft.functions.Dedup.shingleRelation(
        batch.repartition(s.sparkContext.defaultParallelism))
      val sig = graft.functions.Dedup.signaturesFromShingles(tg)
      val batchSig = sig.select(col("band"), col("min_hash"),
        col("doc_id").as("batch_id"))
      val tier = store.listDeltaTier(sn.floor)
      val cands = screenCandidates(batchSig, tier, sn.v)
      val vhint: DataFrame => DataFrame =
        if (tier.oversized) identity else broadcast
      val best = graft.functions.Dedup.nearDupBest(cands,
        tg.select(col("doc_id").as("batch_id"), col("tg").as("tg1")),
        verifyShingles(tier, vhint, sn.v)
          .select(col("doc_id").as("corpus_id"), col("tg").as("tg2")),
        minJaccard)
      batch.select(col("doc_id").as("batch_id"))
        .join(best, Seq("batch_id"), "left")
        .select(col("batch_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          col("best_jaccard"), col("best_corpus_id"))
        .orderBy(col("batch_id"))
    }

    /** Fold staged signatures + shingles ([[TieredStore.flushWindow]]):
      * a MINOR delta pair, or a MAJOR base pair N+1 (sig half, tg half,
      * then the commit). Distinct-folded for replay idempotency, and
      * restricted to docs staged in BOTH relations: a crash between the
      * two staging appends leaves one half of a batch, and folding a
      * doc's signatures without its shingles would corrupt later
      * verifies — the engine's checkpoint replays the interrupted batch,
      * whose re-append completes the pair. A staging dir with no complete
      * doc is dropped, not folded. No-op when nothing is staged. */
    def flush(): Unit = rootLock(indexRoot).synchronized {
      store.renewWriter("flush")
      val sp = new org.apache.hadoop.fs.Path(sigStaging)
      val tp = new org.apache.hadoop.fs.Path(tgStaging)
      if (Pipelines.stagedHasData(fs, sigStaging) && Pipelines.stagedHasData(fs, tgStaging)) {
        val sigStaged = s.read.parquet(sigStaging)
        val tgStaged = s.read.parquet(tgStaging)
        val complete = sigStaged.select("doc_id").distinct()
          .join(tgStaged.select("doc_id").distinct(), "doc_id")
          .persist()
        try {
          if (!complete.isEmpty)
            store.flushWindow { tier =>
              // dtg BEFORE dsig (orphan asymmetry: see the store comment)
              sizedForWrite(tgStaged.join(complete, "doc_id")
                  .dropDuplicates("doc_id"))
                .write.mode("overwrite").parquet(dtgDir(tier.next))
              sizedForWrite(sigStaged.join(complete, "doc_id")
                  .select(col("band"), col("min_hash"), col("doc_id"))
                  .dropDuplicates("band", "min_hash", "doc_id"))
                .write.mode("overwrite").parquet(dsigDir(tier.next))
            } { (tier, v) =>
              // staged tombstones delete at the fold: their docs leave
              // both compacted relations (tier-level tombstones are
              // already excluded by currentSignatures/currentShingles),
              // and no tombstone row reaches the new base — the GC moment
              val stagedDel = sigStaged.filter(col("band") === -1)
                .select(col("doc_id")).distinct()
              val dropDel = (df: DataFrame) =>
                df.join(broadcast(stagedDel), Seq("doc_id"), "left_anti")
                  .select(df.columns.map(col).toIndexedSeq: _*) // keep input order
              // the staged side folds alone (staged-sized dedup) and its
              // doc set anti-joins the served relation as a broadcast —
              // no corpus-wide dropDuplicates over base ∪ tier ∪ staged
              // (guide §2.4; identical-row invariant, see currentSignatures)
              val stagedSigLive = sigStaged.filter(col("band") >= 0)
                .join(complete, "doc_id")
                .select(col("band"), col("min_hash"), col("doc_id"))
                .dropDuplicates("band", "min_hash", "doc_id")
              val stagedDocs = stagedSigLive.select(col("doc_id")).distinct()
              val dropStaged = (df: DataFrame) =>
                df.join(broadcast(stagedDocs), Seq("doc_id"), "left_anti")
                  .select(df.columns.map(col).toIndexedSeq: _*)
              writeSignatures(
                dropDel(dropStaged(currentSignatures(tier, version)))
                  .unionByName(stagedSigLive),
                v)
              val stagedTgLive = tgStaged.filter(col("tg").isNotNull)
                .join(complete, "doc_id")
                .dropDuplicates("doc_id")
              dropDel(dropStaged(currentShingles(tier, version)))
                .unionByName(stagedTgLive)
                .write.mode("overwrite").parquet(tgDir(v))
              store.commit(v, tier.next)
            }
        } finally complete.unpersist()
        fs.delete(sp, true)
        fs.delete(tp, true)
      } else if (fs.exists(sp) || fs.exists(tp)) {
        // orphan half (crash between the two appends) or _temporary-only
        // remnant of a killed write: neither is foldable — folding a doc's
        // signatures without its shingles would corrupt later verifies,
        // and a footer-less dir would make the read throw. Drop both; the
        // engine's checkpoint replay re-stages the interrupted batch.
        fs.delete(sp, true)
        fs.delete(tp, true)
      }
    }

    /** SHADOW MAJOR compaction for the signature/shingle pair
      * ([[TieredStore.shadowMajor]]): the flush major's fold, minus
      * staging, written to the shadow pair off the root lock, then
      * swapped in. currentSignatures/currentShingles already resolve the
      * tier's tombstones (deleted docs out of both relations, tombstone
      * rows excluded) and distinct-fold crash replays; the bucket marker
      * (bucketed mode) rides the shadow sig dir through the rename. */
    def compactBase(onPrepared: () => Unit = () => ()): Boolean =
      store.shadowMajor(onPrepared) { (v0, tier) =>
        val shadowSig = store.shadowDir("sig_v")
        if (bucketed) {
          val shadowTable = s"graft_mndix_${tableSuffix}_sig_shadow"
          s.sql(s"DROP TABLE IF EXISTS $shadowTable")
          currentSignatures(tier, v0).write.mode("overwrite")
            .bucketBy(sigBuckets, "band", "min_hash")
            .sortBy("band", "min_hash")
            .option("path", shadowSig)
            .saveAsTable(shadowTable)
          Pipelines.writeBucketMarker(fs, shadowSig, sigBuckets)
          s.sql(s"DROP TABLE IF EXISTS $shadowTable") // files stay (external)
        } else currentSignatures(tier, v0).write.mode("overwrite").parquet(shadowSig)
        currentShingles(tier, v0).write.mode("overwrite").parquet(store.shadowDir("tg_v"))
      }

    /** Run [[compactBase]] when the live tier holds at least `maxTier`
      * deltas ([[TieredStore.maybeCompact]]). */
    def maybeCompact(maxTier: Int): Boolean = store.maybeCompact(maxTier)(compactBase())
  }

  /** Open a lease-free READ-ONLY handle over an existing exact-dedup
    * index root — the one-writer-N-classifiers deployment shape: a
    * classifier replica constructed this way coexists with a LIVE
    * maintainer in another process (no lease taken, no reconcile, no
    * mutation), and each read re-resolves the committed snapshot.
    * `ttlMs` is classify's keeper-state TTL (the writer constructor's
    * first knob), not a lease setting. Readers slower than one major
    * cycle need the WRITER's `keepVersions` raised — the retention SLA
    * (SCALING.md "Readers").
    *
    * RETENTION CAVEAT — classify pins are PROCESS-LOCAL: a long-lived
    * classify stream on this replica pins its query-start version in
    * THIS process's registry, which the writer's GC (another process)
    * never consults. Cross-process, the only protection is the writer's
    * `keepVersions` window: size it to the longest replica classify
    * stream's lifetime in major cycles, or the writer retires a version
    * a replica's pinned file listing still reads (failing that stream
    * mid-query — a loud re-plan, never wrong results). */
  def openDedupReader(s: SparkSession, indexRoot: String,
                      ttlMs: Long = 60000L, fpBuckets: Int = 0,
                      maxDeltaBroadcastBytes: Long =
                        DefaultMaxDeltaBroadcastBytes): ReadOnlyDedupIndex =
    new ReadOnlyDedupIndex(new MaintainedDedupIndex(s, indexRoot,
      ttlMs = ttlMs, flushEvery = 1, fpBuckets = fpBuckets,
      maxDeltaBroadcastBytes = maxDeltaBroadcastBytes, readOnly = true))

  /** Open a lease-free READ-ONLY handle over an existing near-dup index
    * root — [[openDedupReader]]'s near-dup twin, serving the pure
    * [[MaintainedNearDupIndex.screen]]. */
  def openNearDupReader(s: SparkSession, indexRoot: String,
                        minJaccard: Double = 0.5, sigBuckets: Int = 0,
                        maxDeltaBroadcastBytes: Long =
                          DefaultMaxDeltaBroadcastBytes): ReadOnlyNearDupIndex =
    new ReadOnlyNearDupIndex(new MaintainedNearDupIndex(s, indexRoot,
      flushEvery = 1, minJaccard = minJaccard, sigBuckets = sigBuckets,
      maxDeltaBroadcastBytes = maxDeltaBroadcastBytes, readOnly = true))

  /** x98 — the exact-dedup pillar served from a lease-free READ-ONLY
    * handle while the WRITER that seeded it is still live (lease held):
    * seed the stored fp index with the non-src19 corpus keepers, then
    * CLASSIFY the src19 batch from [[openDedupReader]] — committed
    * pointer resolution, NO lease. Shares x59's DuckDB oracle verbatim
    * (the incremental exact-dedup screen: dup_of_corpus / dup_in_batch /
    * new with first-wins keepers), so a reader that resolves a stale
    * version or mis-joins the stored index breaks this hash while x59
    * (derived-index form) stays green — the x96 pattern applied to the
    * exact-dedup pillar. */
  def x98DedupReaderClassify(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val fp = graft.functions.Text.fingerprint(col("text"))
    val root = ScratchRoots.create("graft_x98_")
    val writer = new MaintainedDedupIndex(s, root, ttlMs = 60000L, flushEvery = 1)
    try {
      writer.initIndex(docs.filter(col("source") =!= "src19")
        .select(fp.as("fp"), col("doc_id"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("corpus_id")))
      val reader = openDedupReader(s, root)
      reader.classify(docs.filter(col("source") === "src19")
          .select(col("doc_id"), col("text")))
        .toDF()
        .orderBy(col("doc_id"))
    } finally writer.close()
  }

  /** x99 — the near-dup pillar served from a lease-free READ-ONLY
    * handle while the WRITER that seeded it is still live (lease held):
    * x90's topology with the final screen on [[openNearDupReader]]'s
    * pure [[MaintainedNearDupIndex.screen]] — no staging, no sink, no
    * lease. Shares x62/x90's DuckDB oracle verbatim, so a reader that
    * resolves a stale pair, drops the bucket cap, or breaks the verify
    * arithmetic fails this hash while x62/x90 stay green — completing
    * reader-serve symmetry across all four pillars (x96/x97/x98/x99). */
  def x99NearDupReaderScreen(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val root = ScratchRoots.create("graft_x99_")
    val writer = new MaintainedNearDupIndex(s, root, flushEvery = 100)
    try {
      writer.initIndex(docs.filter(col("source") =!= "src19")
        .select(col("doc_id"), col("text")))
      val reader = openNearDupReader(s, root)
      reader.screen(docs.filter(col("source") === "src19")
        .select(col("doc_id"), col("text")))
    } finally writer.close()
  }

  def incrementalDedup(docs: DataFrame, corpusIdx: DataFrame): Dataset[DedupDecision] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"), graft.functions.Text.fingerprint(col("text")).as("fp"))
      .join(corpusIdx.select(col("fp"), col("corpus_id")), Seq("fp"), "left")
      .as[IncomingDoc]
      .groupByKey(_.fp)
      .flatMapGroupsWithState[Keeper, DedupDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (fp: String, rows: Iterator[IncomingDoc], state: GroupState[Keeper]) =>
          rows.toArray.sortBy(_.doc_id).map { d =>
            d.corpus_id match {
              case Some(c) => DedupDecision(d.doc_id, fp, "dup_of_corpus", Some(c))
              case None => state.getOption match {
                case Some(k) => DedupDecision(d.doc_id, fp, "dup_in_batch", Some(k.keep_id))
                case None =>
                  state.update(Keeper(d.doc_id))
                  DedupDecision(d.doc_id, fp, "new", None)
              }
            }
          }.iterator
      }
  }
}

/** Lease-free READ-ONLY view over a maintained exact-dedup index — see
  * [[Pipelines.openDedupReader]]. Compile-time read-only: only the
  * serving surface is exposed (the underlying handle additionally throws
  * on any mutator). `close()` exists for symmetry; a reader holds no
  * lease, so it releases nothing. */
final class ReadOnlyDedupIndex private[streaming] (idx: Pipelines.MaintainedDedupIndex) {
  def classify(docs: DataFrame): Dataset[Pipelines.DedupDecision] = idx.classify(docs)
  def currentIndex: DataFrame = idx.currentIndex
  def stats: Map[String, Long] = idx.stats
  def releaseClassifyPins(): Unit = idx.releaseClassifyPins()
  def close(): Unit = idx.close()
}

/** Lease-free READ-ONLY view over a maintained near-dup index — see
  * [[Pipelines.openNearDupReader]]. */
final class ReadOnlyNearDupIndex private[streaming] (idx: Pipelines.MaintainedNearDupIndex) {
  def screen(batch: DataFrame): DataFrame = idx.screen(batch)
  def currentSignatures: DataFrame = idx.currentSignatures
  def currentShingles: DataFrame = idx.currentShingles
  def stats: Map[String, Long] = idx.stats
  def close(): Unit = idx.close()
}
