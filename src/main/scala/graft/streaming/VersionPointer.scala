package graft.streaming

/** The maintained indexes' current-version pointer SEAM ("a production
  * deployment would put the version pointer in a transactional catalog").
  * The [[TieredStore]] under each index resolves its version through this
  * trait, so the single-writer lease is no longer the only thing standing
  * between two drivers and a split-brain index — an atomic pointer impl
  * makes the version bump itself single-winner.
  *
  * Contract: [[advance]] is called BEFORE the version's directory is
  * written (claim-then-write), so a losing claimant fails loudly without
  * having clobbered the winner's overwrite-mode directory write. */
trait VersionPointer {
  /** The current committed version, or None for a fresh root. */
  def current(): Option[Int]

  /** Claim `to` as the next version. At most one claimant of a given `to`
    * may succeed; every other concurrent claimant must fail loudly (the
    * split-brain guard). No-op impls rely on the writer lease alone. */
  def advance(to: Int): Unit

  /** Clear crash remnants of the pointer (torn claims whose directory was
    * never committed). Called by the index right after it holds the
    * writer lease — the lease is what makes deleting a remnant safe (a
    * torn claim under a LIVE rival would mean the lease failed first). */
  def reconcile(): Unit = ()

  /** Install the owning store's commit predicate ([[TieredStore]]: every
    * base relation holds committed data AND the floor marker, written
    * last, exists on the primary relation), so [[current]]/[[reconcile]]
    * judge a claimed version by it, not by the generic has-committed-data
    * layout rule. The two differ exactly in a crash window: data landed,
    * marker not yet — a directory the layout rule calls committed but
    * the index will never serve. Without this binding, reconcile() keeps
    * the crashed writer's claim marker forever and every later advance()
    * by the restarted writer (a fresh ownerId) dies as a foreign claim —
    * the maintainer wedges permanently. The store calls this at
    * construction, before the pointer's first use. */
  def bindCommitted(committed: Int => Boolean): Unit = ()
}

/** Directory-discovery pointer — the default and the pre-seam behavior:
  * the committed `<prefix><N>` layout IS the pointer
  * ([[graft.VersionedDirs]] commitment rules, torn dirs invisible).
  * [[advance]] is a no-op: writer serialization is the
  * [[Pipelines.WriterLease]]'s job alone under this impl, which is exactly
  * the gap [[AtomicFileVersionPointer]] exists to close. */
final class DiscoveredVersionPointer(fs: org.apache.hadoop.fs.FileSystem,
                                     root: String, prefix: String)
    extends VersionPointer {
  @volatile private var committedP: Option[Int => Boolean] = None
  override def bindCommitted(committed: Int => Boolean): Unit =
    committedP = Some(committed)
  override def current(): Option[Int] = committedP match {
    case None => graft.VersionedDirs.latest(fs, root, prefix)
    case Some(p) =>
      // the index's commit point, walked over the layout candidates — a
      // data-but-unmarked crash remnant is not the current version
      graft.VersionedDirs.all(fs, root, prefix).filter(p).lastOption
  }
  override def advance(to: Int): Unit = ()
}

/** File-atomic pointer: version `N` is claimed by CREATE-EXCLUSIVE of the
  * marker file `root/_vptr_<N>` — on an atomic-create filesystem (HDFS,
  * object stores with conditional create) exactly one creator of a given
  * `N` succeeds and every rival throws, closing the split-brain window a
  * wrongly-expired lease leaves open (two drivers both believing they own
  * the root race `advance(v+1)`; one wins, the loser stops BEFORE writing
  * the version directory). In-process claimants are additionally
  * serialized on the per-root JVM lock, making the single-winner contract
  * deterministic within one JVM even on check-then-act local filesystems.
  *
  * [[current]] is the highest marker whose `<prefix><N>` directory is
  * COMMITTED — judged by the owning index's [[bindCommitted]] predicate,
  * so a marker over a directory the index will never serve (torn, or
  * data written but the commit marker missing) is a crash remnant — with
  * a fallback to committed-layout discovery for roots created before the
  * pointer was enabled. */
final class AtomicFileVersionPointer(fs: org.apache.hadoop.fs.FileSystem,
                                     root: String, prefix: String,
                                     ownerId: String = Pipelines.defaultOwnerId)
    extends VersionPointer {
  private val markerPrefix = "_vptr_"
  private def marker(v: Int) = new org.apache.hadoop.fs.Path(root, s"$markerPrefix$v")

  // the owning store's commit point (see VersionPointer.bindCommitted);
  // until bound, the generic layout rule, which is too loose for the
  // marker-gated commit — which is exactly why the store binds
  @volatile private var committedP: Int => Boolean =
    v => graft.VersionedDirs.hasCommittedData(fs, s"$root/$prefix$v")
  override def bindCommitted(committed: Int => Boolean): Unit =
    committedP = committed

  private def markers(): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(markerPrefix))
      .flatMap(_.drop(markerPrefix.length).toIntOption)
      .sorted
  }

  private def markerOwner(v: Int): Option[String] =
    try {
      val in = fs.open(marker(v))
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim)
      finally in.close()
    } catch { case _: java.io.IOException => None }

  override def current(): Option[Int] =
    markers().filter(committedP)
      .lastOption
      .orElse(graft.VersionedDirs.all(fs, root, prefix)
        .filter(committedP).lastOption)

  /** Claim markers carry the claimant's ownerId, so a writer RETRYING its
    * own failed attempt (the version write died after the claim — a lost
    * executor, a full disk; the streaming engine re-runs the batch) finds
    * its own claim and proceeds IDEMPOTENTLY instead of wedging on the
    * split-brain error until a process restart's reconcile(). Only a
    * FOREIGN claim is a race loss. */
  override def advance(to: Int): Unit = Pipelines.rootLock(root).synchronized {
    val out = try fs.create(marker(to), false) catch {
      case e: java.io.IOException =>
        markerOwner(to) match {
          case Some(o) if o == ownerId => return // our own prior claim: idempotent
          case o => throw new IllegalStateException(
            s"lost the version-pointer race for $root version $to: writer " +
              s"'${o.getOrElse("<unreadable>")}' already claimed it " +
              "(split-brain guard) — this maintainer must stop; if the " +
              "claimant is known dead, reconcile() under the writer lease " +
              "clears its torn claim", e)
        }
    }
    try out.write(ownerId.getBytes("UTF-8")) finally out.close()
    // markers accrete one small file per version; keep current + previous
    // (mirroring the base-version GC's reachable set) and drop older
    markers().filter(_ < to - 1).foreach(v => fs.delete(marker(v), false))
  }

  /** Delete torn claims — markers whose version directory never committed
    * BY THE INDEX'S OWN COMMIT POINT (the bound predicate): a directory
    * holding data but missing its commit marker is a crash remnant too,
    * and keeping its claim would wedge every later advance() as a foreign
    * claim. Only safe under the writer lease (single live writer): a torn
    * claim then belongs to a crashed writer, not a live rival. */
  override def reconcile(): Unit = Pipelines.rootLock(root).synchronized {
    markers().filterNot(committedP)
      .foreach(v => fs.delete(marker(v), false))
  }
}
