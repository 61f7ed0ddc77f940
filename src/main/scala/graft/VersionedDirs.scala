package graft

/** Restart-safe version discovery for `<prefix><N>`-style versioned
  * artifact directories — the shared convention of the maintained
  * indexes' [[graft.streaming.TieredStore]] (base and delta relations)
  * and the stored DSIR models (`v=<N>`,
  * [[graft.functions.Sampling.saveDsirModel]]): the latest complete
  * version is whatever the directory listing says, never an in-memory
  * pointer, so a restarted process resumes where the last writer left
  * off. For a maintained index's BASE versions this is only half of the
  * commit rule: the store also requires the floor marker, written last,
  * on the primary relation.
  *
  * "Complete" means COMMITTED, not merely present: a crash mid-write
  * leaves a torn directory holding only `_temporary/` (no readable
  * parquet footer), and counting it as a version would wedge every
  * subsequent read until an operator hand-deletes it. Discovery
  * therefore requires at least one committed data file — the same
  * predicate the staging reader uses. Torn directories are invisible to
  * readers and healed by the next overwrite-mode write (or retired by
  * GC). */
object VersionedDirs {
  /** Total committed data bytes under `dir` (non-hidden, non-directory
    * entries). Zero for an absent dir or a `_temporary`-only crash
    * remnant; a committed zero-ROW parquet part still counts its footer
    * bytes, so `> 0` is exactly the commitment predicate. */
  def committedBytes(fs: org.apache.hadoop.fs.FileSystem, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).iterator.filter(st =>
      !st.isDirectory && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".")).map(_.getLen).sum
  }

  /** True when `dir` holds at least one committed data file (non-hidden,
    * nonzero length — a committed zero-ROW parquet part still has footer
    * bytes). A `_temporary`-only crash remnant fails this. */
  def hasCommittedData(fs: org.apache.hadoop.fs.FileSystem, dir: String): Boolean =
    committedBytes(fs, dir) > 0

  /** Every COMMITTED `<prefix><N>` version under `root`, ascending.
    * Non-directory entries, non-numeric suffixes, and torn (uncommitted)
    * directories are ignored. */
  def all(fs: org.apache.hadoop.fs.FileSystem, root: String,
          prefix: String): Seq[Int] =
    allWithBytes(fs, root, prefix).map(_._1)

  /** Every committed `<prefix><N>` version under `root` with its committed
    * data-byte total, ascending by version. One root listing plus one
    * listing per candidate dir — the bytes come from the SAME listing that
    * proves commitment, so callers that need to SIZE a tier (the
    * maintained indexes' broadcast guard) pay no RPC beyond discovery. */
  def allWithBytes(fs: org.apache.hadoop.fs.FileSystem, root: String,
                   prefix: String): Seq[(Int, Long)] = {
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(prefix)).flatMap(_.drop(prefix.length).toIntOption)
      .flatMap { v =>
        val b = committedBytes(fs, s"$root/$prefix$v")
        if (b > 0) Some(v -> b) else None
      }
      .sortBy(_._1)
  }

  /** Latest committed `<prefix><N>` version under `root`; None when the
    * root is absent or holds no committed versioned dirs. */
  def latest(fs: org.apache.hadoop.fs.FileSystem, root: String,
             prefix: String): Option[Int] = all(fs, root, prefix).lastOption
}
