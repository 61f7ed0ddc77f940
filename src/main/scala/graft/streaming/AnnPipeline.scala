package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ANN family's maintained-index lifecycle — the
  * [[Pipelines.MaintainedDedupIndex]] pattern applied to the IVFADC index
  * ([[graft.functions.Ivfadc]], Jégou et al. 2011): x13/x30/x31 build
  * their models per session, so before this class new embeddings meant a
  * full retrain + re-encode. Here the model and the encoded corpus are
  * versioned STORED artifacts and new vectors flow in incrementally:
  *
  *  - **Stored model, versioned.** `model_v<N>` holds the coarse
  *    centroids + residual PQ codebook as one small parquet (nlist×dim +
  *    m×k×(d/m) rows), with the training corpus's mean assign-similarity
  *    stamped alongside (`_graft_assign_sim`, micro-units) — the drift
  *    gauge's baseline. Models only change on an explicit
  *    [[retrainModel]] (the operator action the drift gauge calls for);
  *    ingest NEVER retrains implicitly, because a silently moving
  *    codebook would invalidate every stored code.
  *  - **Stored codes, versioned + delta tier.** `codes_v<M>` is the
  *    encoded corpus `(vec_id, cell, codes)` — 8 bytes of PQ payload per
  *    vector at m=8, the representation that keeps a billion-vector
  *    index memory-resident. Each ingest batch is assigned + encoded
  *    against the STORED model (map-only — the x59 classify shape: the
  *    corpus-scale side is never touched per batch) and staged; the
  *    flush boundary folds staging into a delta version (`dcodes_v<k>`,
  *    O(staged) I/O) or, every (maxDeltas+1)-th flush, a MAJOR
  *    compaction into codes M+1 — the same LSM shape, floor-marker
  *    grace GC included, as the dedup indexes.
  *  - **Centroid-drift gauge.** Every ingest batch's mean
  *    cosine-to-assigned-centroid accumulates into a per-flush-window
  *    gauge; `drift_micro` = (training baseline − last window), in 1e-6
  *    units. A distribution shift (new domain, new embedding model)
  *    shows up as rising drift — the signal that recall is decaying and
  *    a [[retrainModel]] major retrain is due. The gauge rides the same
  *    Observability reporter surface as the dedup indexes' stats.
  *  - **Search.** [[search]] is the batch x31 ADC topology (query side
  *    broadcast, corpus side scanned as code lookups) over base ∪ delta
  *    codes with the stored model — bit-identical to
  *    `Ivfadc.search(Ivfadc.encode(corpus, model), …)` on the same total
  *    corpus, which is exactly what RoundElevenSpec pins on a grown
  *    corpus. Tier resolution never shuffles the corpus-scale base:
  *    [[currentCodes]] resolves the flush-sized delta side alone and
  *    anti-joins its id set into the base as a broadcast, under the same
  *    byte-bound guard as the dedup/text indexes (oversized tier →
  *    broadcast hint dropped + `delta_fallbacks`; at flush, oversized →
  *    EARLY major + `early_majors`).
  *
  *  - **Update semantics.** Re-ingesting a vec_id (a changed embedding)
  *    is a defined operation: tiers are ranked (staging > newest delta >
  *    … > base) and [[currentCodes]] serves the latest write per vec_id
  *    deterministically. Staged rows are additionally stamped with the
  *    model version they were encoded under, so codes a crashed
  *    [[retrainModel]] left in staging are DISCARDED at the next flush
  *    (counted in `stale_staged_discarded`) instead of being folded into
  *    a base bound to the new model — old-codebook codes under a new ADC
  *    table are silently wrong distances, the failure mode the binding
  *    marker exists to prevent.
  *
  * SIZING `nlist`: every search/screen scores ~nprobe/nlist · N
  * candidates per query, so `nlist` must grow with the corpus
  * (conventionally ~√N — Faiss's guidance). The default 8 fits the
  * test fixtures; ScaleProbe measures the consequence of leaving it
  * there at 1M vectors (a 2k-query screen pays 375k candidates per
  * query) vs sizing it to 64. A [[retrainModel]] rebuild RE-SIZES
  * nlist to ~√N by default ([[MaintainedAnnIndex.sizedNlist]]) — the
  * constructor value only governs the seed — with `nlistOverride` as
  * the pin for callers that manage sizing themselves.
  *
  * Codes versions, floors, the delta tier, the writer lease, snapshots and
  * retention are the [[TieredStore]]'s; the model binding is this
  * class's. In-process mutators serialize on the per-root lock. */
final class MaintainedAnnIndex(s: SparkSession, indexRoot: String,
                               flushEvery: Int,
                               nlist: Int = 8, m: Int = 8, k: Int = 16,
                               leaseTtlMs: Long = Pipelines.DefaultLeaseTtlMs,
                               writerId: String = Pipelines.defaultOwnerId,
                               maxDeltas: Int = 0,
                               maxDeltaBroadcastBytes: Long =
                                 Pipelines.DefaultMaxDeltaBroadcastBytes,
                               pointer: Option[VersionPointer] = None,
                               keepVersions: Int = 2,
                               readOnly: Boolean = false) {
  import graft.functions.{Ivf, Ivfadc, Similarity}
  import TieredStore.DeltaTier

  require(flushEvery >= 1, "flushEvery must be >= 1")
  private def modelDir(v: Int) = s"$indexRoot/model_v$v"
  private def codesDir(v: Int) = s"$indexRoot/codes_v$v"
  /** Cell-clustered BASE layout: hash-repartition by cell, sort within
    * partitions, and bound file sizes ([[Pipelines.BaseFileRecords]]) —
    * every cell then lives in exactly ONE partition's sorted run, split
    * into narrow-key-range files, so Ivfadc.search's probed-cell `isin`
    * filter (pushed to the scan) skips everything else from footer
    * stats: a request-sized search reads ~nprobe/nlist of the base's
    * BYTES, not just of its ADC arithmetic. The hash exchange is
    * deterministic and sampling-free (a RANGE repartition would order
    * cells globally but its sampling pass re-runs the upstream encode —
    * measured +15-20% on every lifecycle fixture); a within-partition
    * sort alone measured only 60% skipped on the 10M A/B because each
    * partition's files still spanned the whole cell range between them
    * (ScaleProbe `scanprune`). Applied at every O(corpus)/O(base) base
    * write (seed, retrain shadow, major fold, shadow major) — the
    * explicitly-scheduled moments that can afford one exchange; deltas
    * stay small and unclustered.
    *
    * The base and delta layouts are written with [[codeFiles]] files, so
    * a serve scans at least one file per core and [[Ivfadc.search]] skips
    * its per-search round-robin repartition of the codes. Left to AQE,
    * the cell exchange coalesced a small base into ONE file; hashing the
    * cell itself into a fixed count left partitions empty (at nlist 8
    * over 4 partitions, cells 0-7 hash to partitions 3,3,2,3,2,2,1,3).
    * So cell c is routed through [[cellKeys]]`(c mod codeFiles)`: every
    * cell still lives in exactly one partition, and the cells spread
    * evenly over all of them. */
  private def cellClustered(codes: DataFrame): DataFrame =
    codes.repartition(codeFiles,
        element_at(typedlit(cellKeys), pmod(col("cell"), lit(codeFiles)) + 1))
      .sortWithinPartitions("cell")
  private def codeFiles: Int = s.sparkContext.defaultParallelism
  /** `cellKeys(j)` is an int key that Spark's hash partitioning sends to
    * partition j of [[codeFiles]] (it places key x at
    * pmod(murmur3(x, seed 42), n)). Should that function ever change,
    * the layout only loses its balance, never a row. */
  private lazy val cellKeys: Seq[Int] = (0 until codeFiles).map(j =>
    Iterator.from(0).find(x => Math.floorMod(
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(x, 42), codeFiles) == j).get)

  // sorted-base file sizing: [[Pipelines.BaseFileRecords]] (measured:
  // the 10M-row A/B showed ZERO skip benefit without the bound — one
  // default-layout file is one row group spanning every cell)
  private def baseFileRecords = Pipelines.BaseFileRecords
  // base and delta codes are read with the schema their writers produce
  // instead of inferring it: parquet schema inference is one Spark job
  // per read, paid on every search. vec_id is declared bigint; a layout
  // written from int ids reads widened.
  private def readCodes(dir: String): DataFrame =
    s.read.schema("vec_id BIGINT, cell INT, codes ARRAY<INT>").parquet(dir)
  private def stagingDir = s"$indexRoot/codes_staging"
  private val simMarker = "_graft_assign_sim"
  private def dcodesDir(kd: Int) = s"$indexRoot/dcodes_v$kd"
  private def fs: org.apache.hadoop.fs.FileSystem = store.fs

  // codes versions are the store's (the model only changes on retrain);
  // a codes version's floor marker lands after its `_graft_model` marker
  private val store = new TieredStore(s, indexRoot, "ANN", "MaintainedAnnIndex",
    basePrefixes = Seq("codes_v"), deltaPrefixes = Seq("dcodes_v"),
    maxDeltas, maxDeltaBroadcastBytes, keepVersions, pointer, leaseTtlMs, writerId,
    readOnly)
  private def version = store.version
  // the shadow build target shared by retrain and compaction: never
  // served, overwritten by the next rebuild if a prepare crashes
  private def shadowDir = store.shadowDir("codes_v")

  // The model version BOUND to the stored codes rides a marker in the
  // codes dir (`_graft_model`) — a crash between a retrain's model write
  // and its re-encode must leave the index serving the OLD (model, codes)
  // pair, never a new model over old codes (an ADC table against codes
  // from another codebook is silently wrong, the worst failure mode). The
  // orphan committed model is skipped on restart and superseded by the
  // next retrain.
  private val modelMarker = "_graft_model"
  private def boundModel(v: Int): Int =
    Pipelines.readIntMarker(fs, codesDir(v), modelMarker)
      .orElse(graft.VersionedDirs.latest(fs, indexRoot, "model_v"))
      .getOrElse(0)
  @volatile private var modelVersion = boundModel(version)

  // drift-window accumulators (exact integer micro-units, order-free)
  private val windowSimSum = new java.util.concurrent.atomic.AtomicLong()
  private val windowSimN = new java.util.concurrent.atomic.AtomicLong()
  @volatile private var lastWindowSimMicro = -1L

  // the ANN-only gauges (the shared ones are the store's)
  private val staleStagedDiscarded = new java.util.concurrent.atomic.AtomicLong()
  private val stagingFallbacks = new java.util.concurrent.atomic.AtomicLong()
  private val driftRetrains = new java.util.concurrent.atomic.AtomicLong()
  private val retrainCatchup = new java.util.concurrent.atomic.AtomicLong()
  private val retrainFailures = new java.util.concurrent.atomic.AtomicLong()
  // O18 applied to the unattended sweep: a persistently-failing retrain
  // logs once a minute, not once per micro-batch
  private val retrainErrorLimiter =
    new graft.metrics.Observability.RateLimiter(60000L)

  /** Normalize a raw staging read to the stamped shape: rows staged
    * before the stamp columns shipped can only be current-model (the
    * stamp and the discard logic arrived together). Two legacy shapes
    * exist — a staging dir with NO stamp column, and a MIXED dir
    * (pre-upgrade files + post-upgrade appends) where pre-upgrade rows
    * read the stamp as NULL — and coalesce treats both as current-model
    * instead of silently dropping them. ONE implementation, shared by
    * [[flush]]'s discard filter and the admission screen's staged
    * visibility, so the two paths can never diverge on which staged
    * rows are live. */
  private def stampStaged(raw: DataFrame): DataFrame =
    Seq("_graft_model_v" -> modelVersion.toLong, "_graft_batch" -> 0L)
      .foldLeft(raw) { case (df, (c, d)) =>
        if (df.columns.contains(c)) df.withColumn(c, coalesce(col(c), lit(d)))
        else df.withColumn(c, lit(d)) }

  /** A serve snapshot ([[TieredStore.captureSnap]]) with the model version
    * bound to its codes: taken under the store's monitor, which every
    * publish (and its bind of [[modelVersion]]) also takes, so no serve
    * pairs new codes with the old model — the silently-wrong-ADC failure.
    * A read-only handle re-reads the binding from the codes' marker. */
  private def serveSnap(): (TieredStore.Snap, Int) = store.synchronized {
    val sn = store.captureSnap()
    if (readOnly) modelVersion = boundModel(sn.v)
    (sn, modelVersion)
  }

  /** Model versions GC must keep: every kept codes version's BOUND model
    * (an in-flight or reader search pairs a pinned codes snapshot with
    * ITS model — retiring the model mid-plan breaks it), plus the
    * current. */
  private def retireModels(): Unit =
    Pipelines.retireVersionsExcept(fs, indexRoot, "model_v",
      store.baseKeepSet.flatMap(v =>
        Pipelines.readIntMarker(fs, codesDir(v), modelMarker)) + modelVersion)

  /** Release the writer lease (maintainer shutdown); no-op on a
    * read-only handle (it holds nothing). */
  def close(): Unit = store.close()

  // ---- stored model ----

  /** The model as rows, engine-readable on any executor count: centroids
    * `(kind='cent', i=cell, j=0, vec)` and residual-PQ codewords
    * `(kind='cb', i=subspace, j=code, vec)`. */
  private def modelToDf(model: Ivfadc.Model): DataFrame = {
    import s.implicits._
    val cent = model.centroids.zipWithIndex.map { case (c, i) =>
      ("cent", i, 0, c.toSeq) }
    val cb = for {
      (sub, i) <- model.cb.zipWithIndex.toSeq
      (cw, j) <- sub.zipWithIndex
    } yield ("cb", i, j, cw.toSeq)
    (cent.toSeq ++ cb).toDF("kind", "i", "j", "vec")
  }

  private def writeModel(model: Ivfadc.Model, v: Int, baseSimMicro: Long): Unit = {
    val target = modelDir(v)
    if (fs.exists(new org.apache.hadoop.fs.Path(target)) &&
        !graft.VersionedDirs.hasCommittedData(fs, target))
      fs.delete(new org.apache.hadoop.fs.Path(target), true) // heal a torn dir
    modelToDf(model).coalesce(1).write.mode("errorifexists").parquet(target)
    Pipelines.writeIntMarker(fs, target, simMarker,
      math.min(baseSimMicro, Int.MaxValue.toLong).toInt)
  }

  // in-memory cache of the bound model (per version): ingest runs per
  // micro-batch and must not pay a storage read + collect each trigger —
  // the model only changes when THIS writer retrains, so the cache can
  // never go stale under the single-writer contract
  @volatile private var modelCache: Option[(Int, Ivfadc.Model)] = None

  /** Load a stored model version — a control-plane read (the model is
    * nlist×dim + m×k×(d/m) rows by construction, never corpus-scale). */
  def loadModel(v: Int = -1): Ivfadc.Model = {
    val use = if (v >= 0) v else modelVersion
    modelCache match {
      case Some((cv, cm)) if cv == use => return cm
      case _ => ()
    }
    val loaded = loadModelUncached(use)
    modelCache = Some((use, loaded))
    loaded
  }

  private def loadModelUncached(use: Int): Ivfadc.Model = {
    val rows = s.read.parquet(modelDir(use))
      .select(col("kind"), col("i"), col("j"), col("vec").cast("array<double>"))
      .collect()
    val cent = rows.filter(_.getString(0) == "cent")
      .map(r => r.getInt(1) -> r.getSeq[Double](3).toArray)
      .sortBy(_._1).map(_._2)
    val cbRows = rows.filter(_.getString(0) == "cb")
    val nSub = cbRows.map(_.getInt(1)).max + 1
    val nCode = cbRows.map(_.getInt(2)).max + 1
    val cb: graft.functions.Pq.Codebook = Array.tabulate(nSub, nCode)((i, j) =>
      cbRows.find(r => r.getInt(1) == i && r.getInt(2) == j)
        .map(_.getSeq[Double](3).toArray)
        .getOrElse(throw new IllegalStateException(
          s"stored model ${modelDir(use)} is missing codeword ($i,$j)")))
    Ivfadc.Model(cent, cb)
  }

  private def baseAssignSimMicro: Long =
    Pipelines.readIntMarker(fs, modelDir(modelVersion), simMarker)
      .map(_.toLong).getOrElse(-1L)

  // the base similarity is immutable per model version — cache the marker
  // read so gauge sweeps (maybeRetrain per micro-batch) cost no FS RPCs
  @volatile private var baseSimCache: (Int, Long) = (-1, -1L)
  private def baseAssignSimCached: Long = {
    val mv = modelVersion
    val c = baseSimCache
    if (c._1 == mv) c._2
    else { val v = baseAssignSimMicro; baseSimCache = (mv, v); v }
  }

  /** The drift gauge from in-memory state only (plus one marker read per
    * model version, cached): what the steady-state policy sweep reads. */
  private def driftMicroNow: Long = {
    val w = lastWindowSimMicro
    val b = baseAssignSimCached
    if (w < 0 || b < 0) 0L else b - w
  }

  /** Mean cosine of each vector to its ASSIGNED centroid, floor-quantized
    * to exact integer micro-units (order-free sum → reproducible gauge):
    * returns (sumMicro, n). One tiny aggregate over a map-only plan. */
  /** Attach the drift-gauge similarity aggregate to a write job: the
    * `(sum, count)` of [[Ivfadc.encodeWithSim]]'s `_simq` column ride the
    * action as `observe()` metrics, so the gauge costs ZERO extra jobs —
    * the old shape was a whole second corpus/batch pass (`assignCells` +
    * agg, or a join back to the batch) just for these two longs. Returns
    * the observed frame with `_simq` dropped (the exact [[Ivfadc.encode]]
    * schema); read the numbers with [[obsSim]] AFTER the action ran. */
  private def observeSim(withSim: DataFrame,
                         obs: org.apache.spark.sql.Observation): DataFrame =
    withSim.observe(obs, sum(col("_simq")).as("s"), count(lit(1)).as("n"))
      .drop("_simq")

  private def obsSim(obs: org.apache.spark.sql.Observation): (Long, Long) = {
    val row = obs.get
    val n = row.get("n").collect { case l: java.lang.Long => l.longValue }.getOrElse(0L)
    val s2 = row.get("s").collect { case l: java.lang.Long => l.longValue }.getOrElse(0L)
    (s2, n)
  }

  // ---- lifecycle ----

  /** Seed the index: train the IVFADC model on the corpus, encode every
    * vector, store model_v0 + codes_v0 ([[TieredStore.beginSeed]]
    * refuses a root with a committed version). */
  def initIndex(corpus: DataFrame): Unit = Pipelines.rootLock(indexRoot).synchronized {
    store.renewWriter("initIndex")
    store.beginSeed()
    // with no codes committed, any stored model is a crashed seed's
    // orphan (nothing binds it); clear it so the retry's errorifexists
    // model write can land, and re-pin the in-memory binding the
    // constructor may have resolved to the orphan
    graft.VersionedDirs.all(fs, indexRoot, "model_v").foreach(v =>
      fs.delete(new org.apache.hadoop.fs.Path(modelDir(v)), true))
    modelVersion = 0
    modelCache = None
    baseSimCache = (-1, -1L) // model_v0's sim marker is about to be (re)written
    val model = Ivfadc.train(corpus, nlist, m, k)
    // encode + drift-baseline similarity in ONE corpus pass: the codes
    // write job carries the observe() aggregate the old assignSim pass
    // re-scanned the whole corpus for (guide §1.2: don't compute the
    // same pass twice). Codes land BEFORE the model file — a crash in
    // between leaves an uncommitted codes dir (no floor marker) and no
    // model, which the retry's orphan sweep + overwrite heals exactly
    // like the old order's orphan-model case.
    val obs = org.apache.spark.sql.Observation()
    cellClustered(observeSim(Ivfadc.encodeWithSim(corpus, model), obs))
      .write.mode("overwrite").option("maxRecordsPerFile", baseFileRecords).parquet(codesDir(0))
    val (simSum, simN) = obsSim(obs)
    writeModel(model, 0, if (simN > 0) simSum / simN else -1L)
    baseSimCache = (-1, -1L) // re-read past any pre-write cache of v0
    // model marker BEFORE the floor marker: the floor marker is the
    // commit point, so its presence implies the model binding exists
    Pipelines.writeIntMarker(fs, codesDir(0), modelMarker, 0)
    store.commit(0, 0)
  }

  /** OPERATOR action when the drift gauge says recall is decaying: a
    * SHADOW rebuild — train model N+1 on `corpus` and encode it to a
    * shadow directory WHILE the index keeps serving (and ingesting
    * under) model N, then swap with one rename + marker pair. The root
    * lock is held only for the swap, whose cost is
    * O(rows ingested during the build), never O(corpus): vectors that
    * arrived mid-build are RE-ENCODED from `corpus` under the new model
    * at the swap (`retrain_catchup` counts them) — the model stamp on
    * staged rows makes this a filter + one map-only encode, and the
    * crash-path semantics stay discard (a row stamped with a model that
    * never became current is superseded by its own old-model twin).
    *
    * The caller passes the full CURRENT raw-vector corpus by name (the
    * code store holds codes, not embeddings, so only the vector store's
    * owner can supply it); it is read twice — once for train+encode,
    * once for the catch-up slice — and must cover every live vec_id,
    * staged/mid-build ingests included. The stored index afterwards
    * represents exactly `corpus` resolved at those reads.
    *
    * DELETE contract (the [[deleteVectors]] composition): the corpus
    * must EXCLUDE taken-down vec_ids — a takedown is a statement about
    * the corpus of record, and a corpus that still carries the vector
    * would re-encode it into the new base, resurrecting it. A vec_id
    * whose newest row is a tombstone is NOT counted against the
    * coverage check (its absence from the new base IS the delete), and
    * a tombstone staged MID-BUILD survives the swap re-staged under the
    * new model, masking the prepare-time corpus snapshot that may still
    * contain the vector.
    *
    * `nlistOverride` pins the coarse-cell count; by default the rebuild
    * re-sizes nlist ≈ √N ([[MaintainedAnnIndex.sizedNlist]]) so an index
    * whose corpus grew 100× does not retrain at its stale fixture size
    * (search scans ~nprobe/nlist·N candidates per query — the probe
    * measured that cliff both ways). `pqOverride` likewise pins (m, k);
    * by default the rebuild re-sizes the PQ budget
    * ([[MaintainedAnnIndex.sizedPq]] — dsub = 2 subspaces, k up to 256
    * as the corpus supports it; PqBudgetProbe measured the recall curve
    * the sizing rests on, SCALING.md §12). `onPrepared` is a seam
    * between the unlocked build and the locked swap (tests drive
    * mid-build ingest/search through it; production leaves it
    * default). */
  def retrainModel(corpus: => DataFrame, nlistOverride: Option[Int] = None,
                   pqOverride: Option[(Int, Int)] = None,
                   onPrepared: () => Unit = () => ()): Unit = {
    store.exclusive(throw new IllegalStateException(
      s"a shadow rebuild (retrain or major compaction) is already in " +
        s"flight at $indexRoot — one rebuild at a time"))(
      retrainImpl(corpus, nlistOverride, pqOverride, onPrepared))
  }

  /** The state written since a build began, one winner row per vec_id:
    * staging (live rows under the CURRENT model, tier Long.MaxValue) ∪
    * the live delta tier, resolved with the SAME (_tier, _b) rule
    * serving uses — a vec_id whose newest row is a tombstone resolves
    * to cell = -1 (no catch-up needed; its absence from a new base IS
    * the delete), and per-source cell filtering would leak an older
    * live row of a later-tombstoned vec_id from another delta back in.
    * None when nothing was written. Used twice by the shadow retrain:
    * the advisory coverage pre-check at prepare (no lock — a racing
    * write can only ADD rows, which the authoritative swap re-read
    * sees) and the swap's catch-up set (under the lock). */
  private def resolvedSinceBuild(): Option[DataFrame] =
    resolvedSinceBuild(store.listDeltaTier().versions)

  private def resolvedSinceBuild(tier: Seq[Int]): Option[DataFrame] = {
    val stagedLive: Option[DataFrame] =
      if (Pipelines.stagedHasData(fs, stagingDir))
        Some(stampStaged(s.read.parquet(stagingDir))
          .filter(col("_graft_model_v") === lit(modelVersion.toLong))
          .withColumn("_tier", lit(Long.MaxValue))
          .withColumnRenamed("_graft_batch", "_b")
          .select("vec_id", "cell", "codes", "_tier", "_b"))
      else None
    (stagedLive.toSeq ++
      tier.map(kd => readCodes(dcodesDir(kd))
        .withColumn("_tier", lit(kd + 1L)).withColumn("_b", lit(0L))
        .select("vec_id", "cell", "codes", "_tier", "_b")))
      .reduceOption(_ unionByName _)
      .map(resolveNewest)
  }

  private def retrainImpl(corpus: => DataFrame, nlistOverride: Option[Int],
                          pqOverride: Option[(Int, Int)],
                          onPrepared: () => Unit): Unit = {
    // ---- PREPARE (no root lock: ingest, flush, screens, and search all
    // proceed against model N while this builds N+1). flush() defers
    // MAJOR compactions for the duration (minor deltas only), so every
    // row ingested mid-build is still attributable — in staging or in a
    // live delta — when the swap computes its catch-up set; a major
    // would fold mid-build rows into an old-model base the swap replaces.
    store.renewWriter("retrainModel")
    val c = corpus
    val n = c.count()
    val useNlist = nlistOverride.getOrElse(MaintainedAnnIndex.sizedNlist(n))
    // PQ budget re-sizes with the corpus exactly like nlist: the seed's
    // constructor (m, k) is a fixture/demo budget, and a corpus that
    // grew 100x deserves the measured sized point (SCALING.md §12), not
    // the stale seed resolution. The embedding dim comes from the model
    // being replaced (control-plane read; the corpus is never collected).
    val (useM, useK) = pqOverride.getOrElse(
      MaintainedAnnIndex.sizedPq(loadModel().centroids.head.length, n))
    // allocate PAST any orphan committed model (a crash between a prior
    // retrain's model write and its swap): errorifexists guards the
    // write, the codes marker below is what binds the pair
    val nextModel = graft.VersionedDirs.latest(fs, indexRoot, "model_v")
      .map(_ + 1).getOrElse(0)
    // cheap coverage PRE-check (advisory — the swap's check under the
    // lock stays authoritative): a corpus already missing vec_ids that
    // were staged/flushed BEFORE the build began would pay the whole
    // O(corpus) train+encode only to throw at the swap; one
    // tier+staging-sized resolve and an anti-join catch it up front. A
    // persistent offender (a drift-fired sweep with a stale corpus
    // wiring) now fails in seconds per attempt, not per full rebuild.
    resolvedSinceBuild().foreach { resolved =>
      // same shape as the swap's check: the tier+staging-sized id set
      // broadcasts into a semi-join against the corpus scan — one
      // map-only corpus pass, never a corpus shuffle
      val live = resolved.filter(col("cell") >= 0).select(col("vec_id")).persist()
      try {
        val nLive = live.count()
        if (nLive > 0) {
          val covered = c.join(broadcast(live), Seq("vec_id"), "left_semi").count()
          if (covered != nLive)
            throw new IllegalStateException(
              s"shadow retrain corpus covers only $covered of $nLive live " +
                s"vec_ids already staged or flushed at $indexRoot before the " +
                "build began — the swap's coverage check would fail after " +
                "the full train+encode; pass the current corpus of record " +
                "(mid-build ingests included, taken-down docs excluded)")
        }
      } finally live.unpersist()
    }
    val model = Ivfadc.train(c, useNlist, useM, useK)
    val shadow = new org.apache.hadoop.fs.Path(shadowDir)
    fs.delete(shadow, true) // a crashed prepare's remnant
    // encode + baseline similarity in ONE corpus pass (observe on the
    // shadow write — see initIndex); the model file lands AFTER the
    // shadow codes: a crash in between leaves a shadow remnant the next
    // retrain deletes, and nextModel re-allocates to the same slot
    // because no model was written
    val obs = org.apache.spark.sql.Observation()
    cellClustered(observeSim(Ivfadc.encodeWithSim(c, model), obs))
      .write.mode("overwrite").option("maxRecordsPerFile", baseFileRecords).parquet(shadowDir)
    val (simSum, simN) = obsSim(obs)
    writeModel(model, nextModel, if (simN > 0) simSum / simN else -1L)
    Pipelines.writeIntMarker(fs, shadowDir, modelMarker, nextModel)
    onPrepared()
    // ---- SWAP (root lock; O(ingested-during-build), never O(corpus)) --
    Pipelines.rootLock(indexRoot).synchronized {
      store.renewWriter("retrainModel")
      val tier = store.listDeltaTier()
      val sinceBuild = resolvedSinceBuild(tier.versions).map(_.persist())
      try {
        // one pass for both counts (live winners need catch-up re-encode;
        // tombstone winners need to SURVIVE the swap, not be re-encoded)
        val counts = sinceBuild.map(_.agg(
          coalesce(sum(when(col("cell") >= 0, 1L).otherwise(0L)), lit(0L)),
          coalesce(sum(when(col("cell") < 0, 1L).otherwise(0L)), lit(0L))).head())
        val nCatch = counts.map(_.getLong(0)).getOrElse(0L)
        val nTomb = counts.map(_.getLong(1)).getOrElse(0L)
        if (nCatch > 0) {
          // re-encode the catch-up slice from the LIVE corpus (one
          // map-only encode over |catchup| rows) and stage it stamped
          // with the NEW model BEFORE the commit point: a crash before
          // the floor marker leaves the old regime serving (these rows
          // are discard-on-flush under the old model, and the vectors
          // stay live via their old-model rows); a crash after it leaves
          // them live under the new model for the normal flush to fold.
          // Batch stamp Long.MinValue: any post-swap re-ingest of the
          // same vec_id must win the (_tier, _b) resolution.
          // stamp types must MATCH ingestBatch's staged columns exactly
          // (int model, long batch) — parquet rejects mixed physical
          // types across one directory's files
          val catchIds = sinceBuild.get.filter(col("cell") >= 0)
            .select(col("vec_id"))
          val catchup = corpus.join(catchIds, Seq("vec_id"), "left_semi")
          // the corpus-coverage contract, ENFORCED before any mutation:
          // a corpus missing live vec_ids would silently drop them from
          // the post-swap index (old tiers retired, new base never saw
          // them) while the gauge read green — fail loudly instead; the
          // old regime is untouched at this point, so the throw is safe.
          // Deleted vec_ids are NOT counted here: a takedown's contract
          // is a corpus that EXCLUDES the deleted docs ([[deleteVectors]])
          val nRe = catchup.count()
          if (nRe != nCatch)
            throw new IllegalStateException(
              s"shadow retrain corpus covers only $nRe of $nCatch live " +
                s"vec_ids ingested since the build began at $indexRoot — " +
                "the missing vectors would vanish from the index; pass the " +
                "current corpus of record covering every live vec_id " +
                "(mid-build ingests included, taken-down docs excluded)")
          Ivfadc.encode(catchup, model)
            .withColumn("_graft_model_v", lit(nextModel))
            .withColumn("_graft_batch", lit(Long.MinValue))
            .write.mode("append").parquet(stagingDir)
          retrainCatchup.addAndGet(nRe)
        }
        if (nTomb > 0) {
          // mid-build DELETES survive the swap: the shadow base was
          // encoded from a corpus snapshot taken BEFORE these tombstones
          // arrived, so the vec_id may still be IN it — re-stage the
          // tombstone winner under the NEW model (no encode; there is
          // nothing to encode) so it keeps masking the base row until the
          // next major GCs both. Disjoint from the catch-up ids by
          // construction (a vec_id has ONE winner), so the shared
          // Long.MinValue batch stamp cannot collide.
          sinceBuild.get.filter(col("cell") < 0)
            .select(col("vec_id"), col("cell"), col("codes"),
              lit(nextModel).as("_graft_model_v"),
              lit(Long.MinValue).as("_graft_batch"))
            .write.mode("append").parquet(stagingDir)
        }
        // the shadow carries its model marker; the swap commits it with
        // the floor marker, binding the new model in the same publish
        store.swapShadows(tier.next, bind = { modelVersion = nextModel })
        modelCache = Some((nextModel, model))
        baseSimCache = (-1, -1L)
        windowSimSum.set(0); windowSimN.set(0); lastWindowSimMicro = -1L
        // make the catch-up rows SEARCHABLE immediately (they were, via
        // their old tiers, before the swap) and the re-staged tombstones
        // MASKING immediately: fold the new-model staging rows into the
        // new regime's first delta — O(catchup), the minor-fold shape —
        // then clear staging (the old-model rows it still holds were
        // superseded by the re-encode / re-stage above)
        if (nCatch + nTomb > 0) {
          Pipelines.sizedForWrite(resolveNewest(stampStaged(s.read.parquet(stagingDir))
              .filter(col("_graft_model_v") === lit(modelVersion.toLong))
              .withColumn("_tier", lit(Long.MaxValue))
              .withColumnRenamed("_graft_batch", "_b")
              .select("vec_id", "cell", "codes", "_tier", "_b")), codeFiles)
            .write.mode("overwrite").parquet(dcodesDir(tier.next))
        }
        fs.delete(new org.apache.hadoop.fs.Path(stagingDir), true)
        retireModels()
      } finally sinceBuild.foreach(_.unpersist())
    }
  }

  /** The unattended form of the retrain decision: run [[retrainModel]]
    * exactly when the drift gauge crossed `driftThresholdMicro` — i.e.
    * the last flush window's mean assign-similarity fell more than the
    * threshold below the training corpus's. Returns whether a retrain
    * ran (`drift_retrains` counts them for the Observability surface).
    * The corpus still comes from the CALLER (the code store holds codes,
    * not embeddings — only the vector store's owner can supply the
    * retrain corpus), and `corpus` is only evaluated when the gauge
    * fires, so wiring this after every flush costs a few volatile reads
    * in the steady state (the gauge is computed from in-memory window
    * state, not a stats() sweep — no FS listing per batch). The gauge is
    * flush-windowed, so call it on the flush cadence; a freshly-retrained
    * index reports drift 0 until the next window completes (no retrain
    * storms). Two concurrent sweeps (one handler thread per active queue
    * in the assembled composition) fire ONE rebuild: the in-flight flag
    * makes the loser stand down immediately — it does NOT queue behind
    * the winner — and a sweep arriving after the winner sees drift 0
    * from the window reset. The fired rebuild is the SHADOW path: the
    * sweeping thread blocks for the build, but ingest and search on
    * other threads proceed against model N throughout.
    *
    * FAILURE ISOLATION: retraining is advisory maintenance, and this is
    * the unattended entry point — a retrain that throws (corpus-coverage
    * violation, FS fault) must not take the ingest stream down with it,
    * and must not re-fire every sweep re-paying the whole O(corpus)
    * prepare. A failure here is swallowed into the `retrain_failures`
    * gauge + a rate-limited error log, and the drift window is RESET as
    * a cool-down: the gauge reads 0 until the next flush window
    * completes, so the next attempt waits for fresh evidence instead of
    * crash-looping on the stale window. The attended [[retrainModel]]
    * still throws — an explicit caller wants the error. */
  def maybeRetrain(corpus: => DataFrame, driftThresholdMicro: Long): Boolean = {
    if (driftMicroNow <= driftThresholdMicro) false
    else store.exclusive(false) {
      // re-check under the flag: the previous winner's window reset may
      // have cleared the drift this sweep measured
      driftMicroNow > driftThresholdMicro && {
        try { retrainImpl(corpus, None, None, () => ()); driftRetrains.incrementAndGet(); true }
        catch { case scala.util.control.NonFatal(e) =>
          retrainFailures.incrementAndGet()
          // cool-down: clear the window the failed attempt fired on
          windowSimSum.set(0); windowSimN.set(0); lastWindowSimMicro = -1L
          retrainErrorLimiter.tryAcquire("retrain").foreach { suppressed =>
            Pipelines.log.error(
              s"drift-fired shadow retrain failed at $indexRoot (ingest " +
                s"continues on the current model; $suppressed earlier " +
                s"failures suppressed): ${e.getMessage}", e)
          }
          false
        }
      }
    }
  }

  /** SHADOW MAJOR compaction ([[TieredStore.shadowMajor]]): the flush
    * major's fold, minus staging, written to the shadow codes off the
    * root lock, then swapped in. Model untouched; serve afterwards ≡ the
    * blocking fold's. It shares the one-rebuild flag with
    * [[retrainModel]], so the two shadow builds never interleave their
    * floor arithmetic; a busy flag returns false ([[maybeRetrain]]'s
    * stand-down convention). */
  def compactBase(onPrepared: () => Unit = () => ()): Boolean =
    store.shadowMajor(onPrepared) { (_, tier) =>
      foldBase(tier, None, guardOk = !tier.oversized, shadowDir)
    }

  /** The unattended form of the compaction decision ([[maybeRetrain]]'s
    * twin for the tier, [[TieredStore.maybeCompact]]). The deployment
    * shape it completes: constructor `maxDeltas` set HIGH (so the
    * flush-path BLOCKING major effectively never fires — the byte-bound
    * early major stays as the backstop) and this sweep on the
    * maintenance cadence, making every routine major a shadow fold the
    * writer never waits for. */
  def maybeCompact(maxTier: Int): Boolean = store.maybeCompact(maxTier)(compactBase())

  /** Write the base that folds `tier` (and, at a flush, the resolved
    * `staged` rows) into the current codes WITHOUT shuffling the
    * corpus-scale base (guide §2.4/§8: decide with the small rows, move
    * the big rows once): the delta side resolves alone — flush-window
    * sized by construction — and its vec_id set anti-joins the base as a
    * broadcast while `guardOk` (else Spark plans the shuffle join). The
    * base's only exchange is the cell-clustered layout write. Tombstone
    * winners drop out physically — the delete's GC moment: the anti-join
    * removes their base rows, the cell >= 0 filter their tombstone rows.
    * The fold keeps the CURRENT model and stamps its binding: without it
    * a restart after an orphan-model crash would fall back to 'latest
    * stored model' and serve it over codes encoded under the older one. */
  private def foldBase(tier: DeltaTier, staged: Option[DataFrame], guardOk: Boolean,
                       out: String): Unit = {
    val deltaSide = resolveNewest(
      (staged.toSeq ++ tier.versions.map(kd => readCodes(dcodesDir(kd))
          .withColumn("_tier", lit(kd + 1L)).withColumn("_b", lit(0L))))
        .map(_.select("vec_id", "cell", "codes", "_tier", "_b"))
        .reduce(_ unionByName _))
    val dIds = deltaSide.select(col("vec_id"))
    val hinted =
      if (guardOk) broadcast(dIds) else { store.deltaFallbacks.incrementAndGet(); dIds }
    cellClustered(
      readCodes(codesDir(version))
        .join(hinted, Seq("vec_id"), "left_anti")
        .unionByName(deltaSide.filter(col("cell") >= 0)))
      .write.mode("overwrite").option("maxRecordsPerFile", baseFileRecords).parquet(out)
    Pipelines.writeIntMarker(fs, out, modelMarker, modelVersion)
  }

  /** Incremental semantic-dedup screen (the SemDeDup admission shape —
    * Abbas et al. 2023, arXiv:2303.09540 — run as the x62 incremental
    * screen topology on embeddings): score each batch vector against its
    * nearest INDEXED neighbor via the stored model's probed-cell ADC
    * shortlist + exact re-rank, and flag it a semantic duplicate when
    * that exact distance is within `distThreshold`. Candidates come only
    * from the probed coarse cells (never an all-pairs or corpus scan),
    * the exact pass reads |batch|·shortlist corpus rows through a
    * broadcast semi-join, and the corpus-scale code store is read
    * map-only — the same scale contract as [[search]]. `corpus` supplies
    * raw vectors for the exact pass, restricted to index members by the
    * caller. */
  def screenSemantic(corpus: DataFrame, batch: DataFrame,
                     distThreshold: Double, nprobe: Int): DataFrame =
    searchRerank(corpus, batch, kTop = 1, nprobe = nprobe)
      .select(col("query_id").as("vec_id"),
        col("neighbor_id").as("nearest_id"), col("dist"),
        (col("dist") <= lit(distThreshold)).as("is_dup"))

  /** [[currentCodes]] plus the staged-but-unflushed admissions — the
    * code store an ADMISSION screen must see, so two duplicates arriving
    * in consecutive batches of one flush window don't both pass. Same
    * no-base-shuffle topology as the delta tier: the staging side (one
    * flush window by construction) resolves alone, its id set anti-joins
    * the served store as a broadcast under the same byte bound, staged
    * rows union on top. Staged rows under a superseded model are
    * excluded exactly as flush() discards them. */
  private def currentCodesWithStaged: DataFrame = {
    val served = currentCodes
    if (!Pipelines.stagedHasData(fs, stagingDir)) served
    else {
      val live = stampStaged(s.read.parquet(stagingDir))
        .filter(col("_graft_model_v") === lit(modelVersion.toLong))
        .withColumn("_tier", lit(Long.MaxValue))
        .withColumnRenamed("_graft_batch", "_b")
        .select("vec_id", "cell", "codes", "_tier", "_b")
      val resolved = resolveNewest(live)
      // committed data bytes only (same measure as the delta-tier guard):
      // getContentSummary would also count _temporary remnants and make
      // the staging fallback fire earlier than the equivalent tier bound
      val stagedBytes = graft.VersionedDirs.committedBytes(fs, stagingDir)
      val ids = resolved.select(col("vec_id"))
      val hinted =
        if (stagedBytes > maxDeltaBroadcastBytes) { stagingFallbacks.incrementAndGet(); ids }
        else broadcast(ids)
      // staged tombstones mask the served store (ids keep them) but are
      // never served themselves — the currentCodes tombstone rule
      served.join(hinted, Seq("vec_id"), "left_anti")
        .unionByName(resolved.filter(col("cell") >= 0))
    }
  }

  /** The SemDeDup ADMISSION loop — the near-dup index's `screenBatch`
    * shape on vectors: screen the batch against the stored index
    * INCLUDING staged admissions from earlier batches of this flush
    * window ([[currentCodesWithStaged]] — without that, two duplicates
    * arriving one batch apart both pass), hand the full verdict relation
    * to `sink`, then ingest ONLY the novel vectors. Within-batch
    * mutual near-dups are both admitted (the x62 screen's documented
    * semantics — within-batch resolution belongs to a batch dedup pass
    * upstream). `corpus` supplies raw vectors for the exact re-rank and
    * must cover staged members too (the caller owns the vector store).
    * Holds the root lock across screen and admit so a concurrent flush
    * cannot move staging out from under the screen. `sink` must consume
    * the verdict relation EAGERLY (collect/write/count): it is
    * unpersisted on return, and a later re-evaluation would re-read a
    * staging dir the admission itself may have folded away — the
    * screenBatch sink contract. */
  def screenAndAdmit(corpus: DataFrame, batch: DataFrame,
                     distThreshold: Double, nprobe: Int, batchId: Long)
                    (sink: DataFrame => Unit): Unit =
    screenAndAdmit(corpus, batch, distThreshold, nprobe, batchId,
      resolveWithinBatch = false)(sink)

  /** [[screenAndAdmit]] with an OPT-IN within-batch resolution for
    * callers without an upstream batch dedup: when `resolveWithinBatch`
    * is set, a batch vector that passed the index screen is still
    * dropped if a LOWER-vec_id batch vector that also passed sits within
    * `distThreshold` of it (the x34 SemDeDup greedy keep-by-min-id rule,
    * candidates from the shared coarse cell, the screen's exact rounded
    * squared-L2 metric). The verdict relation then carries one extra
    * boolean column `batch_dup`; only rows with BOTH flags false are
    * admitted. The default path is byte-identical to the two-arg form —
    * the declared x83 oracle's semantics are unchanged. */
  def screenAndAdmit(corpus: DataFrame, batch: DataFrame,
                     distThreshold: Double, nprobe: Int, batchId: Long,
                     resolveWithinBatch: Boolean)
                    (sink: DataFrame => Unit): Unit =
    Pipelines.rootLock(indexRoot).synchronized {
      store.renewWriter("screenAndAdmit")
      val model = loadModel()
      // left-join back to the batch: a vector whose probed cells hold no
      // codes yields NO search row, and absence of evidence is novelty
      // (the near-dup screen's n_matches=0 convention), never a drop
      val best = Ivfadc.searchRerank(corpus, currentCodesWithStaged,
          batch, model, k = 1, nprobe = nprobe)
        .select(col("query_id").as("vec_id"),
          col("neighbor_id").as("nearest_id"), col("dist"))
      val screened0 = batch.select(col("vec_id"))
        .join(best, Seq("vec_id"), "left")
        .select(col("vec_id"), col("nearest_id"), col("dist"),
          coalesce(col("dist") <= lit(distThreshold), lit(false)).as("is_dup"))
      // the within-batch branch references the screen subtree twice (the
      // novel-set semi-join AND the verdict join) — persist it once so
      // the probed-cell ADC + re-rank isn't computed twice
      val screened = if (resolveWithinBatch) screened0.persist() else screened0
      val verdicts = (if (!resolveWithinBatch) screened else {
        // within-batch pass over the index-novel subset only: batch ×
        // batch bounded, bucketed by the model's coarse cells (the
        // screen's candidate philosophy), exact metric = the screen's
        // rounded squared L2 (Pq.sqDist's association order)
        val dot = graft.functions.Similarity.dotNative _
        def sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)
        val novelCells = Ivf.assignCells(
            batch.join(screened.filter(!col("is_dup")).select(col("vec_id")),
              Seq("vec_id"), "left_semi"), model.centroids)
          .select(col("vec_id"), col("cell"), col("embedding"))
        val drops = novelCells
          .join(novelCells.select(col("vec_id").as("vid_keep"), col("cell"),
            col("embedding").as("e_keep")), Seq("cell"))
          .filter(col("vid_keep") < col("vec_id"))
          .filter(round(sq(col("embedding").cast("array<double>"),
            col("e_keep").cast("array<double>")), 4) <= lit(distThreshold))
          .select(col("vec_id")).distinct()
        screened
          .join(drops.withColumn("batch_dup", lit(true)), Seq("vec_id"), "left")
          .withColumn("batch_dup", coalesce(col("batch_dup"), lit(false)))
      }).persist()
      try {
        sink(verdicts)
        val admit = if (resolveWithinBatch)
          verdicts.filter(!col("is_dup") && !col("batch_dup"))
        else verdicts.filter(!col("is_dup"))
        val novel = batch.join(admit.select(col("vec_id")), Seq("vec_id"), "left_semi")
        ingestBatch(novel, batchId)(_ => ())
      } finally {
        verdicts.unpersist()
        if (resolveWithinBatch) screened.unpersist()
        ()
      }
    }

  /** Ingest one batch `(vec_id, embedding)`: assign + PQ-encode against
    * the STORED model (map-only — the corpus-scale code store is never
    * read, let alone shuffled), hand the encoded rows to `sink`,
    * accumulate the drift window, stage, and compact on the flush
    * boundary. Synchronized with [[flush]] for the same
    * list-then-delete race the dedup indexes lock against. */
  def ingestBatch(batch: DataFrame, batchId: Long)
                 (sink: DataFrame => Unit): Unit = Pipelines.rootLock(indexRoot).synchronized {
    store.renewWriter("ingestBatch")
    val model = loadModel()
    // one map pass computes codes AND the drift-window similarity; the
    // similarity aggregate rides the staging WRITE job via observe(), so
    // the old join-back-to-the-batch aggregation job is gone entirely
    val encodedS = Ivfadc.encodeWithSim(batch, model).persist()
    val encoded = encodedS.select(col("vec_id"), col("cell"), col("codes"))
    try {
      if (encodedS.count() > 0) {
        sink(encoded)
        // staged rows carry the MODEL they were encoded under and their
        // batch id: the model stamp lets flush() discard rows a crashed
        // retrain left behind (codes under the old codebook folded into a
        // new-model base are silently wrong ADC distances — the exact
        // failure the binding marker exists to prevent), and the batch
        // stamp makes within-window re-ingests of a vec_id resolve
        // deterministically (latest batch wins) instead of arbitrarily
        val obs = org.apache.spark.sql.Observation()
        observeSim(encodedS, obs)
          .withColumn("_graft_model_v", lit(modelVersion))
          .withColumn("_graft_batch", lit(batchId))
          .write.mode("append").parquet(stagingDir)
        val (simSum, simN) = obsSim(obs)
        windowSimSum.addAndGet(simSum)
        windowSimN.addAndGet(simN)
        store.stagedBatches.incrementAndGet()
      }
      if ((batchId + 1) % flushEvery == 0) flush()
    } finally encodedS.unpersist()
  }

  /** DELETE vectors (the takedown/curation operation): stage one
    * tombstone code row (`cell = -1` — real cells are ≥ 0 — with empty
    * codes) per vec_id, riding the exact machinery updates ride: the
    * (_tier, _b) resolution makes the tombstone supersede all lower-tier
    * rows (gone from [[search]], [[screenSemantic]], and
    * [[screenAndAdmit]]'s candidate store), a LATER re-ingest of the
    * vec_id supersedes the tombstone (latest-write-wins), and the next
    * MAJOR compaction drops deleted vectors physically, tombstones
    * included. `ids` is `(vec_id)`; `n_deleted` counts staged
    * tombstones. A [[retrainModel]] resolves the index to its `corpus`
    * argument — honor deletes there by removing the vectors from the
    * corpus of record. Within one batch id, a delete and an ingest of
    * the same vec_id resolve ingest-wins — issue deletes under their own
    * batch id. */
  def deleteVectors(ids: DataFrame, batchId: Long): Unit = Pipelines.rootLock(indexRoot).synchronized {
    store.renewWriter("deleteVectors")
    val tomb = ids.select(col("vec_id"), lit(-1).as("cell"),
        typedlit(Seq.empty[Int]).as("codes"),
        lit(modelVersion).as("_graft_model_v"), lit(batchId).as("_graft_batch"))
      .persist()
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

  /** Fold staged codes ([[TieredStore.flushWindow]]): a MINOR delta
    * write (O(staged)) or a MAJOR compaction into codes N+1 (replayed
    * staging dedups on vec_id — codes are deterministic under a fixed
    * model, so replays are idempotent). Records the window's drift
    * gauge. */
  def flush(): Unit = Pipelines.rootLock(indexRoot).synchronized {
    store.renewWriter("flush")
    val staging = new org.apache.hadoop.fs.Path(stagingDir)
    if (Pipelines.stagedHasData(fs, stagingDir)) {
      val stagedStamped = stampStaged(s.read.parquet(stagingDir))
      // DISCARD rows encoded under a superseded model: a crash between a
      // retrain's commit (its floor marker) and its staging delete leaves
      // them behind, and folding old-codebook codes into a base bound to
      // the NEW model would serve silently wrong ADC distances — the
      // failure mode the binding marker exists to prevent. Nothing is
      // lost: the retrain re-encoded its full corpus, those vectors
      // included, under the new model. Stale and live counts come from
      // ONE staging pass (the steady-state flush path shouldn't pay
      // extra scans for a crash-only case).
      val cnt = stagedStamped.agg(
        coalesce(sum(when(col("_graft_model_v") =!= lit(modelVersion.toLong),
          1L).otherwise(0L)), lit(0L)),
        coalesce(sum(when(col("_graft_model_v") === lit(modelVersion.toLong),
          1L).otherwise(0L)), lit(0L))).head()
      val (stale, live) = (cnt.getLong(0), cnt.getLong(1))
      if (stale > 0) staleStagedDiscarded.addAndGet(stale)
      val staged = stagedStamped
        .filter(col("_graft_model_v") === lit(modelVersion.toLong))
        .drop("_graft_model_v")
        .withColumnRenamed("_graft_batch", "_b")
        .withColumn("_tier", lit(Long.MaxValue))
      if (live > 0) {
        // while a retrain builds, the store defers majors: a major would
        // fold mid-build rows into an old-model base the swap is about to
        // replace, making them unattributable to the catch-up re-encode
        store.flushWindow { tier =>
          Pipelines.sizedForWrite(resolveNewest(staged), codeFiles)
            .write.mode("overwrite").parquet(dcodesDir(tier.next))
        } { (tier, v) =>
          val stagedBytes = graft.VersionedDirs.committedBytes(fs, stagingDir)
          foldBase(tier, Some(staged),
            guardOk = !tier.oversized && stagedBytes <= maxDeltaBroadcastBytes, codesDir(v))
          store.commit(v, tier.next)
        }
        val n = windowSimN.getAndSet(0)
        val sumq = windowSimSum.getAndSet(0)
        if (n > 0) lastWindowSimMicro = sumq / n
      }
      fs.delete(staging, true)
    } else if (fs.exists(staging)) {
      fs.delete(staging, true) // _temporary-only remnant of a killed append
    }
  }

  /** Resolve one row per vec_id from tier-tagged code rows: highest
    * (_tier, _b) — newest tier, then newest batch — wins, the dedup
    * indexes' min-fold in max form. This gives UPDATES (re-ingesting a
    * vec_id with a changed embedding) deterministic latest-write-wins
    * semantics instead of an arbitrary dropDuplicates pick; crash-replay
    * duplicates are unaffected (identical codes under a fixed model, so
    * every candidate row is the same row). */
  private def resolveNewest(tagged: DataFrame): DataFrame =
    tagged.groupBy("vec_id")
      .agg(max(struct(col("_tier"), col("_b"), col("cell"), col("codes"))).as("_w"))
      .select(col("vec_id"), col("_w.cell").as("cell"), col("_w.codes").as("codes"))

  /** The current logical code store: base ∪ live deltas, one row per
    * vec_id with the NEWEST tier winning. The corpus-scale base is
    * NEVER shuffled here: the delta side (flush-sized by construction)
    * resolves to one row per vec_id on its own, its id set anti-joins
    * the base as a broadcast under the byte-bound guard, and the
    * resolved delta rows union on top — the text index's tombstone
    * topology applied to codes. An oversized tier (crash before the
    * early-major landed, or maxDeltaBroadcastBytes tuned down) drops
    * the broadcast hint (`delta_fallbacks` gauge) so Spark plans a
    * shuffle join instead of OOMing the driver; results are identical
    * either way, which RoundTwelveSpec pins against the all-tier
    * group-fold form. */
  def currentCodes: DataFrame = currentCodesAt(store.captureSnap())
  private def currentCodesAt(sn: TieredStore.Snap): DataFrame = {
    val tier = store.listDeltaTier(sn.floor)
    if (tier.isEmpty) readCodes(codesDir(sn.v))
    else {
      // each delta dir is already one-row-per-vec_id (resolved at its
      // flush), so the cross-delta fold is only needed when re-ingests
      // span windows — a single live delta serves with ZERO shuffle
      val dResolved =
        if (tier.versions.size == 1) readCodes(dcodesDir(tier.versions.head))
        else resolveNewest(
          tier.versions.map(kd => readCodes(dcodesDir(kd))
              .withColumn("_tier", lit(kd + 1L)).withColumn("_b", lit(0L)))
            .reduce(_ unionByName _))
      // the anti-join id set keeps TOMBSTONE winners (they must mask the
      // base row); the served union drops them (a deleted vec_id serves
      // nothing)
      val dIds = dResolved.select(col("vec_id"))
      val hinted =
        if (tier.oversized) { store.deltaFallbacks.incrementAndGet(); dIds }
        else broadcast(dIds)
      readCodes(codesDir(sn.v))
        .join(hinted, Seq("vec_id"), "left_anti")
        .unionByName(dResolved.filter(col("cell") >= 0))
    }
  }

  /** ADC top-k over the stored index — the batch x31 search topology
    * (query side broadcast, corpus side scanned as code lookups) against
    * base ∪ delta codes with the stored model. */
  def search(queries: DataFrame, kTop: Int, nprobe: Int,
             knownQueryCount: Option[Long] = None): DataFrame = {
    val (sn, mv) = serveSnap() // ONE capture binds the (codes, model) pair
    Ivfadc.search(currentCodesAt(sn), queries, loadModel(mv), kTop, nprobe,
      knownQueryCount)
  }

  /** ADC shortlist + exact re-rank (the batch x31 ADC+R form) over the
    * stored index. `corpus` supplies the raw vectors for the exact pass —
    * the code store deliberately holds only the 8-byte codes, so the
    * caller (who owns the vector store) provides the `(vec_id,
    * embedding)` relation; only |queries|·shortlist rows of it are read,
    * via a broadcast semi-join on the shortlist ids. */
  def searchRerank(corpus: DataFrame, queries: DataFrame, kTop: Int,
                   nprobe: Int, shortlistFactor: Int = 8,
                   knownQueryCount: Option[Long] = None): DataFrame = {
    val (sn, mv) = serveSnap()
    Ivfadc.searchRerank(corpus, currentCodesAt(sn), queries, loadModel(mv),
      kTop, nprobe, shortlistFactor, knownQueryCount)
  }

  // freshness-aware serves taken at the boosted probe depth (ops gauge)
  private val boostedServes = new java.util.concurrent.atomic.AtomicLong()

  /** [[searchRerank]] with FRESHNESS-AWARE probe widening — the two
    * levers SCALING §14 names, wired together: while the drift gauge
    * says a retrain is due (`drift_micro` above `driftThresholdMicro` —
    * the same threshold [[maybeRetrain]] fires on) but has not landed
    * yet, serve at `boostedNprobe` instead of `nprobe`; once the retrain
    * lands (the window resets, drift falls back) serving returns to the
    * base operating point automatically. RecallProbe measured the
    * recovery this buys on the sf0.1 bed: the stale-model tiered serve
    * at nprobe 3 reads recall@3 0.750 vs the fresh model's 0.950, and
    * nprobe 8 recovers 0.867 BEFORE the retrain lands (decomp D) — the
    * boost trades ~nprobe/nlist more candidates per query for recall
    * exactly while the model is known-stale. `boosted_serves` counts the
    * widened serves. Drift is a WRITER-side gauge (flush-window
    * accumulators live in the maintainer JVM); a read-only handle reads
    * drift 0 and always serves at the base nprobe. */
  def searchRerankFresh(corpus: DataFrame, queries: DataFrame, kTop: Int,
                        nprobe: Int, driftThresholdMicro: Long,
                        boostedNprobe: Int, shortlistFactor: Int = 8,
                        knownQueryCount: Option[Long] = None): DataFrame = {
    require(boostedNprobe >= nprobe,
      "boostedNprobe must be at least the base nprobe")
    val boosted = driftMicroNow > driftThresholdMicro
    if (boosted) boostedServes.incrementAndGet()
    searchRerank(corpus, queries, kTop,
      if (boosted) boostedNprobe else nprobe, shortlistFactor,
      knownQueryCount)
  }

  /** Lifecycle gauges ([[TieredStore.stats]]) plus the model and drift
    * gauges (the Observability `indexGauges` contract): `drift_micro` is
    * (training-corpus mean assign-similarity − last flush window's), in
    * 1e-6 cosine units — rising drift says the stored centroids no longer
    * represent the arriving distribution and a [[retrainModel]] is due. */
  def stats: Map[String, Long] = {
    val (sn, mv) = serveSnap()
    store.stats(sn, store.listDeltaTier(sn.floor)) ++ Map(
      "model_version" -> mv.toLong,
      "staging_fallbacks" -> stagingFallbacks.get(),
      "stale_staged_discarded" -> staleStagedDiscarded.get(),
      "drift_retrains" -> driftRetrains.get(),
      "retrain_failures" -> retrainFailures.get(),
      "retrain_catchup" -> retrainCatchup.get(),
      "boosted_serves" -> boostedServes.get(),
      "base_assign_sim_micro" -> baseAssignSimCached,
      "window_assign_sim_micro" -> lastWindowSimMicro,
      "drift_micro" -> driftMicroNow)
  }
}

object MaintainedAnnIndex {
  /** Default coarse-cell count for a [[MaintainedAnnIndex.retrainModel]]
    * rebuild: nlist ≈ √N (the Faiss guidance — every search/screen scores
    * ~nprobe/nlist·N candidates per query, so nlist must grow with the
    * corpus; ScaleProbe measured the stale-fixture cliff both ways).
    * Bounded above so a pathological count can never inline an unbounded
    * centroid matrix. */
  def sizedNlist(n: Long): Int =
    math.max(1L, math.min(math.round(math.sqrt(n.toDouble)), 1L << 16)).toInt

  /** Default PQ budget for a [[MaintainedAnnIndex.retrainModel]] rebuild
    * — [[sizedNlist]]'s companion knob, sized from the embedding dim and
    * the corpus size (PqBudgetProbe measured the recall-vs-budget curve
    * on a 64-cluster 1M bed; SCALING.md §12 records it):
    *
    *  - `k` (codewords per subspace): the largest power of two the
    *    training set can populate at Faiss's ~39-points-per-centroid
    *    guidance, capped at 256 (8-bit codes — the budget where PQ earns
    *    its compression claim; Jégou et al., TPAMI 2011, use k = 256
    *    throughout). The demo fixture's k = 16 exists so the DuckDB
    *    oracles can unroll training in SQL, not as a quality
    *    recommendation — the probe measures the gap.
    *  - `m` (subspace count): dsub = dim/m = 2 dims per subquantizer —
    *    the finest non-degenerate split (dsub = 1 spends whole codebooks
    *    on single scalars), snapped down to a divisor of dim, capped at
    *    64 subspaces for bounded codebook/plan size.
    *
    * Code bytes/vector = m·log2(k)/8 — at dim 16 this is (8, 256) = 8
    * bytes against 64 float bytes (8×); a deployment trading recall for
    * space passes `pqOverride` with a coarser split. */
  def sizedPq(dim: Int, n: Long): (Int, Int) = {
    val k = math.min(256L,
      math.max(4L, java.lang.Long.highestOneBit(math.max(1L, n / 39L)))).toInt
    val m = (math.min(64, math.max(1, dim / 2)) to 1 by -1)
      .find(dim % _ == 0).getOrElse(1)
    (m, k)
  }

  /** x80 — the ANN pillar's incremental-retrieval slice (x79's twin):
    * seed a maintained ANN index with half the embeddings table — the
    * IVFADC model trains on exactly that seed — stream the rest in two
    * ingest windows (flushEvery = 1, maxDeltas = 2, so BOTH windows are
    * live delta tiers at search time), and run the x31 ADC+re-rank search
    * against the stored artifacts. The result must equal the batch x31
    * topology under the seed-trained model over the full grown corpus —
    * which is exactly what the DuckDB oracle recomputes (both k-means
    * stages unrolled as CTEs with training restricted to the seed,
    * [[graft.AnnOracleSql.x80OracleSql]]) — so the whole incremental
    * path (stored model round-trip, map-only assign/encode, staging
    * fold, delta-tier resolution) is oracle-verified, not just
    * spec-tested. Scratch-root lifecycle in [[ScratchRoots]]. */
  def x80IncrementalIvfadc(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val root = ScratchRoots.create("graft_x80_")
    val idx = new MaintainedAnnIndex(s, root, flushEvery = 1, maxDeltas = 2)
    try {
      idx.initIndex(emb.filter(pmod(col("vec_id"), lit(4)) < 2))
      idx.ingestBatch(emb.filter(pmod(col("vec_id"), lit(4)) === 2), 0)(_ => ())
      idx.ingestBatch(emb.filter(pmod(col("vec_id"), lit(4)) === 3), 1)(_ => ())
      idx.searchRerank(emb, emb.filter(col("vec_id") < 20), kTop = 3, nprobe = 3,
        knownQueryCount = Some(20L))
        .orderBy(col("query_id"), col("rk"))
    } finally idx.close()
  }

  /** x93 — x80's lifecycle served from a RESTARTED maintainer: same
    * seed + two live-delta ingest windows, but the instance that built
    * the index CLOSES (lease released) and the ADC+re-rank search runs
    * from a FRESH instance on the same root — the restart path:
    * discovered codes pointer, committed-version resume, model-marker
    * resolution (the stored model the reopened serve must bind to its
    * codes), floor re-read, delta tier re-listed, lease re-acquisition.
    * Same DuckDB oracle as x80 (seed-trained IVFADC over the grown
    * corpus), so a reopen that binds the wrong model version to the
    * codes, resolves a stale base, or drops a live delta breaks this
    * hash while x80 (in-process serve) stays green — the x90 pattern
    * applied to the ANN pillar. */
  def x93AnnReopenServe(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val root = ScratchRoots.create("graft_x93_")
    val builder = new MaintainedAnnIndex(s, root, flushEvery = 1, maxDeltas = 2)
    try {
      builder.initIndex(emb.filter(pmod(col("vec_id"), lit(4)) < 2))
      builder.ingestBatch(emb.filter(pmod(col("vec_id"), lit(4)) === 2), 0)(_ => ())
      builder.ingestBatch(emb.filter(pmod(col("vec_id"), lit(4)) === 3), 1)(_ => ())
    } finally builder.close()
    val idx = new MaintainedAnnIndex(s, root, flushEvery = 1, maxDeltas = 2)
    try {
      require(idx.stats("delta_versions") == 2L,
        "x93 must reopen into BOTH live delta tiers")
      idx.searchRerank(emb, emb.filter(col("vec_id") < 20), kTop = 3, nprobe = 3,
        knownQueryCount = Some(20L))
        .orderBy(col("query_id"), col("rk"))
    } finally idx.close()
  }

  /** x85 — the ANN DELETE lifecycle under the hash oracle: seed with
    * half the embeddings (the model trains on that seed), ingest the
    * third quarter as a live delta, DELETE the delta-resident
    * `vec_id % 8 == 2` slice (tombstones ride the tier resolution), and
    * run the x31 ADC+re-rank search. The result must equal the batch
    * topology over (members − deleted) under the seed-trained model —
    * deletion never retrains, so the oracle restricts ENCODING only
    * ([[graft.AnnOracleSql.x85OracleSql]]); a tombstone that leaked into
    * (or over-masked) the served store breaks the hash. */
  def x85AnnIndexDelete(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val root = ScratchRoots.create("graft_x85_")
    val idx = new MaintainedAnnIndex(s, root, flushEvery = 1, maxDeltas = 2)
    try {
      idx.initIndex(emb.filter(pmod(col("vec_id"), lit(4)) < 2))
      idx.ingestBatch(emb.filter(pmod(col("vec_id"), lit(4)) === 2), 0)(_ => ())
      idx.deleteVectors(
        emb.filter(pmod(col("vec_id"), lit(8)) === 2).select(col("vec_id")), 1)
      idx.searchRerank(emb, emb.filter(col("vec_id") < 20), kTop = 3, nprobe = 3,
        knownQueryCount = Some(20L))
        .orderBy(col("query_id"), col("rk"))
    } finally idx.close()
  }

  /** x86 — x85's DELETE lifecycle served through a SHADOW major
    * ([[MaintainedAnnIndex.compactBase]]): same seed/ingest/takedown,
    * then the off-lock fold + O(1) swap produce the served base (no
    * live tier left) before the same ADC+re-rank. Same DuckDB oracle as
    * x85 — compaction must be logically invisible, so a fold that drops
    * a live vector or resurrects the deleted slice breaks this hash
    * while x85 stays green. */
  def x86AnnShadowCompact(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val root = ScratchRoots.create("graft_x86_")
    val idx = new MaintainedAnnIndex(s, root, flushEvery = 1, maxDeltas = 4)
    try {
      idx.initIndex(emb.filter(pmod(col("vec_id"), lit(4)) < 2))
      idx.ingestBatch(emb.filter(pmod(col("vec_id"), lit(4)) === 2), 0)(_ => ())
      idx.deleteVectors(
        emb.filter(pmod(col("vec_id"), lit(8)) === 2).select(col("vec_id")), 1)
      require(idx.compactBase(), "x86 needs a live tier to fold")
      require(idx.stats("delta_versions") == 0L,
        "x86 must serve from the compacted base alone")
      idx.searchRerank(emb, emb.filter(col("vec_id") < 20), kTop = 3, nprobe = 3,
        knownQueryCount = Some(20L))
        .orderBy(col("query_id"), col("rk"))
    } finally idx.close()
  }

  /** x82 — incremental semantic dedup over the maintained ANN index (the
    * SemDeDup screen as a lifecycle operation): seed the index with half
    * the embeddings table (the model trains on that seed), ingest a
    * third quarter as a live delta tier, then screen the HELD-OUT last
    * quarter against the stored artifacts — nearest indexed neighbor by
    * probed-cell ADC + exact re-rank, verdict `is_dup` when the exact
    * distance is within [[graft.AnnOracleSql.X82DistThreshold]]. The
    * DuckDB oracle recomputes the whole pipeline (seed-trained k-means
    * stages unrolled, encode restricted to index members, the batch as
    * queries, threshold verdict), so the screen's candidate generation,
    * tier resolution, and verdict arithmetic are all hash-verified. */
  def x82SemanticScreen(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val root = ScratchRoots.create("graft_x82_")
    val idx = new MaintainedAnnIndex(s, root, flushEvery = 1, maxDeltas = 1)
    try {
      idx.initIndex(emb.filter(pmod(col("vec_id"), lit(4)) < 2))
      idx.ingestBatch(emb.filter(pmod(col("vec_id"), lit(4)) === 2), 0)(_ => ())
      idx.screenSemantic(
          corpus = emb.filter(pmod(col("vec_id"), lit(4)) < 3),
          batch = emb.filter(pmod(col("vec_id"), lit(4)) === 3),
          distThreshold = graft.AnnOracleSql.X82DistThreshold, nprobe = 3)
        .orderBy(col("vec_id"))
    } finally idx.close()
  }

  /** x88 — the SHADOW RETRAIN lifecycle hash-verified end to end: seed
    * the index with half the embeddings table (model v0 trains on the
    * seed), grow it with two ingest windows, then run the operator
    * retrain on the full corpus of record with the budget pinned to the
    * oracle-expressible demo constants (nlist 8, m 8, k 16 — the same
    * constants every ANN oracle unrolls; the DEFAULT sizing is
    * [[MaintainedAnnIndex.sizedPq]], measured in SCALING.md §12 and
    * spec-pinned). Post-swap, the stored base must be exactly the batch
    * encode of the full corpus under a model trained on the full corpus
    * — i.e. the x31 batch topology — so the serve shares
    * [[graft.AnnOracleSql.x31OracleSql]] VERBATIM: a retrain that
    * trains on a stale snapshot, loses a mid-lifecycle ingest at the
    * swap, or leaks an old-model code row breaks this hash while x31
    * stays green. The swap machinery (catch-up, floor advance,
    * staged-discard) is thereby oracle-verified, not just spec-tested. */
  def x88AnnRetrain(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val root = ScratchRoots.create("graft_x88_")
    val idx = new MaintainedAnnIndex(s, root, flushEvery = 1, maxDeltas = 2)
    try {
      idx.initIndex(emb.filter(pmod(col("vec_id"), lit(4)) < 2))
      idx.ingestBatch(emb.filter(pmod(col("vec_id"), lit(4)) === 2), 0)(_ => ())
      idx.ingestBatch(emb.filter(pmod(col("vec_id"), lit(4)) === 3), 1)(_ => ())
      idx.retrainModel(emb, nlistOverride = Some(8), pqOverride = Some((8, 16)))
      require(idx.stats("model_version") == 1L, "x88 must serve the retrained model")
      idx.searchRerank(emb, emb.filter(col("vec_id") < 20), kTop = 3, nprobe = 3,
        knownQueryCount = Some(20L))
        .orderBy(col("query_id"), col("rk"))
    } finally idx.close()
  }

  /** x83 — the admission loop hash-verified end to end (x82's sequel):
    * seed the index with half the embeddings table, screen batch A
    * against it, ADMIT only A's non-duplicates (absence of candidates =
    * novelty), fold them in, then screen batch B against the GROWN
    * index. Batch B's verdicts depend on A's admission decisions, so a
    * wrong admission in either engine cascades into B's hash — the
    * DuckDB oracle recomputes both screens with membership as a
    * search-side filter over one shared encode
    * ([[graft.AnnOracleSql.x83OracleSql]]). Batch A's verdicts
    * materialize to a scratch parquet BEFORE the index mutates (the
    * lazy relation would otherwise re-screen against the grown index —
    * and the pre-admission serve's version directory is retired by the
    * index GC two flushes later). */
  def x83AdmissionScreen(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val m8 = pmod(col("vec_id"), lit(8))
    val root = ScratchRoots.create("graft_x83_")
    val idx = new MaintainedAnnIndex(s, root, flushEvery = 1, maxDeltas = 0)
    try {
      val seed = emb.filter(m8 < 4)
      idx.initIndex(seed)
      val t = graft.AnnOracleSql.X82DistThreshold
      // drive the REAL admission API for both batches: screenAndAdmit
      // sinks the verdicts (written eagerly — the sink contract) and
      // admits the novels itself; flushEvery = 1 folds each admission
      // before the next screen. Batch B's fold is asserted below.
      val batchA = emb.filter(m8.isin(4, 5))
      idx.screenAndAdmit(seed, batchA, t, nprobe = 3, 0L)(
        _.write.parquet(s"$root/va_scratch"))
      val va = s.read.parquet(s"$root/va_scratch")
      val novelA = batchA.join(
        va.filter(col("is_dup")).select(col("vec_id")), Seq("vec_id"), "left_anti")
      idx.screenAndAdmit(seed.unionByName(novelA), emb.filter(m8.isin(6, 7)),
        t, nprobe = 3, 1L)(_.write.parquet(s"$root/vb_scratch"))
      val vb = s.read.parquet(s"$root/vb_scratch")
      // B's admission READ BACK: the second fold must have landed (code
      // store = seed + A's novels + B's novels), or running it was dead
      // weight — the one verdict-cascade edge the hash can't see
      val expected = seed.count() + novelA.count() +
        vb.filter(!col("is_dup")).count()
      val stored = idx.currentCodes.count()
      require(stored == expected,
        s"x83: batch B's admission must be folded into the store " +
          s"(expected $expected codes, found $stored)")
      va.withColumn("batch", lit(0)).unionByName(vb.withColumn("batch", lit(1)))
        .select(col("batch"), col("vec_id"), col("nearest_id"),
          col("dist"), col("is_dup"))
        .orderBy(col("batch"), col("vec_id"))
    } finally idx.close()
  }

  /** Open a lease-free READ-ONLY serving handle over an existing ANN
    * index root — the one-writer-N-search-replicas deployment shape: a
    * search replica constructed this way coexists with a LIVE maintainer
    * in another process (no lease taken, no reconcile, no mutation), and
    * each read re-resolves the committed (codes, bound model, floor)
    * snapshot so the replica serves fresh data as the writer publishes.
    * Readers slower than one major cycle need the WRITER's
    * `keepVersions` raised — the retention SLA (SCALING.md "Readers"). */
  def openReader(s: SparkSession, indexRoot: String,
                 maxDeltaBroadcastBytes: Long =
                   Pipelines.DefaultMaxDeltaBroadcastBytes): ReadOnlyAnnIndex =
    new ReadOnlyAnnIndex(new MaintainedAnnIndex(s, indexRoot,
      flushEvery = 1, maxDeltaBroadcastBytes = maxDeltaBroadcastBytes,
      readOnly = true))

  /** x97 — x80's lifecycle served from a lease-free READ-ONLY handle
    * while the WRITER that built it is still live (lease held): same
    * seed + two live-delta ingest windows, but the ADC+re-rank search
    * runs from [[openReader]] — committed codes-pointer resolution,
    * model-marker binding, floor + tier re-read, NO lease. Shares x80's
    * DuckDB oracle verbatim (seed-trained IVFADC over the grown corpus),
    * so a reader that binds the wrong model to the codes, resolves a
    * stale base, or drops a live delta breaks this hash while x80/x93
    * stay green — the x96 pattern applied to the ANN pillar. */
  def x97AnnReaderServe(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val root = ScratchRoots.create("graft_x97_")
    val writer = new MaintainedAnnIndex(s, root, flushEvery = 1, maxDeltas = 2)
    try {
      writer.initIndex(emb.filter(pmod(col("vec_id"), lit(4)) < 2))
      writer.ingestBatch(emb.filter(pmod(col("vec_id"), lit(4)) === 2), 0)(_ => ())
      writer.ingestBatch(emb.filter(pmod(col("vec_id"), lit(4)) === 3), 1)(_ => ())
      val reader = openReader(s, root)
      require(reader.stats("delta_versions") == 2L,
        "x97 must serve BOTH live delta tiers from the reader")
      reader.searchRerank(emb, emb.filter(col("vec_id") < 20), kTop = 3,
        nprobe = 3, knownQueryCount = Some(20L))
        .orderBy(col("query_id"), col("rk"))
    } finally writer.close()
  }
}

/** Lease-free READ-ONLY view over a maintained ANN index — see
  * [[MaintainedAnnIndex.openReader]]. Compile-time read-only: only the
  * serving surface is exposed (the underlying handle additionally throws
  * on any mutator). `close()` exists for symmetry; a reader holds no
  * lease, so it releases nothing. */
final class ReadOnlyAnnIndex private[streaming] (idx: MaintainedAnnIndex) {
  // package-internal composition seam — see ReadOnlyTextIndex.underlying
  private[streaming] def underlying: MaintainedAnnIndex = idx
  def search(queries: DataFrame, kTop: Int, nprobe: Int,
             knownQueryCount: Option[Long] = None): DataFrame =
    idx.search(queries, kTop, nprobe, knownQueryCount)
  def searchRerank(corpus: DataFrame, queries: DataFrame, kTop: Int,
                   nprobe: Int, shortlistFactor: Int = 8,
                   knownQueryCount: Option[Long] = None): DataFrame =
    idx.searchRerank(corpus, queries, kTop, nprobe, shortlistFactor,
      knownQueryCount)
  /** The pure semantic screen (no admission — that is a writer op). */
  def screenSemantic(corpus: DataFrame, batch: DataFrame,
                     distThreshold: Double, nprobe: Int): DataFrame =
    idx.screenSemantic(corpus, batch, distThreshold, nprobe)
  def currentCodes: DataFrame = idx.currentCodes
  def stats: Map[String, Long] = idx.stats
  def close(): Unit = idx.close()
}
