package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval served ENTIRELY from maintained artifacts — the x41
  * reciprocal-rank fusion (Cormack et al. 2009) with both source
  * rankings read from stored indexes instead of per-session builds:
  *
  *  - lexical: [[MaintainedTextIndex.rankMany]] over the stored postings
  *    (term-pruned scan, x32-exact BM25 arithmetic);
  *  - dense: [[MaintainedAnnIndex.search]] /
  *    [[MaintainedAnnIndex.searchRerank]] over the stored PQ codes (ADC
  *    shortlist, optionally with an exact re-rank against the caller's
  *    raw vectors).
  *
  * Both rankings and the fusion run on ONE hash partitioning by
  * query_id. The exchanges left in a batch serve are: the lexical side's
  * hash exchange on query_id (every posting of the batch's terms, once),
  * the dense top-k's exchange on query_id (O(queries·depth) rows after
  * the map-side trim), and the dense probe ranking's small exchange over
  * queries × centroids. The rank windows, the fusion fold
  * ([[graft.functions.Search.rrfFuseByQuery]], the identical x41
  * arithmetic) and the fused top-k reuse that partitioning. The corpus
  * cost is one term-pruned postings scan plus one ADC code scan, neither
  * of which re-reads raw text or re-encodes vectors. This is the
  * serving-path composition a production retrieval stack runs per
  * query, which is why it must come from the maintained artifacts: at
  * 100 TB nobody re-tokenizes the corpus or retrains a quantizer to
  * answer a query. */
object HybridRetrieval {

  /** The lexical ranking every entry point fuses: per-query BM25
    * top-depth from the stored postings ([[MaintainedTextIndex
    * .rankMany]] — ONE term-pruned scan for the whole batch), ranked by
    * (bm25 desc, doc_id) within each query_id — the x41 lex transform
    * with the rank window PARTITIONED BY QUERY, so a batch of queries can
    * never interleave rank lists. rankMany's output is already
    * hash-partitioned by query_id, so this window adds no exchange. */
  private def lexRankedMany(text: MaintainedTextIndex, queries: DataFrame,
                            depth: Int,
                            knownTerms: Option[Seq[String]] = None): DataFrame =
    text.rankMany(queries.select(col("query_id"), col("terms")), depth,
      knownTerms)
      .select(col("query_id"), col("doc_id").as("id"),
        row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(round(col("raw"), 4).desc, col("doc_id"))).as("r_lex"))

  /** RRF top-k for a BATCH of queries in ONE plan — the batch-serving
    * form: `queries` is `(query_id, terms array<string>, embedding)`;
    * each query's terms drive its lexical ranking and its embedding the
    * dense ADC+re-rank ranking (both rank windows partitioned by
    * query_id), fused per query by the x41 arithmetic. Output
    * `(query_id, id, r_lex, r_dense, rrf)`, per-query top-k sorted
    * (rrf desc, id) within each query — ≡ a [[searchRrf]] loop
    * (RoundThirteenSpec parity), with no per-query driver round-trips. */
  def searchRrfMany(text: MaintainedTextIndex, ann: MaintainedAnnIndex,
                    corpus: DataFrame, queries: DataFrame,
                    k: Int = 10, depth: Int = graft.functions.Search.RrfDepth,
                    nprobe: Int = 8,
                    knownQueryCount: Option[Long] = None,
                    knownTerms: Option[Seq[String]] = None): DataFrame = {
    val dense = ann.searchRerank(corpus,
        queries.select(col("query_id").as("vec_id"), col("embedding")),
        depth, nprobe, knownQueryCount = knownQueryCount)
      .select(col("query_id"), col("neighbor_id").as("id"), col("rk").as("r_dense"))
    graft.functions.Search.rrfFuseByQuery(
      lexRankedMany(text, queries, depth, knownTerms), dense, k)
  }

  /** [[searchRrfMany]] with the dense side ranked by ADC distance alone
    * (the no-raw-vector form, [[searchRrfAdc]]'s batch twin): `queries`
    * is `(query_id, terms array<string>, embedding)`, output carries
    * query_id, per-query top-k. */
  def searchRrfAdcMany(text: MaintainedTextIndex, ann: MaintainedAnnIndex,
                       queries: DataFrame,
                       k: Int = 10, depth: Int = graft.functions.Search.RrfDepth,
                       nprobe: Int = 8,
                       knownQueryCount: Option[Long] = None,
                       knownTerms: Option[Seq[String]] = None): DataFrame = {
    val dense = ann.search(
        queries.select(col("query_id").as("vec_id"), col("embedding")),
        depth, nprobe, knownQueryCount = knownQueryCount)
      .select(col("query_id"), col("neighbor_id").as("id"), col("rk").as("r_dense"))
    graft.functions.Search.rrfFuseByQuery(
      lexRankedMany(text, queries, depth, knownTerms), dense, k)
  }

  /** READER-handle overloads — the hybrid serve from a one-writer-N-
    * replicas search node: both rankings come from lease-free read-only
    * handles ([[MaintainedTextIndex.openReader]] /
    * [[MaintainedAnnIndex.openReader]]), so a replica process serves the
    * full RRF composition off the committed layouts while the two
    * maintainers run elsewhere. Plans are identical to the writer forms
    * (the handles share the serving code); only the snapshot resolution
    * differs (per-read, no lease). */
  def searchRrfMany(text: ReadOnlyTextIndex, ann: ReadOnlyAnnIndex,
                    corpus: DataFrame, queries: DataFrame, k: Int,
                    depth: Int, nprobe: Int,
                    knownQueryCount: Option[Long]): DataFrame =
    searchRrfMany(text.underlying, ann.underlying, corpus, queries, k,
      depth, nprobe, knownQueryCount)

  def searchRrfAdcMany(text: ReadOnlyTextIndex, ann: ReadOnlyAnnIndex,
                       queries: DataFrame, k: Int, depth: Int, nprobe: Int,
                       knownQueryCount: Option[Long]): DataFrame =
    searchRrfAdcMany(text.underlying, ann.underlying, queries, k,
      depth, nprobe, knownQueryCount)

  // no default args here: Scala forbids defaults on more than one
  // overload alternative, and the writer forms own them
  def searchRrf(text: ReadOnlyTextIndex, ann: ReadOnlyAnnIndex,
                corpus: DataFrame, terms: Seq[String], queryVec: DataFrame,
                k: Int, depth: Int, nprobe: Int): DataFrame =
    searchRrf(text.underlying, ann.underlying, corpus, terms, queryVec,
      k, depth, nprobe)

  def searchRrfAdc(text: ReadOnlyTextIndex, ann: ReadOnlyAnnIndex,
                   terms: Seq[String], queryVec: DataFrame,
                   k: Int, depth: Int, nprobe: Int): DataFrame =
    searchRrfAdc(text.underlying, ann.underlying, terms, queryVec,
      k, depth, nprobe)

  /** The single-query output shape, with the single-query contract
    * enforced IN-PLAN at zero job cost: the fused relation is per-query
    * top-k (control-plane sized), so one unpartitioned window over it
    * can check that exactly one query_id is present and raise a clear
    * error at execution — a multi-row `query` would otherwise return
    * unattributable concatenated top-k lists (the failure the old
    * pre-flight `limit(2).count()` job guarded against). */
  private def oneQueryShape(fused: DataFrame): DataFrame = {
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    fused
      // window aggregates as columns first — Spark rejects them in WHERE
      .withColumn("_qmin", min(col("query_id")).over(w))
      .withColumn("_qmax", max(col("query_id")).over(w))
      .filter(col("_qmin") === col("_qmax") ||
        raise_error(lit("hybrid RRF's single-query entry points fuse ONE " +
          "query's rankings; this relation holds several query_ids — use " +
          "searchRrfMany, whose output carries query_id")).isNull)
      .select(col("id"), col("r_lex"), col("r_dense"), col("rrf"))
      // the guard's window does not promise to preserve the fuse's sort —
      // re-assert the single-query output order (x41's shape)
      .orderBy(col("rrf").desc, col("id"))
  }

  /** RRF top-k for one query: `terms` drive the lexical side, `query`
    * (a one-row `(vec_id, embedding)` relation) the dense side, and
    * `corpus` supplies raw vectors for the exact re-rank (only
    * shortlist-sized slices of it are read, via the broadcast semi-join
    * inside searchRerank). Output: (id, r_lex, r_dense, rrf) — x41's
    * shape. Implemented on the query_id-partitioned plan, so the serving
    * path runs NO pre-flight validation job; a multi-row `query` still
    * fails loudly, via the in-plan [[oneQueryShape]] guard. */
  def searchRrf(text: MaintainedTextIndex, ann: MaintainedAnnIndex,
                corpus: DataFrame, terms: Seq[String], query: DataFrame,
                k: Int = 10, depth: Int = graft.functions.Search.RrfDepth,
                nprobe: Int = 8): DataFrame =
    // knownQueryCount = 1 rides the documented one-row `query` contract
    // (so the dense side pays NO guard-count job, matching this path's
    // no-pre-flight-job promise); a contract-violating multi-row query
    // still fails loudly via the in-plan guard below
    oneQueryShape(searchRrfMany(text, ann, corpus,
      query.select(col("vec_id").as("query_id"),
        typedlit(terms).as("terms"), col("embedding")),
      k, depth, nprobe, knownQueryCount = Some(1L),
      // the typedlit terms ARE the query's terms — skips the lexical
      // side's pre-flight distinct-collect job
      knownTerms = Some(terms)))

  /** RRF top-k with the dense side ranked by ADC distance alone — for
    * callers that do not hold a raw-vector relation (the code store
    * deliberately stores only the 8-byte codes, and rank fusion never
    * compares score scales, so the quantized ranking slots straight in).
    * Deterministic: ADC distances tie-break on neighbor_id. Same
    * query_id-partitioned plan (no pre-flight job) and in-plan
    * single-query guard as [[searchRrf]]. */
  def searchRrfAdc(text: MaintainedTextIndex, ann: MaintainedAnnIndex,
                   terms: Seq[String], query: DataFrame,
                   k: Int = 10, depth: Int = graft.functions.Search.RrfDepth,
                   nprobe: Int = 8): DataFrame = {
    val q = query.select(col("vec_id").as("query_id"),
      typedlit(terms).as("terms"), col("embedding"))
    oneQueryShape(searchRrfAdcMany(text, ann, q, k, depth, nprobe,
      knownQueryCount = Some(1L), knownTerms = Some(terms)))
  }

  /** Run two independent builds on two threads and wait for both. Both
    * threads have stopped when this returns, however the wait ended — a
    * build failure, an interrupt or a cancellation — so the caller's
    * cleanup (closing the indexes releases the leases and deletes
    * scratch roots) never races a build that is still writing. The first
    * build failure propagates; an interrupt of the waiting thread
    * propagates as InterruptedException once both builds are done. */
  private[graft] def runBoth(a: () => Unit, b: () => Unit): Unit = {
    import java.util.concurrent.{ExecutionException, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new Runnable { def run(): Unit = a() })
      val fb = pool.submit(new Runnable { def run(): Unit = b() })
      try { fa.get(); fb.get() }
      catch { case e: ExecutionException => throw e.getCause }
    } finally {
      pool.shutdown()
      var interrupted = false
      var stopped = false
      while (!stopped)
        try stopped = pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
        catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
    }
  }

  /** x81 — the declared maintained-hybrid slice, the capstone of the
    * incremental-retrieval contract: build BOTH maintained pillars the
    * x79/x80 way (seed half, two live delta windows each), then answer
    * one hybrid query ENTIRELY from the stored artifacts via
    * [[searchRrf]] — term-pruned postings for the lexical ranking, the
    * stored model + tiered PQ codes (ADC shortlist depth 20, nprobe 3,
    * exact re-rank) for the dense ranking, fused by the x41 arithmetic.
    * The DuckDB oracle recomputes the whole stack from scratch: the x32
    * BM25 SQL for `r_lex` ⊕ the seed-trained IVFADC CTE unroll for
    * `r_dense` ([[graft.AnnOracleSql]]), so the full serving composition
    * — two index lifecycles plus the fusion — is hash-verified.
    * Scratch-root lifecycle in [[ScratchRoots]]. */
  def x81MaintainedHybridRrf(s: org.apache.spark.sql.SparkSession,
                             dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val emb = graft.Tables.embeddings(s, dir)
    val text = new MaintainedTextIndex(s, ScratchRoots.create("graft_x81t_"),
      flushEvery = 1, maxDeltas = 2)
    val ann = new MaintainedAnnIndex(s, ScratchRoots.create("graft_x81a_"),
      flushEvery = 1, maxDeltas = 2)
    try {
      // the two pillar builds are INDEPENDENT (separate roots, separate
      // inputs) and each is a chain of small sequential jobs — build them
      // from two driver threads so one pillar's job tail back-fills the
      // other's idle cores (guide §2.6 "overlap independent jobs"); the
      // serve below starts only after both complete, so results are
      // byte-identical to the sequential build
      runBoth(() => {
        text.initIndex(docs.filter(pmod(col("doc_id"), lit(4)) < 2))
        text.ingestBatch(docs.filter(pmod(col("doc_id"), lit(4)) === 2), 0)(_ => ())
        text.ingestBatch(docs.filter(pmod(col("doc_id"), lit(4)) === 3), 1)(_ => ())
      }, () => {
        ann.initIndex(emb.filter(pmod(col("vec_id"), lit(4)) < 2))
        ann.ingestBatch(emb.filter(pmod(col("vec_id"), lit(4)) === 2), 0)(_ => ())
        ann.ingestBatch(emb.filter(pmod(col("vec_id"), lit(4)) === 3), 1)(_ => ())
      })
      searchRrf(text, ann, emb, graft.functions.Search.QueryTerms,
        emb.filter(col("vec_id") === 0), k = 10, depth = 20, nprobe = 3)
    } finally { text.close(); ann.close() }
  }
}
