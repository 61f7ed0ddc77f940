package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, UnaryExecNode, UnionExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledJoin}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVFADC — the canonical billion-scale ANN index (Jégou et al. 2011,
  * what Faiss calls `IVFx,PQy`): a coarse inverted-file quantizer ([[Ivf]])
  * partitions the corpus into cells, and product quantization ([[Pq]])
  * encodes each vector's RESIDUAL against its cell centroid. A query
  * probes only its `nprobe` nearest cells and scores the cells' PQ codes
  * with one ADC table per (query, cell) — built from the query's residual
  * in that cell, so `‖(q−c) − decode(codes)‖² ≈ ‖q − v‖²` exactly when v
  * lands in cell c.
  *
  * Scale shape: encoding is map-only (cell assignment + residual + PQ
  * codes in one scan stage, no Exchange — asserted in PlanAuditSpec);
  * search touches ~nprobe/nlist of the corpus as code lookups (8 bytes per
  * vector at m=8), with the query×probed-cell relation broadcast; the
  * optional exact re-rank reads only |queries|·shortlist raw vectors via a
  * broadcast join. Residual encoding beats raw-vector PQ because residuals
  * concentrate near zero, so the same 16 codewords per subspace cover a
  * much tighter distribution.
  */
object Ivfadc {

  /** Coarse centroids + residual PQ codebook. */
  final case class Model(centroids: Array[Array[Double]], cb: Pq.Codebook)

  private def centLit(centroids: Array[Array[Double]]): Column =
    typedlit(centroids.map(_.toIndexedSeq).toIndexedSeq)

  /** v − centroid[cell], as doubles. `cell` is 0-based. */
  private def residual(emb: Column, cell: Column, centroids: Array[Array[Double]]): Column =
    zip_with(emb.cast("array<double>"), element_at(centLit(centroids), cell + 1),
      (x, c) => x - c)

  /** Train coarse cells on the corpus, then a PQ codebook on the residuals.
    * The cell metric is [[Ivf.assignCells]]'s cosine argmax (consistent
    * with the rest of the engine); ADC distances are squared L2 on
    * residuals, which is exact for `‖q − v‖²` within a shared cell
    * regardless of the cell-assignment metric. */
  def train(corpus: DataFrame, nlist: Int = 8, m: Int = 8, k: Int = 16): Model = {
    // ONE corpus count sizes both stages' cap-bounded samples: the
    // residual relation has the same cardinality, and letting Pq.train
    // count it would re-run the whole assign+residual map stage just to
    // learn a number already known
    val n = corpus.count()
    val centroids = Ivf.train(corpus, nlist, iters = 2,
      sampleMod = Ivf.boundedModFor(n, nlist))
    val resid = Ivf.assignCells(corpus, centroids)
      .select(col("vec_id"),
        residual(col("embedding"), col("cell"), centroids).as("embedding"))
    // dimHint: the residual's width is the corpus dim, already known from
    // the coarse centroids — skips Pq.train's dimension-probe job
    Model(centroids, Pq.train(resid, m, k, iters = 2,
      sampleMod = Ivf.boundedModFor(n, k),
      dimHint = centroids.headOption.map(_.length).getOrElse(0)))
  }

  /** Map-only encoding: vec_id, cell, PQ codes of the residual. One scan
    * stage — the centroid and codebook matrices ride inlined in the plan,
    * the corpus is never shuffled, joined, or grouped. */
  def encode(corpus: DataFrame, model: Model): DataFrame =
    Pq.encode(
      Ivf.assignCells(corpus, model.centroids)
        .select(col("vec_id"), col("cell"),
          residual(col("embedding"), col("cell"), model.centroids).as("embedding")),
      model.cb)
      .select(col("vec_id"), col("cell"), col("codes"))

  /** [[encode]] plus the per-row assign-similarity in the SAME map pass:
    * one extra column `_simq` = floor(cosine(v, centroid[cell]) · 1e6)
    * (the drift gauge's exact integer micro-units). The maintained index
    * used to pay a whole second corpus pass (`assignCells` + agg) — or a
    * join back to the batch — just for this aggregate; emitting it
    * alongside the codes lets the caller collect it with `observe()` on
    * the very write job that persists the codes, at zero extra jobs.
    * Dropping `_simq` recovers [[encode]]'s exact output. */
  def encodeWithSim(corpus: DataFrame, model: Model): DataFrame =
    Pq.encode(
      Ivf.assignCells(corpus, model.centroids)
        .select(col("vec_id"), col("cell"),
          floor(Similarity.cosineNative(col("embedding"),
            element_at(centLit(model.centroids), col("cell") + 1)) *
            lit(1.0e6)).cast("long").as("_simq"),
          residual(col("embedding"), col("cell"), model.centroids).as("embedding")),
      model.cb)
      .select(col("vec_id"), col("cell"), col("codes"), col("_simq"))

  /** Request-sized query batches prune the code-store SCAN to the probed
    * cells ([[search]]); past this many queries the probed union nears
    * nlist and the batch amortizes a full scan anyway, so pruning is
    * skipped (and the extra |q|×nlist ranking pass with it). */
  val MaxPruneQueries = 256

  /** Input splits of a planned code scan, read off the physical plan
    * without running it: file scans report their split count, a union
    * sums its children, a broadcast join counts its streamed side and a
    * shuffled join (the oversized-tier fallback) its shuffle partitions.
    * A leaf that is not a file scan (an in-memory relation) counts zero,
    * so such a scan always takes the parallelism floor in [[search]]. */
  private def scanSplits(p: SparkPlan): Int = p match {
    case f: FileSourceScanExec => f.inputRDD.getNumPartitions
    case u: UnionExec => u.children.map(scanSplits).sum
    case j: BroadcastHashJoinExec =>
      scanSplits(if (j.buildSide == BuildRight) j.left else j.right)
    case j: ShuffledJoin => j.conf.numShufflePartitions
    case u: UnaryExecNode => scanSplits(u.child)
    case _ => 0
  }

  /** Probe `nprobe` cells per query, ADC-score only those cells' codes,
    * keep top k per query by approximate distance.
    *
    * Scan pruning: for a request-sized query batch the (query, cell, ADC
    * table) relation is materialized ONCE — one driver collect of
    * ≤ |q|·nprobe rows (the same bytes the broadcast join side ships
    * anyway) — and serves BOTH the `isin` filter on the code side and
    * the broadcast join. Because the filter and the join read the same
    * collected probe set, they cannot disagree even when `queries` is
    * nondeterministic (sample(), rand-derived — a double execution of
    * the input can't drop cells), and the serving path pays one job for
    * the probe ranking instead of two plus a guard count. Callers that
    * know their batch size pass `knownQueryCount` and skip the guard
    * count entirely. Against the cell-clustered base layout
    * ([[graft.streaming.MaintainedAnnIndex]] writes bases hash-clustered
    * by cell and sorted within partitions — deliberately NOT
    * range-partitioned, whose sampling pass would re-run the encode for
    * a measured +15-20%; row-group skips only need within-file cell
    * locality) the filter turns into parquet row-group skips, so a
    * 20-query search touches ~nprobe/nlist of a billion-row store's
    * BYTES, not just of its ADC arithmetic; in the batch topologies
    * (x31) the same filter pushes below the in-plan encode and prunes
    * the encode work to probed cells. Results are identical by
    * construction — the join would drop every filtered row anyway. */
  def search(encoded: DataFrame, queries: DataFrame, model: Model,
             k: Int, nprobe: Int,
             knownQueryCount: Option[Long] = None): DataFrame = {
    val spark = encoded.sparkSession
    graft.plans.GraftExtensions.register(spark)
    import spark.implicits._
    val m = model.cb.length
    val cdf = model.centroids.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("cell", "c_emb")
    val probeW = Window.partitionBy("query_id").orderBy(col("c_sim").desc, col("cell"))
    // per probed cell, the query's ADC table is built from ITS residual in
    // that cell — the same residual frame the corpus codes live in
    // probes WITHOUT the ADC tables: the bounded-take verification below
    // materializes this thin relation, so the expensive per-row m·k-float
    // table construction is never built just to be discarded (and the
    // collected rows are q_emb-sized, not table-sized); tables attach
    // AFTER the prune decision, to whichever side serves the join
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(cdf))
      .select(col("query_id"), col("q_emb"), col("cell"),
        Similarity.cosineNative(col("q_emb"), col("c_emb")).as("c_sim"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("cell"))
    def withAdcTab(df: DataFrame): DataFrame = df
      .withColumn("tab",
        Pq.adcTable(residual(col("q_emb"), col("cell"), model.centroids), model.cb))
      .select(col("query_id"), col("cell"), col("tab"))
    val nq = knownQueryCount.getOrElse(queries.limit(MaxPruneQueries + 1).count())
    val (joinSide, scanSide) =
      if (nq > 0 && nq <= MaxPruneQueries) {
        // Materialize AT MOST what a truthful count implies (≤ nq·nprobe
        // ≤ MaxPruneQueries·nprobe rows). knownQueryCount is public API:
        // a caller that understates its batch size must degrade to the
        // full-scan plan, not route an arbitrarily large probe relation
        // into a driver collect (|q|·nprobe rows of query embeddings).
        val bound = MaxPruneQueries * nprobe
        val rows = probes.take(bound + 1)
        if (rows.length > bound) (withAdcTab(probes), encoded)
        else {
          val cellIdx = probes.schema.fieldIndex("cell")
          val cells = rows.map(_.getInt(cellIdx)).distinct.toSeq
          import scala.jdk.CollectionConverters._
          val local = spark.createDataFrame(rows.toSeq.asJava, probes.schema)
          (withAdcTab(local), encoded.filter(col("cell").isin(cells.map(Int.box): _*)))
        }
      } else (withAdcTab(probes), encoded)
    // Scan-side parallelism FLOOR (guide §8: cheap bytes, expensive
    // compute). ADC scoring does |probes-in-cell| table-scores per code
    // row, so a scan with fewer splits than cores under-parallelizes the
    // whole screen: the 20× scale probe measured an AQE-coalesced
    // one-file layout's entire scan+score+top-k stage as ONE 117 s task
    // (8-vs-32-core ratio 0.99). When the planned scan has fewer input
    // splits than the session has cores, a round-robin repartition of
    // the code rows (tiny bytes — ~12 B/vector) costs one code-sized
    // shuffle and restores full-core scoring. The maintained indexes
    // write their code layouts with at least that many files, so their
    // serves skip the shuffle; the batch x30/x31 path, which encodes
    // in-plan from a few corpus files, keeps it.
    val par = spark.sparkContext.defaultParallelism
    val scanPar =
      if (scanSplits(scanSide.queryExecution.sparkPlan) < par) scanSide.repartition(par)
      else scanSide
    val scored = scanPar.join(broadcast(joinSide), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(Pq.adcScore(col("tab"), col("codes"), m), 4).as("adist"))
    // top-k per query is the NATIVE TopKPairs aggregate (round 20 flagged
    // this as the follow-up): the row_number window exchanged and sorted
    // the FULL scored relation (~nprobe/nlist of the corpus per batch);
    // the typed groupByKey heap (rejected in r20, +0.7 s/screen) paid a
    // per-row object conversion. TopKPairs trims map-side on primitive
    // buffers, so the exchange ships O(queries·k) and neither regime pays
    // a corpus-fraction sort — identical rows/ranks by construction
    // (TopKParitySpec pins window parity incl. ties and nulls).
    TopK.perGroup(scored, "query_id", "adist", "neighbor_id", k)
  }

  /** ADC shortlist + exact squared-L2 re-rank over the raw vectors (same
    * ADC+R refinement as [[Pq.searchRerank]], restricted to probed cells). */
  def searchRerank(corpus: DataFrame, encoded: DataFrame, queries: DataFrame,
                   model: Model, k: Int, nprobe: Int,
                   shortlistFactor: Int = 8,
                   knownQueryCount: Option[Long] = None): DataFrame = {
    val short = search(encoded, queries, model, shortlistFactor * k, nprobe,
      knownQueryCount)
      .select(col("query_id"), col("neighbor_id"))
    val qdf = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val exact = corpus
      .join(broadcast(short), corpus("vec_id") === short("neighbor_id"))
      .join(broadcast(qdf), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Pq.sqDist(col("embedding").cast("array<double>"),
          col("q_emb").cast("array<double>")), 4).as("dist"))
    TopK.perGroup(exact, "query_id", "dist", "neighbor_id", k)
  }

  // session model cache — same rationale as Pq.cachedCodebook: the
  // IVF+PQ model is an index-build artifact, deterministic, reused by
  // every query against the same corpus version.
  private val modelCache = graft.GraftCaches.register(
    new java.util.concurrent.ConcurrentHashMap[String, Model]())

  private[functions] def cachedModel(s: SparkSession, dir: String): Model = {
    val key = s"${System.identityHashCode(s)}|$dir"
    modelCache.computeIfAbsent(key, _ => train(graft.Tables.embeddings(s, dir)))
  }

  /** Declared query — full hash oracle ([[graft.AnnOracleSql.x31OracleSql]]
    * unrolls BOTH k-means training stages as DuckDB CTEs; the exact
    * integer-unit Lloyd means make the model engine-reproducible), plus
    * recall + plan tests. Serves from the session-cached model. */
  def x31IvfadcAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val model = cachedModel(s, dir)
    searchRerank(emb, encode(emb, model), emb.filter(col("vec_id") < 20),
      model, k = 3, nprobe = 3, knownQueryCount = Some(20L))
      .orderBy(col("query_id"), col("rk"))
  }
}
