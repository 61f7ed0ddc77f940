package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Full-text retrieval over the document corpus: BM25 scoring and the
  * inverted index that classic search engines build from the same token
  * relation. Together with the ANN family (x08/x09/x13/x30/x31) this gives
  * the engine both halves of hybrid retrieval — lexical and dense.
  *
  * Scale shape:
  *  - x32 BM25 never explodes the corpus: per-query-term term frequencies
  *    are computed as map-only array expressions (the query term set is a
  *    compile-time constant, a handful of columns), the corpus statistics
  *    (N, avgdl, per-term document frequencies) aggregate to ONE row that is
  *    broadcast back via a cross join, and the top-k is
  *    TakeOrderedAndProject — no global sort, no shuffle of the corpus at
  *    all. At 100 TB this is one scan + a scalar-sized agg.
  *  - x33 builds posting lists with the document side capped BEFORE
  *    collection (row_number ≤ cap → WindowGroupLimit map-side prune, the
  *    x20 pattern), so a degenerate hot term can never pull its whole
  *    posting universe into one task; term statistics (df, total tf) come
  *    from the full relation in a parallel hash agg. Both sides shuffle on
  *    the term key once and join co-partitioned.
  */
object Search {

  /** BM25 free parameters (Robertson–Walker defaults). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** The standing query for the declared x32 slice. */
  val QueryTerms: Seq[String] = Seq("hash", "join", "window", "vector")

  /** Rational (log-free) idf: (N - df + 0.5) / (df + 0.5). Monotone in the
    * classic log idf; kept log-free so every arithmetic op in the score is
    * an IEEE +,-,*,/ (correctly rounded, bit-identical across engines) and
    * the DuckDB oracle hash-matches — the x28 precedent. */
  private def idfR(n: Column, df: Column): Column =
    (n - df + lit(0.5)) / (df + lit(0.5))

  /** One query term's BM25 contribution given staged tf/dl/avgdl columns.
    * `private[graft]` so the maintained text index scores with the SAME
    * arithmetic (parity between the incremental and batch paths is pinned
    * bit-for-bit, association order included). */
  private[graft] def termScore(tf: Column, dl: Column, n: Column, df: Column,
                               avgdl: Column): Column =
    idfR(n, df) * (tf * lit(Bm25K1 + 1.0)) /
      (tf + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * dl / avgdl))

  /** x32 — BM25 top-k retrieval for [[QueryTerms]]: per-doc tf via map-only
    * array filters, corpus stats as a single broadcast row, score as pure
    * column arithmetic, top 20 docs. Docs matching no term score 0 and are
    * filtered before the top-k. */
  def x32Bm25TopK(s: SparkSession, dir: String): DataFrame =
    bm25TopK(documents(s, dir), QueryTerms, 20)

  /** The x32 scorer over an arbitrary `(doc_id, text)` relation — the
    * batch twin the maintained text index pins its search parity against
    * ([[graft.streaming.MaintainedTextIndex]]). */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val base = docs
      .withColumn("toks", Text.tokens(col("text")))
      .select(col("doc_id") +: size(col("toks")).as("dl") +:
        terms.map(t =>
          size(filter(col("toks"), x => x === lit(t))).as(s"tf_$t")): _*)
    // one row: corpus size, total token count (for exact avgdl), per-term df
    val statAggs = count(lit(1)).as("n_docs") +: sum(col("dl")).as("sum_dl") +:
      terms.map(t =>
        sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    // left-to-right sum so the association order matches the oracle SQL
    val score = terms.map(t =>
      termScore(col(s"tf_$t"), col("dl"), col("n_docs"), col(s"df_$t"), avgdl))
      .reduceLeft(_ + _)
    base.crossJoin(broadcast(stats))
      .select(col("doc_id"), score.as("raw"),
        terms.map(t => (col(s"tf_$t") > 0).cast("int")).reduceLeft(_ + _)
          .as("n_matched"))
      .filter(col("n_matched") > 0)
      .orderBy(col("raw").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), round(col("raw"), 4).as("bm25"), col("n_matched"))
  }

  /** RRF constant (Cormack et al. 2009's k=60). */
  val RrfK = 60

  /** Depth of each source ranking feeding the fusion. */
  val RrfDepth = 50

  /** x41 — hybrid retrieval via reciprocal-rank fusion: the BM25 lexical
    * ranking (x32's scorer) and a dense cosine ranking (d20's scorer, query
    * = embedding 0, joined on doc_id = vec_id for the demo corpus) each
    * contribute 1/(k + rank); a doc missing from one ranking contributes 0
    * from that side. Rank fusion is how production hybrid search combines
    * incomparable score scales without calibration. Both source rankings
    * are top-[[RrfDepth]] heaps (query-sized, broadcast-joinable), so the
    * fusion itself is control-plane work — the corpus cost is exactly one
    * BM25 scan + one dense scan. */
  def x41HybridRrf(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.register(s)
    val lex = x32Bm25TopK(s, dir).limit(RrfDepth)
      .select(col("doc_id").as("id"),
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))).as("r_lex"))
    val emb = graft.Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val dense = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id").as("id"),
        round(Similarity.cosineNative(col("embedding"), col("q_emb")), 4).as("dscore"))
      .orderBy(col("dscore").desc, col("id")).limit(RrfDepth)
      .select(col("id"),
        row_number().over(Window.orderBy(col("dscore").desc, col("id"))).as("r_dense"))
    rrfFuse(lex, dense, 10)
  }

  /** The x41 reciprocal-rank fusion over two `(id, r_lex)` / `(id,
    * r_dense)` rank relations — extracted so the maintained hybrid path
    * ([[graft.streaming.HybridRetrieval]]) fuses with the identical
    * arithmetic. Both inputs are top-depth heaps (control-plane sized),
    * so the full join is broadcast work. */
  def rrfFuse(lex: DataFrame, dense: DataFrame, k: Int): DataFrame = {
    val rrf = (r: Column) =>
      coalesce(lit(1.0) / (lit(RrfK) + r), lit(0.0))
    lex.join(dense, Seq("id"), "full")
      .select(col("id"), col("r_lex"), col("r_dense"),
        round(rrf(col("r_lex")) + rrf(col("r_dense")), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(k)
  }

  /** [[rrfFuse]] with query_id carried through: a BATCH of queries fuses
    * in one plan, and rank lists can never interleave across queries.
    * Inputs: `(query_id, id, r_lex)` / `(query_id, id, r_dense)`, both
    * per-query top-depth heaps with at most one row per (query_id, id).
    *
    * The outer join is a union of the two sides folded by (query_id,
    * id) — the same rows as a full join, since each side holds a pair at
    * most once. Unlike a full join, whose output partitioning Spark
    * cannot name, the union keeps a partitioning both sides share: when
    * both arrive hash-partitioned by query_id (the maintained hybrid
    * path), the fold and the top-k window run without any exchange.
    * Output: per-query top-k, sorted (rrf desc, id) within each query
    * and grouped by query — NOT in global query_id order, which would
    * cost a range exchange and its sampling job; for one query it is
    * row-identical to [[rrfFuse]]. */
  def rrfFuseByQuery(lex: DataFrame, dense: DataFrame, k: Int): DataFrame = {
    val rrf = (r: Column) =>
      coalesce(lit(1.0) / (lit(RrfK) + r), lit(0.0))
    val none = lit(null).cast("int")
    lex.select(col("query_id"), col("id"), col("r_lex"), none.as("r_dense"))
      .unionByName(dense.select(col("query_id"), col("id"), none.as("r_lex"),
        col("r_dense")))
      .groupBy(col("query_id"), col("id"))
      .agg(max(col("r_lex")).as("r_lex"), max(col("r_dense")).as("r_dense"))
      .select(col("query_id"), col("id"), col("r_lex"), col("r_dense"),
        round(rrf(col("r_lex")) + rrf(col("r_dense")), 6).as("rrf"))
      .withColumn("_rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("rrf").desc, col("id"))))
      .filter(col("_rk") <= k).drop("_rk")
      .sortWithinPartitions(col("query_id"), col("rrf").desc, col("id"))
  }

  /** Max docs retained per posting list. Oversized terms keep their df /
    * total-tf statistics exact; only the materialized posting sample is
    * capped (the Dedup.MaxBucket philosophy: never let one hot key gather
    * unbounded state in a single task). */
  val MaxPostings = 16

  /** x33 — inverted index: term → document frequency, total term frequency,
    * and a capped, doc_id-ordered posting list (rendered as a string for a
    * stable oracle comparison, the d27 pattern).
    *
    * The explicit `repartition(term)` up front is the load-bearing move:
    * hash-partitioning on `term` satisfies the clustering requirement of
    * EVERY downstream operator — the (term, doc_id) aggregate, the term
    * stats aggregate, the posting window, and the final join — so the whole
    * index build rides ONE corpus shuffle, and because both consumers share
    * that exchange node Spark reuses it (ReusedExchange) instead of
    * re-running the tokenize+explode pipeline per branch. PlanAuditSpec
    * pins both properties. */
  def x33InvertedIndex(s: SparkSession, dir: String): DataFrame =
    invertedIndexOfTf(
      documents(s, dir)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
        .repartition(col("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf")))

  /** The x33 rollup from an already-built `(term, doc_id, tf)` relation —
    * shared by the batch path above and the maintained text index (whose
    * STORED postings are exactly this relation, so the same artifact
    * serves both BM25 search and inverted-index builds). */
  def invertedIndexOfTf(tf: DataFrame): DataFrame = {
    val stats = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
    // WindowGroupLimit prunes to ≤ MaxPostings per term map-side before the
    // collect_list ever sees a row
    val capped = tf
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("term")).orderBy(col("doc_id"))))
      .filter(col("rn") <= MaxPostings)
      .groupBy(col("term"))
      .agg(array_join(sort_array(collect_list(col("doc_id"))), ",")
        .as("postings"))
    stats.join(capped, Seq("term"))
      .select(col("term"), col("df"), col("total_tf"), col("postings"))
      .orderBy(col("term"))
  }

  /** Keywords kept per document in the declared x47 slice. */
  val TfidfTopK = 3

  /** x47 — per-document top-k keywords by TF-IDF, the classic content
    * descriptor a curation pipeline attaches for topic bucketing and
    * facet search. IDF is the smooth RATIONAL form (N+1)/(df+1) — log-free
    * like x32's idf, so every arithmetic op is an IEEE +,/,* and the
    * DuckDB oracle hash-matches bit-for-bit.
    *
    * Scale shape: x33's single-exchange discipline — one corpus shuffle on
    * the term key feeds both the (term, doc) tf aggregate and the df
    * aggregate derived from it, and the tf⋈df equi-join is co-partitioned
    * on that same exchange (ReusedExchange, no re-scan). N is one
    * control-plane scalar. The final per-doc top-k is a literal-bounded
    * row_number window (WindowGroupLimit prunes map-side) over the one
    * remaining shuffle on doc_id. */
  def x47TfidfTopK(s: SparkSession, dir: String, k: Int = TfidfTopK): DataFrame = {
    // corpus size IN-PLAN (1-row aggregate broadcast into the score
    // projection) instead of a driver count() round trip before the real
    // job — the searchMany df pattern (guide §5: no driver collects in
    // query paths); the count scan schedules concurrently with the tf scan
    val nRel = documents(s, dir).agg(count(lit(1)).as("n_total"))
    val tf = documents(s, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      .repartition(col("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, Seq("term")).crossJoin(broadcast(nRel))
      .select(col("doc_id"), col("term"),
        round(col("tf") * ((col("n_total") + lit(1.0)) / (col("df") + lit(1.0))), 4)
          .as("score"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("term"), col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Feature-hashing dimensionality for x73. */
  val HashDims = 64

  /** x73 — hashed features (the "hashing trick" vectorizer, HashingTF's
    * relational form): every document becomes a fixed-[[HashDims]]-dim
    * term-count vector with bucket = md5(term) mod D — no vocabulary table,
    * no fit step, which is what makes it the streaming/100 TB-safe
    * vectorizer (a new term never changes the schema). Emits the vector as
    * a comma-joined string (the d27/x33 stable-compare convention), plus
    * the token count and the exact integer squared norm. All arithmetic is
    * integer, so the oracle matches bit-for-bit. Scale shape: one
    * (doc, bucket) exchange with map-side partial sums (≤ D rows per doc
    * per task); the vector rebuild is a per-doc map lookup over the
    * control-plane-sized dimension range. */
  def x73HashedFeatures(s: SparkSession, dir: String,
                        dims: Int = HashDims): DataFrame = {
    val g1 = documents(s, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      .withColumn("bucket",
        pmod(conv(substring(md5(col("term")), 1, 4), 16, 10).cast("int"), lit(dims)))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("v"))
    val g2 = g1.groupBy(col("doc_id"))
      .agg(sum(col("v")).as("n_tokens"),
        sum(col("v") * col("v")).as("norm_sq"),
        map_from_entries(collect_list(struct(col("bucket"), col("v")))).as("m"))
      .select(col("doc_id"), col("n_tokens"), col("norm_sq"),
        array_join(transform(sequence(lit(0), lit(dims - 1)),
          i => coalesce(element_at(col("m"), i), lit(0L))), ",").as("vec"))
    documents(s, dir).select(col("doc_id"))
      .join(g2, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("norm_sq"), lit(0L)).as("norm_sq"),
        coalesce(col("vec"),
          lit(Seq.fill(dims)("0").mkString(","))).as("vec"))
      .orderBy(col("doc_id"))
  }
}
