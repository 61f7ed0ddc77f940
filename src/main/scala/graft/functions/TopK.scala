package graft.functions

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** One (query, candidate) scored pair. */
case class ScoredPair(query_id: Long, neighbor_id: Long, score: Double)

/** Bounded top-k buffer: parallel primitive arrays (native encoder, no
  * kryo), kept sorted by (score DESC, id ASC), length ≤ k. */
case class TopKBuf(scores: Array[Double], ids: Array[Long])

/** Typed top-k-by-score aggregator (SURVEY.md §7.3): per group keeps at
  * most k (score, id) pairs; map-side partial aggregation ships O(k) per
  * partition per group instead of sorting the whole group. The scale path
  * for "top-k neighbors per query" — shuffle volume O(groups·k),
  * independent of corpus size. Ordering ties break by lower id, matching
  * the declared ORDER BY score DESC, neighbor_id ASC.
  */
class TopKByScore(k: Int) extends Aggregator[ScoredPair, TopKBuf, TopKBuf] {

  private def trim(pairs: Seq[(Double, Long)]): TopKBuf = {
    val best = pairs.sortBy { case (s, id) => (-s, id) }.take(k)
    TopKBuf(best.map(_._1).toArray, best.map(_._2).toArray)
  }

  /** True if (s, id) ranks strictly before (s2, id2) under
    * (score DESC, id ASC). */
  @inline private def ranksBefore(s: Double, id: Long, s2: Double, id2: Long): Boolean =
    s > s2 || (s == s2 && id < id2)

  override def zero: TopKBuf = TopKBuf(Array.empty, Array.empty)

  /** The buffer is already sorted, so per-row work is a binary search for
    * the insertion point plus one bounded arraycopy — O(log k) compares,
    * no re-sort; rows that can't enter a full buffer return it untouched. */
  override def reduce(b: TopKBuf, x: ScoredPair): TopKBuf = {
    val n = b.scores.length
    if (n >= k && !ranksBefore(x.score, x.neighbor_id, b.scores(n - 1), b.ids(n - 1)))
      return b
    var lo = 0; var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ranksBefore(x.score, x.neighbor_id, b.scores(mid), b.ids(mid))) hi = mid
      else lo = mid + 1
    }
    val m = math.min(n + 1, k)
    val ss = new Array[Double](m); val ii = new Array[Long](m)
    System.arraycopy(b.scores, 0, ss, 0, lo)
    System.arraycopy(b.ids, 0, ii, 0, lo)
    ss(lo) = x.score; ii(lo) = x.neighbor_id
    val tail = m - lo - 1
    if (tail > 0) {
      System.arraycopy(b.scores, lo, ss, lo + 1, tail)
      System.arraycopy(b.ids, lo, ii, lo + 1, tail)
    }
    TopKBuf(ss, ii)
  }

  override def merge(a: TopKBuf, b: TopKBuf): TopKBuf =
    trim(a.scores.zip(a.ids).toSeq ++ b.scores.zip(b.ids).toSeq)
  override def finish(b: TopKBuf): TopKBuf = b
  override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  override def outputEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
}

object TopK {
  import org.apache.spark.sql.functions._

  /** Native top-k per group via [[graft.plans.TopKPairs]]: keeps exactly
    * the rows `row_number().over(Window.partitionBy(groupCol)
    * .orderBy(col(scoreCol), col(idCol))) <= k` would keep (ASC NULLS
    * FIRST on both keys, ranks 1..k), but as an aggregation — the
    * map-side partial pass trims every partition to O(k) per group, so
    * the exchange ships O(groups·k) instead of the full scored relation,
    * and there is no per-partition reduce-side sort of the corpus-scale
    * input (guide §2.3/§2.4). Output columns: exactly (groupCol, idCol,
    * scoreCol, rk), with the window form's values. Every other input
    * column is DROPPED — unlike the window form, which keeps them; a
    * caller that needs payload columns joins them back on
    * (groupCol, idCol).
    */
  def perGroup(df: DataFrame, groupCol: String, scoreCol: String,
               idCol: String, k: Int): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    df.groupBy(col(groupCol))
      .agg(call_function("top_k_pairs", col(scoreCol), col(idCol), lit(k)).as("_topk"))
      .select(col(groupCol), posexplode(col("_topk")).as(Seq("_pos", "_e")))
      .select(col(groupCol), col("_e.id").as(idCol), col("_e.score").as(scoreCol),
        (col("_pos") + 1).as("rk"))
  }
}

object TopKByScore {
  /** Collapse a DataFrame of (query_id, neighbor_id, score) rows to the
    * top-k per query with ranks — aggregation instead of a window sort. */
  def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.as[ScoredPair]
      .groupByKey(_.query_id)
      .agg(new TopKByScore(k).toColumn.name("topk"))
      .flatMap { case (qid, buf) =>
        buf.scores.zip(buf.ids).zipWithIndex.map { case ((s, id), i) =>
          (qid, id, s, i + 1)
        }
      }
      .toDF("query_id", "neighbor_id", "score", "rk")
  }
}
