package graftbench

import java.util.SplittableRandom

/** Seeded input generators shared by the workloads. Every generator is
  * driven by the workload seed, so the same seed gives identical inputs;
  * the program under test only ever sees what they produce. Shapes follow
  * the repository's synthetic test tables: documents of 10–100 words from
  * a 30-word vocabulary, `events` rows with five event types over 1,500
  * users (the relay's changelog generator is [[Relay.writeSegments]]). */
object Gen {
  val Vocab: Array[String] = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")
  val EventTypes: Array[String] = Array("signup", "purchase", "view", "click", "error")

  def words(rnd: SplittableRandom, n: Int): String =
    Iterator.fill(n)(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")

  /** Document `(doc_id, text)` rows with planted duplicates: each doc is an
    * exact copy of an earlier doc with `exactPct`% probability, a near copy
    * (two words replaced) with `nearPct`%, otherwise fresh text of 10–100
    * words. `pool` maps every text long enough to pass the curation gate to
    * the first doc id that carried it (its keeper); returns the docs and,
    * per planted exact copy, the keeper it copies. */
  def documents(rnd: SplittableRandom, firstId: Long, n: Int,
                pool: scala.collection.mutable.LinkedHashMap[String, Long],
                exactPct: Int, nearPct: Int): (Seq[(Long, String)], Map[Long, Long]) = {
    val exact = Map.newBuilder[Long, Long]
    val texts = pool.keys.toIndexedSeq
    def pick() = texts(rnd.nextInt(texts.size))
    val docs = (0 until n).map { i =>
      val id = firstId + i
      val roll = rnd.nextInt(100)
      val text =
        if (texts.nonEmpty && roll < exactPct) { val t = pick(); exact += id -> pool(t); t }
        else if (texts.nonEmpty && roll < exactPct + nearPct) {
          val ws = pick().split(' ')
          ws(rnd.nextInt(ws.length)) = "dup"
          ws(rnd.nextInt(ws.length)) = Vocab(rnd.nextInt(Vocab.length))
          ws.mkString(" ")
        } else words(rnd, 10 + rnd.nextInt(91))
      if (text.count(_ == ' ') + 1 >= graft.functions.Curation.MinTokens && !pool.contains(text))
        pool(text) = id
      (id, text)
    }
    (docs, exact.result())
  }
}
