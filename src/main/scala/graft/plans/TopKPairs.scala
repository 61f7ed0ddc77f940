package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer for [[TopKPairs]]: parallel primitive arrays kept
  * sorted under the (score ASC NULLS FIRST, id ASC NULLS FIRST) total
  * order — i.e. exactly `Window.orderBy(col(score), col(id))`'s default
  * SortOrder. `flags` bit 0 = score is null, bit 1 = id is null. Insert is
  * a binary search (upper bound, so duplicates keep arrival order like
  * row_number does) plus one bounded arraycopy; merge is a two-pointer
  * array merge. Everything is primitive — no per-row object conversion,
  * which is what sank the typed `groupByKey` Aggregator attempt in round
  * 20 (+0.7 s per screen at bench scale).
  */
final class TopKPairsBuffer(val k: Int) {
  var n: Int = 0
  val flags: Array[Byte] = new Array[Byte](k)
  val scores: Array[Double] = new Array[Double](k)
  val ids: Array[Long] = new Array[Long](k)

  /** Spark SQL's double ordering: `x == y` first (so -0.0 == 0.0), then
    * java.lang.Double.compare (NaN greatest) — SQLOrderingUtil semantics. */
  @inline private def cmpDouble(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** < 0 if entry (f1,s1,id1) orders strictly before (f2,s2,id2). */
  @inline private def cmp(f1: Byte, s1: Double, id1: Long,
                          f2: Byte, s2: Double, id2: Long): Int = {
    val sn1 = (f1 & 1) != 0; val sn2 = (f2 & 1) != 0
    val c =
      if (sn1 && sn2) 0
      else if (sn1) -1
      else if (sn2) 1
      else cmpDouble(s1, s2)
    if (c != 0) c
    else {
      val in1 = (f1 & 2) != 0; val in2 = (f2 & 2) != 0
      if (in1 && in2) 0 else if (in1) -1 else if (in2) 1
      else java.lang.Long.compare(id1, id2)
    }
  }

  def insert(f: Byte, s: Double, id: Long): Unit = {
    if (n >= k && cmp(f, s, id, flags(n - 1), scores(n - 1), ids(n - 1)) >= 0)
      return // can't beat the current worst of a full buffer
    // upper bound: first index whose entry orders strictly after the new one
    var lo = 0; var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cmp(f, s, id, flags(mid), scores(mid), ids(mid)) < 0) hi = mid
      else lo = mid + 1
    }
    val last = math.min(n, k - 1) // index that the shifted tail ends at
    var i = last
    while (i > lo) {
      flags(i) = flags(i - 1); scores(i) = scores(i - 1); ids(i) = ids(i - 1)
      i -= 1
    }
    flags(lo) = f; scores(lo) = s; ids(lo) = id
    if (n < k) n += 1
  }

  /** Merge `other` into a fresh buffer (two-pointer over sorted arrays). */
  def mergedWith(other: TopKPairsBuffer): TopKPairsBuffer = {
    val out = new TopKPairsBuffer(k)
    var i = 0; var j = 0
    while (out.n < k && (i < n || j < other.n)) {
      val takeLeft =
        j >= other.n || (i < n &&
          cmp(flags(i), scores(i), ids(i),
            other.flags(j), other.scores(j), other.ids(j)) <= 0)
      if (takeLeft) {
        out.flags(out.n) = flags(i); out.scores(out.n) = scores(i)
        out.ids(out.n) = ids(i); i += 1
      } else {
        out.flags(out.n) = other.flags(j); out.scores(out.n) = other.scores(j)
        out.ids(out.n) = other.ids(j); j += 1
      }
      out.n += 1
    }
    out
  }
}

/** Native top-k-pairs aggregate: per group, keep the k (score, id) pairs
  * that rank first under (score ASC NULLS FIRST, id ASC NULLS FIRST) and
  * return them rank-ordered as `array<struct<score, id>>`. Exactly the
  * rows `row_number().over(Window.partitionBy(g).orderBy(score, id)) <= k`
  * keeps — but as an aggregation, so the partial (map-side) pass trims
  * every partition to O(k) per group and the exchange ships O(groups·k)
  * buffers instead of the whole scored relation (guide §2.3). Unlike the
  * typed `groupByKey` Aggregator form (rejected in round 20: +0.7 s per
  * screen), update() reads the two fields straight off the InternalRow —
  * no row↔object encoder round trip — so it wins at bench scale too.
  */
case class TopKPairs(
    scoreExpr: Expression,
    idExpr: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKPairsBuffer] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  override def prettyName: String = "top_k_pairs"
  override def children: Seq[Expression] = Seq(scoreExpr, idExpr, kExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1), kExpr = newChildren(2))

  override def checkInputDataTypes(): TypeCheckResult = {
    if (scoreExpr.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a double score, got ${scoreExpr.dataType.catalogString}")
    else if (idExpr.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a bigint id, got ${idExpr.dataType.catalogString}")
    else if (kExpr.dataType != IntegerType || !kExpr.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a literal int k")
    else if (kExpr.eval() == null)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a non-null k, got NULL")
    else if (k <= 0)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires k > 0, got $k")
    else TypeCheckResult.TypeCheckSuccess
  }

  // field nullability mirrors the inputs so the exploded output schema is
  // byte-identical to the window form's
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = scoreExpr.nullable),
      StructField("id", LongType, nullable = idExpr.nullable))),
    containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): TopKPairsBuffer = new TopKPairsBuffer(k)

  override def update(buffer: TopKPairsBuffer, input: InternalRow): TopKPairsBuffer = {
    val s = scoreExpr.eval(input)
    val id = idExpr.eval(input)
    var f = 0
    if (s == null) f |= 1
    if (id == null) f |= 2
    buffer.insert(f.toByte,
      if (s == null) 0.0 else s.asInstanceOf[Double],
      if (id == null) 0L else id.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: TopKPairsBuffer, input: TopKPairsBuffer): TopKPairsBuffer =
    buffer.mergedWith(input)

  override def eval(buffer: TopKPairsBuffer): Any = {
    val out = new Array[Any](buffer.n)
    var i = 0
    while (i < buffer.n) {
      val f = buffer.flags(i)
      out(i) = new GenericInternalRow(Array[Any](
        if ((f & 1) != 0) null else buffer.scores(i),
        if ((f & 2) != 0) null else buffer.ids(i)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buffer: TopKPairsBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buffer.n * 17)
    bb.putInt(buffer.n)
    var i = 0
    while (i < buffer.n) {
      bb.put(buffer.flags(i)); bb.putDouble(buffer.scores(i)); bb.putLong(buffer.ids(i))
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKPairsBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new TopKPairsBuffer(k)
    buf.n = n
    var i = 0
    while (i < n) {
      buf.flags(i) = bb.get(); buf.scores(i) = bb.getDouble(); buf.ids(i) = bb.getLong()
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
}
