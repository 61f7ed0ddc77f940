package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-21 optimization: the per-group top-k in the ADC/PQ search paths
  * moved from a full-relation row_number window to the native
  * [[graft.plans.TopKPairs]] aggregate. These tests pin exact parity with
  * the window form — same rows, same ranks — on the edges a bench row
  * wouldn't isolate: score ties (id tiebreak), duplicate (score, id)
  * pairs, null scores (ASC NULLS FIRST), NaN (orders greatest), -0.0 vs
  * 0.0 (SQL-equal, id decides), groups smaller than k, and map-side
  * partial merges across many input partitions.
  */
class TopKParitySpec extends SparkSpec {

  private def windowForm(df: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("g").orderBy(col("s"), col("id"))
    df.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Bit-exact value for comparison: NaN == NaN, -0.0 != 0.0. */
  private def bits(v: Any): Any = v match {
    case d: java.lang.Double => java.lang.Double.doubleToLongBits(d)
    case x => x
  }

  private def assertParity(df: DataFrame, k: Int): Unit = {
    val want = windowForm(df, k).orderBy("g", "rk")
      .collect().map(r => (r.get(0), bits(r.get(1)), r.get(2), r.get(3))).toSeq
    val got = graft.functions.TopK.perGroup(df, "g", "s", "id", k).orderBy("g", "rk")
      .collect().map(r => (r.get(0), bits(r.get(2)), r.get(1), r.get(3))).toSeq
    // window emits (g, s, id, rk); perGroup emits (g, id, s, rk) — compare
    // as (g, s, id, rk)
    assert(got == want, s"k=$k\n got=${got.take(20)}\nwant=${want.take(20)}")
  }

  test("top_k_pairs matches the row_number window on ties, nulls, NaN, -0.0") {
    val sparkS = spark
    import sparkS.implicits._
    val rows = Seq[(Long, java.lang.Double, Long)](
      // group 1: plain values + tie on score (ids 11 < 12) + duplicate pair
      (1L, 0.5, 12L), (1L, 0.5, 11L), (1L, 0.1, 13L), (1L, 0.1, 13L),
      (1L, 2.0, 14L), (1L, -1.0, 15L),
      // group 2: null scores order first, NaN orders last
      (2L, null, 21L), (2L, Double.NaN, 22L), (2L, 3.0, 23L), (2L, null, 20L),
      // group 3: -0.0 == 0.0 in SQL ordering — id decides
      (3L, -0.0, 32L), (3L, 0.0, 31L),
      // group 4: fewer rows than k
      (4L, 9.0, 41L))
    val df = rows.toDF("g", "s", "id")
    for (k <- Seq(1, 2, 3, 10)) assertParity(df, k)
  }

  test("top_k_pairs matches the window across many partitions (partial merges)") {
    val sparkS = spark
    import sparkS.implicits._
    val rnd = new scala.util.Random(4242)
    val rows = (1 to 5000).map { i =>
      (rnd.nextInt(17).toLong, math.floor(rnd.nextDouble() * 20) / 4.0,
        rnd.nextInt(400).toLong)
    }
    val df = rows.toDF("g", "s", "id").repartition(16)
    for (k <- Seq(1, 5, 37)) assertParity(df, k)
  }

  test("top_k_pairs rejects a null k at analysis with a message naming k") {
    val sparkS = spark
    import sparkS.implicits._
    graft.plans.GraftExtensions.register(spark)
    val df = Seq((1L, 0.5, 11L)).toDF("g", "s", "id")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      df.groupBy(col("g")).agg(call_function("top_k_pairs", col("s"), col("id"),
        lit(null).cast("int"))))
    assert(e.getMessage.contains("non-null k"), e.getMessage)
  }
}
