package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition

/** Round-21: the maintained indexes' flush-window writes moved from a
  * hard `coalesce(1)` to [[graft.streaming.Pipelines.sizedForWrite]] —
  * byte-targeted parallelism so a large window never serializes its
  * resolve+write through one task. These tests pin the contract: small
  * (bench-scale) windows keep the narrow one-file layout, estimated-large
  * ones split toward the byte target, and a pathological (join-inflated)
  * estimate is capped at 64 write tasks. Assertions read the LOGICAL plan
  * head (no execution — .rdd under AQE would materialize the shuffle).
  */
class SizedWriteSpec extends SparkSpec {
  import graft.streaming.Pipelines.sizedForWrite

  /** (numPartitions, isShuffle) of the plan's top repartition node. */
  private def head(df: DataFrame): (Int, Boolean) =
    df.queryExecution.logical match {
      case Repartition(n, shuffle, _) => (n, shuffle)
      case other => fail(s"expected Repartition on top, got ${other.nodeName}")
    }

  test("small flush window keeps the narrow single-partition layout") {
    val sparkS = spark
    import sparkS.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"fp$i")).toDF("doc_id", "fp")
    assert(head(sizedForWrite(df)) == ((1, false)))
  }

  test("estimated-large window splits toward the byte target, capped at 64") {
    val sparkS = spark
    // a range this long is estimated at rows x 8 bytes - ~8 GiB: past the
    // 256 MiB per-task target but under the 64-task cap
    val (n, shuffled) = head(sizedForWrite(sparkS.range(0, 1L << 30).toDF()))
    assert(shuffled && n > 1 && n <= 64, s"got ($n, $shuffled)")
    // join-inflated estimate caps at 64 instead of exploding the file count
    val huge = sparkS.range(0, 1 << 20).crossJoin(sparkS.range(0, 1 << 20))
    assert(head(sizedForWrite(huge.toDF())) == ((64, true)))
  }

  test("the byte-target env knob parses a positive count and names itself on a bad value") {
    import graft.streaming.Pipelines.{DeltaWriteTargetEnv, parseWriteTargetBytes}
    assert(parseWriteTargetBytes(None) == 256L * 1024 * 1024)
    assert(parseWriteTargetBytes(Some(" 1048576 ")) == 1048576L)
    for (bad <- Seq("0", "-5", "64MB", "", "1e9", "99999999999999999999")) {
      val e = intercept[IllegalArgumentException](parseWriteTargetBytes(Some(bad)))
      assert(e.getMessage.contains(DeltaWriteTargetEnv) && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
  }
}
