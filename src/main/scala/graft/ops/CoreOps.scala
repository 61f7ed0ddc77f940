package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Reference-parity core column operations.
  *
  * Each is a pure `Column`/`DataFrame` transform with no I/O, mirroring the
  * operators catalogued in SURVEY.md §2.1:
  *
  *  - [[dmlKey]]            — O12, reference `core.clj:13-22` (`dml->msg`)
  *  - [[lastValuePerKey]]   — O2,  reference `kafka_ccd_store.clj:28-42`
  *  - [[activeOnly]]        — O6,  reference `jms_publisher.clj:132`
  *  - [[queueSchema]]/[[queueName]] — O11, reference `jms_publisher.clj:179`
  *  - [[splitMalformed]]    — O13, reference `jms_publisher.clj:160-186`
  */
object CoreOps {

  /** JVM-side key derivation, byte-parity with the reference's `dml->msg`
    * (core.clj:13-22): parse the DML JSON, take the `"id"` object, sort its
    * entries by field name, flatten to `[k1, v1, k2, v2, ...]`, serialize as
    * compact JSON. Scalar types are preserved exactly (ints stay ints,
    * strings stay quoted) because the parsed `JsonNode`s are re-emitted.
    *
    * Returns null for malformed input or a missing/non-object `id` — the
    * caller routes those to the dead-letter side (O13). The one
    * implementation of the rule is [[graft.plans.DmlKey.derive]]; this is
    * its `String` form.
    */
  def dmlKeyJvm(dml: String): String =
    Option(graft.plans.DmlKey.derive(UTF8String.fromString(dml))).map(_.toString).orNull

  /** Column form of [[dmlKeyJvm]]. A Scala UDF (not a Python UDF — stays in
    * the JVM, no serialization boundary); hot-path alternative would be a
    * codegen'd Catalyst Expression, but the UDF already runs inside
    * whole-stage codegen as a black-box call.
    */
  val dmlKey: Column => Column = {
    val f = udf((s: String) => dmlKeyJvm(s))
    (c: Column) => f(c)
  }

  /** O2 — last-write-wins compaction: for each key keep the row with the
    * highest `offset` (changelog → current state). Deterministic when
    * `offset` is unique per key (Kafka offsets are).
    *
    * Scale: one hash-partition shuffle on `key`; within partitions a
    * window/top-1 with no full sort needed per AQE. At 100 TB this is the
    * canonical "latest snapshot of a CDC changelog" query shape.
    */
  def lastValuePerKey(df: DataFrame, keyCols: Seq[String], offsetCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(offsetCol).desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Skew-safe variant of [[lastValuePerKey]]: two-phase argmax. Phase 1
    * spreads each key over `salts` sub-groups (salt derived from the offset,
    * so rows of one key land on `salts` different reducers); phase 2 takes
    * the argmax of the ≤`salts` partials per key. Use when one key dominates
    * the changelog (a hot row updated millions of times) — the hot key's
    * work parallelizes across `salts` tasks instead of one straggler.
    */
  def lastValuePerKeySalted(df: DataFrame, keyCols: Seq[String], offsetCol: String,
                            salts: Int = 16): DataFrame = {
    val valueStruct = struct(df.columns.toIndexedSeq.map(col): _*)
    df.withColumn("__salt", pmod(xxhash64(col(offsetCol)), lit(salts)))
      .groupBy(keyCols.map(col) :+ col("__salt"): _*)
      .agg(max_by(valueStruct, col(offsetCol)).as("__w"))
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(col("__w"), col(s"__w.$offsetCol")).as("__w"))
      .select(col("__w.*"))
  }

  /** O6 — status filter (`:active` CCDs only, jms_publisher.clj:132). */
  def activeOnly(df: DataFrame, statusCol: String = "status"): DataFrame =
    df.filter(col(statusCol) === "active")

  /** O11 — queue-ref parse `"SCHEMA.QUEUE"` (jms_publisher.clj:179). */
  def queueSchema(c: Column): Column = regexp_extract(c, "^([^.]+)\\.(.+)$", 1)
  def queueName(c: Column): Column   = regexp_extract(c, "^([^.]+)\\.(.+)$", 2)

  /** O13 — malformed-record routing. Splits a DataFrame of raw payloads into
    * (parsed-ok, dead-letter) by whether `parsedCol` is null. The reference
    * blocks the queue head on a poison message (jms_publisher.clj:173-176);
    * we dead-letter instead — a deliberate, documented improvement.
    */
  def splitMalformed(df: DataFrame, parsedCol: String): (DataFrame, DataFrame) =
    (df.filter(col(parsedCol).isNotNull), df.filter(col(parsedCol).isNull))
}
