package graft.plans

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Native form of the reference's `dml->msg` key derivation (O12,
  * core.clj:13-22): parse the DML JSON, sort the `id` object's entries by
  * field name, flatten to `[k1,v1,k2,v2,...]`, emit compact JSON. Returns
  * null for malformed payloads / missing non-object `id` (O13 routing).
  *
  * Versus the Scala UDF: operates on UTF8String bytes directly (jackson
  * parses the byte array — no String round-trip through the UDF
  * encoder boundary) and generates a direct static call inside whole-stage
  * codegen. [[DmlKey.derive]] is the one implementation of the rule:
  * CoreOps.dmlKeyJvm and its UDF form call it.
  */
case class DmlKey(child: Expression) extends UnaryExpression {

  override def prettyName: String = "dml_key"
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    DmlKey.derive(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // call through the Scala object instance — always resolvable from
    // generated Java regardless of static-forwarder emission
    val obj = "graft.plans.DmlKey$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = $obj.derive($c);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): DmlKey =
    copy(child = newChild)
}

object DmlKey {
  @transient private lazy val mapper = new ObjectMapper()

  /** Static entry point shared by eval and generated code. */
  def derive(dml: UTF8String): UTF8String = {
    if (dml == null) return null
    try {
      val root = mapper.readTree(dml.getBytes)
      val id = root.get("id")
      if (id == null || !id.isObject) return null
      val arr: ArrayNode = mapper.createArrayNode()
      id.fieldNames().asScala.toSeq.sorted.foreach { name =>
        arr.add(name)
        arr.add(id.get(name).deepCopy[JsonNode]())
      }
      UTF8String.fromBytes(mapper.writeValueAsBytes(arr))
    } catch { case _: Exception => null }
  }
}
