package graft.engine

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** JSON write-semantics of the reference, as pure functions + native
  * Catalyst expressions (CodegenFallback — no Scala UDF wrapping, keeps
  * them usable inside any Column expression tree).
  *
  * Semantics (see /root/reference):
  *  - null-strip: on PUT/POST, object fields whose value is JSON null are
  *    removed, recursively through nested objects (incl. objects inside
  *    arrays) — PrimaryWorker.scala:45-60, 92-96.
  *  - merge-patch: PATCH body merges SHALLOWLY over the existing body
  *    (top-level field replacement), then nulls are stripped — i.e. a
  *    null field in the patch deletes the field — PrimaryWorker.scala:
  *    297-304; fixtures HyperStorageSpec.scala:137-152.
  *    An empty resulting object means "no body" (engine stores null).
  */
object JsonOps {
  private val mapper = new ObjectMapper()

  def stripNulls(json: String): String = {
    val node = mapper.readTree(json)
    val out = stripNode(node)
    mapper.writeValueAsString(out)
  }

  private def stripNode(node: JsonNode): JsonNode = node match {
    case obj: ObjectNode =>
      val res = mapper.createObjectNode()
      val it = obj.fields()
      while (it.hasNext) {
        val e = it.next()
        if (!e.getValue.isNull) res.set[JsonNode](e.getKey, stripNode(e.getValue))
      }
      res
    case arr if arr.isArray =>
      val res = mapper.createArrayNode()
      arr.forEach(el => res.add(stripNode(el)))
      res
    case other => other
  }

  /** Shallow merge + null-delete. Returns None when the merged object is
    * empty (reference stores body None). Non-object inputs: the patch
    * replaces the document wholesale. */
  def mergePatch(existing: String, patch: String): Option[String] = {
    val e = mapper.readTree(existing)
    val p = mapper.readTree(patch)
    if (!e.isObject || !p.isObject) {
      if (p.isNull) None else Some(mapper.writeValueAsString(stripNode(p)))
    } else {
      val res = mapper.createObjectNode()
      e.fields().forEachRemaining(en => res.set[JsonNode](en.getKey, en.getValue))
      p.fields().forEachRemaining(pn => res.set[JsonNode](pn.getKey, pn.getValue))
      val stripped = stripNode(res)
      if (stripped.isEmpty) None else Some(mapper.writeValueAsString(stripped))
    }
  }

  /** Driver-side scalar extraction of a (dotted) field as text — used for
    * resume-key generation from the last row of a page
    * (IndexLogic.leastRowsFilterFields:108-165 reads the boundary value
    * from the last row's body). */
  def extractText(json: String, fieldPath: String): Option[String] = {
    var node: JsonNode = mapper.readTree(json)
    fieldPath.split('.').foreach { seg =>
      if (node != null) node = node.get(seg)
    }
    Option(node).filterNot(_.isNull).map { n =>
      if (n.isTextual) n.asText() else mapper.writeValueAsString(n)
    }
  }

  /** body ⊕ {"id": itemId} — id injection for collection items
    * (PrimaryWorker.scala:378-380). */
  def appendId(json: String, itemId: String): String = {
    val node = mapper.readTree(json)
    node match {
      case obj: ObjectNode =>
        obj.put("id", itemId)
        mapper.writeValueAsString(obj)
      case other => mapper.writeValueAsString(other)
    }
  }
}

case class JsonNullStrip(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(JsonOps.stripNulls(v.toString))
  override protected def withNewChildInternal(c: Expression): JsonNullStrip = copy(c)
}

case class JsonMergePatch(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val l = left.eval(input); val r = right.eval(input)
    if (r == null) l
    else if (l == null)
      JsonOps.mergePatch("{}", r.toString).map(UTF8String.fromString).orNull
    else JsonOps.mergePatch(l.toString, r.toString).map(UTF8String.fromString).orNull
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JsonMergePatch =
    copy(l, r)
}
