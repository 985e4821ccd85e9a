package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Recursive JSON walks — SURVEY §2.9 F22/F23.
  *
  * F23 (`lambdas/html_to_orpml/govuk_extraction.py:7-22`): find every
  * value under `key` at ANY nesting depth, in the reference's exact
  * document-order DFS — at each object, the key's own value is yielded
  * FIRST, then each field value is descended if it is an object, and
  * each object ELEMENT of a list is descended (non-object list items and
  * nested lists are not walked, mirroring the reference).
  *
  * F22: full recursive flatten to (dotted.path[i], scalar) pairs — the
  * general form of the reference's attribute flattening for the Dynamo
  * sink, beyond the fixed dotted-path access of `p3_json_extract`.
  *
  * Both are native functions ([[graft.plans.NativeFn]]) over Jackson
  * (the JSON parser Spark itself ships), evaluated once per row inside
  * whole-stage codegen; no UDF/py round-trip. `json_find_key(json, key)`
  * returns array<string>; `json_flatten_paths(json)` returns
  * array<struct<path: string, value: string>>.
  */
object JsonWalkImpl {

  private val mapperTL = new ThreadLocal[ObjectMapper] {
    override def initialValue(): ObjectMapper = new ObjectMapper()
  }

  private def render(n: JsonNode): UTF8String =
    UTF8String.fromString(if (n.isTextual) n.asText else n.toString)

  def findKey(json: UTF8String, key: UTF8String): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val root =
      try mapperTL.get().readTree(json.toString)
      catch { case _: Exception => null }
    val k = key.toString
    def walk(n: JsonNode): Unit = {
      val hit = n.get(k)
      if (hit != null) out += render(hit)
      val fields = n.elements() // values in field (insertion) order
      while (fields.hasNext) {
        val v = fields.next()
        if (v.isObject) walk(v)
        else if (v.isArray) {
          val items = v.elements()
          while (items.hasNext) {
            val e = items.next()
            if (e.isObject) walk(e)
          }
        }
      }
    }
    if (root != null && root.isObject) walk(root)
    new GenericArrayData(out.toArray)
  }

  def flatten(json: UTF8String): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val root =
      try mapperTL.get().readTree(json.toString)
      catch { case _: Exception => null }
    def walk(prefix: String, n: JsonNode): Unit = {
      if (n.isObject) {
        val it = n.properties().iterator()
        while (it.hasNext) {
          val e = it.next()
          val p = if (prefix.isEmpty) e.getKey else s"$prefix.${e.getKey}"
          walk(p, e.getValue)
        }
      } else if (n.isArray) {
        var i = 0
        val it = n.elements()
        while (it.hasNext) {
          walk(s"$prefix[$i]", it.next())
          i += 1
        }
      } else {
        out += InternalRow(UTF8String.fromString(prefix), render(n))
      }
    }
    if (root != null) walk("", root)
    new GenericArrayData(out.toArray)
  }
}

object JsonWalk {
  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
  def json_find_key(json: Column, key: Column): Column =
    column(graft.plans.NativeFn.jsonFindKey(expression(json), expression(key)))
  def json_flatten_paths(json: Column): Column =
    column(graft.plans.NativeFn.jsonFlattenPaths(expression(json)))
}
