package lakebench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Workload parameters from `workloads.json`: every value sits beside a
  * one-line reason, and lookups are by dotted path
  * (`"churn.rate_entries_per_s"`).
  */
final class Params(val root: JsonNode) {
  private def value(path: String): JsonNode = {
    val node = path.split('.').foldLeft(root)((n, k) => n.path(k)).path("value")
    require(!node.isMissingNode, s"workloads.json has no value at $path")
    node
  }
  def int(path: String): Int = value(path).asInt
  def double(path: String): Double = value(path).asDouble
  def string(path: String): String = value(path).asText
  def range(path: String): (Int, Int) = {
    val v = value(path)
    (v.get(0).asInt, v.get(1).asInt)
  }
  def strings(path: String): Seq[String] = value(path).elements.asScala.map(_.asText).toSeq
  def doubleMap(path: String): Seq[(String, Double)] =
    value(path).fields.asScala.map(e => e.getKey -> e.getValue.asDouble).toSeq

  /** The parameters of one workload (and the common ones) as `name=value`. */
  def describe(workload: String): Seq[String] =
    Seq("common", workload).flatMap { w =>
      root.path(w).fields.asScala.map(e => s"$w.${e.getKey}=${e.getValue.path("value")}")
    }
}

object Params {
  def load(path: String): Params =
    new Params(new ObjectMapper().readTree(new java.io.File(path)))
}
