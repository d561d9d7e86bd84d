package lakebench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** BENCHMARK.json, workloads.json and the code agree. */
class ContractSpec extends AnyFunSuite {
  private val json = new ObjectMapper()
  private val bench = json.readTree(new java.io.File("../BENCHMARK.json"))

  private def metrics(key: String): Seq[(String, String)] =
    bench.get(key).elements.asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("the result line carries exactly the metrics BENCHMARK.json lists") {
    assert(metrics("end_to_end") == Metrics.endToEnd)
    assert(metrics("per_layer") == Metrics.perLayer)
    val line = json.readTree(Metrics.resultLine(true, 3, 0, Metrics.endToEnd,
      Map("setup_s" -> 1.5)))
    assert(line.fieldNames.asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    assert(line.get("metrics").fieldNames.asScala.toSeq == Metrics.endToEnd.map(_._1))
    assert(line.get("metrics").get("setup_s").get("value").asDouble == 1.5)
  }

  test("every workload BENCHMARK.json names exists, and every parameter has a reason") {
    val names = bench.get("workloads").elements.asScala.map(_.get("name").asText).toSeq
    assert(names.forall(Main.workloads.contains))
    val params = json.readTree(new java.io.File("workloads.json"))
    for {
      group <- params.fields.asScala.toSeq
      p <- group.getValue.fields.asScala
    } {
      assert(!p.getValue.path("value").isMissingNode, s"${group.getKey}.${p.getKey} has no value")
      assert(p.getValue.path("why").asText.nonEmpty, s"${group.getKey}.${p.getKey} has no reason")
    }
  }
}
