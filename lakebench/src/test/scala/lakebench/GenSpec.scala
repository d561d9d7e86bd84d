package lakebench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val params = Params.load("workloads.json")
  private val mix = ChurnMix(1, 10, deleteShare = 0.1, putThenDeleteShare = 0.3,
    newShare = 0.03, repeatShare = 0.15, zipfS = 1.0, malformedShare = 0.05)

  /** Everything a run feeds the engine, as bytes: journal lines of the
    * backlog, then the wire values of every churn tick.
    */
  private def inputs(seed: Long): String = {
    val g = new Gen(seed, params)
    val backlog = g.backfill(1000, 1, 50)
    val ticks = Seq.fill(30)(g.churnTick(20, mix))
    (backlog.map(Gen.journalLine(_)) ++
      ticks.flatten.map(b => s"${b.partition}/${b.offset}/${b.value}")).mkString("\n")
  }

  test("the same seed gives byte-identical inputs; another seed does not") {
    assert(new Gen(1, params).backfill(1234, 1, 50).map(_.entries.size).sum == 1234)
    assert(inputs(7) == inputs(7))
    assert(inputs(7) != inputs(8))
  }

  test("every bundle is valid JSON unless marked malformed, and keys stay on their partition") {
    val json = new ObjectMapper()
    val g = new Gen(3, params)
    val bundles = g.backfill(800, 1, 50) ++ Seq.fill(40)(g.churnTick(20, mix)).flatten
    assert(bundles.exists(_.malformed))
    bundles.foreach { b =>
      if (b.malformed) assertThrows[Exception](json.readTree(b.value))
      else {
        val entries = json.readTree(b.value).get("entry")
        assert(entries.size == b.entries.size)
        b.entries.foreach(e => assert(Gen.partitionOf(e.res.url, 4) == b.partition))
        assert(b.entries.map(_.res.url).distinct.size == b.entries.size,
          "a URL appears at most once per bundle, so offsets never tie")
      }
    }
    bundles.groupBy(_.partition).values.foreach { bs =>
      val offs = bs.map(_.offset)
      assert(offs == offs.sorted && offs.distinct.size == offs.size)
    }
    // every journal line is an envelope whose bundle field round-trips
    bundles.filterNot(_.malformed).take(20).foreach { b =>
      assert(json.readTree(Gen.journalLine(b)).get("bundle").asText == b.value)
    }
  }

  private def res(id: String, v: Int) =
    Res("Observation", id, v, "final", "8867-4", 100L * v, "p1", "female", 1)
  private def bundle(off: Long, es: Entry*) = Bundle(0, off, es, malformed = false)

  test("expected state: latest wins across bundles and PUT-then-DELETE ends deleted") {
    val s = new State(1)
    s(bundle(0, Entry("PUT", res("a", 1)), Entry("PUT", res("b", 1))))
    s(bundle(1, Entry("PUT", res("a", 2))))
    assert(s.live("Observation/a").version == 2)
    // PUT then DELETE of the same URL (one batch or two): deleted
    s(bundle(2, Entry("PUT", res("b", 2))))
    s(bundle(3, Entry("DELETE", res("b", 2))))
    assert(!s.live.contains("Observation/b"))
    // DELETE then PUT: the later PUT wins and the id is live again
    s(bundle(4, Entry("DELETE", res("a", 2))))
    s(bundle(5, Entry("PUT", res("a", 3))))
    assert(s.live("Observation/a").version == 3)
    // a malformed bundle changes nothing
    s(Bundle(0, 6, Seq(Entry("DELETE", res("a", 3))), malformed = true))
    assert(s.live.contains("Observation/a"))
    // deleting an id that is not live is a no-op
    s(bundle(7, Entry("DELETE", res("zz", 1))))
    assert(s.live.keySet == Set("Observation/a"))
    assert(s.pool("Observation", 0) == Seq("a"))
  }

  test("churn keeps the id pools equal to the live set") {
    val g = new Gen(5, params)
    g.backfill(1200, 1, 50)
    val ticks = Seq.fill(100)(g.churnTick(30, mix)).flatten
    assert(ticks.exists(_.entries.exists(_.method == "DELETE")))
    val fromPools = for {
      t <- params.doubleMap("common.type_mix").map(_._1)
      p <- 0 until 4
      id <- g.state.pool(t, p)
    } yield s"$t/$id"
    assert(fromPools.toSet == g.state.live.keySet)
    assert(fromPools.size == g.state.live.size)
  }

  test("rendered resources carry the fields the verification reads") {
    val r = res("abc", 4).copy(cents = 12345)
    val n = new ObjectMapper().readTree(r.json)
    assert(n.get("id").asText == "abc")
    assert(n.get("meta").get("versionId").asText == "4")
    assert(n.get("meta").get("lastUpdated").asText == r.lastUpdated)
    assert(n.get("valueQuantity").get("value").asText == "123.45")
    assert(n.get("subject").get("reference").asText == "Patient/p1")
  }
}
