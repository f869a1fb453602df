package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks of its inputs and its metric catalogue.
  * Run with `sbt test` from the `perfbench` directory.
  */
class HarnessSpec extends AnyFunSuite {

  test("curate inputs: one seed gives identical data, another seed does not") {
    val (a, ta) = Gen.curate(5L, 600)
    val (b, tb) = Gen.curate(5L, 600)
    val (c, _) = Gen.curate(6L, 600)
    assert(a == b && ta == tb)
    assert(a != c)
    assert(a.size == 600 && a.map(_.docId) == (0L until 600L))
  }

  test("curate inputs: planted duplicates are where the truth says") {
    val (docs, truth) = Gen.curate(9L, 2000)
    val text = docs.map(d => d.docId -> d.text).toMap
    assert(truth.exactClusters.nonEmpty && truth.nearClusters.nonEmpty)
    truth.exactClusters.foreach { ids =>
      assert(ids.size >= 2 && ids.map(text).distinct.size == 1)
    }
    truth.nearClusters.foreach { ids =>
      val toks = ids.map(i => text(i).split(' ').toSeq)
      assert(toks.map(_.size).distinct.size == 1, "near copies substitute, never insert")
      val same = toks.head.zip(toks(1)).count { case (x, y) => x == y }
      assert(same >= toks.head.size * 0.8)
    }
    val share = truth.plantedDupDocs.toDouble / docs.size
    assert(share > 0.03 && share < 0.09, s"planted duplicate share $share")
    assert(truth.boilerplateDocs > docs.size / 5)
  }

  test("feed inputs: one seed gives identical data, another seed does not") {
    val a = Gen.feed(3L, 2000)
    assert(a == Gen.feed(3L, 2000))
    assert(a != Gen.feed(4L, 2000))
    val nullX = a.count(_.numX.isEmpty).toDouble / a.size
    val nullA = a.count(_.catA.isEmpty).toDouble / a.size
    assert(nullX > 0.05 && nullX < 0.15 && nullA > 0.02 && nullA < 0.08)
    // Zipf skew: the most common category is far above uniform
    val top = a.flatMap(_.catA).groupBy(identity).values.map(_.size).max
    assert(top > a.size / 20)
  }

  test("the per-layer metric catalogue matches BENCHMARK.json") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    val listed = Seq.tabulate(json.get("per_layer").size)(i =>
      json.get("per_layer").get(i).get("name").asText)
    assert(listed == Layers.names)
    val units = Seq.tabulate(json.get("per_layer").size)(i =>
      json.get("per_layer").get(i).get("unit").asText)
    assert(units == Layers.names.map(Layers.unitOf))
  }
}
