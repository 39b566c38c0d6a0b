package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives identical inputs, another seed different ones") {
    for (w <- Workloads.Names) {
      val a = Gen.contentHash(Workloads.inputs(w, 7))
      assert(a == Gen.contentHash(Workloads.inputs(w, 7)), w)
      assert(a != Gen.contentHash(Workloads.inputs(w, 8)), w)
    }
  }

  test("sky_anti keeps 15-25% of its points in the skyline") {
    for (seed <- 1L to 3L) {
      val p = Workloads.inputs("sky_anti", seed).asInstanceOf[Gen.Points]
      val share = Reference.skyline(p).length.toDouble / p.n
      assert(share >= 0.15 && share <= 0.25, s"seed $seed: $share")
    }
  }

  test("sky_corr keeps under 0.5% of its points in the skyline") {
    for (seed <- 1L to 2L) {
      val p = Workloads.inputs("sky_corr", seed).asInstanceOf[Gen.Points]
      val share = Reference.skyline(p).length.toDouble / p.n
      assert(share > 0 && share < 0.005, s"seed $seed: $share")
    }
  }

  test("the corpus plants its duplicate and contamination shares") {
    val c = Workloads.inputs("pipeline", 3).asInstanceOf[Gen.Corpus]
    assert(c.exactCopies.size.toDouble / c.n == 0.10)
    assert(c.nearPairs.size.toDouble / c.n == 0.10)
    val contaminated = c.contaminated.size.toDouble / c.n
    assert(contaminated > 0.03 && contaminated < 0.07, contaminated)
    // every exact copy repeats a text; every near copy is a distinct text
    assert(c.texts.distinct.length == c.n - c.exactCopies.size)
    val pairs = Reference.nearDupPairs(c.texts, 3, 0.5)
    assert(c.nearPairs.subsetOf(pairs), "a planted near copy falls below the Jaccard threshold")
    assert(c.contaminated.subsetOf(Reference.contaminated(c.texts, c.evalTexts, 8)))
    assert(c.texts.forall(t => Reference.repetitionOk(t.split(" "))))
  }

  test("the reference skyline agrees with a brute-force pairwise scan") {
    val p = Gen.antiCorrelated(400, 3, 11, 0.05)
    val brute = p.ids.indices.filter(i => !p.dims.exists(q => Reference.dominates(q, p.dims(i))))
      .map(p.ids(_)).toSet
    assert(Reference.skyline(p).toSet == brute)
  }
}
