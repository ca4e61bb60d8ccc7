package perfbench

import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSpec extends AnyFunSuite {

  private val cost = (q: String) => (q.hashCode & 0xffff).toDouble

  test("the same seed gives the identical request sequence") {
    for (w <- Workloads.all) {
      val a = Workloads.passes(w, 42L, cost, 5)
      val b = Workloads.passes(w, 42L, cost, 5)
      assert(a == b, w.name)
      assert(a != Workloads.passes(w, 43L, cost, 5), w.name)
    }
  }

  test("a run is a whole number of passes sized from its seconds") {
    val w = Workloads.byName("serve_headline").get
    assert(w.passesFor(24) == 3 && w.passesFor(1) == 1)
  }

  test("a serving pass sends the whole mix once") {
    for (w <- Workloads.all if w.strata == 0; p <- Workloads.passes(w, 7L, cost, 3)) {
      assert(p.sorted == w.mix.sorted, w.name)
      assert(p.length == w.passLength)
    }
  }

  test("a catalog-walk pass draws one query from each cost stratum") {
    val w = Workloads.byName("catalog_walk").get
    val byCost = w.mix.sortBy(q => (cost(q), q))
    val stratum = byCost.zipWithIndex.map { case (q, i) => q -> i * w.strata / byCost.length }.toMap
    val passes = Workloads.passes(w, 11L, cost, 40)
    for (p <- passes) {
      assert(p.length == w.strata)
      assert(p.map(stratum).sorted == (0 until w.strata))
    }
    // members of a stratum are drawn without repeats until it is used up
    val first = passes.take(byCost.length / w.strata).flatten
    assert(first.distinct.length == first.length)
  }

  test("the catalog walk sends no query the headline workload sends") {
    val walk = Workloads.byName("catalog_walk").get.mix.toSet
    assert(walk.intersect(Workloads.headline.toSet).isEmpty)
    assert(walk.intersect(Workloads.writesOutsideCheckout).isEmpty)
    assert(Workloads.headline.length == 16)
  }
}
