package perfbench

import graft.SparkEntry

/** One served workload: the queries it may send, the fixture scale
  * factor they read, how many closed-loop clients send them, and how
  * the seed orders them.
  *
  * Requests come in passes. A run measures a fixed number of whole
  * passes, sized from `--seconds`, so its query mix and size do not
  * depend on how fast the machine happens to be at that moment.
  *
  * @param sf       fixture subdirectory under the data root
  * @param clients  concurrent closed-loop clients (each waits for its
  *                 reply before it sends again)
  * @param mix      every query the workload can send
  * @param warmupPasses untimed passes over the whole mix, in its listed
  *                 order, before the measured passes
  * @param strata   0: a pass is the whole mix in seeded order. k > 0: the
  *                 mix is cut into k equal-count strata by pinned cost and
  *                 a pass is one seeded draw from each stratum.
  * @param passS    typical seconds per measured pass on a 4-core machine;
  *                 it only sizes runs
  */
final case class Workload(
    name: String,
    sf: String,
    clients: Int,
    mix: IndexedSeq[String],
    warmupPasses: Int,
    strata: Int,
    passS: Double) {
  def passLength: Int = if (strata == 0) mix.length else strata

  /** Whole passes in a run of about `seconds`. */
  def passesFor(seconds: Double): Int = math.max(1, math.round(seconds / passS).toInt)
}

object Workloads {

  /** The 16 queries `graft.Bench` scores: the headline group and the
    * north-star group. */
  val headline: IndexedSeq[String] =
    (SparkEntry.benchQueries.keys ++ SparkEntry.benchNorthStar).toVector.distinct.sorted

  /** The 8 queries with the largest replies at sf0.01 (0.36-4 MB of
    * msgpack each), so the reply path does real work. */
  val wide: IndexedSeq[String] = Vector(
    "scan_projection", "src_sort_within_partitions", "scalar_datetime_funcs",
    "scalar_edge_cases", "scalar_casts", "ts_resample_ffill", "window_lag_lead",
    "window_ignore_nulls")

  /** Queries that write their round-trip copies under a fixed absolute
    * path (`SourcesQueries.tmpRoot`) instead of the working directory or
    * `java.io.tmpdir`. The benchmark may only write inside its own
    * checkout, so it cannot send them. */
  val writesOutsideCheckout: Set[String] = Set(
    "src_csv_roundtrip", "src_orc_roundtrip", "src_json_roundtrip",
    "src_partitioned_write", "src_bucketed_join", "src_text_roundtrip",
    "src_binaryfile_scan", "src_xml_roundtrip")

  /** The rest of the catalog: every query `serve_headline` never sends,
    * minus [[writesOutsideCheckout]]. */
  val walk: IndexedSeq[String] =
    (SparkEntry.catalog.keySet -- headline -- writesOutsideCheckout).toVector.sorted

  val all: Seq[Workload] = Seq(
    Workload("serve_headline", "sf0.01", 4, headline, 1, strata = 0, passS = 9.0),
    Workload("serve_wide", "sf0.01", 4, wide, 3, strata = 0, passS = 3.5),
    // No warm-up: the walk measures the catalog as a server meets it,
    // mostly for the first time in the process.
    Workload("catalog_walk", "sf0.001", 1, walk, 0, strata = 16, passS = 20.0))

  def byName(name: String): Option[Workload] = all.find(_.name == name)

  /** The first `n` passes of workload `w` under `seed`. The same seed
    * and pinned costs always give the same passes; the program receives
    * nothing else. `costMs` is each query's pinned wall time, used only
    * to cut strata. */
  def passes(w: Workload, seed: Long, costMs: String => Double, n: Int): Vector[IndexedSeq[String]] = {
    val rnd = new scala.util.Random(seed)
    if (w.strata == 0) Vector.fill(n)(rnd.shuffle(w.mix))
    else {
      val byCost = w.mix.sortBy(q => (costMs(q), q))
      val strata = (0 until w.strata).map { i =>
        rnd.shuffle(byCost.slice(i * byCost.length / w.strata, (i + 1) * byCost.length / w.strata))
      }
      Vector.tabulate(n)(r => rnd.shuffle(strata.map(s => s(r % s.length))))
    }
  }
}
