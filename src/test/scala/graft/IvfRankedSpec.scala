package graft

import org.apache.spark.sql.functions._

import graft.queries.NorthStarQueries

/** `NorthStarQueries.ivfRanked`, the IVF coarse assignment eight catalog
  * queries build on, against a brute-force ranking over an in-memory
  * frame. The frame has five coarse centroids (`vec_id` 100..104), a
  * vector outside that range with a centroid's id pattern (116), vectors
  * at equal cosine to two centroids, exact duplicate vectors (one of
  * them a copy of a centroid) and query vectors on both sides of the
  * `vec_id < 16` probe bound.
  */
class IvfRankedSpec extends SparkSpec {

  private val rows: Seq[(Long, Seq[Float])] = Seq(
    // the centroids
    (100L, Seq(1f, 0f, 0f)),
    (101L, Seq(0f, 1f, 0f)),
    (102L, Seq(0f, 0f, 1f)),
    (103L, Seq(1f, 1f, 0f)),
    (104L, Seq(-1f, 0f, 0f)),
    // 1 is as close to 100 as to 102; 2 ties 100 and 101 behind 103
    (1L, Seq(1f, 0f, 1f)),
    (2L, Seq(0.5f, 0.5f, 0f)),
    // 3 and 7 are one vector; 9 duplicates centroid 101
    (3L, Seq(0.2f, 0.9f, 0.1f)),
    (7L, Seq(0.2f, 0.9f, 0.1f)),
    (9L, Seq(0f, 1f, 0f)),
    (12L, Seq(-0.5f, 0.25f, -1f)),
    // beyond the probe bound
    (20L, Seq(1f, 0f, 1f)),
    (116L, Seq(0.3f, -0.7f, 0.2f)))

  private val centroids = rows.filter { case (id, _) => id >= 100 && id <= 115 }

  private def scaledDot(a: Seq[Float], b: Seq[Float]): Long =
    a.zip(b).map { case (x, y) => math.floor(x.toDouble * y.toDouble * 1099511627776.0).toLong }
      .sum

  /** The ranking, written out: every centroid for every vector, by
    * cosine descending and then `cen_id` ascending, as
    * (vec_id, cen_id, cen_cos, arn). */
  private val bruteForce: Seq[(Long, Long, Double, Int)] =
    rows.flatMap { case (v, ev) =>
      centroids.map { case (c, ec) =>
        (c, scaledDot(ev, ec).toDouble /
          (math.sqrt(scaledDot(ev, ev).toDouble) * math.sqrt(scaledDot(ec, ec).toDouble)))
      }.sortBy { case (c, cos) => (-cos, c) }.zipWithIndex
        .map { case ((c, cos), i) => (v, c, cos, i + 1) }
    }.sortBy { case (v, _, _, arn) => (v, arn) }

  private lazy val ranked: Seq[(Long, Long, Double, Int)] = {
    import spark.implicits._
    val frame = rows.toDF("vec_id", "embedding")
      .withColumn("nrm", expr("scaled_dot(embedding, embedding)"))
    NorthStarQueries.ivfRanked(frame)
      .select(col("vec_id"), col("cen_id"), col("cen_cos"), col("arn"))
      .orderBy(col("vec_id"), col("arn")).as[(Long, Long, Double, Int)]
      .collect().toSeq
  }

  test("ivfRanked ranks every centroid for every vector like a brute-force argmax") {
    assert(ranked == bruteForce)
  }

  test("ivfRanked: every vector lies in exactly one cell") {
    val cells = ranked.filter(_._4 == 1)
    assert(cells.map(_._1).sorted == rows.map(_._1).sorted)
    val cellOf = cells.map(r => r._1 -> r._2).toMap
    // each centroid is its own cell, and duplicates share a cell
    centroids.foreach { case (c, _) => assert(cellOf(c) == c) }
    assert(cellOf(3L) == cellOf(7L))
    assert(cellOf(9L) == 101L)
    // 116 is a vector like any other, never a centroid
    assert(!ranked.exists(_._2 == 116L))
  }

  test("ivfRanked: equal cosines go to the lower cen_id") {
    def top2(v: Long) = ranked.filter(r => r._1 == v && r._4 <= 2)
    assert(top2(1L).map(_._3).distinct.size == 1)
    assert(top2(1L).map(_._2) == Seq(100L, 102L))
    assert(ranked.filter(r => r._1 == 2L && r._4 <= 3).map(_._2) == Seq(103L, 100L, 101L))
  }

  test("ivfRanked: the arn <= 2 probes of the query vectors") {
    val probes = ranked.filter(r => r._4 <= 2 && r._1 < 16).map(r => (r._1, r._2))
    assert(probes == bruteForce.filter(r => r._4 <= 2 && r._1 < 16).map(r => (r._1, r._2)))
    assert(probes.map(_._1).distinct == Seq(1L, 2L, 3L, 7L, 9L, 12L))
    assert(probes.size == 12)
  }
}
