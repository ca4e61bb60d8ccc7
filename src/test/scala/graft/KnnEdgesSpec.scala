package graft

import org.apache.spark.sql.functions._

import graft.queries.NorthStarQueries

/** `NorthStarQueries.knnEdges`, the LSH top-3 k-NN graph five catalog
  * queries build on, against a brute-force top-3 over an in-memory
  * bucketed frame. The frame has exact duplicate vectors (equal cosines,
  * which the fixtures never produce), two buckets of three or more, a
  * bucket of two and a singleton, and a vector outside bucket 1 that
  * duplicates vectors inside it.
  */
class KnnEdgesSpec extends SparkSpec {

  private val rows: Seq[(Long, Seq[Float], Int)] = Seq(
    // bucket 1: ids 2, 5 and 9 are one vector; 7 is 4 scaled by 1/2
    (2L, Seq(1f, 0f, 0f), 1),
    (9L, Seq(1f, 0f, 0f), 1),
    (5L, Seq(1f, 0f, 0f), 1),
    (4L, Seq(1f, 1f, 0f), 1),
    (7L, Seq(0.5f, 0.5f, 0f), 1),
    (1L, Seq(0f, 1f, 0f), 1),
    (3L, Seq(0.25f, -1f, 0.5f), 1),
    // bucket 2: three members, so at most two edges each; 8 duplicates 2
    (8L, Seq(1f, 0f, 0f), 2),
    (6L, Seq(0f, 0f, 1f), 2),
    (11L, Seq(0.75f, 0f, -0.5f), 2),
    // bucket 3: two members with one edge each; bucket 4: a singleton
    (12L, Seq(0f, 1f, 1f), 3),
    (10L, Seq(-1f, 0.5f, 0f), 3),
    (13L, Seq(1f, 1f, 1f), 4))

  private def scaledDot(a: Seq[Float], b: Seq[Float]): Long =
    a.zip(b).map { case (x, y) => math.floor(x.toDouble * y.toDouble * 1099511627776.0).toLong }
      .sum

  /** The same top-3, written out: bucket mates other than the vector
    * itself, by cosine descending and then `b_id` ascending. */
  private def bruteForce: Seq[(Long, Int, Long, Double)] =
    rows.flatMap { case (a, ea, bucket) =>
      rows.collect { case (b, eb, `bucket`) if b != a =>
        val cos = scaledDot(ea, eb).toDouble /
          (math.sqrt(scaledDot(ea, ea).toDouble) * math.sqrt(scaledDot(eb, eb).toDouble))
        (b, cos)
      }.sortBy { case (b, cos) => (-cos, b) }.take(3).zipWithIndex
        .map { case ((b, cos), i) => (a, i + 1, b, cos) }
    }.sortBy { case (a, rn, _, _) => (a, rn) }

  private lazy val edges: Seq[(Long, Int, Long, Double)] = {
    import spark.implicits._
    val frame = rows.toDF("vec_id", "embedding", "bucket")
      .withColumn("nrm", expr("scaled_dot(embedding, embedding)"))
    NorthStarQueries.knnEdges(frame).orderBy(col("a_id"), col("rn")).as[(Long, Int, Long, Double)]
      .collect().toSeq
  }

  private val bucketOf = rows.map { case (id, _, b) => id -> b }.toMap

  test("knnEdges: edges stay in one bucket and never link a vector to itself") {
    assert(edges.nonEmpty)
    edges.foreach { case (a, _, b, _) =>
      assert(bucketOf(a) == bucketOf(b), s"$a -> $b crosses buckets")
      assert(a != b)
    }
    // the singleton bucket has no edges; its two-member neighbor has one each
    assert(!edges.exists(_._1 == 13L))
    assert(edges.filter(e => bucketOf(e._1) == 3).map(e => (e._1, e._3)) ==
      Seq(10L -> 12L, 12L -> 10L))
  }

  test("knnEdges: at most 3 edges per vector with dense ranks") {
    edges.groupBy(_._1).foreach { case (a, es) =>
      val mates = rows.count { case (id, _, b) => b == bucketOf(a) && id != a }
      assert(es.map(_._2) == (1 to math.min(3, mates)), s"ranks of $a")
    }
  }

  test("knnEdges: equal cosines rank the lower b_id first") {
    // the fixture has ties: 2, 5 and 9 are one vector
    val tied = edges.groupBy(_._1).values.count(es => es.map(_._4).distinct.size < es.size)
    assert(tied > 0)
    edges.groupBy(_._1).values.foreach { es =>
      es.sliding(2).foreach {
        case Seq(x, y) if x._4 == y._4 => assert(x._3 < y._3, es)
        case _ =>
      }
    }
    // 2 sees its duplicates 5 and 9 at cosine 1, then 4 and 7 tie and 4 wins
    assert(edges.filter(_._1 == 2L).map(_._3) == Seq(5L, 9L, 4L))
    // 1 sees 4 and 7 at the same cosine, then the three duplicates at 0
    assert(edges.filter(_._1 == 1L).map(_._3) == Seq(4L, 7L, 2L))
  }

  test("knnEdges equals a brute-force top-3") {
    assert(edges == bruteForce)
  }
}
