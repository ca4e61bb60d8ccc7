package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.expressions.GramHash

/** gram_hash must be BIT-IDENTICAL to xxhash64 over the materialized
  * slice — on long and string arrays, with both seeds, on degenerate
  * windows, and on both evaluation paths (whole-stage codegen and the
  * interpreted fallback).
  */
class GramHashSpec extends SparkSpec {

  private def check(l: Int): Unit = {
    val df = spark.range(200).selectExpr(
      "id",
      // deterministic pseudo-random long arrays, length 0..24
      s"transform(sequence(1, cast(id % 25 as int)), " +
        "i -> xxhash64(id, i)) as la",
      // string arrays from the same stream
      s"transform(sequence(1, cast(id % 25 as int)), " +
        "i -> cast(xxhash64(id, i) % 1000 as string)) as sa")
      .selectExpr("id", "la", "sa",
        s"explode(sequence(0, greatest(cast(size(la) as int) - $l, 0))) as p")
    for ((arr, seedName, seed, prefix) <- Seq(
        ("la", "default", GramHash.DefaultSeed, ""),
        ("la", "alt", GramHash.AltSeed, "7L, "),
        ("sa", "default", GramHash.DefaultSeed, ""),
        ("sa", "alt", GramHash.AltSeed, "7L, "))) {
      val q = df.selectExpr(
        s"gram_hash($arr, p, $l, ${seed}L) as gh",
        s"xxhash64($prefix slice($arr, p + 1, $l)) as xx")
      Seq("true", "false").foreach { cg =>
        spark.conf.set("spark.sql.codegen.wholeStage", cg)
        try {
          val bad = q.where(col("gh") =!= col("xx")).count()
          assert(bad == 0,
            s"gram_hash != xxhash64(slice) for arr=$arr seed=$seedName " +
              s"L=$l codegen=$cg ($bad rows)")
        } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
      }
    }
  }

  test("gram_hash == xxhash64(slice) for L=5") { check(5) }
  test("gram_hash == xxhash64(slice) for L=1") { check(1) }

  test("window clamps to the array bounds like slice") {
    // p + L overruns the array: slice truncates; gram_hash must too
    val q = spark.range(50).selectExpr(
      "cast(id % 7 as int) as p",
      "transform(sequence(1, 10), i -> xxhash64(id, i)) as la")
      .selectExpr(
        s"gram_hash(la, p, 8, ${GramHash.DefaultSeed}L) as gh",
        "xxhash64(slice(la, p + 1, 8)) as xx")
    assert(q.where(col("gh") =!= col("xx")).count() == 0)
  }

  test("null array and empty window behave like the slice form") {
    val q = spark.sql(
      s"""SELECT gram_hash(cast(null as array<bigint>), 0, 3,
         |  ${GramHash.DefaultSeed}L) AS n,
         |  gram_hash(array(1L, 2L), 5, 3, ${GramHash.DefaultSeed}L) AS e,
         |  xxhash64(slice(array(1L, 2L), 6, 3)) AS xe""".stripMargin)
      .collect()(0)
    assert(q.isNullAt(0), "null array must yield null")
    assert(q.getLong(1) == q.getLong(2), "empty window == hash of empty slice")
  }

  test("a negative position is null, with whole-stage codegen on and off") {
    val q = spark.range(30).selectExpr(
      "cast(id as int) - 12 as p",
      "transform(sequence(1, 10), i -> xxhash64(id, i)) as la")
      .selectExpr("p",
        s"gram_hash(la, p, 3, ${GramHash.DefaultSeed}L) as gh",
        // slice has no start for a negative position (start 0 throws)
        "CASE WHEN p >= 0 THEN xxhash64(slice(la, p + 1, 3)) END as xx")
    Seq("true", "false").foreach { cg =>
      spark.conf.set("spark.sql.codegen.wholeStage", cg)
      try {
        val rows = q.collect()
        val (neg, nonNeg) = rows.partition(_.getInt(0) < 0)
        assert(neg.length == 12 && neg.forall(_.isNullAt(1)),
          s"codegen=$cg: negative positions must be null")
        assert(nonNeg.forall(r => !r.isNullAt(1) && r.getLong(1) == r.getLong(2)),
          s"codegen=$cg: non-negative positions must equal xxhash64(slice)")
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    val arr = Literal.create(Seq(1L, 2L, 3L), ArrayType(LongType))
    assert(GramHash(arr, Literal(-1), Literal(2), Literal(GramHash.DefaultSeed)).eval() == null,
      "interpreted eval must be null for a negative position")
  }
}
