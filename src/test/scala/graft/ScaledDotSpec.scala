package graft

import org.apache.spark.sql.functions._

import graft.expressions.ScaledDotProduct

/** The native expression must agree bit-for-bit with the HOF
  * formulation it replaced (the DuckDB oracle encodes the same math),
  * in both codegen and interpreted evaluation.
  */
class ScaledDotSpec extends SparkSpec {

  private val hofDot =
    "aggregate(zip_with(embedding, embedding, (x, y) -> " +
      "cast(floor(cast(x as double) * cast(y as double) * 1099511627776) as bigint)), " +
      "cast(0 as bigint), (acc, v) -> acc + v)"

  test("scaled_dot equals the HOF formulation on fixture embeddings") {
    val diff = Tables.load(spark, sfDir, "embeddings")
      .select(expr(hofDot).as("hof"), expr("scaled_dot(embedding, embedding)").as("native"))
      .where(col("hof") =!= col("native"))
      .count()
    assert(diff == 0)
  }

  test("maxsim_score equals the nested-HOF formulation on fixture pairs") {
    val hofMaxsim =
      "aggregate(transform(sequence(0, 7), qs -> " +
        "array_max(transform(sequence(0, 7), ds -> " +
          "aggregate(zip_with(slice(q_emb, qs * 8 + 1, 8), " +
            "slice(c_emb, ds * 8 + 1, 8), " +
            "(x, y) -> cast(floor(cast(x as double) * 1048576) as bigint) " +
              "* cast(floor(cast(y as double) * 1048576) as bigint)), " +
            "cast(0 as bigint), (acc, v) -> acc + v)))), " +
        "cast(0 as bigint), (acc, v) -> acc + v)"
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = e.where(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = e.where(col("vec_id") < 40)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val diff = q.crossJoin(c)
      .select(expr(hofMaxsim).as("hof"),
        expr("maxsim_score(q_emb, c_emb)").as("native"))
      .where(col("hof") =!= col("native"))
      .count()
    assert(diff == 0)
    // interpreted eval (no codegen) must match too
    val row = q.limit(1).crossJoin(c.limit(1))
      .select(expr("maxsim_score(q_emb, c_emb)").as("v")).collect()(0).getLong(0)
    val litRow = q.limit(1).crossJoin(c.limit(1))
      .select(expr(hofMaxsim).as("v")).collect()(0).getLong(0)
    assert(row == litRow)
  }

  test("scaled_dot works via SQL after registration and in interpreted mode") {
    val v = spark.sql(
      "SELECT scaled_dot(array(cast(0.5 as float), cast(-0.25 as float)), " +
      "array(cast(2.0 as float), cast(4.0 as float))) AS d").head().getLong(0)
    // floor(0.5*2*2^40) + floor(-0.25*4*2^40) = 2^40 + (-2^40)
    assert(v == 0L)
    // interpreted eval path (no codegen) must match
    val row = org.apache.spark.sql.catalyst.InternalRow.empty
    val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Array(0.5f, -0.25f), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))
    val lit2 = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Array(2.0f, 4.0f), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))
    assert(ScaledDotProduct(lit, lit2).eval(row) == 0L)
  }

  test("kmv_sketch keeps the k smallest distinct values across partition merges") {
    import spark.implicits._
    // values deliberately spread over many partitions to force merges
    val vals = (1L to 1000L).map(x => (x * 7919L) % 1001L)
    val got = vals.toDF("v").repartition(8)
      .agg(expr("kmv_sketch(v, 10)").as("kmv"))
      .head().getSeq[Long](0)
    val expected = vals.distinct.sorted.take(10)
    assert(got == expected)
    // duplicates don't crowd the sketch
    val dup = Seq.fill(100)(5L).map(Tuple1(_)).toDF("v")
      .agg(expr("kmv_sketch(v, 4)")).head().getSeq[Long](0)
    assert(dup == Seq(5L))
  }

  test("sq_l2 equals the HOF formulation on quantized fixture embeddings") {
    val q = "transform(embedding, x -> cast(floor(cast(x as double) * 16384) as bigint))"
    val hof = s"aggregate(zip_with($q, $q, (a, b) -> (a - b) * (a - b)), " +
      "cast(0 as bigint), (acc, t) -> acc + t)"
    // self-distance is 0; distance to the reversed vector is the HOF value
    val rev = s"reverse($q)"
    val diff = Tables.load(spark, sfDir, "embeddings")
      .select(expr(s"sq_l2($q, $q)").as("self"),
              expr(s"sq_l2($q, $rev)").as("native"),
              expr(s"aggregate(zip_with($q, $rev, (a, b) -> (a - b) * (a - b)), " +
                   "cast(0 as bigint), (acc, t) -> acc + t)").as("hof"))
      .where(col("self") =!= 0L || col("native") =!= col("hof"))
      .count()
    assert(diff == 0)
  }

  test("sq_l2 interpreted eval matches SQL codegen") {
    val v = spark.sql(
      "SELECT sq_l2(array(cast(3 as bigint), cast(-2 as bigint)), " +
      "array(cast(1 as bigint), cast(2 as bigint))) AS d").head().getLong(0)
    assert(v == 4L + 16L)
    val row = org.apache.spark.sql.catalyst.InternalRow.empty
    val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Array(3L, -2L), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))
    val lit2 = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Array(1L, 2L), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))
    assert(graft.expressions.SquaredL2(lit, lit2).eval(row) == 20L)
  }

  test("sq_l2 offset form equals the slice formulation on fixture embeddings") {
    val q = "transform(embedding, x -> cast(floor(cast(x as double) * 16384) as bigint))"
    // pair subvector [m*8, m*8+8) of the vector against the first 8
    // elements of its reverse, both ways: in-place offset read vs an
    // explicit slice materialization — must be identical for every
    // subspace on every fixture row
    val rev = s"slice(reverse($q), 1, 8)"
    val diffs = (0 until 8).map { m =>
      expr(s"sq_l2($q, $rev, ${m * 8})")
        .as(s"off_$m") -> expr(s"sq_l2(slice($q, ${m * 8 + 1}, 8), $rev)").as(s"sl_$m")
    }
    val bad = Tables.load(spark, sfDir, "embeddings")
      .select(diffs.flatMap(t => Seq(t._1, t._2)): _*)
      .where((0 until 8).map(m => col(s"off_$m") =!= col(s"sl_$m")).reduce(_ || _))
      .count()
    assert(bad == 0)
    // offset past the end pairs zero elements
    val z = spark.sql(
      "SELECT sq_l2(array(cast(3 as bigint)), array(cast(1 as bigint)), 5) AS d")
      .head().getLong(0)
    assert(z == 0L)
  }

  test("sq_l2 rejects negative offsets instead of reading out of bounds") {
    // foldable literal: fails at analysis (checkInputDataTypes)
    val analysisErr = intercept[Exception] {
      spark.sql("SELECT sq_l2(array(cast(1 as bigint)), array(cast(1 as bigint)), -1)")
        .head()
    }
    assert(analysisErr.getMessage.toLowerCase.contains("sq_l2"))
    // non-foldable offset: runtime guard throws rather than indexing
    // UnsafeArrayData below the array base
    import spark.implicits._
    val runtimeErr = intercept[Exception] {
      Seq((-1)).toDF("o")
        .selectExpr("sq_l2(array(cast(1 as bigint)), array(cast(1 as bigint)), o) AS d")
        .head()
    }
    assert(runtimeErr.getMessage.contains("sq_l2 offset must be >= 0") ||
      Option(runtimeErr.getCause).exists(_.getMessage.contains("sq_l2 offset must be >= 0")))
  }

  test("scaled_dot pairs up to the shorter array and skips null slots") {
    val v = spark.sql(
      "SELECT scaled_dot(array(cast(1.0 as float)), " +
      "array(cast(1.0 as float), cast(9.0 as float))) AS d").head().getLong(0)
    assert(v == 1099511627776L) // only the first pair contributes
    val n = spark.sql(
      "SELECT scaled_dot(array(cast(1.0 as float), cast(null as float)), " +
      "array(cast(1.0 as float), cast(2.0 as float))) AS d").head().getLong(0)
    assert(n == 1099511627776L) // null slot contributes 0
  }
}
