package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, StructField, StructType}

import graft.expressions.LshBucket
import graft.queries.NorthStarQueries

/** The native `lsh_bucket` must agree bit-for-bit with the 8-bit HOF
  * chain it replaced (`NorthStarQueries.lshBucketExpr`, whose DuckDB
  * twin feeds the oracle), including the degenerate cases where the
  * HOF's NULL sums make every bit 0: wrong-length arrays, a null
  * element, a NULL array.
  */
class LshBucketSpec extends SparkSpec {

  test("lsh_bucket equals the HOF chain on fixture embeddings") {
    val diff = Tables.load(spark, sfDir, "embeddings")
      .select(expr(NorthStarQueries.lshBucketExpr).as("hof"),
        expr("lsh_bucket(embedding)").as("native"))
      .where(col("hof") =!= col("native"))
      .count()
    assert(diff == 0)
  }

  test("lsh_bucket degenerate inputs: short / long / null-element / NULL arrays") {
    val schema = StructType(Seq(
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val full = Array.tabulate(64)(i => java.lang.Float.valueOf(
      ((i * 37 % 13) - 6).toFloat / 7f))
    val withNull: Array[java.lang.Float] =
      full.updated(17, null.asInstanceOf[java.lang.Float])
    val rows = java.util.Arrays.asList(
      Row(full.toSeq),             // clean 64-dim
      Row(full.take(63).toSeq),    // too short -> 0
      Row((full :+ java.lang.Float.valueOf(0.5f)).toSeq), // too long -> 0
      Row(withNull.toSeq),         // null element -> 0
      Row(null))                   // NULL array -> 0 (not NULL)
    val df = spark.createDataFrame(rows, schema)
      .select(expr(NorthStarQueries.lshBucketExpr).as("hof"),
        expr("lsh_bucket(embedding)").as("native"))
    val got = df.collect()
    got.foreach { r =>
      assert(!r.isNullAt(1), "native bucket must never be NULL")
      assert(r.getInt(0) == r.getInt(1),
        s"hof=${r.get(0)} native=${r.get(1)}")
    }
    // the degenerate rows all land in bucket 0, the clean row need not
    assert(got.drop(1).forall(_.getInt(1) == 0))
  }

  test("lsh_bucket interpreted eval matches codegen") {
    // Interpreted path via direct expression eval on fixture vectors
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select(col("embedding"), expr("lsh_bucket(embedding)").as("native"))
      .collect()
    vecs.foreach { r =>
      val arr = r.getSeq[Float](0)
      val data = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        arr.toArray)
      val interp = LshBucket(
        org.apache.spark.sql.catalyst.expressions.Literal(
          data, ArrayType(FloatType))).eval(null)
      assert(interp == r.getInt(1))
    }
  }
}
