package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}

import graft.expressions.SortedOverlap

/** `sorted_overlap` must equal `size(array_intersect(a, b))` on
  * ascending-sorted null-free int arrays — the exact shape the trigram
  * verify joins feed it (`sort_array(collect_list(...))` over DISTINCT
  * (key, trigram) rows), plus sorted-with-duplicates inputs, empties,
  * and NULL arrays.
  */
class SortedOverlapSpec extends SparkSpec {

  test("sorted_overlap equals size(array_intersect) on sorted arrays") {
    val rnd = new scala.util.Random(42)
    def arr(maxLen: Int, dups: Boolean): Seq[Int] = {
      val base = Seq.fill(rnd.nextInt(maxLen))(rnd.nextInt(60))
      (if (dups) base ++ base.take(rnd.nextInt(3)) else base.distinct).sorted
    }
    val schema = StructType(Seq(
      StructField("a", ArrayType(IntegerType)),
      StructField("b", ArrayType(IntegerType))))
    val rows = new java.util.ArrayList[Row]()
    (1 to 300).foreach { i =>
      rows.add(Row(arr(40, i % 3 == 0), arr(40, i % 5 == 0)))
    }
    rows.add(Row(Seq.empty[Int], Seq(1, 2, 3)))
    rows.add(Row(Seq(1, 2, 3), Seq.empty[Int]))
    rows.add(Row(Seq(5, 5, 7), Seq(5, 7, 7)))
    rows.add(Row(null, Seq(1)))
    rows.add(Row(Seq(1), null))
    val df = spark.createDataFrame(rows, schema)
      .select(size(array_intersect(col("a"), col("b"))).as("ref"),
        expr("sorted_overlap(a, b)").as("got"))
    val bad = df.where(
      (col("ref").isNull =!= col("got").isNull) ||
        (col("ref").isNotNull && col("ref") =!= col("got"))).count()
    assert(bad == 0)
  }

  test("sorted_overlap interpreted eval matches codegen result") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    def lit(xs: Array[Int]) =
      Literal(ArrayData.toArrayData(xs), ArrayType(IntegerType))
    assert(SortedOverlap(lit(Array(1, 3, 5, 9)), lit(Array(3, 4, 9))).eval(null) == 2)
    assert(SortedOverlap(lit(Array.empty[Int]), lit(Array(1))).eval(null) == 0)
    assert(SortedOverlap(lit(Array(2, 2, 2)), lit(Array(2))).eval(null) == 1)
  }
}
