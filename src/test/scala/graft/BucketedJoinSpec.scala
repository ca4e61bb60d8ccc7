package graft

import org.apache.spark.sql.functions._

/** The point of bucketing is the PLAN: matching bucket layouts on both
  * join sides must eliminate the join-side shuffles (broadcast disabled
  * so the sort-merge path is observable at fixture scale).
  */
class BucketedJoinSpec extends SparkSpec {

  test("join of co-bucketed tables has no exchange feeding the join") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val base = graft.queries.Q.scratchDir("bucketspec")
    try {
      Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/spec_orders_b")
        .saveAsTable("spec_orders_b")
      Tables.load(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/spec_lineitem_b")
        .saveAsTable("spec_lineitem_b")

      val joined = spark.table("spec_orders_b")
        .join(spark.table("spec_lineitem_b"), col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")

      // and it returns the same count as the unbucketed join
      val expected = Tables.load(spark, sfDir, "orders")
        .join(Tables.load(spark, sfDir, "lineitem"),
              col("o_orderkey") === col("l_orderkey")).count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      Seq("spec_orders_b", "spec_lineitem_b").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      graft.queries.Q.scratchDelete(base)
    }
  }
}
