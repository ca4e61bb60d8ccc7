package org.apache.spark.sql.graftengine

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Accessor: `classic.Dataset.ofRows` is `private[sql]`, but graft builds
  * frames over logical plans it already holds: a catalog table's relation
  * from the record in hand, and a prepared handler's analyzed plan, whose
  * analysis is not repeated while optimization, planning and execution
  * still run per frame. Lives under `org.apache.spark.sql` solely to cross
  * that package-private boundary; no Spark internals are modified or
  * shadowed.
  */
object PlanFrames {

  /** A new frame over `plan`, analyzed unless it already is. */
  def fromPlan(spark: SparkSession, plan: LogicalPlan): DataFrame = rows(spark, plan)

  /** A new frame over an analyzed `plan` that other threads build frames
    * over too. A frame adds its id to a mutable set tagged on its plan,
    * which every frame over `plan` shares: the set is updated under the
    * plan's lock, and the id is taken out again, so the set does not grow
    * with every frame. Only a column reference taken from the new frame
    * (`df("c")`) would read it; collect the frame whole.
    */
  def fromShared(spark: SparkSession, plan: LogicalPlan): DataFrame = plan.synchronized {
    val df = rows(spark, plan)
    df.logicalPlan.getTagValue(classic.Dataset.DATASET_ID_TAG).foreach(_ -= df.id)
    df
  }

  private def rows(spark: SparkSession, plan: LogicalPlan): classic.DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
