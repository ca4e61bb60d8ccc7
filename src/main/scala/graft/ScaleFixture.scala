package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materializes a scale-tier fixture for the bench: every fixture table
  * from `srcDir` written to `outDir`, with the corpus tables
  * (`documents`, `embeddings`, `events`) replicated `mult` times by
  * [[replicate]], which ScaleProbe also uses (`id * mult + rep` — clones
  * get distinct, collision-free ids; events remap BOTH user_id and
  * event_id and keep timestamps, so every replica user carries the
  * original's full session/cohort trajectory — the time axis densifies
  * rather than stretches, which is how real traffic grows). The other
  * relational tables pass through unchanged: the tier's purpose is a
  * wall-clock anchor for the north-star corpus + time-series operators
  * above the largest generated SF, and `Tables.registerWithStats`
  * needs every table present to ANALYZE the dir.
  *
  * Replication is a dedup STRESS tier, not an iid sample: every LSH /
  * band / IVF-cell bucket grows by the factor, so near-dup candidate
  * generation sees its worst growth axis (same framing as ScaleProbe).
  * Usage: runMain graft.ScaleFixture <srcDir> <outDir> [mult=10]
  */
object ScaleFixture {

  /** Fixture table `name` replicated `mult` times under the shared id
    * remap `id * mult + rep`: documents remap doc_id, embeddings vec_id,
    * events user_id and event_id; every other table passes through.
    */
  def replicate(name: String, src: DataFrame, mult: Int): DataFrame = {
    def remap(ids: String*): DataFrame = {
      val reps = src.sparkSession.range(mult).select(col("id").as("rep"))
      ids.foldLeft(src.crossJoin(broadcast(reps))) { (df, id) =>
        df.withColumn(id, col(id) * mult + col("rep"))
      }.drop("rep")
    }
    name match {
      case "documents" => remap("doc_id")
      case "embeddings" => remap("vec_id")
      case "events" => remap("user_id", "event_id")
      case _ => src
    }
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val mult = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = SessionTuning.local(defaultCpus = 32)
    Tables.schemas.keys.toSeq.sorted.foreach { name =>
      // Tables.load is footer-aware for events.ts — the tier therefore
      // re-writes events with a normalized TimestampType ts, which the
      // downstream footer detection reads back natively.
      replicate(name, Tables.load(spark, srcDir, name), mult)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[fixture] $name -> $outDir/$name.parquet")
    }
    spark.stop()
  }
}
