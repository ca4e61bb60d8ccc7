package graft

import org.apache.spark.sql.functions._

/** Materializes a scale-tier fixture for the bench: every fixture table
  * from `srcDir` written to `outDir`, with the corpus tables
  * (`documents`, `embeddings`, `events`) replicated `mult` times under
  * the SAME id-remap ScaleProbe uses (`id * mult + rep` — clones get
  * distinct, collision-free ids; events remap BOTH user_id and
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
  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val mult = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = SessionTuning.local(defaultCpus = 32)
    val reps = spark.range(mult).select(col("id").as("rep"))
    Tables.schemas.keys.toSeq.sorted.foreach { name =>
      // Tables.load is footer-aware for events.ts — the tier therefore
      // re-writes events with a normalized TimestampType ts, which the
      // downstream footer detection reads back natively.
      val src = Tables.load(spark, srcDir, name)
      val out = name match {
        case "documents" =>
          src.crossJoin(broadcast(reps))
            .withColumn("doc_id", col("doc_id") * mult + col("rep")).drop("rep")
        case "embeddings" =>
          src.crossJoin(broadcast(reps))
            .withColumn("vec_id", col("vec_id") * mult + col("rep")).drop("rep")
        case "events" =>
          src.crossJoin(broadcast(reps))
            .withColumn("user_id", col("user_id") * mult + col("rep"))
            .withColumn("event_id", col("event_id") * mult + col("rep"))
            .drop("rep")
        case _ => src
      }
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[fixture] $name -> $outDir/$name.parquet")
    }
    spark.stop()
  }
}
