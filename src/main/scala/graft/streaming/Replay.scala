package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The file-stream replay, the Spark-native analog of the reference's
  * intake loop (a pull socket feeding handlers one packet at a time,
  * `src/processor.ts:61-89`): batches [[land]] as parquet files in a
  * directory, a file source [[stream]]s them back one file per
  * micro-batch, and [[drain]] runs the stream to completion through the
  * parquet file sink. Every streaming catalog query replays through
  * these three functions.
  */
object Replay {

  /** Mtime of the first file [[land]] writes; each later one is a minute on. */
  private val FirstMtime = 1700000000000L

  /** Write each frame as exactly one `<dir>/<name>.parquet`, in list
    * order. `FileStreamSource` orders files by modification time, and
    * two files written back to back can share one, so the files of one
    * call get strictly increasing pinned mtimes in list order: a
    * [[stream]] over `dir` reads them in the order given, whatever their
    * names. Each frame is written under a `_`-prefixed part directory
    * (hidden from parquet readers), its one part file moved out, and the
    * part directory deleted.
    */
  def land(dir: String, batches: Seq[(String, DataFrame)]): Unit = {
    val d = Files.createDirectories(Paths.get(dir))
    batches.zipWithIndex.foreach { case ((name, df), i) =>
      val part = d.resolve(s"_land-$name")
      df.coalesce(1).write.mode("overwrite").parquet(part.toString)
      val ls = Files.list(part)
      val files = try ls.iterator.asScala.toSeq finally ls.close()
      val Seq(data) = files.filter(_.getFileName.toString.endsWith(".parquet"))
      val dest = Files.move(data, d.resolve(s"$name.parquet"))
      dest.toFile.setLastModified(FirstMtime + i * 60000L)
      files.filter(_ != data).foreach(Files.delete)
      Files.delete(part)
    }
  }

  /** File-source stream of the parquet files in `dir`, one file per
    * micro-batch. */
  def stream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)

  /** Run `df` to completion over the files present now
    * (`Trigger.AvailableNow`), appending to the parquet file sink at
    * `out`. The sink's `_spark_metadata` log makes a second drain from
    * the same `checkpoint` over the same input commit nothing. A failed
    * query throws its `StreamingQueryException`.
    */
  def drain(df: Dataset[_], out: String, checkpoint: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val q = df.writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", checkpoint)
      .partitionBy(partitionBy: _*)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
  }
}
