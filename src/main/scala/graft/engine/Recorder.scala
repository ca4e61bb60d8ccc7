package graft.engine

import org.apache.spark.sql.SparkSession

import graft.Tables

/** What a handler read and made while it built its frame, recorded on the
  * thread that runs it. The two ways a handler learns a fixture's version,
  * [[graft.Tables.load]] and [[graft.Tables.fileStamp]], report a [[Read]];
  * what a later rebuild of the same plan could not stand in for, a scratch
  * tree ([[graft.queries.Q.scratchDir]]) or a job-scoped cache entry
  * ([[CacheManager.getOrPut]] with `scoped = true`), marks the construct
  * unrepeatable. [[Engine]] records each served construct to decide
  * whether its plan may serve later requests, and until when. Outside a
  * recording every report is a no-op.
  */
private[graft] object Recorder {

  /** One fixture version a construct depended on. */
  sealed trait Read {
    /** Canonical path of the fixture file. */
    def path: String
    /** True while the fixture still reads as it did. */
    def holds(spark: SparkSession): Boolean
  }

  /** `Tables.load(dir, name)`: the file stamp, and whether the load served
    * the catalog table or the direct read ([[graft.Tables.source]]). */
  final case class Loaded(dir: String, name: String, stamp: String, catalog: Boolean)
      extends Read {
    def path: String = Tables.canon(s"$dir/$name.parquet")
    def holds(spark: SparkSession): Boolean = {
      val now = Tables.source(spark, dir, name)
      now.stamp == stamp && now.catalog == catalog
    }
  }

  /** `Tables.fileStamp(path)`: an index artifact built from that version. */
  final case class Stamped(path: String, stamp: String) extends Read {
    def holds(spark: SparkSession): Boolean = Tables.fileStamp(spark, path) == stamp
  }

  /** One construct's record. */
  final class Log {
    private[Recorder] var readSet = Set.empty[Read]
    private[Recorder] var repeatable = true
    def reads: Set[Read] = readSet
    /** False when the construct made a scratch tree or a scoped cache entry. */
    def isRepeatable: Boolean = repeatable
  }

  private val current = new ThreadLocal[Log]

  /** Run `f` under a fresh [[Log]] on this thread. A recording opened
    * inside another hands its reads and marks on to the outer one. */
  def record[T](f: => T): (T, Log) = {
    val outer = current.get
    val log = new Log
    current.set(log)
    try (f, log)
    finally {
      current.set(outer)
      if (outer != null) {
        outer.readSet ++= log.readSet
        outer.repeatable &&= log.repeatable
      }
    }
  }

  def read(r: Read): Unit = {
    val log = current.get
    if (log != null) log.readSet += r
  }

  def unrepeatable(): Unit = {
    val log = current.get
    if (log != null) log.repeatable = false
  }
}
