package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, regexp_extract}
import graft.Tables
import graft.engine.Recorder

/** One declared capability from SURVEY.md §2: a Spark query plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle.
  *
  * Oracle-parity rules (SURVEY.md §7.4 — nondeterminism mitigations):
  *   - every query ends in a TOTAL order (tie-broken to uniqueness);
  *   - double sums are computed as exact decimal sums (order-independent)
  *     and averages as `cast(decimal_sum as double) / count` so the single
  *     IEEE division is bit-identical across engines;
  *   - columns are aliased identically on both sides (driver sorts columns
  *     by name before hashing);
  *   - order-sensitive float reductions round to a fixed scale.
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false)

object Q {
  /** Load a fixture table (see [[graft.Tables]]). */
  def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** SQL text over the fixtures of `dir`, referenced by table name. The
    * names are bound as temp views, which are session-global, so binding,
    * analysis and dropping happen under one lock: `s.sql` resolves every
    * name eagerly, the returned frame keeps the plans it resolved, and
    * no fixture view outlives the call or is seen by a concurrent call
    * on another dir. Only the fixtures the text mentions are bound.
    */
  def sql(s: SparkSession, dir: String)(text: String): DataFrame = fixtureViews.synchronized {
    val names = Tables.schemas.keys.filter(n => s"\\b$n\\b".r.findFirstIn(text).isDefined)
    try {
      names.foreach(n => T(s, dir, n).createOrReplaceTempView(n))
      s.sql(text)
    } finally names.foreach(s.catalog.dropTempView)
  }

  private object fixtureViews

  /** A query that round-trips through files. `fn` gets the session, the
    * fixture dir and `base`, a fresh [[scratchDir]] of its own; the
    * frame it returns is materialized (`localCheckpoint`) and the tree
    * is deleted in a `finally`. So concurrent calls never share a path,
    * and a failed or cancelled request leaves nothing behind.
    */
  def scratch(prefix: String)(
      fn: (SparkSession, String, String) => DataFrame,
      oracle: Option[String]): Q =
    Q((s, dir) => {
      val base = scratchDir(prefix)
      try fn(s, dir, base).localCheckpoint(true)
      finally scratchDelete(base)
    }, oracle)

  /** A query over generated media files, built on [[scratch]]: one file
    * per `n_nationkey` of the fixture's `nation` table, `gen(key)` its
    * bytes, named `<prefix>-<key>.bin`, scanned back with `binaryFile`
    * and handed to `decode` as `(file_id: long, content: binary)`.
    */
  def media(prefix: String)(
      gen: Int => Array[Byte],
      decode: (SparkSession, DataFrame) => DataFrame,
      oracle: Option[String]): Q =
    scratch(prefix)((s, dir, base) => {
      val p = java.nio.file.Paths.get(base)
      T(s, dir, "nation").select(col("n_nationkey")).collect() // 25-row dim
        .foreach { r =>
          val k = r.getInt(0)
          java.nio.file.Files.write(p.resolve(f"$prefix-$k%02d.bin"), gen(k))
        }
      decode(s, s.read.format("binaryFile").load(base)
        .select(regexp_extract(col("path"), "-(\\d+)\\.bin$", 1).cast("long")
          .as("file_id"), col("content")))
    }, oracle)

  /** A fresh `graft-<prefix>-*` directory under `java.io.tmpdir`. Queries
    * get theirs through [[scratch]], which also deletes it; a caller
    * outside that lifecycle deletes it with [[scratchDelete]]. A served
    * construct that makes one is never prepared for reuse
    * ([[graft.engine.Recorder]]).
    */
  def scratchDir(prefix: String): String = {
    Recorder.unrepeatable()
    java.nio.file.Files.createTempDirectory(s"graft-$prefix-").toString
  }

  /** Recursive delete of a [[scratchDir]] tree. Call only after every
    * frame reading the tree is materialized: a lazy plan still reading
    * it would break.
    */
  def scratchDelete(base: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    val root = Paths.get(base)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
    }
  }

  /** Load with parallelism spread — for compute-heavy-per-row stages
    * over narrow scans (see [[graft.Tables.loadSpread]]).
    */
  def TS(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.loadSpread(s, dir, name)
}
