package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.graftengine.PlanFrames
import org.apache.spark.sql.types._

import graft.engine.Recorder

/** Table catalog over the driver-provided Parquet fixtures.
  *
  * The reference hands every handler a live relational store
  * (`/root/reference/src/processor.ts:26,68` — a pooled PG client); the
  * Spark-native equivalent is a catalog of named DataFrames backed by
  * Parquet. Schemas are declared explicitly (stricter than the reference's
  * dynamic model — see SURVEY.md §1.2) so scans never pay inference and so
  * column pruning / predicate pushdown are stable at 100 TB scale.
  */
object Tables {

  /** Explicit schemas per FIXTURES.md. Declaring them (instead of relying
    * on footer inference) keeps plans identical across scale factors and
    * lets the vectorized Parquet reader prune columns deterministically.
    */
  val schemas: Map[String, StructType] = Map(
    "region" -> StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType))),
    "nation" -> StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
    "supplier" -> StructType(Seq(
      StructField("s_suppkey", LongType),
      StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
    "part" -> StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("p_brand", StringType),
      StructField("p_type", StringType),
      StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType))),
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
    // events.ts is PHYSICAL-ENCODING-DEPENDENT: fixture generations have
    // shipped it as parquet TIMESTAMP(NANOS) and as TIMESTAMP(MICROS).
    // The ts type declared here is a placeholder — every real read takes
    // its schema from the file version's footer record, which picks the
    // unit-correct type + normalization (see TsEncoding below).
    "events" -> StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType))),
    "documents" -> StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType))),
    "embeddings" -> StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
  )

  /** How `events.ts` is physically stored, per the parquet footer. An
    * engine reading third-party parquet must honor the footer's logical
    * type, not assume one frozen encoding: fixture generations have
    * shipped ts as INT64 TIMESTAMP(NANOS) and as INT64 TIMESTAMP(MICROS),
    * and hardcoding either silently corrupts the other (a NANOS-assumed
    * read of a MICROS file divides every timestamp by 1000).
    */
  sealed trait TsEncoding
  object TsEncoding {
    /** INT64 TIMESTAMP(NANOS) — Spark has no nanosecond TimestampType,
      * so the column is read as the raw INT64 (an explicit LongType
      * read schema decodes the physical INT64 directly — no session
      * conf needed; asserted in TsEncodingSpec) and truncated to a
      * microsecond timestamp (`ts div 1000` — integer arithmetic, no
      * double rounding), matching DuckDB's ns→µs truncation on read.
      * Unannotated INT64 is treated the same (raw epoch-nanos), the
      * historical fixture contract.
      */
    case object NanosLong extends TsEncoding
    /** INT64 TIMESTAMP(MICROS) or TIMESTAMP(MILLIS) — Spark reads these
      * natively; `utc` is the footer's isAdjustedToUTC (false → NTZ,
      * cast to the UTC session timestamp, value-preserving since the
      * session timezone is pinned UTC). Legacy INT96 timestamps (what
      * Spark itself writes under the default `outputTimestampType`)
      * also land here as `Native(true)` — Spark reads INT96 as a
      * UTC-adjusted TimestampType.
      */
    final case class Native(utc: Boolean) extends TsEncoding
  }

  /** Timestamp-bearing columns per fixture table — every one of these is
    * footer-detected on read, so a fixture regeneration that changes the
    * physical encoding (the r12 events.ts ns→µs incident) can never
    * silently corrupt values or hard-fail the scan.
    */
  private val tsColumns: Map[String, Seq[String]] = Map(
    "events"   -> Seq("ts"),
    "orders"   -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"))

  /** The footer-detected timestamp columns of fixture `name` (empty for
    * tables without one). */
  private def tsColumnsOf(name: String): Seq[String] = tsColumns.getOrElse(name, Nil)

  /** What one version of a fixture's parquet data says about itself,
    * read from its footer once: the footer encoding of each timestamp
    * column ([[tsColumns]]), the read schema those encodings give, and
    * the reconcile verdict (`drift`, a message when the file's columns
    * contradict [[schemas]] — see [[footer]]). `hasData` is false for a
    * still-EMPTY landing directory (the file-stream define-before-data
    * case): there is no footer yet, so the encodings are ASSUMED to be
    * the current fixture generation's (µs NTZ).
    */
  final case class Footer(
      hasData: Boolean,
      encodings: Map[String, TsEncoding],
      schema: StructType,
      drift: Option[String])

  /** The [[Footer]] of the parquet data at `path` (a single file or a
    * directory of part files) read as fixture `name`. One record per
    * canonical path and file version (the resolved file's mtime:size,
    * see [[fileStamp]]): a same-path REGENERATION (new mtime/length)
    * gets a fresh record instead of the stale one, so a long-lived
    * session cannot reproduce the r12 failure class against a swapped
    * file. Each call resolves and stamps the file once; the footer
    * itself is read once per version per JVM.
    *
    * Directories are assumed encoding-homogeneous (the fixture layout:
    * one generation per directory) — ONE footer is read; a directory
    * mixing generations cannot be scanned with a single schema by Spark
    * anyway. Reading mutates no session state: every graft read of a
    * NANOS column goes through an EXPLICIT LongType read schema, which
    * the parquet reader decodes directly (asserted in TsEncodingSpec).
    */
  private[graft] def footer(spark: SparkSession, path: String, name: String): Footer =
    versioned(spark, path, name)._2

  /** The [[fileStamp]] of `path` and the [[footer]] of that version. */
  private def versioned(spark: SparkSession, path: String, name: String): (String, Footer) = {
    val (stamp, file) = locate(spark, path)
    (stamp, footers.computeIfAbsent(stamp + "#" + name, _ => readFooter(spark, path, name, file)))
  }

  private val footers = new java.util.concurrent.ConcurrentHashMap[String, Footer]()

  /** First data file under `path` (descending into part-file
    * directories — fixtures ship both as a single file named
    * `events.parquet` and as a directory of part files), with the
    * version stamp of `path` it gives: canonical path + the file's
    * mtime:size, or "absent" when the path is an existing but
    * still-EMPTY directory.
    */
  private def locate(
      spark: SparkSession, path: String): (String, Option[org.apache.hadoop.fs.FileStatus]) = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def first(st: FileStatus): Option[FileStatus] =
      if (!st.isDirectory) Some(st)
      else {
        val kids = fs.listStatus(st.getPath)
          .filter { k =>
            val n = k.getPath.getName
            // Only parquet files and directories can lead to a footer; a
            // stray non-parquet sibling (marker file, csv, log) must not
            // be picked as the "footer" file — opening it would fail the
            // whole load with an opaque error.
            !n.startsWith("_") && !n.startsWith(".") &&
              (k.isDirectory || n.endsWith(".parquet"))
          }
          .sortBy(_.getPath.getName)
        kids.find(!_.isDirectory).orElse(kids.headOption).flatMap(first)
      }
    val file = first(fs.getFileStatus(root))
    val version = file.fold("absent")(st => s"${st.getModificationTime}:${st.getLen}")
    (canon(path) + "#" + version, file)
  }

  private def readFooter(
      spark: SparkSession,
      path: String,
      name: String,
      file: Option[org.apache.hadoop.fs.FileStatus]): Footer = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val cols = tsColumnsOf(name)
    file match {
      case None =>
        val assumed = cols.map(_ -> (TsEncoding.Native(false): TsEncoding)).toMap
        Footer(hasData = false, assumed, withTsTypes(schemas(name), assumed), drift = None)
      case Some(st) =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromStatus(st, spark.sessionState.newHadoopConf()))
        val meta = try reader.getFooter finally reader.close()
        val encs = cols.map(c => c -> tsEncodingOf(meta.getFileMetaData.getSchema, c)).toMap
        // the schema `spark.read.parquet` would infer for this one file;
        // a NANOS-era footer only converts with nanosAsLong, set on a
        // copy of the session conf so the session's own stays untouched
        val conf = spark.sessionState.conf.clone()
        conf.setConfString("spark.sql.legacy.parquet.nanosAsLong", "true")
        val stored = ParquetFileFormat.readSchemaFromFooter(
          new org.apache.parquet.hadoop.Footer(st.getPath, meta),
          new ParquetToSparkSchemaConverter(conf))
        Footer(hasData = true, encs, withTsTypes(schemas(name), encs),
          driftOf(name, path, stored))
    }
  }

  private def tsEncodingOf(
      msg: org.apache.parquet.schema.MessageType, column: String): TsEncoding = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
    val prim = msg.getType(msg.getFieldIndex(column)).asPrimitiveType()
    prim.getLogicalTypeAnnotation match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        if (t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS) TsEncoding.NanosLong
        else TsEncoding.Native(t.isAdjustedToUTC)
      case _ =>
        // INT96: Spark's legacy timestamp physical type, read natively
        // as a UTC-adjusted timestamp. Unannotated INT64: raw
        // epoch-nanos, the historical fixture contract.
        if (prim.getPrimitiveTypeName == PrimitiveType.PrimitiveTypeName.INT96)
          TsEncoding.Native(true)
        else TsEncoding.NanosLong
    }
  }

  /** Re-type the given timestamp columns of `base` per their detected
    * encodings: NANOS → LongType (raw read, truncated in
    * [[normalizeTs]]); MICROS/MILLIS/INT96 (adjusted or NTZ) →
    * TimestampType (the reader maps NTZ micros into the UTC session
    * timestamp value-unchanged — the session timezone is pinned UTC).
    */
  private def withTsTypes(base: StructType, encs: Map[String, TsEncoding]): StructType =
    StructType(base.fields.map { f =>
      encs.get(f.name) match {
        case Some(TsEncoding.NanosLong) => f.copy(dataType = LongType)
        case Some(TsEncoding.Native(_)) => f.copy(dataType = TimestampType)
        case None                       => f
      }
    })

  /** The events schema with `ts` typed per the footer encoding. */
  def eventsSchema(enc: TsEncoding): StructType =
    withTsTypes(schemas("events"), Map("ts" -> enc))

  /** Canonical path + mtime:size version stamp of the parquet data at
    * `path` — the key of its [[footer]] record, and what the query-side
    * index artifacts are built from, so a fixture regeneration
    * invalidates them all the same way. Reported to the thread's
    * [[Recorder]].
    */
  private[graft] def fileStamp(spark: SparkSession, path: String): String = {
    val stamp = locate(spark, path)._1
    Recorder.read(Recorder.Stamped(canon(path), stamp))
    stamp
  }

  /** Normalize the named timestamp columns to plain TimestampType — the
    * single column type every downstream operator sees, regardless of
    * how the file stored them. Keyed on the OBSERVED column type (not
    * the detected file encoding) so it is also correct over catalog
    * tables, whose declared type is authoritative for the scan:
    * LongType → raw epoch-nanos, truncate (`div 1000`, integer
    * arithmetic, no double rounding) to a µs timestamp; NTZ → cast to
    * the UTC session timestamp (value-preserving, session TZ is pinned
    * UTC); TimestampType → already normalized.
    */
  private[graft] def normalizeTs(df: DataFrame, cols: Seq[String] = Seq("ts")): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case LongType         => d.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
        case TimestampNTZType => d.withColumn(c, col(c).cast(TimestampType))
        case _                => d
      }
    }

  /** Identity key per fixture table — the one column a file cannot be
    * missing: a regeneration that drops it is a different dataset, not
    * an evolved schema, and must fail loudly rather than null-fill.
    */
  private val keyColumns: Map[String, String] = Map(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  /** Nullability-insensitive type shape (nested too) — catalog and
    * footer round-trips disagree on containsNull/valueContainsNull
    * flags that carry no semantic weight for reconciliation.
    */
  private def typeShape(dt: DataType): DataType = dt match {
    case ArrayType(e, _)      => ArrayType(typeShape(e), containsNull = true)
    case MapType(k, v, _)     => MapType(typeShape(k), typeShape(v), valueContainsNull = true)
    case StructType(fs)       => StructType(fs.map(f =>
      StructField(f.name, typeShape(f.dataType), nullable = true)))
    case other                => other
  }

  /** Footer-vs-declared reconciliation (the generalization of the r12
    * ts lesson: a fixture regeneration must never silently decode wrong
    * or fail with an opaque scan error). Policy per declared column:
    * present with the same type shape → fine; present with a DIFFERENT
    * type → loud error naming table, column, both types (timestamp
    * columns excepted — their physical drift is handled by
    * [[TsEncoding]] detection); absent and non-key → allowed, the scan
    * null-fills it (asserted in SchemaEvolutionSpec); absent KEY column
    * ([[keyColumns]]) → loud error. Extra file columns are ignored by
    * the explicit ReadSchema. `stored` is the file's own schema; the
    * verdict is kept in the file version's [[Footer]] and raised by
    * every [[load]] of that version.
    */
  private def driftOf(name: String, path: String, stored: StructType): Option[String] = {
    val have = stored.fields.map(f => f.name -> typeShape(f.dataType)).toMap
    val tsCols = tsColumnsOf(name).toSet
    schemas(name).fields.iterator.flatMap { f =>
      have.get(f.name) match {
        case Some(dt) if !tsCols.contains(f.name) && dt != typeShape(f.dataType) =>
          Some(s"fixture '$name' at $path: column '${f.name}' is declared " +
            s"${f.dataType.simpleString} but the file stores ${dt.simpleString} " +
            "— type drift; regenerate the fixture or update Tables.schemas")
        case None if keyColumns.get(name).contains(f.name) =>
          Some(s"fixture '$name' at $path: key column '${f.name}' is missing " +
            "from the file — this is a different dataset, not an evolved " +
            "schema; refusing to null-fill it")
        case _ => None // same type, or absent non-key (null-filled), or ts
      }
    }.nextOption()
  }

  /** The direct (non-catalog) fixture scan: explicit schema + a
    * `pathGlobFilter` restricting the listing to `*.parquet`, so a
    * stray non-parquet sibling (marker file, csv, log) dropped into a
    * part-file directory is SKIPPED by the scan — matching
    * [[locate]]'s footer-resolution semantics — instead of failing the
    * whole read with an opaque FAILED_READ_FILE. A single-FILE fixture
    * (`events.parquet`) matches the glob by its own leaf name, so both
    * fixture layouts read identically.
    */
  private def fixtureRead(
      spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).option("pathGlobFilter", "*.parquet").parquet(path)

  /** Read one fixture table. The explicit schema means the scan carries a
    * fixed ReadSchema regardless of footer contents. For the timestamp-
    * bearing tables, the schema and the ts normalization follow the
    * footer's logical type (see [[TsEncoding]]) so downstream operators
    * always see a plain TimestampType column with the literal times.
    * Every load raises its file version's reconcile verdict first —
    * footer drift surfaces as a targeted error (or sanctioned
    * null-fill), never an opaque scan failure or silent mis-decode.
    *
    * The load is the catalog table when [[source]] finds one, built from
    * the record in hand, so a Hive metastore answers one call per load;
    * otherwise it is the direct read. The load reports its [[source]] to
    * the thread's [[Recorder]].
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val src = source(spark, dir, name)
    src.footer.drift.foreach(msg => throw new IllegalStateException(msg))
    Recorder.read(Recorder.Loaded(dir, name, src.stamp, src.catalog))
    val df = src.table.fold(fixtureRead(spark, src.footer.schema, src.path))(t =>
      PlanFrames.fromPlan(spark, spark.sessionState.catalog.getRelation(t)))
    normalizeTs(df, tsColumnsOf(name))
  }

  /** How [[load]] reads fixture `name` of `dir` at this moment: the file
    * version's stamp and [[Footer]], and `table`, the catalog record when
    * the load serves the catalog table. */
  private[graft] final case class Source(
      path: String, stamp: String, footer: Footer, table: Option[CatalogTable]) {
    def catalog: Boolean = table.isDefined
  }

  /** The one fixture-read decision, taken by [[load]] and by the check
    * that a prepared plan still reads what it read. When the catalog
    * holds THIS dir's table in the footer's column shape, analyzed from
    * this file version ([[StampProperty]]), the load is that table: same
    * data, but its rowCount/NDV steer CBO. Any other table is bypassed
    * for the direct read until registration re-runs: its frozen ts DDL
    * would decode a ns↔µs regeneration in the wrong unit, and a relation
    * cached over the old file would miss new rows.
    */
  private[graft] def source(spark: SparkSession, dir: String, name: String): Source = {
    val path = s"$dir/$name.parquet"
    val (stamp, f) = versioned(spark, path, name)
    val table = catalogRecord(spark, statsTableName(dir, name)).filter(m =>
      m.properties.get(StampProperty).contains(stamp) && sameShape(m.schema, f.schema))
    Source(path, stamp, f, table)
  }

  /** Canonical absolute form of a fixture dir. Registration and lookup
    * BOTH canonicalize, so a relative `dir` (resolved against the JVM's
    * cwd here) can never diverge from the absolute path the catalog
    * table's LOCATION needs: Spark resolves a relative LOCATION against
    * the warehouse dir, not the cwd, so an un-canonicalized relative
    * registration silently creates EMPTY tables — observed r11 with
    * `target/benchsf1`, where every corpus query then ran on zero rows.
    */
  private[graft] def canon(dir: String): String =
    java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString

  /** Catalog name of fixture `name` registered from `dir` — the one
    * naming scheme; the dir-hash suffix keeps registrations for
    * different dirs (scale factors, temp fixtures) distinct within one
    * catalog.
    */
  private[graft] def statsTableName(dir: String, name: String): String =
    s"g_${name}_s" + java.lang.Integer.toHexString(canon(dir).hashCode)

  /** Table property holding the [[fileStamp]] a fixture table was
    * analyzed from: the one record of it, so a persistent metastore
    * carries it across restarts. */
  private[graft] val StampProperty = "graft.fileStamp"

  /** The catalog's record of table `t` in the current database, or None
    * — one metastore call, with no exception for a missing table. The
    * record names its catalog and database, as a relation needs. */
  private def catalogRecord(spark: SparkSession, t: String): Option[CatalogTable] = {
    val catalog = spark.sessionState.catalog
    catalog.externalCatalog.getTablesByName(catalog.getCurrentDatabase, Seq(t)).headOption
      .map(m => m.copy(identifier = catalog.qualifyIdentifier(m.identifier)))
  }

  /** Same column names and types, in order. Nullability and metadata,
    * which catalog round-trips change, are ignored. */
  private def sameShape(a: StructType, b: StructType): Boolean =
    a.map(f => (f.name, f.dataType)) == b.map(f => (f.name, f.dataType))

  /** The one fixture DDL. `pathGlobFilter` mirrors [[fixtureRead]]. With
    * `skipHiveMetadata` a Hive metastore stores the table in Spark's format
    * in one create, not after a refused Hive-form create and its stack
    * trace: that form needs a directory LOCATION, a fixture is one parquet
    * file, and the test data is read-only, so per-table dirs are out. */
  private[graft] def fixtureDdl(t: String, schema: StructType, location: String): String =
    s"""CREATE TABLE IF NOT EXISTS $t (${schema.toDDL})
       |USING PARQUET OPTIONS (pathGlobFilter '*.parquet', skipHiveMetadata 'true')
       |LOCATION '$location'""".stripMargin

  /** Register the fixtures under `dir` as external parquet tables in the
    * session's catalog and collect row-count + column stats, then enable
    * CBO so the stats steer join ordering and build-side choice. After
    * this, [[load]] for the same dir reads the catalog table — same
    * bytes, same schema, but a stats-bearing relation. This is the one
    * way a fixture becomes a named table: the bench and gate sessions
    * run it on their in-memory catalog, and [[graft.engine.Engine]]'s
    * persistent deployment on its Hive metastore, where the tables and
    * their stats outlive the process.
    *
    * The tables register concurrently, one task per table on at most as
    * many threads as the JVM has processors, so their ANALYZE jobs
    * overlap; the catalogs serialize their own metadata calls. The first
    * failing table, in [[schemas]] order, fails the call with its name,
    * after every task has ended. Idempotent: a table whose DDL still
    * matches is kept, and so are its statistics when the catalog has its
    * `rowCount` and records this file version ([[StampProperty]]), from
    * this process or an earlier one. A new catalog or a regenerated file
    * is analyzed again. One stderr line reports the count of tables
    * analyzed and kept, and the wall time.
    */
  def registerWithStats(spark: SparkSession, dir: String): Unit = {
    val started = System.nanoTime()
    val abs = canon(dir)
    require(new java.io.File(abs).isDirectory,
      s"registerWithStats: fixture dir does not exist: $abs (from '$dir')")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    val names = schemas.keys.toSeq
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(names.size, Runtime.getRuntime.availableProcessors), { r =>
        val t = new Thread(r, s"graft-register-${threads.size + 1}")
        t.setDaemon(true); threads.add(t); t
      })
    val outcomes =
      try names.map(name => pool.submit(() => registerTable(spark, abs, name)))
        .map(task => Try(task.get()))
      finally {
        pool.shutdown()
        threads.forEach(_.join())
      }
    val analyzed = names.zip(outcomes).map {
      case (_, Success(a)) => a
      case (name, Failure(e)) =>
        val cause = Option(e.getCause).getOrElse(e)
        throw new IllegalStateException(
          s"registerWithStats: fixture '$name' from $abs failed: ${cause.getMessage}", cause)
    }.count(identity)
    System.err.println(f"[session] registered ${names.size} fixtures from $abs in " +
      f"${(System.nanoTime() - started) / 1e9}%.2f s ($analyzed analyzed, " +
      s"${names.size - analyzed} kept)")
  }

  /** The catalog record of table `t`, or None after dropping a table
    * whose column shape drifted from `want`. `CREATE TABLE IF NOT EXISTS`
    * silently KEEPS a stale table — observed r13 with a persistent
    * metastore's `ts BIGINT` events table over the regenerated µs
    * fixture: every catalog-path read decoded garbage. */
  private def dropIfSchemaDrifted(
      spark: SparkSession, t: String, want: StructType): Option[CatalogTable] =
    catalogRecord(spark, t).filter { m =>
      val same = sameShape(m.schema, want)
      if (!same) spark.sql(s"DROP TABLE $t")
      same
    }

  /** One fixture's step of [[registerWithStats]]: its footer, the drift
    * drop, the DDL and, unless the catalog records this file version as
    * analyzed, the column ANALYZE and that record. True when it analyzed.
    */
  private def registerTable(spark: SparkSession, abs: String, name: String): Boolean = {
    // footer-aware DDL for timestamp-bearing tables (ANALYZE scans
    // the file through this table)
    val (stamp, f) = versioned(spark, s"$abs/$name.parquet", name)
    // column stats only for atomic types — ANALYZE rejects array/map
    val atomic = f.schema.fields.collect {
      case c if !c.dataType.typeName.matches("array|map|struct") => c.name
    }
    if (atomic.isEmpty)
      throw new IllegalStateException(
        s"fixture '$name' has no atomic column, so ANALYZE cannot count its rows")
    val t = statsTableName(abs, name)
    val have = dropIfSchemaDrifted(spark, t, f.schema)
    if (have.isEmpty) spark.sql(fixtureDdl(t, f.schema, s"$abs/$name.parquet"))
    val kept = have.exists(m =>
      m.properties.get(StampProperty).contains(stamp) && m.stats.exists(_.rowCount.isDefined))
    if (!kept) {
      // a relation cached before a regeneration still lists the old file
      spark.sessionState.catalog.refreshTable(org.apache.spark.sql.catalyst.TableIdentifier(t))
      // the column command also writes sizeInBytes and rowCount, so no
      // table-level ANALYZE runs first
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS ${atomic.mkString(", ")}")
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('$StampProperty' = '$stamp')")
    }
    !kept
  }

  /** Like [[load]], but spreads the rows across the session's default
    * parallelism when the scan yields fewer splits. Single-file /
    * single-row-group inputs (the fixtures) otherwise execute map-side
    * work — HOF hashing, signature computation, per-row md5 — on ONE
    * task. For compute-heavy-per-row stages the round-robin exchange
    * costs far less than the serialized compute; at production scale
    * (many files) the condition is false and this is a plain load.
    */
  def loadSpread(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = load(spark, dir, name)
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
