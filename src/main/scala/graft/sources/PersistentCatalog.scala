package graft.sources

import org.apache.spark.sql.SparkSession

import graft.{SessionTuning, Tables}

/** Persistent, metastore-backed catalog — the deployment-facing analog of
  * the reference's always-on relational store (`/root/reference/src/
  * processor.ts:41-51`: every handler receives a pooled client to a
  * database whose tables exist BEFORE and AFTER any single process run).
  * Temp views die with the session; a production engine needs tables
  * that survive restarts, carry statistics, and feed the cost-based
  * optimizer. This wires Spark's Hive-metastore integration:
  *
  *   - the catalog lives in an embedded Derby metastore on disk (any
  *     warehouse-scale deployment swaps the JDBC URL for its shared
  *     metastore service; nothing else changes),
  *   - fixture tables register once as EXTERNAL parquet tables (schema
  *     from [[graft.Tables.schemas]], data left in place),
  *   - `ANALYZE TABLE` collects row counts + column stats, and CBO /
  *     join-reorder read them at plan time.
  *
  * At 100 TB the stats story is what makes multi-way joins plan well:
  * without rowCount/NDV the optimizer falls back to file-size heuristics
  * that misorder star joins and miss broadcast opportunities.
  */
object PersistentCatalog {

  /** Session builder preconfigured for the persistent catalog: the
    * settings every graft session shares ([[graft.SessionTuning.shared]]),
    * Hive support (external catalog in a Derby metastore under
    * `metastoreDir`), managed-table storage under `warehouseDir`, and
    * cost-based optimization ON so the ANALYZE stats actually steer
    * join ordering and build-side choice.
    *
    * `spark.sql.catalogImplementation` is a STATIC conf — the FIRST
    * session built in a JVM fixes it for every later session sharing
    * the context; a deployment must route all session construction
    * through here (the Engine does, via [[graft.engine.Engine]]).
    */
  def sessionBuilder(
      warehouseDir: String,
      metastoreDir: String,
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SessionTuning.shared(SparkSession.builder())
      .master(master)
      .enableHiveSupport()
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$metastoreDir/metastore_db;create=true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.statistics.histogram.enabled", "true")

  /** Name under which a fixture table registers in the persistent
    * catalog (suffixed so gate-time temp views never shadow them).
    */
  def tableName(fixture: String): String = s"g_${fixture}_ext"

  /** Register every fixture as an EXTERNAL parquet table — idempotent
    * (`IF NOT EXISTS`), data stays at `dir`, only metadata lands in the
    * metastore. Unlike a temp view this survives `spark.stop()` and a
    * process restart: any later session over the same metastore sees
    * the tables immediately — the "register fixtures once" contract.
    *
    * NANOS-era note: when the events fixture is INT64 TIMESTAMP(NANOS),
    * the table's declared ts DDL is BIGINT ([[graft.Tables.schemaFor]])
    * and the scan decodes the physical INT64 directly under that
    * requested type — no session conf involved (TsEncodingSpec), so a
    * derived `spark.newSession()` or restarted session can query the
    * table with no re-preparation beyond [[bootstrap]]'s idempotent
    * metadata registration.
    *
    * The fixtures are single FILES, so Hive-compatible table persistence
    * (which requires a directory location) falls back to Spark-native
    * metastore metadata with a logged warning — still persistent,
    * stats-bearing, and queryable; a production directory-per-table
    * layout persists Hive-compatibly with no other change here.
    */
  def registerExternal(spark: SparkSession, dir: String): Unit =
    Tables.schemas.keys.foreach { name =>
      // footer-aware ts type for events (+ the NANOS legacy conf when
      // that fixture generation is in place — required by any scan
      // through this external table)
      Tables.prepareTsRead(spark, s"$dir/$name.parquet", Tables.tsColumnsOf(name))
      val schema = Tables.schemaFor(spark, dir, name)
      // a persistent metastore can carry a registration from a PREVIOUS
      // fixture generation (e.g. events.ts BIGINT from the ns era) —
      // IF NOT EXISTS would silently keep it, so drop on schema drift
      val t = tableName(name)
      Tables.dropIfSchemaDrifted(spark, t, schema)
      // pathGlobFilter mirrors Tables.fixtureRead: a stray non-parquet
      // sibling in a part-file directory is skipped, not fatal
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $t (${schema.toDDL})
           |USING PARQUET OPTIONS (pathGlobFilter '*.parquet')
           |LOCATION '$dir/$name.parquet'""".stripMargin)
    }

  /** Collect table-level (row count, size) and column-level (NDV,
    * min/max, null count, histogram) statistics for the registered
    * fixtures. Column stats only cover atomic-typed columns — Spark's
    * ANALYZE rejects array/map columns (embeddings.embedding), so the
    * column list is filtered per table rather than `FOR ALL COLUMNS`.
    */
  def analyzeAll(spark: SparkSession): Unit =
    Tables.schemas.foreach { case (name, schema) =>
      val t = tableName(name)
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS")
      val atomic = schema.fields.collect {
        case f if !f.dataType.typeName.matches("array|map|struct") => f.name
      }
      if (atomic.nonEmpty)
        spark.sql(
          s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS ${atomic.mkString(", ")}")
    }

  /** One-call deployment bootstrap: register (idempotent) + analyze. */
  def bootstrap(spark: SparkSession, dir: String): Unit = {
    registerExternal(spark, dir)
    analyzeAll(spark)
  }
}
