package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

import graft.engine.Engine

/** The persistent-catalog contract: fixture tables registered by
  * [[Tables.registerWithStats]] on the Hive-backed session live in the
  * metastore (not session temp views), survive a new session, carry
  * ANALYZE statistics, and those statistics steer the cost-based
  * optimizer — including for a handler's [[Tables.load]] on the engine
  * [[Engine.persistent]] returns, which is the session's one engine.
  */
class PersistentCatalogSpec extends SparkSpec {

  private lazy val registered: Unit = Tables.registerWithStats(spark, sfDir)

  private def table(name: String): String = Tables.statsTableName(sfDir, name)

  private def persistentEngine(dir: String): Engine =
    Engine.persistent(
      dir,
      warehouseDir = new java.io.File("target/test-warehouse").getAbsolutePath,
      metastoreDir = new java.io.File("target/test-metastore").getAbsolutePath)

  test("catalog is Hive-backed with an on-disk metastore") {
    registered
    val ext = spark.sharedState.externalCatalog.unwrapped.getClass.getName
    assert(ext.contains("HiveExternalCatalog"), s"external catalog was $ext")
    assert(new java.io.File("target/test-metastore/metastore_db").isDirectory,
      "Derby metastore directory missing — catalog would not survive a restart")
  }

  test("external tables survive a new session (not temp views)") {
    registered
    val fresh = spark.newSession() // fresh temp-view namespace, shared catalog
    val n = fresh.table(table("lineitem")).count()
    assert(n > 0)
    // a temp view registered in the ORIGINAL session must NOT leak into
    // the fresh one — proving the external table is a different animal
    spark.range(1).createOrReplaceTempView("g_only_in_session_one")
    assert(!fresh.catalog.tableExists("g_only_in_session_one"))
    assert(fresh.catalog.tableExists(table("lineitem")))
    assert(!fresh.catalog.getTable(table("lineitem")).isTemporary)
  }

  test("ANALYZE stats are visible to the optimizer (rowCount + column stats)") {
    registered
    val t = spark.table(table("lineitem"))
    val stats = t.queryExecution.optimizedPlan.stats
    val actual = t.count()
    assert(stats.rowCount.contains(BigInt(actual)),
      s"rowCount ${stats.rowCount} != analyzed $actual")
    assert(stats.attributeStats.nonEmpty, "no column-level stats after ANALYZE")
    val qty = stats.attributeStats.find(_._1.name == "l_quantity").map(_._2)
    assert(qty.exists(_.distinctCount.isDefined), "l_quantity NDV missing")
  }

  test("CBO uses stats: small analyzed table broadcasts without a hint") {
    registered
    def broadcastJoins(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case b: BroadcastHashJoinExec => b }
    // nation (25 rows, known via metastore stats) joined to a fact-side
    // table: the planner must pick a broadcast-hash join on its own —
    // no broadcast() hint anywhere in this query. (The exchange node
    // itself is only inserted at executedPlan time, so the assertion is
    // on the join strategy choice.)
    val fact = spark.table(table("supplier"))
    val dim = spark.table(table("nation"))
    val joined = fact.join(dim, fact("s_nationkey") === dim("n_nationkey"))
    val bx = broadcastJoins(joined.queryExecution.sparkPlan)
    assert(bx.nonEmpty, "stats-informed broadcast join not chosen")
  }

  test("Engine.persistent: one-call bootstrap yields a queryable engine over the catalog") {
    // getOrCreate reuses the suite's Hive-backed context; registration
    // must be idempotent over the already-registered tables. The engine
    // is shared with every other user of the session, so it is not shut
    // down here.
    val e = persistentEngine(sfDir)
    assert(e eq SparkEntry.engineFor(spark))
    val rows = e.query("agg_pricing_summary", Seq(sfDir)).get
    assert(rows.nonEmpty)
    // stats survived the re-registration (ANALYZE is idempotent)
    val stats = e.spark.table(table("nation")).queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(25)))
  }

  test("Engine.persistent: a handler's load plans over the stats-bearing table") {
    // a dir no other suite registers, so only Engine.persistent can have
    // made its tables: the load must carry their ANALYZE rowCount, which
    // a plain parquet scan never has
    val base = graft.queries.Q.scratchDir("persistent")
    val d = s"$base/sf"
    Files.createDirectories(Paths.get(d))
    Tables.schemas.keys.foreach(t =>
      Files.copy(Paths.get(s"$sfDir/$t.parquet"), Paths.get(s"$d/$t.parquet")))
    try {
      val e = persistentEngine(d)
      val nation = Tables.load(e.spark, d, "nation")
      assert(nation.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(25)))
      assert(nation.count() == 25L)
    } finally {
      Tables.schemas.keys.foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ${Tables.statsTableName(d, t)}"))
      graft.queries.Q.scratchDelete(base)
    }
  }

  test("a catalog-table load makes one Hive client call") {
    import org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_HIVE_CLIENT_CALLS
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    registered
    Tables.load(spark, sfDir, "lineitem").count() // the relation is cached
    val before = METRIC_HIVE_CLIENT_CALLS.getCount
    val df = Tables.load(spark, sfDir, "lineitem")
    assert(METRIC_HIVE_CLIENT_CALLS.getCount - before == 1)
    // the relation is the catalog table's, as spark.table builds it
    val leaf = df.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r }
    assert(leaf.flatMap(_.catalogTable).map(_.identifier.unquotedString)
      .contains(s"spark_catalog.default.${table("lineitem")}"))
    assert(df.queryExecution.analyzed.output.map(_.name) ==
      spark.table(table("lineitem")).queryExecution.analyzed.output.map(_.name))
    assert(df.count() == spark.table(table("lineitem")).count())
  }

  test("CBO join reorder: selective dimension pair joins before the fact") {
    registered
    // written worst-first: fact x fact, dims last. With cbo+joinReorder
    // ON (session default here), the optimizer is free to re-associate;
    // with CBO OFF in an otherwise identical session the join tree must
    // keep the authored order. The assertion is that the two plans
    // DIFFER — i.e. the statistics actually changed the plan.
    def plan(s: org.apache.spark.sql.SparkSession): String = {
      val o = s.table(table("orders"))
      val l = s.table(table("lineitem"))
      val c = s.table(table("customer"))
      val n = s.table(table("nation"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .where(n("n_name") === "FRANCE")
        .groupBy(n("n_name")).count()
        .queryExecution.optimizedPlan.treeString
    }
    val cboOn = plan(spark)
    val off = spark.newSession()
    off.conf.set("spark.sql.cbo.enabled", "false")
    off.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
    val cboOff = plan(off)
    assert(cboOn != cboOff,
      "CBO on/off produced identical optimized plans — stats not consulted")
  }
}
