package graft

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogStatistics

/** What [[Tables.registerWithStats]] installs and when it runs a job, on
  * the shared Hive session, which has column histograms on. The
  * statistics equal those of a table-level ANALYZE followed by a column
  * ANALYZE over the same files, and registration runs at least one job
  * fewer per table to get them. A file version the catalog records as
  * analyzed, by this process or an earlier one, is not analyzed again, a
  * rewritten one is, and a failing table is named without leaving a
  * registration thread behind.
  */
class RegistrationSpec extends SparkSpec {

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerFlush.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try { body; ListenerFlush.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(counter)
    jobs.get
  }

  /** What `body` printed to stderr. */
  private def stderrOf(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(saved)
    buf.toString("UTF-8")
  }

  private def stats(table: String): CatalogStatistics =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table)).stats
      .getOrElse(fail(s"$table carries no statistics"))

  /** The columns of `schema` that ANALYZE can collect statistics for. */
  private def atomic(schema: org.apache.spark.sql.types.StructType): Seq[String] =
    schema.fields.toSeq.map(_.name).filterNot(c =>
      schema(c).dataType.typeName.matches("array|map|struct"))

  /** The stderr line of one [[Tables.registerWithStats]] call on `dir`,
    * and the Spark jobs the call started. */
  private def register(dir: String): (String, Int) = {
    var err = ""
    val jobs = jobsDuring { err = stderrOf(Tables.registerWithStats(spark, dir)) }
    (err.linesIterator.find(_.startsWith("[session] registered")).getOrElse(fail(err)), jobs)
  }

  /** `sizeInBytes`, `rowCount` and every column statistic, histograms
    * included, in the form the catalog stores them. */
  private def stored(s: CatalogStatistics) =
    (s.sizeInBytes, s.rowCount, s.colStats.map { case (c, cs) => c -> cs.toMap(c) })

  // sfDir and the next scale factor beside it
  Seq("sf0.001", "sf0.01").foreach { sf =>
    test(s"$sf: the statistics of the two-pass ANALYZE, one job fewer per table") {
      withFixtureCopy(s"${Paths.get(sfDir).getParent}/$sf") { dir =>
        val jobs = jobsDuring(Tables.registerWithStats(spark, dir))
        val twoPassJobs = Tables.schemas.keys.toSeq.map { name =>
          val t = Tables.statsTableName(dir, name)
          val ref = s"${t}_ref"
          val schema = Tables.footer(spark, s"$dir/$name.parquet", name).schema
          try {
            spark.sql(Tables.fixtureDdl(ref, schema, s"$dir/$name.parquet"))
            val n = jobsDuring {
              spark.sql(s"ANALYZE TABLE $ref COMPUTE STATISTICS")
              spark.sql(s"ANALYZE TABLE $ref COMPUTE STATISTICS FOR COLUMNS ${atomic(schema).mkString(", ")}")
            }
            assert(stored(stats(t)) == stored(stats(ref)), name)
            n
          } finally spark.sql(s"DROP TABLE IF EXISTS $ref")
        }.sum
        assert(jobs + Tables.schemas.size <= twoPassJobs,
          s"registration ran $jobs jobs, the two passes $twoPassJobs")
      }
    }
  }

  test("a second registration of an unchanged dir starts no Spark job") {
    Tables.registerWithStats(spark, sfDir)
    assert(Tables.load(spark, sfDir, "nation").count() == 25L)
    assert(jobsDuring(Tables.registerWithStats(spark, sfDir)) == 0)
    Tables.schemas.keys.foreach(name =>
      assert(stats(Tables.statsTableName(sfDir, name)).rowCount.isDefined, name))
  }

  test("a table analyzed by another process is kept") {
    withFixtureCopy(sfDir) { dir =>
      // what an earlier process leaves in a persistent metastore: the
      // tables, their column statistics and the analyzed file version
      Tables.schemas.keys.foreach { name =>
        val t = Tables.statsTableName(dir, name)
        val path = s"$dir/$name.parquet"
        val schema = Tables.footer(spark, path, name).schema
        spark.sql(Tables.fixtureDdl(t, schema, path))
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS ${atomic(schema).mkString(", ")}")
        spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
          s"('${Tables.StampProperty}' = '${Tables.fileStamp(spark, path)}')")
      }
      val (line, jobs) = register(dir)
      assert(line.endsWith(" s (0 analyzed, 10 kept)"), line)
      assert(jobs == 0)
      val lineitem = Tables.load(spark, dir, "lineitem")
      assert(lineitem.queryExecution.optimizedPlan.stats.rowCount.isDefined,
        "load did not serve the stats-bearing table")
      // a table analyzed without the record, as earlier versions of the
      // registration left it, is analyzed once and then kept
      val nation = Tables.statsTableName(dir, "nation")
      spark.sql(s"ALTER TABLE $nation UNSET TBLPROPERTIES ('${Tables.StampProperty}')")
      assert(Tables.load(spark, dir, "nation").queryExecution.optimizedPlan.stats.rowCount.isEmpty)
      val (once, _) = register(dir)
      assert(once.endsWith(" s (1 analyzed, 9 kept)"), once)
      val (again, againJobs) = register(dir)
      assert(again.endsWith(" s (0 analyzed, 10 kept)"), again)
      assert(againJobs == 0)
      assert(Tables.load(spark, dir, "nation").queryExecution.optimizedPlan.stats.rowCount
        .contains(BigInt(25)))
    }
  }

  test("fixtures rewritten with fewer and with more rows are analyzed again") {
    withFixtureCopy(sfDir) { dir =>
      Tables.registerWithStats(spark, dir)
      val nation = Tables.statsTableName(dir, "nation")
      val region = Tables.statsTableName(dir, "region")
      // reading the tables caches their relations over the old files
      assert(spark.table(nation).count() == 25L && spark.table(region).count() == 5L)
      rewriteFixture(dir, "nation", spark.read.parquet(s"$dir/nation.parquet").where("n_nationkey < 10"))
      // distinct names, so the new file is many times the old one's size
      rewriteFixture(dir, "region", spark.range(1000).selectExpr(
        "cast(id as int) AS r_regionkey", "concat('region-', uuid()) AS r_name"))
      // until registration runs again, load reads the new files directly
      assert(Tables.load(spark, dir, "nation").count() == 10L)
      assert(Tables.load(spark, dir, "region").count() == 1000L)
      val err = stderrOf(Tables.registerWithStats(spark, dir))
      val line = err.linesIterator.find(_.startsWith("[session] registered")).getOrElse(fail(err))
      assert(stats(nation).rowCount.contains(BigInt(10)))
      assert(stats(region).rowCount.contains(BigInt(1000)))
      assert(spark.table(nation).count() == 10L && spark.table(region).count() == 1000L)
      assert(line.startsWith(s"[session] registered 10 fixtures from $dir in "), line)
      assert(line.endsWith(" s (2 analyzed, 8 kept)"), line)
    }
  }

  test("a dir missing one fixture fails naming it and leaves no registration thread") {
    withFixtureCopy(sfDir, except = Set("part")) { dir =>
      val e = intercept[IllegalStateException](Tables.registerWithStats(spark, dir))
      assert(e.getMessage.contains(s"fixture 'part' from $dir failed"), e.getMessage)
      val live = Thread.getAllStackTraces.keySet.asScala
        .filter(_.getName.startsWith("graft-register-"))
      assert(live.isEmpty, live.map(_.getName).mkString(", "))
    }
  }
}
