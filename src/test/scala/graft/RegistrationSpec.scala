package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogStatistics

import graft.queries.Q

/** What [[Tables.registerWithStats]] installs and when it runs a job, on
  * the shared Hive session, which has column histograms on. The
  * statistics equal those of a table-level ANALYZE followed by a column
  * ANALYZE over the same files, and registration runs at least one job
  * fewer per table to get them. An unchanged file version is not
  * analyzed again, a rewritten one is, and a failing table is named
  * without leaving a registration thread behind.
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

  /** Runs `body` on a fresh copy of the fixtures of `from`, all but
    * `except`, so no earlier registration in this JVM covers it. The
    * tables registered from the copy are dropped with it. */
  private def withCopy(from: String, except: Set[String] = Set.empty)(body: String => Unit): Unit = {
    val base = Q.scratchDir("registration")
    val dir = s"$base/sf"
    Files.createDirectories(Paths.get(dir))
    Tables.schemas.keys.filterNot(except).foreach(t =>
      Files.copy(Paths.get(s"$from/$t.parquet"), Paths.get(s"$dir/$t.parquet")))
    try body(dir)
    finally {
      Tables.schemas.keys.foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ${Tables.statsTableName(dir, t)}"))
      Q.scratchDelete(base)
    }
  }

  private def stats(table: String): CatalogStatistics =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table)).stats
      .getOrElse(fail(s"$table carries no statistics"))

  /** `sizeInBytes`, `rowCount` and every column statistic, histograms
    * included, in the form the catalog stores them. */
  private def stored(s: CatalogStatistics) =
    (s.sizeInBytes, s.rowCount, s.colStats.map { case (c, cs) => c -> cs.toMap(c) })

  // sfDir and the next scale factor beside it
  Seq("sf0.001", "sf0.01").foreach { sf =>
    test(s"$sf: the statistics of the two-pass ANALYZE, one job fewer per table") {
      withCopy(s"${Paths.get(sfDir).getParent}/$sf") { dir =>
        val jobs = jobsDuring(Tables.registerWithStats(spark, dir))
        val twoPassJobs = Tables.schemas.keys.toSeq.map { name =>
          val t = Tables.statsTableName(dir, name)
          val ref = s"${t}_ref"
          val schema = Tables.footer(spark, s"$dir/$name.parquet", name).schema
          val atomic = schema.fields.map(_.name).filterNot(c =>
            schema(c).dataType.typeName.matches("array|map|struct"))
          try {
            spark.sql(
              s"""CREATE TABLE $ref (${schema.toDDL})
                 |USING PARQUET OPTIONS (pathGlobFilter '*.parquet')
                 |LOCATION '$dir/$name.parquet'""".stripMargin)
            val n = jobsDuring {
              spark.sql(s"ANALYZE TABLE $ref COMPUTE STATISTICS")
              spark.sql(s"ANALYZE TABLE $ref COMPUTE STATISTICS FOR COLUMNS ${atomic.mkString(", ")}")
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

  test("fixtures rewritten with fewer and with more rows are analyzed again") {
    withCopy(sfDir) { dir =>
      Tables.registerWithStats(spark, dir)
      val nation = Tables.statsTableName(dir, "nation")
      val region = Tables.statsTableName(dir, "region")
      // reading the tables caches their relations over the old files
      assert(spark.table(nation).count() == 25L && spark.table(region).count() == 5L)
      /** Replace fixture `name` by the one-file parquet of `rows`. */
      def rewrite(name: String, rows: org.apache.spark.sql.DataFrame): Unit = {
        val staging = s"${dir}_$name"
        rows.coalesce(1).write.parquet(staging)
        val listing = Files.list(Paths.get(staging))
        val part =
          try listing.iterator.asScala.find(_.getFileName.toString.endsWith(".parquet")).get
          finally listing.close()
        Files.move(part, Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      }
      rewrite("nation", spark.read.parquet(s"$dir/nation.parquet").where("n_nationkey < 10"))
      // distinct names, so the new file is many times the old one's size
      rewrite("region", spark.range(1000).selectExpr(
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
    withCopy(sfDir, except = Set("part")) { dir =>
      val e = intercept[IllegalStateException](Tables.registerWithStats(spark, dir))
      assert(e.getMessage.contains(s"fixture 'part' from $dir failed"), e.getMessage)
      val live = Thread.getAllStackTraces.keySet.asScala
        .filter(_.getName.startsWith("graft-register-"))
      assert(live.isEmpty, live.map(_.getName).mkString(", "))
    }
  }
}
