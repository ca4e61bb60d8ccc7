package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.engine.{CacheManager, Engine, EngineConfig}
import graft.queries.NorthStarQueries

/** The served path reuses a handler's analyzed plan for the next request
  * with the same command and arguments while the fixture files it read
  * do not change, and never reuses what a rebuild could not stand in for.
  * A hit is told apart by counting the calls of a wrapped handler.
  */
class PreparedPlanSpec extends SparkSpec {

  private type Job = (SparkSession, CacheManager, Seq[Any]) => DataFrame

  /** A fresh engine with `job` registered as `cmd` behind a call counter. */
  private def counted(cmd: String)(job: Job): (Engine, AtomicInteger) = {
    val e = new Engine(spark, EngineConfig(reapIntervalMs = 0))
    val calls = new AtomicInteger
    e.register(cmd)((s, c, a) => { calls.incrementAndGet(); job(s, c, a) })
    (e, calls)
  }

  private def catalogQuery(name: String): Job = {
    val fn = SparkEntry.queryFn(name).get
    (s, _, a) => fn(s, a.head.toString)
  }

  private def rows(e: Engine, cmd: String, args: Seq[Any]): Seq[Row] =
    e.query(cmd, args).get.toSeq

  test("a second query does not run the handler and returns the same rows") {
    val (e, calls) = counted("pricing")(catalogQuery("agg_pricing_summary"))
    val first = rows(e, "pricing", Seq(sfDir))
    val second = rows(e, "pricing", Seq(sfDir))
    assert(calls.get == 1)
    assert(first.nonEmpty && second == first)
    // other arguments are another entry
    rows(e, "pricing", Seq(s"$sfDir/."))
    assert(calls.get == 2)
  }

  test("rewriting lineitem.parquet makes a miss with fresh rows") {
    withFixtureCopy(sfDir) { dir =>
      val (e, calls) = counted("lines")((s, _, a) =>
        Tables.load(s, a.head.toString, "lineitem").agg(count(lit(1)).as("n")))
      val before = rows(e, "lines", Seq(dir)).head.getLong(0)
      assert(rows(e, "lines", Seq(dir)).head.getLong(0) == before && calls.get == 1)
      rewriteFixture(dir, "lineitem",
        spark.read.parquet(s"$dir/lineitem.parquet").where(col("l_linenumber") === 1))
      val after = rows(e, "lines", Seq(dir)).head.getLong(0)
      assert(calls.get == 2)
      assert(after < before)
      assert(after == spark.read.parquet(s"$dir/lineitem.parquet").count())
    }
  }

  test("rewriting embeddings.parquet misses for ns_sim_pq_adc; one index artifact per path") {
    withFixtureCopy(sfDir) { dir =>
      val (e, calls) = counted("pq")(catalogQuery("ns_sim_pq_adc"))
      rows(e, "pq", Seq(dir))
      rows(e, "pq", Seq(dir))
      assert(calls.get == 1)
      rewriteFixture(dir, "embeddings",
        spark.read.parquet(s"$dir/embeddings.parquet").where(col("vec_id") =!= 7L))
      val after = rows(e, "pq", Seq(dir))
      assert(calls.get == 2)
      assert(after == SparkEntry.queries("ns_sim_pq_adc")(spark, dir).collect().toSeq)
      // the regenerated file's index replaced the first one
      assert(NorthStarQueries.IndexArtifact.entries("quantized", s"$dir/embeddings.parquet") == 1)
    }
  }

  test("registering a dir after a direct read makes a miss whose plan reads the catalog table") {
    withFixtureCopy(sfDir) { dir =>
      var last: DataFrame = null
      val (e, calls) = counted("nations")((s, _, a) => {
        last = Tables.load(s, a.head.toString, "nation").agg(sum(col("n_regionkey")).as("r"))
        last
      })
      def catalogLeaf: Option[Boolean] = last.queryExecution.analyzed
        .collectFirst { case r: LogicalRelation => r.catalogTable.isDefined }
      val direct = rows(e, "nations", Seq(dir))
      assert(catalogLeaf.contains(false))
      Tables.registerWithStats(spark, dir)
      assert(rows(e, "nations", Seq(dir)) == direct)
      assert(calls.get == 2)
      assert(catalogLeaf.contains(true))
      rows(e, "nations", Seq(dir))
      assert(calls.get == 2)
    }
  }

  test("every headline query is prepared, and a hit returns the miss's rows") {
    val names = SparkEntry.benchQueries.keys.toSeq.sorted ++ SparkEntry.benchNorthStar
    val e = new Engine(spark, EngineConfig(reapIntervalMs = 0))
    val calls = names.map(_ -> new AtomicInteger).toMap
    names.foreach { n =>
      val job = catalogQuery(n)
      e.register(n)((s, c, a) => { calls(n).incrementAndGet(); job(s, c, a) })
    }
    val first = names.map(n => rows(e, n, Seq(sfDir)))
    val second = names.map(n => rows(e, n, Seq(sfDir)))
    assert(names.filter(calls(_).get != 1).isEmpty)
    assert(names.zip(first.zip(second)).collect { case (n, (a, b)) if a != b => n }.isEmpty)
  }

  test("8 threads x 10 concurrent hits equal the serial answer") {
    val (e, calls) = counted("pricing")(catalogQuery("agg_pricing_summary"))
    val serial = rows(e, "pricing", Seq(sfDir))
    val hits = (1 to 8).map(_ => Future((1 to 10).map(_ => rows(e, "pricing", Seq(sfDir)))))
    hits.flatMap(Await.result(_, 5.minutes)).foreach(r => assert(r == serial))
    assert(calls.get == 1)
  }

  Seq[(String, Job)](
    "a Q.scratch query" -> catalogQuery("src_csv_roundtrip"),
    "a Q.media query" -> catalogQuery("ns_multimodal_png_types"),
    "agg_pushdown (no recorded dependency)" -> catalogQuery("src_agg_pushdown"),
    "a custom job with no fixture" -> ((s, _, _) => s.range(5).toDF()),
    "a scoped cache entry" -> ((s, c, a) => c.getOrPut("prepared-spec", scoped = true)(
      Tables.load(s, a.head.toString, "nation"))),
    "a direct read" -> ((s, _, a) => {
      Tables.load(s, a.head.toString, "region")
      s.read.parquet(s"${a.head}/nation.parquet")
    }),
    "a nondeterministic plan" -> ((s, _, a) =>
      Tables.load(s, a.head.toString, "nation").select(org.apache.spark.sql.functions.rand(7))),
    "a streaming query" -> ((s, _, a) => {
      Tables.load(s, a.head.toString, "nation")
      s.readStream.format("rate").load()
    }),
    "a failing handler" -> ((s, _, a) => {
      Tables.load(s, a.head.toString, "nation")
      throw new IllegalStateException("handler failure")
    })
  ).foreach { case (what, job) =>
    test(s"never reused: $what") {
      val (e, calls) = counted("cmd")(job)
      e.query("cmd", Seq(sfDir))
      e.query("cmd", Seq(sfDir))
      assert(calls.get == 2)
    }
  }

  test("register drops the entry, and submit never reuses") {
    val job = catalogQuery("agg_pricing_summary")
    val (e, calls) = counted("pricing")(job)
    rows(e, "pricing", Seq(sfDir))
    rows(e, "pricing", Seq(sfDir))
    assert(calls.get == 1)
    e.submit("pricing", Seq(sfDir)).get
    e.submit("pricing", Seq(sfDir)).get
    assert(calls.get == 3)
    // the same handler again: only the drop makes the next query miss
    val again: Job = (s, c, a) => { calls.incrementAndGet(); job(s, c, a) }
    e.register("pricing")(again)
    rows(e, "pricing", Seq(sfDir))
    assert(calls.get == 4)
    e.register("pricing")(again)
    rows(e, "pricing", Seq(sfDir))
    assert(calls.get == 5)
  }
}
