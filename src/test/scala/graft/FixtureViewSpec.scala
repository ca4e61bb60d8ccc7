package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** Fixture views are per call: a SQL-text query binds the fixtures it
  * names through [[graft.queries.Q.sql]], so concurrent calls on
  * different dirs each resolve their own dir's tables, and no
  * fixture-named view outlives a request.
  */
class FixtureViewSpec extends SparkSpec {

  private val dirs =
    Seq(sfDir, java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString)

  private def fixtureViews(): Set[String] =
    spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet.intersect(Tables.schemas.keySet)

  test("concurrent sql_in_subquery on two dirs each get their own dir's answer") {
    assume(new java.io.File(dirs(1)).isDirectory, s"${dirs(1)} missing")
    val e = SparkEntry.engineFor(spark)
    def run(dir: String): Seq[org.apache.spark.sql.Row] =
      e.query("sql_in_subquery", Seq(dir)).get.toSeq
    val serial = dirs.map(run)
    assert(serial(0) != serial(1), "the two dirs must give different answers")
    assert(fixtureViews().isEmpty, s"views left after serial calls: ${fixtureViews()}")
    for (_ <- 1 to 3) {
      val calls = dirs.map(d => Future(run(d)))
      val got = calls.map(Await.result(_, 5.minutes))
      assert(got == serial)
    }
    assert(fixtureViews().isEmpty, s"views left after concurrent calls: ${fixtureViews()}")
  }
}
