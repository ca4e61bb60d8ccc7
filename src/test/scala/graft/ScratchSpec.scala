package graft

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.queries.Q

/** One scratch lifecycle: a query that round-trips through files gets a
  * fresh tree from [[Q.scratch]] and loses it when the call returns,
  * whether the body succeeded or threw, and concurrent calls of the same
  * query share no path and no catalog table.
  */
class ScratchSpec extends SparkSpec {

  /** `graft-<prefix>-*` entries under `java.io.tmpdir`. */
  private def trees(prefixes: String*): Set[String] = {
    val ls = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try ls.iterator.asScala.map(_.getFileName.toString)
      .filter(f => prefixes.exists(p => f.startsWith(s"graft-$p-"))).toSet
    finally ls.close()
  }

  test("Q.scratch deletes its tree when the body throws") {
    val before = trees("spec-throws")
    var base = ""
    val q = Q.scratch("spec-throws")((_, _, b) => {
      base = b
      Files.write(Paths.get(b, "partial"), Array[Byte](1, 2, 3))
      throw new IllegalStateException("body failed")
    }, None)
    val e = intercept[IllegalStateException](q.fn(spark, sfDir))
    assert(e.getMessage == "body failed")
    assert(base.nonEmpty && !Files.exists(Paths.get(base)))
    assert(trees("spec-throws") == before)
  }

  test("Q.scratch deletes its tree on success and the returned frame still collects") {
    val before = trees("spec-ok")
    var base = ""
    val q = Q.scratch("spec-ok")((s, _, b) => {
      base = b
      s.range(5).write.parquet(s"$b/t")
      s.read.parquet(s"$b/t").orderBy("id")
    }, None)
    val df = q.fn(spark, sfDir)
    assert(base.nonEmpty && !Files.exists(Paths.get(base)))
    assert(trees("spec-ok") == before)
    assert(df.collect().map(_.getLong(0)).toSeq == (0L until 5L))
  }

  test("Q.scratch deletes its tree when the streamed gate throws") {
    import org.apache.spark.sql.functions.expr
    import graft.streaming.Replay
    val before = trees("spec-replay")
    var base = ""
    val q = Q.scratch("spec-replay")((s, _, b) => {
      base = b
      Replay.land(s"$b/in", Seq("batch0" -> s.range(5).toDF()))
      Replay.drain(Replay.stream(s, s"$b/in", s.range(1).schema)
          .select(expr("if(id = 3, raise_error('gate failed'), id)").as("id")),
        s"$b/out", s"$b/cp")
      s.read.parquet(s"$b/out")
    }, None)
    val e = intercept[Exception](q.fn(spark, sfDir))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("gate failed")), e)
    assert(base.nonEmpty && !Files.exists(Paths.get(base)))
    assert(trees("spec-replay") == before)
  }

  Seq("src_csv_roundtrip", "src_bucketed_join").foreach { name =>
    test(s"two concurrent $name calls on one engine both succeed with the same rows") {
      val e = SparkEntry.engineFor(spark)
      val before = trees("csv", "bucketed")
      val calls = Seq.fill(2)(Future(e.query(name, Seq(sfDir)).get.toSeq))
      val Seq(a, b) = calls.map(Await.result(_, 5.minutes))
      assert(a.nonEmpty && a == b)
      assert(trees("csv", "bucketed") == before)
      assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("graft_bucketed_")),
        "a per-call bucketed table outlived its request")
    }
  }
}
