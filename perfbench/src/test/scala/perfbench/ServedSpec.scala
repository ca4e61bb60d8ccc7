package perfbench

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The harness against a real served engine on the sf0.001 fixtures. */
class ServedSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dataDir = new java.io.File("data/sf0.001").getAbsolutePath
  private val answers = Answers.load(java.nio.file.Paths.get("answers.tsv"))
  private val check = Main.checker(answers, "sf0.001") _
  // cheap queries: one builds its DataFrame with Spark jobs, one does not
  private val withConstructJobs = "ns_text_robots"
  private val plain = "sort_multi_nulls"

  private lazy val served = Main.serve(dataDir, traced = true)

  override def afterAll(): Unit = served.close()

  private def drive(seq: IndexedSeq[String])(chk: (String, Any) => (String, String)) =
    Main.drive(served, 1, seq, dataDir, s"t${System.nanoTime()}", Long.MaxValue, wire = true)(chk)

  test("a handler that throws counts in error_frac and adds no latency sample") {
    served.engine.register("perfbench_throws")((_, _, _) => throw new RuntimeException("boom"))
    val recs = drive(Vector("perfbench_throws", plain))(check)
    assert(recs.map(_.outcome) == Vector("error", "ok"))
    assert(recs.head.detail.contains("boom"))
    val s = Summary(recs, Vector.empty, 1.0)
    assert(s.failed == 1 && s.attempted == 2 && s.errorFrac == 0.5)
    assert(s.latMs == Vector(recs(1).latMs))
  }

  test("a corrupted reply counts in error_frac and adds no latency sample") {
    val good = answers(("sf0.001", plain))
    served.engine.register("perfbench_short") { (s, _, args) =>
      graft.SparkEntry.catalog(plain).fn(s, args.head.toString).limit(good.rows - 1)
    }
    val pinned = answers ++ Map(
      ("sf0.001", "perfbench_short") -> good,
      ("sf0.001", "perfbench_flipped") -> good.copy(digest = good.digest.reverse))
    served.engine.register("perfbench_flipped") { (s, _, args) =>
      graft.SparkEntry.catalog(plain).fn(s, args.head.toString)
    }
    val recs = drive(Vector("perfbench_short", "perfbench_flipped", plain))(
      Main.checker(pinned, "sf0.001"))
    assert(recs.map(_.outcome) == Vector("wrong", "wrong", "ok"))
    val s = Summary(recs, Vector.empty, 1.0)
    assert(s.failed == 2 && s.latMs.size == 1)
    assert(s.qps == 1.0)
  }

  test("every traced request has a handler span and consecutive non-negative layer spans") {
    val wallOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val recs = drive(Vector(withConstructJobs, plain, withConstructJobs, plain))(check)
    assert(recs.forall(_.outcome == "ok"), recs)
    org.apache.spark.graftbench.ListenerFlush.drain(served.spark.sparkContext)
    val trace = served.trace.get
    for (r <- recs) {
      val l = Main.layers(r, trace, wallOffsetNs).getOrElse(fail(s"no handler span for ${r.sn}"))
      assert(l.admit >= 0 && l.construct > 0 && l.exec >= 0 && l.reply >= 0, l)
      val st = trace.stats(r.sn).get
      if (r.query == withConstructJobs) assert(st.constructJobs > 0)
      else assert(st.constructJobs == 0 && st.jobs > 0)
    }
    assert(recs.forall(_.replyBytes > 0))
  }
}
