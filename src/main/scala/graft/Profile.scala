package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.graftbench.ListenerFlush
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.JvmProbes.{codegenCompiles, gcMillis, jitMillis}

/** Profiler for registered queries, on the session `graft.Bench` times
  * (stats-bearing tables + CBO). For each query it prints:
  *
  *   - the formatted physical plan;
  *   - after Bench's adaptive warm-up, three timed runs, each split
  *     into construct (calling the query's builder function: fixture
  *     footer detection, eager collects feeding broadcast literals,
  *     construct-time `localCheckpoint` jobs), plan (analysis +
  *     optimization + physical planning of the constructed frame) and
  *     exec (the noop-sink write of the SAME frame: AQE re-planning,
  *     shuffles, tasks), with the run's JIT, GC and codegen-compile
  *     deltas — so a construct-vs-exec attribution also says WHY
  *     (compile storm vs pause vs real work; a warm run that compiles
  *     generated classes missed Spark's codegen cache);
  *   - the last run's stages, hottest first, with job, summed task run
  *     and CPU ms, tasks, rows in and out, operator scopes and call
  *     site — a hot stage from the bench diagnostics maps back to the
  *     operator that spawned it without the (disabled) UI;
  *   - the last run's AQE-final plan with its reuse counts. The static
  *     plan shows duplicated subtrees even when runtime exchange reuse
  *     serves them from one computation, so reuse claims are checked
  *     here.
  *
  * Usage: `runMain graft.Profile <sfDir> <query> [query...]`
  */
object Profile {
  private val Runs = 3

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <query> [query...]")
    val sfDir = args.head
    val queries = args.tail.map { name =>
      name -> SparkEntry.queryFn(name).getOrElse(sys.error(s"unknown query: $name"))
    }
    val spark = SessionTuning.local(defaultCpus = 32, statsDir = Some(sfDir))
    val sc = spark.sparkContext
    val stages = StageMetrics.install(sc)
    // The write runs its OWN QueryExecution (df.queryExecution never
    // executes), so the executed plan comes from a listener.
    val finalPlan = new AtomicReference[String]("")
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        finalPlan.set(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    def exec(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    def secs(from: Long, to: Long): Double = (to - from) / 1e9

    queries.foreach { case (name, fn) =>
      println(s"===== $name =====")
      println(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
      val (passes, best) = Bench.warmUp(() => exec(fn(spark, sfDir)))
      println(f"[profile] $name warmed ($passes passes, best $best%.3f s)")
      (1 to Runs).foreach { i =>
        System.gc(); Thread.sleep(200)
        ListenerFlush.drain(sc)
        stages.reset()
        val (j0, g0, c0) = (jitMillis, gcMillis, codegenCompiles)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        exec(df)
        val t3 = System.nanoTime()
        println(f"[profile] $name run $i: construct ${secs(t0, t1)}%.3f s, " +
          f"plan ${secs(t1, t2)}%.3f s, exec ${secs(t2, t3)}%.3f s, " +
          f"total ${secs(t0, t3)}%.3f s, jit ${jitMillis - j0} ms, gc ${gcMillis - g0} ms, " +
          s"codegen ${codegenCompiles - c0} compiles")
      }
      ListenerFlush.drain(sc)
      stages.byStage.sortBy(-_._2.runMs).foreach { case (id, st) =>
        println(f"[profile] stage $id%5d job ${st.jobId}%3d run ${st.runMs}%7d ms cpu " +
          f"${st.cpuMs}%7d ms tasks ${st.tasks}%4d rowsIn ${st.rowsIn}%9d " +
          f"rowsOut ${st.rowsOut}%9d  ${st.name}")
        val where = (if (st.ops.nonEmpty) Seq(st.ops.mkString("ops[", " > ", "]")) else Nil) ++
          st.callSite.linesIterator.filterNot(_.contains("graft.Profile")).take(2)
        if (where.nonEmpty) println(s"[profile]            ${where.mkString(" | ")}")
      }
      val fin = finalPlan.get
      // Under AQE a REUSED shuffle stage prints as the same
      // "ShuffleQueryStage n" id appearing more than once — distinct ids
      // vs mentions is the truthful reuse count.
      val stageIds = raw"ShuffleQueryStage (\d+)".r.findAllMatchIn(fin).map(_.group(1)).toSeq
      def count(s: String) = fin.linesIterator.count(_.contains(s))
      println(s"[profile] $name AQE-final: ${count("Scan parquet")} parquet scans, " +
        s"${count("Generate")} generates, ${count("ReusedExchange")} ReusedExchange nodes, " +
        s"${stageIds.size} ShuffleQueryStage mentions of ${stageIds.distinct.size} distinct ids")
      println(fin)
    }
    spark.stop()
  }
}
