package graft

import org.apache.spark.graftbench.ListenerFlush
import org.apache.spark.sql.DataFrame

import graft.JvmProbes._

/** Benchmark harness (driver contract): times the headline `bench=true`
  * queries from SparkEntry at SPARK_GRAFT_SF_DIR, printing ONE JSON
  * line. Each query runs through the noop sink so the FULL physical
  * plan executes (count() would let Catalyst prune payload columns and
  * under-report; collect() would add driver materialization noise).
  *
  * The PRINTED line carries only the score fields the driver parses —
  * {metric, value, unit, ns_total, queries, runs, suspect, sf}, all
  * timings rounded to 1ms. `value` sums the r3-frozen headline group;
  * `ns_total` sums the north-star LLM-pipeline group (frozen in
  * BASELINE.md from r10). The r8 artifact
  * was lost ("parsed": null) because the diag-enriched line overflowed
  * the driver's tail-capture window; all diagnostics now go to a side
  * file (target/bench_diag.json) instead of the score line.
  *
  * A query that fails, in a warm-up or a timed run, ends the run with
  * exit code 1 and its name on stderr; no score line is printed.
  *
  * Every timed run records a diagnostic row in that side file so an
  * anomalous run self-identifies from the artifact alone.
  * The discriminators, per run:
  *   - wall          wall-clock seconds (same number the score uses)
  *   - taskRunMs     Σ executorRunTime over tasks (scheduler-side wall)
  *   - taskCpuMs     Σ executorCpuTime  (real on-CPU work)
  *   - taskGcMs      Σ jvmGCTime billed to tasks
  *   - drvGcMs       collector MXBean delta (whole-JVM GC, incl. driver)
  *   - jitMs         JIT compiler time delta (C1+C2 compile storms)
  *   - spillMB       memory+disk bytes spilled
  *   - codeUsedMB    code-cache occupancy after the run
  *   - procCpuMs     this JVM's process CPU delta
  *   - osBusyMs      /proc/stat non-idle delta x10ms, ALL processes
  *   - classesLoaded new classes defined during the run (codegen churn)
  *   - stages        per-stage {id, runMs, cpuMs, tasks}: attributes a
  *                   CPU spike to the specific stage that burned it
  * Reading them: wall up with taskCpuMs up ⇒ genuinely more CPU burned
  * (codegen fell back to interpreter / JIT deopt). wall up, taskCpuMs
  * flat, osBusyMs up ⇒ an EXTERNAL process stole the cores. gc/jit
  * columns isolate pause-vs-compile. codeCacheMaxMB at top level proves
  * build.sbt's -XX:ReservedCodeCacheSize reached this forked JVM.
  *
  * `suspect` on the printed line lists "query#runIdx" for any run whose
  * wall exceeds 2x that query's min — the artifact self-flags variance
  * without a reader cross-referencing raw diag rows.
  *
  * r21 steal guard: when even a query's BEST timed run lost >5% of its
  * window to hypervisor steal (/proc/stat field 8 — this sandbox is a
  * VM guest; see PLANS.md "r21 driver-gap root cause"), up to 2 extra
  * timed runs are taken under the identical protocol, and every run is
  * published in `runs`. The guard can only remove external-interference
  * noise — with one clean run among the first three it never fires.
  */
object Bench {

  /** Adaptive warm-up: untimed `pass`es until the wall stabilizes (the
    * current pass inside the 0.85x-1.3x band around the best so far,
    * max 8 passes — see the convergence comment below). Returns the
    * pass count and the best wall in seconds. Two reasons: (a) the run
    * after a GC breather re-touches evicted cache lines and reads
    * high; (b) — the r8 "unexplained 3x CPU spike", named in r9 via
    * -XX:+PrintCompilation — the per-ROW generated methods (e.g. the
    * minhash shingle x 8-signature loop, generate_doConsume_0) cross
    * the JIT Tier-4 invocation thresholds slowly at bench row counts,
    * so early runs execute at tier 3 (C1 + profiling counters in
    * every loop backedge) at 3-10x the C2 steady-state CPU. Repeating
    * untimed passes drives the counters past the threshold so no
    * TIMED run pays the tier-3 tax.
    * Cap raised 5 -> 8 in r11: at the 10x bench tier the minhash
    * generated loops were STILL improving >30%/pass when the old cap
    * hit (taskCpuMs 104s -> 60s -> 42s across the timed runs, zero
    * new classes — pure tier-4 ramp), so the first timed runs ate the
    * remainder of the ramp and tripped the suspect flag.
    */
  private[graft] def warmUp(pass: () => Unit): (Int, Double) = {
    var bestWarm = Double.MaxValue
    var warmed = 0
    var stable = false
    while (warmed < 8 && !stable) {
      val w0 = System.nanoTime()
      pass()
      val w = (System.nanoTime() - w0) / 1e9
      // Converged = this pass lands in a BAND around the best so far:
      //   - not a spike (w <= 1.3x best), and
      //   - not still improving (w >= 0.85x best).
      // The r12 lesson: the old check was only the upper bound, which
      // an IMPROVING pass satisfies trivially (w < best => w < 1.3x
      // best) — warm-up declared victory after 2 passes mid-JIT-ramp,
      // and multi-stage plans (pagerank's per-round joins, bm25's
      // two-level aggs) then ran every TIMED pass on the tier-3
      // plateau: r12 showed them flat at 2.7x/2.9x their frozen mins.
      // Requiring the lower bound keeps warming while each pass still
      // beats the best by >15%.
      // (warmed > 0: the first pass can never prove stability — the
      // MaxValue sentinel would make both bounds vacuous.)
      stable = warmed > 0 && w <= bestWarm * 1.3 && w >= bestWarm * 0.85
      bestWarm = math.min(bestWarm, w)
      warmed += 1
    }
    (warmed, bestWarm)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Stats-bearing catalog tables + CBO for the bench session: the
    // star-join queries then plan with real rowCount/NDV (join reorder,
    // build-side choice) instead of file-size heuristics — the same
    // configuration `Engine.persistent` registers in its Hive metastore.
    val spark = SessionTuning.local(defaultCpus = 32, statsDir = Some(sfDir))
    val sc = spark.sparkContext
    val agg = StageMetrics.install(sc)
    // One query pass through the noop sink. A failure ends the run with
    // a nonzero exit and the query named: a wall time up to the failure
    // is not a timing.
    def run(name: String, dir: String)(df: => DataFrame): Unit =
      try df.write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed on $dir: $e")
        sys.exit(1)
      }
    // SPARK_GRAFT_BENCH_ONLY=name1,name2 (substring match) restricts the
    // run — lets a single query be re-measured in isolation when chasing
    // a variance flag, same convention as ScaleProbe.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Two timed groups under one protocol: the r3-frozen headline set
    // (scored as "value", comparable across every round) and the
    // north-star LLM-pipeline set (scored as "ns_total", frozen in
    // BASELINE.md's north-star section from r10 on).
    // SPARK_GRAFT_BENCH_EXTRA=name1,name2 (exact catalog names) times
    // additional queries in the ns channel under the identical protocol
    // — used for scale-tier anchor runs (BENCH_r*_ns_10x). Unset in the
    // driver's per-round invocation, so the frozen score groups (and
    // value/ns_total comparability) are untouched there.
    val extras = sys.env.get("SPARK_GRAFT_BENCH_EXTRA")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
      .flatMap(n => SparkEntry.queryFn(n).map(f => (n, f, false)))
    val bench = (SparkEntry.benchQueries.toSeq.sortBy(_._1).map { case (n, f) => (n, f, true) } ++
        SparkEntry.benchNsQueries.toSeq.sortBy(_._1).map { case (n, f) => (n, f, false) })
      .filter { case (name, _, _) => only.forall(_.exists(name.contains)) } ++ extras
    // Warm-up: one untimed pass at the smallest SF (JIT/codegen/classload)
    // and then one at the TARGET SF (file listing, page cache, AQE stats,
    // full-width codegen) so no timed run is the first to touch anything.
    val warmDirs = Seq("/root/testdata/sf0.001", sfDir).distinct
    warmDirs.foreach { wd =>
      if (new java.io.File(wd).isDirectory)
        bench.foreach { case (name, fn, _) => run(name, wd)(fn(spark, wd)) }
    }
    // Min of three timed runs per query: one-off GC/straggler pauses in
    // a shared local JVM otherwise dominate individual measurements
    // (observed: the same query varying 1.6s..5.6s across runs). A GC
    // breather before each query's timed block keeps garbage from the
    // warm-up passes and earlier queries from billing its pause to
    // whichever query happens to allocate next.
    val results = bench.map { case (name, fn, isHeadline) =>
      System.gc()
      Thread.sleep(200)
      warmUp(() => run(name, sfDir)(fn(spark, sfDir)))
      def timedRun(): (Double, Long, Seq[(String, String)]) = {
        ListenerFlush.drain(sc)
        agg.reset()
        val (gc0, jit0, pc0, os0, cl0, st0) =
          (gcMillis, jitMillis, procCpuMs, osBusyMs, classesLoaded, osStealMs)
        val t0 = System.nanoTime()
        run(name, sfDir)(fn(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        ListenerFlush.drain(sc)
        val ran = agg.byStage
        val stages = ran.map { case (id, st) =>
          s"""{"id":$id,"runMs":${st.runMs},"cpuMs":${st.cpuMs},"tasks":${st.tasks}}"""
        }.mkString("[", ",", "]")
        def sum(f: StageMetrics.Stage => Long): Long = ran.map(r => f(r._2)).sum
        val steal = osStealMs - st0
        val d = Seq(
          // Double.toString, not %f: locale-independent '.' separator
          "wall" -> ((wall * 1000).round / 1000.0).toString,
          "taskRunMs" -> sum(_.runMs).toString,
          "taskCpuMs" -> sum(_.cpuMs).toString,
          "taskGcMs" -> sum(_.gcMs).toString,
          "drvGcMs" -> (gcMillis - gc0).toString,
          "jitMs" -> (jitMillis - jit0).toString,
          "spillMB" -> (sum(_.spillBytes) >> 20).toString,
          "codeUsedMB" -> codeUsedMB.toString,
          "procCpuMs" -> (procCpuMs - pc0).toString,
          "osBusyMs" -> (osBusyMs - os0).toString,
          "stealMs" -> steal.toString,
          // new classes defined during the run: a steadily-nonzero value
          // on a REPEATED query means fresh Janino codegen every run
          // (codegen cache miss) — compile work that can storm under
          // host contention
          "classesLoaded" -> (classesLoaded - cl0).toString,
          "stages" -> stages,
        )
        (wall, steal, d)
      }
      var timed = (1 to 3).map(_ => timedRun()).toVector
      // Steal-contamination guard (r21, disclosed in OPTIMIZATION_r21.md):
      // this sandbox is a VM guest whose vCPUs the host preempts, and a
      // steal burst can contaminate ALL of a query's timed runs — the
      // min then prices the host's scheduler, not the plan. While even
      // the BEST run's /proc/stat steal delta exceeds 5% of the
      // machine-time in its window (wall x nCores), take up to 2 extra
      // timed runs under the identical protocol. Runs are never
      // discarded (every wall lands in the published `runs` array and
      // the suspect flag still sees them); a query with one clean run
      // among its first three triggers nothing.
      val nCores = sc.defaultParallelism.toDouble
      var extraRuns = 0
      while (extraRuns < 2 && {
        val best = timed.minBy(_._1)
        best._2 > 0.05 * best._1 * 1000.0 * nCores
      }) {
        timed :+= timedRun()
        extraRuns += 1
      }
      (name, timed.map(_._1), timed.map(_._3), isHeadline)
    }
    def obj(rows: Seq[(String, String)]): String =
      rows.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // All printed timings round to 1ms: the score line must stay well
    // inside the driver's tail-capture window (the r8 lesson) and 15
    // full-precision doubles x 4 fields were the next-biggest line item.
    def ms(t: Double): String = ((t * 1000).round / 1000.0).toString
    val qs = obj(results.map { case (k, ts, _, _) => k -> ms(ts.min) })
    // All raw per-run timings ride along so run-to-run variance is
    // visible in the artifact itself, not just the min.
    val runs = obj(results.map { case (k, ts, _, _) =>
      k -> ts.map(ms).mkString("[", ",", "]")
    })
    // Self-flag variance: any run > 2x its query's min is suspect.
    // Flags are computed from the SAME 1ms-rounded values the line
    // prints, so a reader recomputing "run > 2x min" from the published
    // runs reproduces this set exactly (raw-vs-rounded borderline runs
    // cannot disagree with the artifact).
    val suspect = results.flatMap { case (k, ts, _, _) =>
      val r = ts.map(t => (t * 1000).round / 1000.0)
      val mn = r.min
      r.zipWithIndex.collect { case (t, i) if t > 2 * mn => s""""$k#${i + 1}"""" }
    }.mkString("[", ",", "]")
    val total = results.collect { case (_, ts, _, true) => ts.min }.sum
    val nsTotal = results.collect { case (_, ts, _, false) => ts.min }.sum
    val score =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","ns_total":${ms(nsTotal)},""" +
        s""""queries":$qs,"runs":$runs,"suspect":$suspect,"sf":"$sfDir"}"""
    // Diagnostics go to a SIDE file only — putting them on the score
    // line overflowed the driver's tail buffer in r8 and cost the round
    // its official bench record.
    val diag = obj(results.map { case (k, _, ds, _) =>
      k -> ds.map(obj).mkString("[", ",", "]")
    })
    val diagJson =
      s"""{"diag":$diag,"codeCacheMaxMB":$codeMaxMB,"sf":"$sfDir"}"""
    // Emit to stdout (bare line — build.sbt routes forked run output
    // through StdoutOutput so no [info] prefix) AND to a well-known file,
    // so a log-scraping consumer and a file-reading one both parse it.
    println(score)
    def writeOut(path: String, body: String): Unit = {
      val p = java.nio.file.Paths.get(path).toAbsolutePath
      // resolve/create the parent so the write cannot fail on a cwd that
      // is not the sbt project root or a missing target/ directory
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(p, body + "\n")
    }
    writeOut(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_result.json"), score)
    writeOut(sys.env.getOrElse("SPARK_GRAFT_BENCH_DIAG", "target/bench_diag.json"), diagJson)
    spark.stop()
  }
}
