package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.{SessionTuning, SparkEntry, Tables}
import graft.engine.{Engine, MsgPack, ResultCodec, Transport}

/** One served engine: a Spark session with the fixtures registered with
  * stats, the catalog handlers, and an rpc server on a loopback port. */
final class Served(
    val spark: SparkSession,
    val engine: Engine,
    val server: Transport.RpcServer,
    val trace: Option[Trace]) {
  def close(): Unit = {
    server.close()
    engine.shutdown()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** One request as the client saw it. `outcome` is ok, wrong, error or
  * timeout; only ok requests give latency samples. */
final case class Rec(
    query: String,
    sn: String,
    sendNs: Long,
    doneNs: Long,
    outcome: String,
    detail: String,
    replyBytes: Long = 0L,
    deflatedBytes: Long = 0L,
    idx: Int = -1) {
  def latMs: Double = (doneNs - sendNs) / 1e6
}

/** End-to-end figures of a run. A request that failed, timed out or
  * got a wrong reply counts in `errorFrac` and gives no latency sample;
  * warm-up requests count as attempted but never as samples. */
final case class Summary(recs: Vector[Rec], warm: Vector[Rec], elapsedS: Double) {
  val ok: Vector[Rec] = recs.filter(_.outcome == "ok")
  val attempted: Int = recs.size + warm.size
  val failed: Int = (recs ++ warm).count(_.outcome != "ok")
  val errorFrac: Double = if (attempted == 0) 1.0 else failed.toDouble / attempted
  val latMs: Vector[Double] = ok.map(_.latMs).sorted
  val qps: Double = ok.size / elapsedS
  def p50: Double = Main.percentile(latMs, 0.5)
  /** The tail percentile: p75 keeps 12 of a run's 48 samples (three
    * headline passes) beyond it, and p80 would keep fewer than 10. */
  def p75: Double = Main.percentile(latMs, 0.75)
}

/** JVM and host counters, read before and after a measured window.
  * `busyMs` and `stealMs` are the whole host's; `procMs` is this JVM's
  * CPU time, so busy - steal - proc is CPU that other processes used. */
final case class Noise(gcMs: Long, jitMs: Long, busyMs: Long, stealMs: Long, procMs: Long,
    codegen: Long) {
  def -(o: Noise): Noise =
    Noise(gcMs - o.gcMs, jitMs - o.jitMs, busyMs - o.busyMs, stealMs - o.stealMs, procMs - o.procMs,
      codegen - o.codegen)

  /** Steal as a share of busy CPU time (busy counts steal), in %. */
  def stealPct: Double = if (busyMs <= 0) 0.0 else 100.0 * stealMs / busyMs
}

object Noise {
  def now(): Noise = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val c = ManagementFactory.getCompilationMXBean
    val jit = if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
    // /proc/stat "cpu user nice system idle iowait irq softirq steal ...",
    // in 10 ms jiffies summed over all CPUs
    val (busy, steal) = Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      ((f.sum - f(3) - f(4)) * 10L, f(7) * 10L)
    }.getOrElse((0L, 0L))
    val proc = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1000000L
      case _ => 0L
    }
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Noise(gc, jit, busy, steal, proc, codegen)
  }

  /** MB of compiled code in the JVM's code cache. */
  def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0
}

/** The served-path benchmark: one JVM runs the engine behind
  * `Transport.RpcServer` and, in the same process, closed-loop
  * `Transport.rpc` clients that send a seeded request sequence.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <fixture root> --out <scratch dir> --answers <answers.tsv>
  *      [--pin write|check]
  * }}}
  *
  * Every reply is checked against the pinned answers. The last stdout
  * line is one JSON object {correct, attempted, failed, metrics}; lines
  * before it starting with `#` are for people.
  */
object Main {

  final case class Opts(
      workload: Workload,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      data: Path,
      out: Path,
      answers: Path,
      pin: Option[String])

  val RequestTimeoutNs: Long = 60L * 1000000000L

  /** A measured window in which the host stole at least this share (%)
    * of busy CPU time is flagged as noisy; it is still reported. */
  val NoisyStealPct: Double = 5.0

  def parse(argv: Array[String]): Opts = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = Workloads.byName(need("workload")).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload ${need("workload")}; known: ${Workloads.all.map(_.name).mkString(", ")}"))
    Opts(
      wl,
      kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1",
      Paths.get(need("data")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath,
      Paths.get(need("answers")).toAbsolutePath,
      kv.get("pin"))
  }

  def say(s: String): Unit = { println(s"# $s"); Console.out.flush() }

  // ------------------------------------------------------------ set-up

  def serve(dataDir: String, traced: Boolean): Served = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SessionTuning(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.registerWithStats(spark, dataDir)
    val engine = SparkEntry.engineFor(spark)
    val trace = if (traced) Some(Trace.install(spark, engine)) else None
    new Served(spark, engine, new Transport.RpcServer(engine), trace)
  }

  /** The first request a fresh server answers: an unregistered command,
    * so it exercises accept, decode, the query frame and the reply
    * without starting a Spark job. */
  def probe(port: Int): Unit =
    Transport.rpc(port, "perfbench", "probe", "__perfbench_probe__") match {
      case Failure(e) if String.valueOf(e.getMessage).contains("unknown command") => ()
      case other => throw new IllegalStateException(s"probe got an unexpected reply: $other")
    }

  /** Set up the served engine; the time (s) runs from JVM start to the
    * answered probe. */
  def setUp(dataDir: String, traced: Boolean): (Served, Double) = {
    val served = serve(dataDir, traced)
    probe(served.server.port)
    (served, (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)
  }

  // ------------------------------------------------------------ clients

  /** Closed-loop clients: each takes the next request of `seq`, sends it
    * with `Transport.rpc`, waits for the reply, checks it, and repeats
    * until `seq` is used up. No request is sent after `deadlineNs`, which
    * only a run far slower than its sizing reaches. A request still
    * unanswered after [[RequestTimeoutNs]] is cancelled by its `sn` and
    * counted as timed out. */
  def drive(
      served: Served,
      clients: Int,
      seq: IndexedSeq[String],
      dataDir: String,
      tag: String,
      deadlineNs: Long,
      wire: Boolean)(check: (String, Any) => (String, String)): Vector[Rec] = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    def take(): Int = {
      val i = next.getAndIncrement()
      if (i < seq.length && System.nanoTime() < deadlineNs) i else -1
    }
    val recs = new ConcurrentLinkedQueue[Rec]()
    val inflight = new ConcurrentHashMap[String, (String, Long, Int)]()
    val timedOut = ConcurrentHashMap.newKeySet[String]()
    val wireSizes = new ConcurrentHashMap[String, (Long, Long)]()
    @volatile var running = true
    val watchdog = new Thread(() => {
      while (running) {
        val now = System.nanoTime()
        inflight.asScala.foreach { case (sn, (_, t0, _)) =>
          if (now - t0 > RequestTimeoutNs && timedOut.add(sn)) served.engine.cancel(sn)
        }
        Thread.sleep(100)
      }
    }, "perfbench-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = take()
        while (i >= 0) {
          val q = seq(i)
          val sn = s"$tag-$i"
          val t0 = System.nanoTime()
          inflight.put(sn, (q, t0, i))
          val reply = Transport.rpc(served.server.port, "perfbench", s"client$c", q, Seq(dataDir), sn)
          val t1 = System.nanoTime()
          inflight.remove(sn)
          val (outcome, detail) =
            if (timedOut.contains(sn)) ("timeout", "cancelled after the request timeout")
            else reply match {
              case Success(v) => check(q, v)
              case Failure(e) => ("error", String.valueOf(e.getMessage))
            }
          // msgpack reply size before and after deflate; replies are
          // pinned, so once per query is enough
          val (raw, deflated) = reply match {
            case Success(v) if wire && outcome == "ok" =>
              wireSizes.computeIfAbsent(q, _ => {
                val enc = MsgPack.encode(v)
                val min = served.engine.config.compressMinBytes
                (enc.length.toLong,
                  (if (enc.length >= min) ResultCodec.deflate(enc).length else enc.length).toLong)
              })
            case _ => (0L, 0L)
          }
          recs.add(Rec(q, sn, t0, t1, outcome, detail, raw, deflated, i))
          i = take()
        }
      }, s"perfbench-client$c")
      t.setDaemon(true)
      t.start()
      t
    }
    // past the deadline, each client still finishes (or times out) the
    // request it has in flight
    val graceNs = RequestTimeoutNs + 10L * 1000000000L
    val joinBy = if (deadlineNs > Long.MaxValue - graceNs) Long.MaxValue else deadlineNs + graceNs
    threads.foreach(t => while (t.isAlive && System.nanoTime() < joinBy) t.join(100))
    running = false
    // a client stuck past the join bound: its request is a timeout
    inflight.asScala.foreach { case (sn, (q, t0, i)) =>
      recs.add(Rec(q, sn, t0, System.nanoTime(), "timeout", "no reply before the run ended", idx = i))
    }
    recs.asScala.toVector.sortBy(_.sendNs)
  }

  def checker(answers: Map[(String, String), Answer], sf: String)(q: String, v: Any): (String, String) =
    answers.get((sf, q)) match {
      case None => ("wrong", "no pinned answer")
      case Some(a) =>
        val n = Answers.rows(v)
        if (n != a.rows) ("wrong", s"rows $n, pinned ${a.rows}")
        else if (Answers.digest(v) != a.digest) ("wrong", "digest differs from the pinned answer")
        else ("ok", "")
    }

  // ------------------------------------------------------------ metrics

  /** Linear-interpolated percentile of sorted values. */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val x = p * (sorted.length - 1)
      val lo = math.floor(x).toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (x - lo) * (sorted(hi) - sorted(lo))
    }

  /** A request's latency cut into four consecutive spans (ms):
    * admit (send -> handler entered), construct (the handler),
    * exec (handler returned -> last Spark job of the sn ended) and
    * reply (-> decoded reply at the client). They sum to the latency by
    * construction. */
  final case class Layers(admit: Double, construct: Double, exec: Double, reply: Double)

  def layers(r: Rec, trace: Trace, wallOffsetNs: Long): Option[Layers] =
    Option(trace.spans.get(r.sn)).map { case (enter, exit) =>
      val lastEnd = trace.stats(r.sn).map(_.lastJobEndMs).filter(_ != Long.MinValue)
        .map(ms => math.min(ms * 1000000L + wallOffsetNs, r.doneNs))
        .getOrElse(exit)
      val execEnd = math.max(exit, lastEnd)
      Layers((enter - r.sendNs) / 1e6, (exit - enter) / 1e6, (execEnd - exit) / 1e6,
        (r.doneNs - execEnd) / 1e6)
    }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  // ------------------------------------------------------------ json

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def metric(value: Double, unit: String): Map[String, Any] =
    scala.collection.immutable.ListMap("value" -> value, "unit" -> unit)

  def writeFile(p: Path, body: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, (body + "\n").getBytes("UTF-8"))
  }

  /** Per-query ledger rows from a traced run, ranked by wall time and by
    * jobs started while the handler built its DataFrame. */
  def ledger(recs: Vector[Rec], trace: Trace, wallOffsetNs: Long): Map[String, Any] = {
    val rows = recs.filter(_.outcome == "ok").groupBy(_.query).toVector.map { case (q, rs) =>
      val ls = rs.flatMap(layers(_, trace, wallOffsetNs))
      val st = rs.flatMap(r => trace.stats(r.sn))
      def per(f: SnStats => Long) = st.map(f(_).toDouble).sum / rs.size
      scala.collection.immutable.ListMap[String, Any](
        "query" -> q,
        "requests" -> rs.size,
        "wall_ms" -> mean(rs.map(_.latMs)),
        "admit_ms" -> mean(ls.map(_.admit)),
        "construct_ms" -> mean(ls.map(_.construct)),
        "construct_jobs" -> per(_.constructJobs),
        "exec_ms" -> mean(ls.map(_.exec)),
        "reply_ms" -> mean(ls.map(_.reply)),
        "jobs" -> per(_.jobs),
        "stages" -> per(_.stages.size.toLong),
        "tasks" -> per(_.tasks),
        "shuffle_bytes" -> per(s => s.shuffleRead + s.shuffleWrite),
        "reply_bytes" -> rs.map(_.replyBytes).max)
    }
    def rank(key: String) = rows.sortBy(r => -r(key).asInstanceOf[Double]).map(_("query"))
    val cj = rows.map(_("construct_jobs").asInstanceOf[Double])
    scala.collection.immutable.ListMap(
      "queries" -> rows.size,
      "construct_jobs_total" -> cj.sum,
      "queries_with_construct_jobs" -> cj.count(_ > 0),
      "by_wall" -> rank("wall_ms"),
      "by_construct_jobs" -> rank("construct_jobs"),
      "rows" -> rows.sortBy(_("query").toString))
  }

  // ------------------------------------------------------------ main

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val w = o.workload
    val dataDir = o.data.resolve(w.sf).toString
    require(new java.io.File(dataDir).isDirectory, s"fixture directory missing: $dataDir")
    val traced = o.trace || o.pin.isDefined
    val exit =
      try {
        val (served, setupS) = setUp(dataDir, traced)
        try run(o, served, setupS, dataDir) finally served.close()
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    sys.exit(exit)
  }

  def run(o: Opts, served: Served, setupS: Double, dataDir: String): Int = {
    val w = o.workload
    val nproc = Runtime.getRuntime.availableProcessors
    val wallOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    say(s"workload ${w.name}: ${w.clients} client(s), ${w.mix.size} queries, ${w.sf}, " +
      s"seed ${o.seed}, ${o.seconds} s, trace ${if (o.trace) 1 else 0}, nproc $nproc")

    o.pin match {
      case Some(mode) => return pin(o, served, dataDir, mode, wallOffsetNs)
      case None =>
    }
    val answers = Answers.load(o.answers)
    val check = checker(answers, w.sf) _

    // warm-up: untimed passes over the mix; failures still count
    val warm = (0 until w.warmupPasses).toVector.flatMap { k =>
      val (n0, t0) = (Noise.now(), System.nanoTime())
      val rs = drive(served, w.clients, w.mix, dataDir, s"warm$k", Long.MaxValue, wire = false)(check)
      say(f"warm-up pass $k: ${(System.nanoTime() - t0) / 1e9}%.3f s, jit ${(Noise.now() - n0).jitMs} ms")
      rs
    }

    val costMs = (q: String) => answers.get((w.sf, q)).fold(0.0)(_.pinMs)
    val seq = Workloads.passes(w, o.seed, costMs, w.passesFor(o.seconds)).flatten
    val permitMax = math.max(1, served.engine.config.maxConcurrentJobs)
    val permitSamples = new java.util.concurrent.atomic.AtomicLong()
    val permitBusy = new java.util.concurrent.atomic.AtomicLong()
    @volatile var sampling = o.trace
    val sampler = new Thread(() => {
      while (sampling) {
        permitBusy.addAndGet(permitMax - served.engine.availableJobPermits)
        permitSamples.incrementAndGet()
        Thread.sleep(5)
      }
    }, "perfbench-permits")
    sampler.setDaemon(true)

    val n0 = Noise.now()
    val t0 = System.nanoTime()
    if (o.trace) sampler.start()
    val recs = drive(served, w.clients, seq, dataDir, s"run${o.seed}",
      t0 + (4 * o.seconds * 1e9).toLong, wire = o.trace)(check)
    sampling = false
    val tEnd = if (recs.isEmpty) System.nanoTime() else recs.map(_.doneNs).max
    val noise = Noise.now() - n0
    val elapsedS = (tEnd - t0) / 1e9

    val sum = Summary(recs, warm, elapsedS)
    import sum.{attempted, failed, errorFrac, qps, p50, p75, ok}
    (recs ++ warm).filter(_.outcome != "ok").take(20)
      .foreach(r => say(s"${r.outcome}: ${r.query} (${r.sn}): ${r.detail}"))
    val passS = recs.groupBy(_.idx / w.passLength).toVector.sortBy(_._1).map { case (_, rs) =>
      (rs.map(_.doneNs).max - rs.map(_.sendNs).min) / 1e9
    }
    say(s"pass times (s): ${passS.mkString(", ")}")
    say(f"qps $qps%.4f 1/s (${ok.size} ok of ${recs.size} in $elapsedS%.3f s)")
    say(f"lat_p50_ms $p50%.3f ms, lat_p75_ms $p75%.3f ms (${ok.size} samples, " +
      f"${ok.size * 0.25}%.1f beyond p75)")
    say(f"error_frac $errorFrac%.6f (failed $failed of $attempted, warm-up included)")
    say(f"setup_s $setupS%.4f s (JVM start to the first answered request)")
    val noiseRec = scala.collection.immutable.ListMap(
      "nproc" -> nproc, "busy_ms" -> noise.busyMs, "steal_ms" -> noise.stealMs,
      "steal_pct" -> noise.stealPct, "proc_cpu_ms" -> noise.procMs,
      "others_cpu_ms" -> (noise.busyMs - noise.stealMs - noise.procMs), "gc_ms" -> noise.gcMs,
      "jit_ms" -> noise.jitMs, "codegen_compiles" -> noise.codegen,
      "code_cache_mb" -> Noise.codeCacheMb(), "window_s" -> elapsedS)
    say(s"noise ${json(noiseRec)}")
    if (noise.stealPct >= NoisyStealPct)
      say(f"noisy window: the host stole ${noise.stealPct}%.1f%% of busy CPU time while measuring")

    val metrics: Map[String, Any] =
      if (!o.trace) scala.collection.immutable.ListMap(
        "qps" -> metric(qps, "1/s"),
        "lat_p50_ms" -> metric(p50, "ms"),
        "lat_p75_ms" -> metric(p75, "ms"),
        "setup_s" -> metric(setupS, "s"))
      else {
        val sc = served.spark.sparkContext
        org.apache.spark.graftbench.ListenerFlush.drain(sc)
        val tr = served.trace.get
        val ls = ok.flatMap(layers(_, tr, wallOffsetNs))
        val st = ok.flatMap(r => tr.stats(r.sn))
        val n = math.max(1, ok.size).toDouble
        def per(f: SnStats => Long) = st.map(f(_).toDouble).sum / n
        val traceLat = mean(ok.map(_.latMs))
        say(f"traced: admit ${mean(ls.map(_.admit))}%.3f + construct ${mean(ls.map(_.construct))}%.3f" +
          f" + exec ${mean(ls.map(_.exec))}%.3f + reply ${mean(ls.map(_.reply))}%.3f" +
          f" = latency $traceLat%.3f ms (${ls.size} of ${ok.size} requests traced)")
        overhead(o, w.name, qps)
        val led = ledger(recs, tr, wallOffsetNs)
        val ledPath = o.out.resolve(s"ledger_${w.name}_seed${o.seed}.json")
        writeFile(ledPath, json(led))
        say(s"ledger: $ledPath")
        scala.collection.immutable.ListMap(
          "transport.admit_ms" -> metric(mean(ls.map(_.admit)), "ms"),
          "engine.permit_busy" -> metric(
            permitBusy.get.toDouble / math.max(1L, permitSamples.get), "permits"),
          "queries.construct_ms" -> metric(mean(ls.map(_.construct)), "ms"),
          "queries.construct_jobs" -> metric(per(_.constructJobs), "count"),
          "spark.exec_ms" -> metric(mean(ls.map(_.exec)), "ms"),
          "spark.jobs" -> metric(per(_.jobs), "count"),
          "spark.stages" -> metric(per(_.stages.size.toLong), "count"),
          "spark.tasks" -> metric(per(_.tasks), "count"),
          "spark.task_cpu_ms" -> metric(per(_.taskCpuNs) / 1e6, "ms"),
          "spark.task_gc_ms" -> metric(per(_.taskGcMs), "ms"),
          "spark.shuffle_read_bytes" -> metric(per(_.shuffleRead), "B"),
          "spark.shuffle_write_bytes" -> metric(per(_.shuffleWrite), "B"),
          "spark.spill_bytes" -> metric(per(_.spill), "B"),
          "spark.input_bytes" -> metric(per(_.input), "B"),
          "spark.codegen_compiles" -> metric(noise.codegen / n, "count"),
          "wire.reply_ms" -> metric(mean(ls.map(_.reply)), "ms"),
          "wire.reply_bytes" -> metric(mean(ok.map(_.replyBytes.toDouble)), "B"),
          "wire.deflated_bytes" -> metric(mean(ok.map(_.deflatedBytes.toDouble)), "B"),
          "jvm.gc_ms" -> metric(noise.gcMs / n, "ms"),
          "jvm.jit_ms" -> metric(noise.jitMs / n, "ms"),
          "host.steal_ms" -> metric(noise.stealMs / n, "ms"),
          "host.steal_pct" -> metric(noise.stealPct, "%"),
          "trace.lat_mean_ms" -> metric(traceLat, "ms"),
          "trace.qps" -> metric(qps, "1/s"))
      }

    val runLog = scala.collection.immutable.ListMap(
      "workload" -> w.name, "seed" -> o.seed, "trace" -> o.trace, "seconds" -> o.seconds,
      "attempted" -> attempted, "failed" -> failed, "error_frac" -> errorFrac,
      "qps" -> qps, "lat_samples" -> ok.size, "pass_s" -> passS,
      "lat_ms" -> sum.latMs.map(x => math.round(x * 10) / 10.0), "setup_s" -> setupS,
      "noise" -> noiseRec, "metrics" -> metrics)
    Files.createDirectories(o.out)
    Files.write(o.out.resolve("runs.jsonl"), (json(runLog) + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)

    println(json(scala.collection.immutable.ListMap(
      "correct" -> (failed == 0 && ok.nonEmpty),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics)))
    0
  }

  /** Tracing overhead: this traced run's qps against the median qps of
    * the untraced runs of the same workload and length in the run log. */
  def overhead(o: Opts, workload: String, tracedQps: Double): Unit = {
    val log = o.out.resolve("runs.jsonl")
    val untraced =
      if (!Files.exists(log)) Vector.empty[Double]
      else Files.readAllLines(log).asScala.toVector.flatMap { l =>
        val wOk = l.contains("\"workload\":\"" + workload + "\"") && l.contains("\"trace\":false") &&
          l.contains("\"seconds\":" + o.seconds + ",")
        val m = "\"qps\":([0-9.Ee+-]+)".r.findFirstMatchIn(l)
        if (wOk) m.map(_.group(1).toDouble) else None
      }
    if (untraced.isEmpty) say("tracing overhead: no untraced run of this workload in the run log yet")
    else {
      val med = percentile(untraced.sorted, 0.5)
      say(f"tracing overhead: untraced qps $med%.4f (median of ${untraced.size}) vs traced " +
        f"$tracedQps%.4f: ${(med - tracedQps) / med * 100}%.1f%%")
    }
  }

  /** Send every query of the workload once (one client, traced), then
    * write or check the pinned answers and write the full ledger. */
  def pin(o: Opts, served: Served, dataDir: String, mode: String, wallOffsetNs: Long): Int = {
    val w = o.workload
    val got = new ConcurrentHashMap[String, (Int, String)]()
    val pinned = Answers.load(o.answers)
    val recs = drive(served, 1, w.mix, dataDir, "pin", Long.MaxValue, wire = true) {
      (q, v) =>
        got.put(q, (Answers.rows(v), Answers.digest(v)))
        if (mode == "write") ("ok", "") else checker(pinned, w.sf)(q, v)
    }
    org.apache.spark.graftbench.ListenerFlush.drain(served.spark.sparkContext)
    val bad = recs.filter(_.outcome != "ok")
    bad.foreach(r => say(s"${r.outcome}: ${r.query}: ${r.detail}"))
    val led = ledger(recs, served.trace.get, wallOffsetNs)
    val ledPath = o.out.resolve(s"ledger_${w.name}_full.json")
    writeFile(ledPath, json(led))
    say(s"${recs.size - bad.size} of ${recs.size} ok; ledger: $ledPath " +
      s"(construct jobs ${led("construct_jobs_total")} in ${led("queries_with_construct_jobs")} queries)")
    if (mode == "write" && bad.isEmpty) {
      val fresh = recs.map { r =>
        val (n, d) = got.get(r.query)
        (w.sf, r.query) -> Answer(n, d, r.latMs)
      }
      Answers.save(o.answers, pinned ++ fresh)
      say(s"wrote ${got.size} answers for ${w.sf} to ${o.answers}")
    }
    if (bad.isEmpty) 0 else 1
  }
}
