package graft

import org.apache.spark.sql.functions._

import graft.engine.Engine

/** Dispatch-frame semantics mirrored from the reference
  * (`/root/reference/src/processor.ts`): unknown command -> error not
  * crash (:86), per-job cleanup always runs (:72-80), serial helpers'
  * ordering / fail-fast / skip (:135-161), rpc-style query returns rows
  * (:92-133).
  */
class EngineSpec extends SparkSpec {

  private def freshEngine = new Engine(spark)

  test("register + query returns rows (the rpc round-trip)") {
    val e = freshEngine
    e.register("nums")((s, _, _) => {
      import s.implicits._
      Seq(1, 2, 3).toDF("n").orderBy(col("n"))
    })
    val rows = e.query("nums").get
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
  }

  test("unknown command is an error result, not a crash") {
    val e = freshEngine
    val out = e.submit("no-such-cmd")
    assert(out.isFailure)
    assert(out.failed.get.getMessage.contains("no-such-cmd"))
    // engine still serves registered commands afterwards
    e.register("ok")((s, _, _) => { import s.implicits._; Seq(1).toDF("x") })
    assert(e.query("ok").isSuccess)
  }

  test("last registration wins (Map.set semantics)") {
    val e = freshEngine
    e.register("cmd")((s, _, _) => { import s.implicits._; Seq(1).toDF("x") })
    e.register("cmd")((s, _, _) => { import s.implicits._; Seq(2).toDF("x") })
    assert(e.query("cmd").get.head.getInt(0) == 2)
  }

  test("job-scoped cache entries are released after query, kept for session scope") {
    val e = freshEngine
    e.register("cached")((s, cache, _) => {
      import s.implicits._
      cache.getOrPut("job-scoped", scoped = true)(Seq(1, 2).toDF("x"))
    })
    assert(e.query("cached").isSuccess)
    assert(e.cache.scopedEntryCount == 0, "job-scoped entry leaked past query()")
    // unscoped entries survive (Redis keys without EXPIRE)
    e.register("session")((s, cache, _) => {
      import s.implicits._
      cache.getOrPut("session-kept")(Seq(3).toDF("x"))
    })
    e.query("session").get
    assert(e.cache.keys.contains("session-kept"))
  }

  test("scoped cleanup runs on handler failure too") {
    val e = freshEngine
    e.register("boom")((s, cache, _) => {
      import s.implicits._
      cache.getOrPut("doomed", scoped = true)(Seq(1).toDF("x"))
      throw new RuntimeException("handler failure")
    })
    assert(e.query("boom").isFailure)
    assert(e.cache.scopedEntryCount == 0, "entry leaked after handler failure")
  }

  test("scopes nest: inner close restores outer scope (r2 regression)") {
    val e = freshEngine
    e.withScope {
      import spark.implicits._
      e.cache.getOrPut("outer", scoped = true)(Seq(1).toDF("x"))
      e.withScope {
        e.cache.getOrPut("inner", scoped = true)(Seq(2).toDF("x"))
      }
      // inner closed, outer entry must still be alive and still scoped
      assert(e.cache.keys.contains("outer"))
      assert(!e.cache.keys.contains("inner"))
      // entries created AFTER the inner scope closed must attach to the
      // outer scope (the r2 bug cleared the thread-local instead)
      e.cache.getOrPut("outer2", scoped = true)(Seq(3).toDF("x"))
    }
    assert(e.cache.scopedEntryCount == 0, "nested scopes leaked entries")
  }

  test("cache TTL expires entries") {
    val e = freshEngine
    import spark.implicits._
    val first = e.cache.getOrPut("ttl", ttlMs = 1L)(Seq(1).toDF("x"))
    first.collect()
    Thread.sleep(10)
    val second = e.cache.getOrPut("ttl", ttlMs = 1L)(Seq(2).toDF("x"))
    assert(second.head().getInt(0) == 2, "stale TTL entry served")
  }

  test("runSerial: ordered accumulation, fail-fast aborts the chain") {
    val e = freshEngine
    val log = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ok = e.runSerial(Seq(() => { log += 1; "a" }, () => { log += 2; "b" }))
    assert(ok.get == Vector("a", "b") && log.toSeq == Seq(1, 2))

    log.clear()
    val bad = e.runSerial(Seq(
      () => { log += 1; "a" },
      () => { log += 2; throw new RuntimeException("step2") },
      () => { log += 3; "c" }))
    assert(bad.isFailure && bad.failed.get.getMessage == "step2")
    assert(log.toSeq == Seq(1, 2), "fail-fast must not run later steps")
  }

  test("serve drains the job queue, reports per-job failures, stops on poison") {
    val e = freshEngine
    e.register("ok")((s, _, args) => {
      import s.implicits._
      Seq(args.head.toString).toDF("v")
    })
    val q = new java.util.concurrent.LinkedBlockingQueue[(String, Seq[Any])]()
    q.put(("ok", Seq("a")))
    q.put(("missing-cmd", Nil))
    q.put(("ok", Seq("b")))
    q.put(("__stop__", Nil))
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    e.serve(q)((cmd, res) => out += (cmd -> res.isSuccess))
    assert(out.toSeq == Seq(("ok", true), ("missing-cmd", false), ("ok", true)))
  }

  test("concurrent queries on the shared session all succeed (pooled-handler analog)") {
    val e = freshEngine
    e.register("par")((s, _, args) => {
      import s.implicits._
      val n = args.head.toString.toInt
      (1 to n).map(i => (i, i * 2)).toDF("a", "b").groupBy(col("a") % 3).count()
    })
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val futures = (1 to 4).map(i => Future(e.query("par", Seq(100 * i))))
    val results = Await.result(Future.sequence(futures), 120.seconds)
    assert(results.forall(_.isSuccess))
  }

  test("runSerialIgnore: failures skipped, successes kept in order") {
    val e = freshEngine
    val out = e.runSerialIgnore(Seq(
      () => "a",
      () => throw new RuntimeException("skipped"),
      () => "c"))
    assert(out == Vector("a", "c"))
  }

  test("rpc ctx propagates into task execution and is cleared after") {
    import graft.engine.RequestCtx
    val e = new Engine(spark)
    // the handler forces ctx to be read INSIDE a running task (executor
    // side), not just on the driver thread — local properties must ride
    // the job all the way down.
    e.register("whoami") { (s, _, _) =>
      import s.implicits._
      s.range(4).mapPartitions { it =>
        val ctx = RequestCtx.fromTask(org.apache.spark.TaskContext.get())
        it.map(_ => (ctx.domain, ctx.ip, ctx.uid))
      }.toDF("domain", "ip", "uid").distinct()
    }
    val rows = e.query("whoami", Nil, RequestCtx("analytics", "10.0.0.7", "u42")).get
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "analytics")
    assert(rows(0).getString(1) == "10.0.0.7")
    assert(rows(0).getString(2) == "u42")
    // cleared after the call: the driver thread carries no stale identity
    RequestCtx.keys.foreach { k =>
      assert(spark.sparkContext.getLocalProperty(k) == null, s"$k leaked")
    }
    // and the next anonymous call sees empty ctx, not the previous caller's
    val anon = e.query("whoami").get
    assert(anon.length == 1 && anon(0).getString(2) == "")
  }

  test("reaper unpersists an expired entry that is never re-queried") {
    import graft.engine.EngineConfig
    import org.apache.spark.storage.StorageLevel
    val e = new Engine(spark, EngineConfig(reapIntervalMs = 100L))
    try {
      import spark.implicits._
      // TTL long enough that materializing the entry can't outlive it
      val df = e.cache.getOrPut("reap-me", ttlMs = 3000L)(Seq(1, 2, 3).toDF("x"))
      df.count()
      assert(e.cache.keys.contains("reap-me"))
      assert(df.storageLevel != StorageLevel.NONE)
      // no further access: only the background sweep can release it
      val deadline = System.currentTimeMillis() + 10000
      while (e.cache.keys.contains("reap-me") && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(!e.cache.keys.contains("reap-me"), "expired entry still registered")
      assert(df.storageLevel == StorageLevel.NONE, "expired entry still persisted")
    } finally e.shutdown()
  }

  test("maxConcurrentJobs is enforced: excess callers block like a pool checkout") {
    import graft.engine.EngineConfig
    import java.util.concurrent.atomic.AtomicInteger
    val e = new Engine(spark, EngineConfig(maxConcurrentJobs = 2))
    try {
      val inFlight = new AtomicInteger(0)
      val maxSeen = new AtomicInteger(0)
      e.register("slow") { (s, _, _) =>
        val now = inFlight.incrementAndGet()
        maxSeen.updateAndGet(m => math.max(m, now))
        Thread.sleep(150)
        inFlight.decrementAndGet()
        import s.implicits._
        Seq(1).toDF("x")
      }
      val threads = (1 to 5).map { _ =>
        val t = new Thread(() => { e.query("slow"); () }); t.start(); t
      }
      threads.foreach(_.join(30000))
      assert(maxSeen.get() <= 2, s"saw ${maxSeen.get()} concurrent jobs, ceiling 2")
      assert(e.availableJobPermits == 2, "permits leaked after completion")
    } finally e.shutdown()
  }

  test("cancel(sn) kills an in-flight query's jobs and unblocks the caller") {
    import java.util.concurrent.atomic.AtomicReference
    val e = freshEngine
    try {
      e.register("glacial")((s, _, _) => {
        import s.implicits._
        val sleep = udf((n: Long) => { Thread.sleep(5000L); n })
        s.range(0, 64).repartition(32).select(sleep(col("id")).as("v"))
      })
      val sn = "cancel-spec-sn"
      val out = new AtomicReference[scala.util.Try[Array[org.apache.spark.sql.Row]]]()
      val t = new Thread(() => out.set(e.query("glacial", sn = sn)))
      val t0 = System.nanoTime()
      t.start()
      Thread.sleep(1500L) // let tasks start
      e.cancel(sn)
      t.join(20000L)
      val elapsedSec = (System.nanoTime() - t0) / 1e9
      assert(out.get() != null && out.get().isFailure,
        "cancelled query must return Failure")
      // 64 tasks x 5 s on 32 threads = ~10 s uncancelled; cancellation
      // must beat that decisively
      assert(elapsedSec < 8.0, f"cancel took $elapsedSec%.1f s — jobs not killed")
      assert(e.availableJobPermits == e.config.maxConcurrentJobs,
        "permits leaked after cancellation")
    } finally e.shutdown()
  }

  test("config resolution: explicit beats env beats default (CACHE_PORT analog)") {
    import graft.engine.EngineConfig
    val env = Map(
      "GRAFT_DATA_DIR" -> "/env/dir",
      "GRAFT_COMPRESS_MIN_BYTES" -> "5000",
      "GRAFT_MAX_JOBS" -> "not-a-number")
    // explicit wins over env
    assert(EngineConfig.resolve(dataDir = Some("/x"), env = env).dataDir == "/x")
    // env wins over default
    val r = EngineConfig.resolve(env = env)
    assert(r.dataDir == "/env/dir" && r.compressMinBytes == 5000)
    // unparseable env falls through to the default
    assert(r.maxConcurrentJobs == EngineConfig().maxConcurrentJobs)
    // no env, no explicit -> defaults
    assert(EngineConfig.resolve(env = Map.empty) == EngineConfig())
  }
}
