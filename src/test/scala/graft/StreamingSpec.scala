package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.streaming.{EventStreams, Replay}

/** Stream-batch replay equivalence (SURVEY.md §5.2.5): each streaming
  * query run with Trigger.AvailableNow over the fixture files must
  * produce the batch formulation's answer — DuckDB oracles the batch
  * side, these specs close the loop to the streaming side.
  */
class StreamingSpec extends SparkSpec {

  private val workDir = graft.queries.Q.scratchDir("stream")

  override def afterAll(): Unit =
    try graft.queries.Q.scratchDelete(workDir) finally super.afterAll()

  private def freshDirs(): (String, String) = {
    val in = s"$workDir/in-${System.nanoTime()}"
    val cp = s"$workDir/cp-${System.nanoTime()}"
    Files.createDirectories(Paths.get(in))
    Files.copy(
      Paths.get(s"$sfDir/events.parquet"),
      Paths.get(s"$in/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    (in, cp)
  }

  test("Replay.land: batches stream in landing order and only their files remain") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    val in = s"$workDir/replay-in-${System.nanoTime()}"
    val out = s"$workDir/replay-out-${System.nanoTime()}"
    val cp = s"$workDir/replay-cp-${System.nanoTime()}"
    // names in reverse lexical order, so a name-ordered read would
    // consume "a" (ids 30..59) first
    Replay.land(in, Seq("c" -> spark.range(0, 10).toDF(),
      "b" -> spark.range(10, 30).toDF(), "a" -> spark.range(30, 60).toDF()))
    val ls = Files.list(Paths.get(in))
    val landed = try ls.iterator.asScala.toSeq finally ls.close()
    assert(landed.map(_.getFileName.toString).toSet ==
      Set("a.parquet", "b.parquet", "c.parquet"))
    val mtimes = Seq("c", "b", "a").map(n => new java.io.File(s"$in/$n.parquet").lastModified)
    assert(mtimes == mtimes.sorted && mtimes.distinct.size == 3, s"mtimes=$mtimes")
    // one row per micro-batch: its sequence number and its max(id)
    val perBatch = Replay.stream(spark, in, spark.range(1).schema).as[Long]
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) { (_, ids, st) =>
        val seq = st.getOption.getOrElse(0L) + 1
        st.update(seq)
        Iterator.single((seq, ids.max))
      }
    Replay.drain(perBatch, out, cp)
    val got = spark.read.parquet(out).as[(Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 9L), (2L, 29L), (3L, 59L)), s"got=${got.toSeq}")
  }

  test("document ingest stream: re-crawled duplicates dropped, gate matches batch") {
    import graft.streaming.DocumentStreams
    import spark.implicits._
    // two "crawl batches": the second re-delivers half of the first
    // under new doc_ids plus genuinely new docs — the re-crawl case
    val in = s"$workDir/docs-in-${System.nanoTime()}"
    val cp = s"$workDir/docs-cp-${System.nanoTime()}"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, text: String) = (id, text, "en", "crawl", text.length.toLong)
    val batch1 = Seq(
      doc(1, "alpha beta gamma delta epsilon zeta eta theta"),
      doc(2, "dup dup dup dup dup dup"),                  // blocked term
      doc(3, "one two three four five six seven eight nine ten"))
    val batch2 = Seq(
      doc(11, "alpha beta gamma delta epsilon zeta eta theta"), // re-crawl of 1
      doc(12, "fresh words appear here entirely new content"),
      doc(13, "x x x x x x x x x x x x"))                 // low distinct ratio
    (batch1 ++ batch2).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(in)
    val got = EventStreams.runAvailableNow(
      DocumentStreams.ingest(DocumentStreams.readDocuments(spark, in)),
      "doc_ingest_sink", "append", cp)
    val kept = got.map(_.getString(1)).toSet
    // doc 1 survives once (11 deduped away by content), 2 blocked,
    // 3 and 12 pass, 13 fails the distinct-ratio floor
    assert(kept == Set(
      "alpha beta gamma delta epsilon zeta eta theta",
      "one two three four five six seven eight nine ten",
      "fresh words appear here entirely new content"))
    assert(got.length == 3)
    // streaming result == the same ingest applied in batch mode
    val batchKept = DocumentStreams.ingest(
      spark.read.schema(Tables.schemas("documents")).parquet(in))
      .collect().map(_.getString(1)).toSet
    assert(kept == batchKept)
  }

  test("incremental ingest gate: stream drops docs known to the static corpus") {
    import graft.streaming.DocumentStreams
    import spark.implicits._
    val in = s"$workDir/inc-in-${System.nanoTime()}"
    val cp = s"$workDir/inc-cp-${System.nanoTime()}"
    Files.createDirectories(Paths.get(in))
    def doc(id: Long, text: String) = (id, text, "en", "crawl", text.length.toLong)
    // the EXISTING corpus (static side — the signature store)
    val existing = Seq(
      doc(100, "alpha beta gamma delta"),
      doc(101, "the quick brown fox jumps")
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // the arriving batch: one re-crawl of the corpus, one in-stream
    // duplicate pair, one genuinely new doc
    Seq(
      doc(1, "alpha beta gamma delta"),      // known to the corpus -> drop
      doc(2, "completely new content here"), // new -> keep
      doc(3, "another new document text"),   // new -> keep
      doc(4, "another new document text")    // in-stream re-crawl -> drop
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(in)
    val got = EventStreams.runAvailableNow(
      DocumentStreams.incrementalGate(
        DocumentStreams.readDocuments(spark, in), existing),
      "inc_gate_sink", "append", cp)
    val kept = got.map(_.getString(2)).toSet // (content_hash, doc_id, text, ...)
    assert(kept == Set("completely new content here", "another new document text"),
      s"kept=$kept")
    // streaming result == the same gate applied in batch mode
    val batchKept = DocumentStreams.incrementalGate(
      spark.read.schema(Tables.schemas("documents")).parquet(in), existing)
      .collect().map(_.getString(2)).toSet
    assert(kept == batchKept)
  }

  test("tumbling window stream replays to the batch answer") {
    val (in, cp) = freshDirs()
    val stream = EventStreams.tumblingCounts(EventStreams.readEvents(spark, in))
    val got = EventStreams.runAvailableNow(stream, "tumbling_sink", "complete", cp)
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
                 r.getDecimal(3).toPlainString))
      .sortBy(t => (t._1.getTime, t._2))

    val batch = Tables.load(spark, sfDir, "events")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,4)")).as("sv"))
      .select(col("window.start"), col("event_type"), col("n"), col("sv"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
                 r.getDecimal(3).toPlainString))
      .sortBy(t => (t._1.getTime, t._2))

    assert(got.length == batch.length && got.sameElements(batch),
           s"stream=${got.take(3).mkString(",")} batch=${batch.take(3).mkString(",")}")
  }

  test("sliding window stream replays to the batch answer") {
    val (in, cp) = freshDirs()
    val stream = EventStreams.slidingCounts(EventStreams.readEvents(spark, in))
    val got = EventStreams.runAvailableNow(stream, "sliding_sink", "complete", cp)
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).sorted
    val batch = Tables.load(spark, sfDir, "events")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("n"))
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).sorted
    assert(got.sameElements(batch))
  }

  test("stream-stream interval join replays to the batch attribution answer") {
    val (in, cp) = freshDirs()
    // two independent stream readers over the same source — a genuine
    // stream-STREAM join (watermarks on both sides bound the state)
    val stream = EventStreams.purchaseClickAttribution(
      EventStreams.readEvents(spark, in), EventStreams.readEvents(spark, in))
    val got = EventStreams.runAvailableNow(stream, "ssj_sink", "append", cp)
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val batch = SparkEntry.queries("ts_click_attribution")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.length > 0, "expected at least one attributed purchase-click pair")
    assert(got.sameElements(batch),
      s"stream pairs=${got.length} batch pairs=${batch.length}")
  }

  test("parquet streaming sink writes the deduped stream durably") {
    val (in, cp) = freshDirs()
    val out = s"$workDir/out-${System.nanoTime()}"
    val stream = EventStreams.dedupEvents(EventStreams.readEvents(spark, in))
    Replay.drain(stream, out, cp)
    val written = spark.read.parquet(out).count()
    val batch = Tables.load(spark, sfDir, "events").dropDuplicates("event_id").count()
    assert(written == batch)
  }

  test("streaming dedup replays to the batch distinct-by-key answer") {
    val (in, cp) = freshDirs()
    val stream = EventStreams.dedupEvents(EventStreams.readEvents(spark, in))
    val got = EventStreams.runAvailableNow(stream, "dedup_sink", "append", cp)
      .map(_.getLong(0)).sorted

    val batch = Tables.load(spark, sfDir, "events")
      .dropDuplicates("event_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(batch))
  }

  test("stream-static join replays to the batch join answer") {
    val (in, cp) = freshDirs()
    val customers = Tables.load(spark, sfDir, "customer")
    val stream = EventStreams.enrichWithCustomers(
      EventStreams.readEvents(spark, in), customers)
    val got = EventStreams.runAvailableNow(stream, "enrich_sink", "complete", cp)
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))

    val batch = Tables.load(spark, sfDir, "events")
      .join(customers, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(got.sameElements(batch))
  }

  test("dropDuplicatesWithinWatermark replays to the batch distinct-by-key answer") {
    val (in, cp) = freshDirs()
    val stream = EventStreams.dedupEventsWithinWatermark(EventStreams.readEvents(spark, in))
    val got = EventStreams.runAvailableNow(stream, "dedup_wm_sink", "append", cp)
      .map(_.getLong(0)).sorted
    val batch = Tables.load(spark, sfDir, "events")
      .dropDuplicates("event_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(batch))
  }

  test("flatMapGroupsWithState summaries equal the batch per-user aggregate") {
    val (in, cp) = freshDirs()
    val stream = EventStreams.userBatchSummaries(EventStreams.readEvents(spark, in))
    val got = EventStreams.runAvailableNow(stream.toDF(), "flat_state_sink", "append", cp)
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
      .sortBy(_._1)
    val batch = Tables.load(spark, sfDir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
      .sortBy(_._1)
    assert(got.sameElements(batch))
  }

  test("foreachBatch sink: per-microbatch custom write lands the full stream") {
    val (in, cp) = freshDirs()
    val out = s"$workDir/feb-${System.nanoTime()}"
    val stream = EventStreams.dedupEvents(EventStreams.readEvents(spark, in))
    val q = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(out)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val written = spark.read.parquet(out)
    assert(written.count() ==
      Tables.load(spark, sfDir, "events").dropDuplicates("event_id").count())
    assert(written.columns.contains("batch_id"))
  }

  test("stateful mapGroupsWithState totals equal the batch per-user aggregate") {
    val (in, cp) = freshDirs()
    val stream = EventStreams.runningUserTotals(EventStreams.readEvents(spark, in))
    // update mode emits one row per key per batch; AvailableNow over a
    // static dir is a single batch, so rows ARE the final totals
    val got = EventStreams.runAvailableNow(stream.toDF(), "state_sink", "update", cp)
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
      .sortBy(_._1)

    val batch = Tables.load(spark, sfDir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
      .sortBy(_._1)
    assert(got.sameElements(batch))
  }

  test("transformWithState totals equal the batch per-user aggregate (RocksDB store)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (in, cp) = freshDirs()
      val stream = EventStreams.runningUserTotalsTws(EventStreams.readEvents(spark, in))
      val got = EventStreams.runAvailableNow(stream.toDF(), "tws_sink", "update", cp)
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
        .sortBy(_._1)
      val batch = Tables.load(spark, sfDir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
        .sortBy(_._1)
      assert(got.sameElements(batch))
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("snapshot delta stream emits removed at the watermark sweep, equals batch full-outer") {
    import graft.streaming.DocumentStreams
    import spark.implicits._
    val in = s"$workDir/delta-in-${System.nanoTime()}"
    val cp = s"$workDir/delta-cp-${System.nanoTime()}"
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val tick = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    // old snapshot: docs 1,2,3; new crawl: 1 unchanged, 2 changed,
    // 4 added; 3 is absent from the new side -> removed
    val files = Seq(
      "old" -> Seq((1L, "crawl", "old", "h-a", t0), (2L, "crawl", "old", "h-b", t0),
        (3L, "crawl", "old", "h-c", t0)),
      "new" -> Seq((1L, "crawl", "new", "h-a", t0), (2L, "crawl", "new", "h-B2", t0),
        (4L, "crawl", "new", "h-d", t0)),
      // sentinel: pushes the watermark past the data window so the
      // unmatched old-side group finalizes as `removed`; its own window
      // never flushes, so it must not appear in the output
      "tick" -> Seq((-1L, "tick", "tick", "", tick)))
    // landed in order: the file source must process the sentinel LAST
    // or the early watermark drops the data as late
    Replay.land(in, files.map { case (name, rows) =>
      name -> rows.toDF("doc_id", "source", "side", "h", "ts") })
    val tagged = Replay.stream(spark, in,
      spark.read.parquet(s"$in/old.parquet").schema)
    val got = EventStreams.runAvailableNow(
      DocumentStreams.snapshotDelta(tagged), "delta_sink", "append", cp)
      .map(r => (r.getLong(0), r.getString(2))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "unchanged"), (2L, "changed"), (3L, "removed"), (4L, "added")),
      s"got=${got.toSeq}")
    // equals the batch FULL OUTER formulation over the same tagged rows
    val all = spark.read.parquet(s"$in/old.parquet", s"$in/new.parquet")
    val o = all.where(col("side") === "old").select(col("doc_id"), col("h").as("h_old"))
    val n = all.where(col("side") === "new").select(col("doc_id"), col("h").as("h_new"))
    val batch = o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("status"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.sameElements(batch))
  }

  test("late file past the watermark is dropped and counted by the listener") {
    // The r12 lesson: replay==batch specs can't see load-level bugs.
    // This one CRAFTS the load-level case — a file landing out of order
    // whose events are behind the watermark — and asserts the drop
    // happens (result excludes them) and is observable (the listener's
    // numRowsDroppedByWatermark).
    import spark.implicits._
    val in = s"$workDir/late-in-${System.nanoTime()}"
    val cp = s"$workDir/late-cp-${System.nanoTime()}"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def batch(rows: (Long, java.sql.Timestamp, Long, String, Double, String)*) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // landed in order: the file source processes b1, b2, b3
    Replay.land(in, Seq(
      // batch 1 (on time): max event time 13:00 -> watermark 12:30 after it
      "b1" -> batch(
        (1L, ts("2024-01-01 12:00:00"), 1L, "click", 1.0, "{}"),
        (2L, ts("2024-01-01 12:15:00"), 1L, "click", 1.0, "{}"),
        (3L, ts("2024-01-01 13:00:00"), 1L, "click", 1.0, "{}")),
      // batch 2 (on time): advances the watermark to 12:40
      "b2" -> batch((5L, ts("2024-01-01 13:10:00"), 2L, "click", 1.0, "{}")),
      // batch 3 (out of order): event 4 is 100 min behind the watermark.
      // Late-record filtering uses the PREVIOUS batch's watermark
      // (SPARK-40925 two-watermark semantics), which by batch 3 is 12:30
      // — so this row, and only this row, must be dropped and counted.
      "b3" -> batch((4L, ts("2024-01-01 11:00:00"), 2L, "click", 1.0, "{}"))))
    val events = Tables.normalizeTs(
      Replay.stream(spark, in, Tables.footer(spark, in, "events").schema))
    val dropped = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == "late_drop_sink")
          dropped.addAndGet(e.progress.stateOperators.map(_.numRowsDroppedByWatermark).sum)
    }
    spark.streams.addListener(listener)
    try {
      val got = EventStreams.runAvailableNow(
        EventStreams.tumblingCounts(events), "late_drop_sink", "append", cp)
        .map(r => (r.getTimestamp(0).toString, r.getLong(2))).sortBy(_._1)
      // append mode emits only watermark-finalized windows: 12:00 and
      // 12:10 (final watermark 12:40). The late 11:00 event's window
      // must NOT appear — the drop semantics, observed in the output.
      assert(got.toSeq == Seq(
        ("2024-01-01 12:00:00.0", 1L), ("2024-01-01 12:10:00.0", 1L)),
        s"got=${got.toSeq}")
      assert(!got.exists(_._1.startsWith("2024-01-01 11")), "late window leaked")
      // the batch twin WOULD count event 4 — proving the spec can tell
      // stream late-drop apart from batch semantics
      val batch = spark.read.schema(events.schema).parquet(in)
        .groupBy(window(col("ts"), "10 minutes")).count()
        .where(col("window.start") === ts("2024-01-01 11:00:00")).count()
      assert(batch == 1L, "batch twin must see the late event")
      // ...and the drop is COUNTED: listener progress is async, poll
      var waited = 0
      while (dropped.get() < 1L && waited < 100) { Thread.sleep(100); waited += 1 }
      assert(dropped.get() == 1L,
        s"expected exactly the one late row dropped, got ${dropped.get()}")
    } finally spark.streams.removeListener(listener)
  }

  test("streaming observe: in-flight gate counters surface via observedMetrics") {
    // the streaming twin of ns_pipeline_observed's claim: drop/keep
    // accounting rides the stream's own micro-batches (CollectMetrics),
    // surfaced per batch through QueryProgress.observedMetrics — no
    // second pass, no separate counting query
    val (in, cp) = freshDirs()
    val events = EventStreams.readEvents(spark, in)
    val gated = events.observe("gate_obs",
        count(lit(1)).as("n_total"),
        sum(when(col("value") > 0.5, 1L).otherwise(0L)).as("n_kept"))
      .where(col("value") > 0.5)
    val total = new java.util.concurrent.atomic.AtomicLong(0)
    val kept = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val m = e.progress.observedMetrics
        if (m.containsKey("gate_obs")) {
          val row = m.get("gate_obs")
          total.addAndGet(row.getAs[Long]("n_total"))
          kept.addAndGet(row.getAs[Long]("n_kept"))
        }
      }
    }
    spark.streams.addListener(listener)
    try {
      val got = EventStreams.runAvailableNow(gated, "obs_sink", "append", cp)
      val truthTotal = spark.read.schema(events.schema).parquet(in).count()
      val truthKept = spark.read.schema(events.schema).parquet(in)
        .where(col("value") > 0.5).count()
      assert(got.length.toLong == truthKept, "gate output must be the survivors")
      var waited = 0
      while (total.get() < truthTotal && waited < 100) { Thread.sleep(100); waited += 1 }
      assert(total.get() == truthTotal,
        s"observed n_total ${total.get()} != batch truth $truthTotal")
      assert(kept.get() == truthKept,
        s"observed n_kept ${kept.get()} != batch truth $truthKept")
    } finally spark.streams.removeListener(listener)
  }

  test("streaming shard append is exactly-once and matches the batch assignment") {
    import graft.streaming.DocumentStreams
    import spark.implicits._
    val in = s"$workDir/shard-in-${System.nanoTime()}"
    val out = s"$workDir/shard-out-${System.nanoTime()}"
    val cp = s"$workDir/shard-cp-${System.nanoTime()}"
    Files.createDirectories(Paths.get(in))
    (1L to 40L).map(i => (i, s"doc body $i", "en", "crawl", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(in)
    def runOnce(): Unit =
      DocumentStreams.shardAppend(DocumentStreams.readDocuments(spark, in), out, cp)
    runOnce()
    val first = spark.read.parquet(out)
    assert(first.count() == 40)
    // shard dirs exist and the assignment matches the batch twin
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard_id=")).map(_.getName).toSet
    assert(dirs.nonEmpty && dirs.subsetOf((0 until 8).map(i => s"shard_id=$i").toSet))
    val batchTwin = spark.read.parquet(in)
      .withColumn("shard_id",
        pmod(expr("cast(conv(substring(md5(concat('shard:', cast(doc_id as string))), 1, 8), 16, 10) as bigint)"), lit(8L)))
      .select(col("doc_id"), col("shard_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    first.select(col("doc_id"), col("shard_id").cast("long"))
      .collect().foreach { r =>
        assert(batchTwin(r.getLong(0)) == r.getLong(1),
          s"doc ${r.getLong(0)} landed in the wrong shard")
      }
    // EXACTLY-ONCE: replaying the same checkpoint over the same input
    // commits nothing new — the _spark_metadata log dedups the batch
    runOnce()
    assert(spark.read.parquet(out).count() == 40,
      "replay from the same checkpoint must not duplicate rows")
  }

  test("session window stream replays to the batch session answer") {
    val (in, cp) = freshDirs()
    val stream = EventStreams.sessionCounts(EventStreams.readEvents(spark, in))
    val got = EventStreams.runAvailableNow(stream, "session_sink", "complete", cp)
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._2, t._1))

    val batch = Tables.load(spark, sfDir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start"), col("user_id"), col("n"))
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._2, t._1))
    assert(got.sameElements(batch))
  }

  test("dynamic-gap session window stream replays to the batch answer") {
    // the streaming twin of ts_session_dynamic_gap: the per-event gap
    // EXPRESSION (views 10 min, others 30) must produce the same
    // interval-union sessions whether the events arrive as a stream or
    // sit in a table — the replay-equivalence contract for the one
    // session shape a fixed-gap lag can't express
    val (in, cp) = freshDirs()
    def gapped(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("gap",
        when(col("event_type") === "view", lit("10 minutes"))
          .otherwise(lit("30 minutes")))
      .groupBy(session_window(col("ts"), col("gap")), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start"), col("user_id"), col("n"))
    val got = EventStreams.runAvailableNow(
        gapped(EventStreams.readEvents(spark, in)), "dyngap_sink", "complete", cp)
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._2, t._1))
    val batch = gapped(Tables.load(spark, sfDir, "events"))
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._2, t._1))
    assert(got.sameElements(batch))
  }

  test("streaming CUSUM: detector state carries across micro-batches") {
    // the cross-batch property the ts_cusum_stream gate twin rests on:
    // the SECOND micro-batch continues the first's prefix sum / running
    // min instead of restarting the detector. Two hour-disjoint files,
    // one type; crafted counts (3, 3, 9) around mu make the final
    // statistic provably different from a restarted batch-2 detector.
    import spark.implicits._
    val in = s"$workDir/cusum-in-${System.nanoTime()}"
    val out = s"$workDir/cusum-out-${System.nanoTime()}"
    val cp = s"$workDir/cusum-cp-${System.nanoTime()}"
    val hourUs = 3600L * 1000000L
    def evts(hour: Long, n: Int) = (0 until n).map(i =>
      (hour * 100 + i, new java.sql.Timestamp(hour * 3600000L), 1L, "view",
        1.0, "{}"))
    // batch 1: hours 0 (x=9) and 1 (x=3); batch 2: hour 2 (x=9) —
    // chosen so the carried positive prefix (S=1e6 after batch 1, min
    // still the EMPTY prefix 0) makes batch 2's statistic 4.5e6, while
    // a restarted detector would read only dev(9)=3.5e6
    Replay.land(in, Seq(evts(0, 9) ++ evts(1, 3), evts(2, 9)).zipWithIndex.map {
      case (rows, p) => s"batch$p" ->
        rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    })
    // fixed offline baseline (the monitor's contract): mu = 5e6
    val mu = 5000000L
    val stream = Replay.stream(spark, in,
      Tables.eventsSchema(Tables.TsEncoding.Native(false)))
    Replay.drain(EventStreams.cusumMonitor(stream, Map("view" -> (mu, mu / 10))),
      out, cp)
    val rows = spark.read.parquet(out)
      .as[EventStreams.CusumOut].collect().sortBy(_.seq)
    assert(rows.map(_.seq).toSeq == Seq(1L, 2L), s"one row per batch: ${rows.toSeq}")
    // dev per bucket: x*1e6 - mu - mu/10
    val dev = (x: Long) => x * 1000000L - mu - mu / 10
    val s2 = dev(9) + dev(3) + dev(9)
    val minS = math.min(math.min(dev(9), dev(9) + dev(3)), 0L)
    assert(rows(0).nBuckets == 2 && rows(1).nBuckets == 3,
      "bucket counters must be cumulative across batches")
    assert(rows(1).maxC == s2 - minS,
      s"batch 2 must continue batch 1's prefix/min state: ${rows(1)} " +
        s"expected maxC ${s2 - minS}")
    // a RESTARTED detector would see only dev(9) = 3.4e6 < s2 - minS
    assert(rows(1).maxC > dev(9))
  }

  test("streaming CUSUM: a MID-hour batch split replays equal to batch") {
    // the r15 contract hole, closed: hour 1's rows arrive across TWO
    // micro-batches (2 then 3). The monitor carries the newest hour
    // OPEN in state and folds it provisionally, so hour 1 folds exactly
    // once with its final count x=5 — the pre-fix monitor would have
    // folded it twice (as x=2 and x=3) and drifted from the batch
    // detector. Also proves an event type ABSENT from the baseline map
    // is skipped, not fatal.
    import spark.implicits._
    val in = s"$workDir/cusum-mid-in-${System.nanoTime()}"
    val out = s"$workDir/cusum-mid-out-${System.nanoTime()}"
    val cp = s"$workDir/cusum-mid-cp-${System.nanoTime()}"
    def evts(hour: Long, n: Int, typ: String = "view") = (0 until n).map(i =>
      (hour * 1000 + i + (if (typ == "view") 0 else 500),
        new java.sql.Timestamp(hour * 3600000L + i * 60000L), 1L, typ,
        1.0, "{}"))
    // batch 0: hour 0 (x=4) + the FIRST 2 rows of hour 1 + an unknown
    // type; batch 1: hour 1's REMAINING 3 rows + hour 2 (x=6)
    Replay.land(in, Seq(evts(0, 4) ++ evts(1, 2) ++ evts(0, 1, "unknown_type"),
        evts(1, 3).map { case (id, ts, u, t, v, p) => (id + 100, ts, u, t, v, p) }
          ++ evts(2, 6)).zipWithIndex.map {
      case (rows, p) => s"batch$p" ->
        rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    })
    val mu = 5000000L // dev(x) = x*1e6 - 5.5e6
    val stream = Replay.stream(spark, in,
      Tables.eventsSchema(Tables.TsEncoding.Native(false)))
    Replay.drain(EventStreams.cusumMonitor(stream, Map("view" -> (mu, mu / 10))),
      out, cp)
    val rows = spark.read.parquet(out)
      .as[EventStreams.CusumOut].collect().sortBy(_.seq)
    assert(rows.forall(_.event_type == "view"),
      s"unknown baseline type must be skipped, not emitted/fatal: ${rows.toSeq}")
    assert(rows.map(_.seq).toSeq == Seq(1L, 2L))
    // hand-derived batch detector over hourly counts (4, 5, 6):
    // devs (e6): -1.5, -0.5, +0.5; S: -1.5, -2.0, -1.5; min(0,S): -1.5,
    // -2.0, -2.0; C: 0, 0, 0.5e6 — three buckets, no flags
    val fin = rows(1)
    assert(fin.nBuckets == 3L,
      s"hour 1 must fold ONCE with its final count: $fin")
    assert(fin.maxC == 500000L && fin.nFlagged == 0L && fin.firstFlag == -1L,
      s"mid-hour split must replay the batch detector exactly: $fin")
    // the interim emission folded the open hour provisionally
    assert(rows(0).nBuckets == 2L, s"provisional open-hour fold: ${rows(0)}")
  }
}
