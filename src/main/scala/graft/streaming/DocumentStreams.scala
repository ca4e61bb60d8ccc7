package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Streaming ingestion of a DOCUMENT corpus — the continuous-crawl twin
  * of the batch §2C pipeline: new document files land in a directory,
  * and the stream deduplicates by content hash and applies the quality
  * gate before anything reaches training storage. Mirrors the
  * reference's continuous intake posture (the pull-socket loop at
  * `/root/reference/src/processor.ts:61-89`) applied to corpus data
  * instead of job packets.
  *
  * At scale: content-hash dedup state lives in the state store (RocksDB
  * in production) keyed by the 64-hex digest — bounded by distinct
  * content, partitioned by the shuffle on the hash; the quality filter
  * is stateless map-only. Both compose with any downstream streaming
  * aggregate.
  */
object DocumentStreams {

  /** File-source stream of documents with the fixture schema. */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(Tables.schemas("documents"))
      .parquet(dir)

  /** Exact streaming dedup: first sight of a content hash wins; later
    * copies (same text under different doc_ids, the re-crawl case) are
    * dropped. State is keyed by the sha256 digest only.
    */
  def dedupByContent(docs: DataFrame): DataFrame =
    docs
      .withColumn("content_hash", sha2(col("text"), 256))
      .dropDuplicates("content_hash")

  /** Stateless quality gate, the streaming form of the batch
    * `ns_filter_quality_gate` heuristics with a FIXED threshold —
    * corpus-relative thresholds (percentiles) are a batch-recompute
    * concern, not per-record streaming state.
    */
  def qualityGate(docs: DataFrame, minDistinctRatio: Double = 0.2): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("distinct_ratio",
        size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
      .where(!col("text").rlike("(^| )(dup|slow)( |$)") &&
        col("distinct_ratio") >= minDistinctRatio)
      .drop("toks")

  /** The composed ingest: dedup then gate (order matters — dedup first
    * so the gate's per-record work runs once per distinct document).
    */
  def ingest(docs: DataFrame): DataFrame =
    qualityGate(dedupByContent(docs))

  /** Streaming training-shard APPEND — the streaming twin of the batch
    * `ns_corpus_shard_manifest` writer: each arriving document gets its
    * deterministic hash shard (content-hash based, since a stream
    * cannot rank a global order) and lands in shard-partitioned parquet
    * through the file sink, run to completion by [[Replay.drain]].
    * EXACTLY-ONCE is the file sink's `_spark_metadata` transaction log:
    * a replay from the same
    * checkpoint must not duplicate rows, and readers that honor the log
    * (any Spark parquet read of the directory) see each committed batch
    * once — asserted in StreamingSpec by re-running the same checkpoint
    * over the same input and diffing against the batch twin.
    *
    * At scale this is the continuous-ingest output stage: S shard
    * directories, each appended to transactionally per micro-batch,
    * manifests derivable by the batch manifest query at any time.
    */
  def shardAppend(
      docs: DataFrame, outDir: String, checkpoint: String, shards: Int = 8): Unit =
    Replay.drain(
      docs.withColumn("shard_id",
        pmod(expr("cast(conv(substring(md5(concat('shard:', cast(doc_id as string))), 1, 8), 16, 10) as bigint)"),
          lit(shards.toLong))),
      outDir, checkpoint, partitionBy = Seq("shard_id"))

  /** One heavy-hitter monitor shard's state: the carried Misra-Gries
    * counter map (<= k entries) and the emission sequence number.
    */
  final case class HhState(seq: Long, counts: Map[String, Long])

  final case class HhOut(shard: Long, seq: Long, tok: String, c: Long)

  /** STREAMING Misra-Gries heavy-hitter monitor — the live twin of the
    * batch `ns_sketch_heavy_hitters` two-pass plan: term traffic is
    * SHARDED by term hash (so no single reducer sees the stream — the
    * same reason the batch pass sketches per partition), and each
    * shard's MG counter map (<= k entries) carries across micro-batches
    * in flatMapGroupsWithState via the resumable
    * [[graft.operators.HeavyHitters.mgFold]], making the whole run ONE
    * continuous MG pass per shard no matter how files cut the stream.
    * Each invocation emits the shard's current summary tagged with a
    * sequence number; the consumer keeps the last emission per shard,
    * unions the candidate sets, and EXACTLY recounts candidates
    * batch-side — the superset guarantee (an item heavier than
    * n/(k+1) globally is heavier than its shard's n_s/(k+1)) makes the
    * final thresholded answer split-invariant and order-invariant BY
    * CONSTRUCTION, which is why the gate oracle can be the batch
    * query's exact SQL. The carry is what keeps per-shard state and
    * emission size at k counters regardless of how many batches run.
    */
  def heavyHittersMonitor(docs: DataFrame, k: Int = 32,
      shards: Int = 8): org.apache.spark.sql.Dataset[HhOut] = {
    val sp = docs.sparkSession
    import sp.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    docs.select(explode(split(col("text"), " ")).as("tok"))
      .select(pmod(hash(col("tok")), lit(shards)).cast("long").as("shard"),
        col("tok"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[HhState, HhOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (shard, rows, state) =>
          val st = state.getOption.getOrElse(HhState(0L, Map.empty))
          val m = graft.operators.HeavyHitters.mgFold(
            k, st.counts, rows.map(_._2))
          val next = HhState(st.seq + 1, m)
          state.update(next)
          m.iterator.map { case (t, c) => HhOut(shard, next.seq, t, c) }
      }
  }

  /** Snapshot-delta classification INCLUDING `removed` — the two-stream
    * union formulation: the previous snapshot and the new crawl both
    * arrive as streams tagged `side` ('old' / 'new'), each record
    * carrying its content hash and a shared event time. A watermarked
    * windowed aggregate pairs the sides per doc_id; when the watermark
    * passes the window, the finalized pair emits exactly one status row.
    * Absence has become an event: a group that finalizes with only an
    * old-side record IS the removal observation (`removed`); new-only is
    * `added`; both sides with differing hashes `changed`, else
    * `unchanged`. The emitting trigger is the watermark crossing, so the
    * input needs one later-timestamped record after the snapshot pair
    * (the caller's sentinel) to push the watermark past the data window.
    *
    * Scale: state per doc_id is two 64-hex hashes and two source
    * strings inside one window, evicted at watermark — bounded,
    * RocksDB-friendly; the aggregate shuffles on (window, doc_id) like
    * any streaming group-by.
    */
  def snapshotDelta(tagged: DataFrame): DataFrame =
    tagged
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 minute"), col("doc_id"))
      .agg(
        max(when(col("side") === "old", col("h"))).as("h_old"),
        max(when(col("side") === "new", col("h"))).as("h_new"),
        max(when(col("side") === "old", col("source"))).as("src_old"),
        max(when(col("side") === "new", col("source"))).as("src_new"))
      .select(col("doc_id"),
        coalesce(col("src_new"), col("src_old")).as("source"),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("status"))

  /** One exploded line row (the `ns_dedup_lines` derivation) flowing
    * through the streaming gate.
    */
  final case class LineRow(doc_id: Long, source: String, pos: Int, line: String)

  /** [[LineRow]] plus the gate's verdict for the micro-batch it arrived
    * in.
    */
  final case class LineVerdict(
      doc_id: Long, source: String, pos: Int, line: String, dropped: Boolean)

  /** The batch `ns_dedup_lines` line derivation (8-token pseudo-lines +
    * the deterministically injected header/footer boilerplate), shared
    * verbatim so the streaming gate and the batch rewrite see the same
    * line stream. Stateless map-only — safe on a streaming DataFrame.
    */
  def deriveLines(docs: DataFrame): DataFrame = docs
    .withColumn("toks", split(col("text"), " "))
    .withColumn("n_body", ceil(size(col("toks")) / 8.0).cast("int"))
    .withColumn("body", expr(
      "transform(sequence(0, n_body - 1), g -> array_join(slice(toks, g * 8 + 1, 8), ' '))"))
    .withColumn("lines", expr(
      """concat(
        |  slice(array('boiler header global promo'), 1,
        |        cast(doc_id % 5 = 0 as int)),
        |  body,
        |  slice(array(concat('boiler footer ', source)), 1,
        |        cast(doc_id % 2 = 0 as int)))""".stripMargin))
    .select(col("doc_id"), col("source"),
      posexplode(col("lines")).as(Seq("pos", "line")))

  /** STREAMING line-boilerplate gate — the continuous-crawl twin of the
    * batch `ns_dedup_lines` removal: per-line cumulative distinct-doc
    * counts live in `flatMapGroupsWithState` state (keyed by the line
    * text; RocksDB-backed in production, bounded by the distinct-line
    * vocabulary), and a micro-batch's occurrences of a line are dropped
    * iff the count INCLUDING this batch reaches the threshold.
    * Verdicts are batch-atomic (every occurrence within one batch gets
    * the same verdict — the group function sees the batch's rows at
    * once), which makes the two-batch replay deterministic and
    * SQL-expressible for the oracle.
    *
    * The deliberate semantic gap vs batch: occurrences that arrived
    * BEFORE a line crossed the threshold were already emitted as kept —
    * a stream cannot retract them. Production closes the gap with a
    * periodic batch re-clean (the `ns_dedup_lines` rewrite); the gate
    * query's oracle encodes the honest streaming semantics, not the
    * batch ones.
    */
  def lineBoilerplateGate(docs: DataFrame, threshold: Int = 3): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    deriveLines(docs).as[LineRow]
      .groupByKey(_.line)
      .flatMapGroupsWithState[Long, LineVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, rows, state) =>
          val batch = rows.toSeq
          val total = state.getOption.getOrElse(0L) +
            batch.map(_.doc_id).distinct.size
          state.update(total)
          val drop = total >= threshold
          batch.iterator.map(r =>
            LineVerdict(r.doc_id, r.source, r.pos, r.line, drop))
      }
      .toDF()
  }

  /** STANDING boolean/phrase full-text queries over the document
    * stream — the PG "percolator" shape (a LISTEN/NOTIFY consumer of
    * `to_tsvector(new.text) @@ tsquery`): every arriving document is
    * evaluated against the six standing queries of the batch
    * `ns_text_fts_query` and emits one row per query it matches.
    * Evaluation is per-row HOFs over the token array (membership +
    * in-array adjacency for phrases) — STATELESS map-only, no state
    * store, no watermark — so the stream's lifetime match set provably
    * equals the batch query's result and the gate oracle is the batch
    * SQL verbatim.
    *
    * At scale: the standing-query set is a broadcast-sized dictionary
    * (here six literals); per-document cost is one pass over its own
    * tokens per query atom. This is the router stage of a percolation
    * pipeline — downstream consumers subscribe per query_id.
    */
  def ftsMatch(docs: DataFrame): DataFrame = {
    val w = docs.withColumn("w", split(col("text"), " "))
    def has(t: String) = array_contains(col("w"), t)
    def phrase(a: String, b: String) =
      expr(s"size(w) >= 2 AND exists(sequence(1, size(w) - 1), " +
        s"i -> element_at(w, i) = '$a' AND element_at(w, i + 1) = '$b')")
    w.select(col("doc_id").cast("long").as("doc_id"),
        explode(filter(array(
          when(has("dup") && has("vector"), "q1_and"),
          when(phrase("hash", "join"), "q2_phrase"),
          when(has("scan") && !has("filter"), "q3_andnot"),
          when(has("dup") || phrase("merge", "sort"), "q4_or"),
          when(phrase("merge", "sort") && !has("slow"), "q5_phrase_not"),
          when(phrase("data", "table") || (has("dup") && has("vector")),
            "q6_mixed")), x => x.isNotNull)).as("query_id"))
      .select(col("query_id"), col("doc_id"))
  }

  /** Incremental-ingest gate, the streaming form of the batch
    * `ns_dedup_incremental` exact path: arriving documents are dropped
    * if their content hash already exists in the STATIC existing-corpus
    * hash store (stream-static join — at production scale the store is
    * the signature table the batch pipeline maintains), and re-crawls
    * WITHIN the stream are dropped by the content-hash dedup state.
    * Only documents new to both survive.
    *
    * The anti-join is expressed as stream-static LEFT OUTER + null
    * filter (the supported stream-static shape); the build side is
    * distinct-collapsed so the outer join cannot multiply stream rows.
    */
  def incrementalGate(newDocs: DataFrame, existing: DataFrame): DataFrame = {
    val oldHashes = existing
      .select(sha2(col("text"), 256).as("content_hash"))
      .distinct()
      .withColumn("known", lit(1))
    dedupByContent(newDocs)
      .join(oldHashes, Seq("content_hash"), "left_outer")
      .where(col("known").isNull)
      .drop("known")
  }
}
