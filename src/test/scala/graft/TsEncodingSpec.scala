package graft

import java.nio.file.{Files, Paths}
import java.time.Instant

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.streaming.EventStreams

/** Fixture-schema robustness for `events.ts` (VERDICT r12): the engine
  * must reproduce the LITERAL event times from every parquet encoding a
  * fixture generation has shipped — INT64 TIMESTAMP(NANOS),
  * TIMESTAMP(MICROS) NTZ (isAdjustedToUTC=false), and TIMESTAMP(MICROS)
  * UTC — via the footer-driven branch in [[Tables.load]] /
  * [[EventStreams.readEvents]], with all encodings readable in the SAME
  * session (the NANOS legacy conf must not be set by, or corrupt, µs
  * reads).
  */
class TsEncodingSpec extends SparkSpec {

  private val workDir = graft.queries.Q.scratchDir("tsenc")

  override def afterAll(): Unit =
    try graft.queries.Q.scratchDelete(workDir) finally super.afterAll()

  /** Literal event times the fixtures encode; µs precision. */
  private val literals = Seq(
    (1L, "2024-01-01T00:00:00.000000Z", 10L, "signup", 1.5, """{"k":1}"""),
    (2L, "2024-01-15T12:34:56.789012Z", 11L, "purchase", 2.5, """{"k":2}"""),
    (3L, "2024-01-30T23:59:59.999999Z", 12L, "error", 3.5, """{"k":3}"""))

  private def micros(iso: String): Long = {
    val i = Instant.parse(iso)
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Write an events fixture whose ts is annotated INT64
    * TIMESTAMP(NANOS, isAdjustedToUTC=false) — Spark cannot write this
    * encoding, so it is produced directly with parquet-hadoop.
    */
  private def writeNanosFixture(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
      .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
      .named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val out = HadoopOutputFile.fromPath(
      new Path(s"$dir/events.parquet"), spark.sessionState.newHadoopConf())
    val writer = ExampleParquetWriter.builder(out).withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    try literals.foreach { case (id, iso, uid, typ, v, props) =>
      writer.write(f.newGroup()
        .append("event_id", id)
        .append("ts", micros(iso) * 1000L)
        .append("user_id", uid)
        .append("event_type", typ)
        .append("value", v)
        .append("props", props))
    } finally writer.close()
  }

  /** Write a µs fixture via Spark: NTZ (TIMESTAMP(MICROS,
    * isAdjustedToUTC=false), the driver generator's encoding), UTC
    * (TIMESTAMP(MICROS, isAdjustedToUTC=true)), or — when
    * `outputType` = INT96 — Spark's legacy default physical encoding,
    * which our own default-conf sinks (e.g. ScaleFixture) produce.
    */
  private def writeMicrosFixture(
      dir: String, ntz: Boolean, outputType: String = "TIMESTAMP_MICROS"): Unit = {
    import spark.implicits._
    val rows = literals.map { case (id, iso, uid, typ, v, props) =>
      (id, Instant.parse(iso), uid, typ, v, props)
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val typed =
      if (ntz) df.withColumn("ts", col("ts").cast(TimestampNTZType))
      else df
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", outputType)
    try typed.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None    => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  private def tsEncoding(path: String): Tables.TsEncoding =
    Tables.footer(spark, path, "events").encodings("ts")

  private def loadedLiterals(dir: String): Seq[(Long, String)] = {
    val df = Tables.load(spark, dir, "events")
    assert(df.schema("ts").dataType == TimestampType,
      s"ts must normalize to TimestampType, got ${df.schema("ts").dataType}")
    df.select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
  }

  private def expectedLiterals: Seq[(Long, String)] =
    literals.map { case (id, iso, _, _, _, _) =>
      // normalize to full-µs ISO form to match date_format output
      val i = Instant.parse(iso)
      val base = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
        .withZone(java.time.ZoneOffset.UTC)
        .format(i)
      (id, base)
    }

  test("µs (NTZ) fixture loads with literal timestamps, no legacy conf set") {
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val dir = s"$workDir/us-ntz-${System.nanoTime()}"
    writeMicrosFixture(dir, ntz = true)
    assert(tsEncoding(s"$dir/events.parquet") ==
      Tables.TsEncoding.Native(false))
    assert(loadedLiterals(dir) == expectedLiterals)
    // a µs fixture must NOT flip the session-wide ns legacy flag
    assert(!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
  }

  test("µs (UTC-adjusted) fixture loads with literal timestamps") {
    val dir = s"$workDir/us-utc-${System.nanoTime()}"
    writeMicrosFixture(dir, ntz = false)
    assert(tsEncoding(s"$dir/events.parquet") ==
      Tables.TsEncoding.Native(true))
    assert(loadedLiterals(dir) == expectedLiterals)
  }

  test("INT96 fixture (Spark legacy default write) loads with literal timestamps") {
    val dir = s"$workDir/int96-${System.nanoTime()}"
    writeMicrosFixture(dir, ntz = false, outputType = "INT96")
    assert(tsEncoding(s"$dir/events.parquet") ==
      Tables.TsEncoding.Native(true))
    assert(loadedLiterals(dir) == expectedLiterals)
  }

  test("ns fixture loads with literal timestamps (truncated to µs)") {
    val dir = s"$workDir/ns-${System.nanoTime()}"
    writeNanosFixture(dir)
    assert(tsEncoding(s"$dir/events.parquet") ==
      Tables.TsEncoding.NanosLong)
    assert(loadedLiterals(dir) == expectedLiterals)
  }

  test("mixed-unit reads in one session agree both ways") {
    // ns first (sets the legacy conf), then µs — then µs-first ordering
    // is covered by the suites above. Both must return the literals.
    val nsDir = s"$workDir/ns-mix-${System.nanoTime()}"
    val usDir = s"$workDir/us-mix-${System.nanoTime()}"
    writeNanosFixture(nsDir)
    writeMicrosFixture(usDir, ntz = true)
    assert(loadedLiterals(nsDir) == expectedLiterals)
    assert(loadedLiterals(usDir) == expectedLiterals)
    assert(loadedLiterals(nsDir) == expectedLiterals)
  }

  /** Like writeMicrosFixture, but lands a SINGLE file named
    * `events.parquet` (the file-stream source does not recurse into
    * part-file subdirectories — matching the StreamingSpec layout).
    */
  private def writeMicrosFile(dir: String): Unit = {
    val staging = s"$dir-staging"
    writeMicrosFixture(staging, ntz = true)
    Files.createDirectories(Paths.get(dir))
    val listing = Files.list(Paths.get(s"$staging/events.parquet"))
    val part =
      try listing.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      finally listing.close()
    Files.copy(part, Paths.get(s"$dir/events.parquet"))
  }

  test("streaming readEvents normalizes both encodings like the batch path") {
    for ((mkFixture, tag) <- Seq(
        ((d: String) => writeNanosFixture(d), "ns"),
        ((d: String) => writeMicrosFile(d), "us"))) {
      val dir = s"$workDir/stream-$tag-${System.nanoTime()}"
      val cp = s"$workDir/stream-cp-$tag-${System.nanoTime()}"
      mkFixture(dir)
      val streamed = EventStreams.runAvailableNow(
        EventStreams.readEvents(spark, dir)
          .select(col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("t")),
        s"tsenc_sink_$tag", "append", cp)
      val got = streamed.map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
      assert(got == expectedLiterals, s"stream[$tag] mismatch")
    }
  }

  test("same-path fixture regeneration re-detects the encoding (no stale cache)") {
    // the mtime+size-stamped cache key: swapping the file generation at
    // the SAME path must not serve the old encoding (the r12 failure
    // class, this time within one JVM)
    val dir = s"$workDir/regen-${System.nanoTime()}"
    writeMicrosFixture(dir, ntz = true)
    assert(tsEncoding(s"$dir/events.parquet") ==
      Tables.TsEncoding.Native(false))
    assert(loadedLiterals(dir) == expectedLiterals)
    // swap in the ns generation at the same path
    val walk = Files.walk(Paths.get(s"$dir/events.parquet"))
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => { Files.deleteIfExists(p); () })
    finally walk.close()
    writeNanosFixture(dir)
    assert(tsEncoding(s"$dir/events.parquet") ==
      Tables.TsEncoding.NanosLong)
    assert(loadedLiterals(dir) == expectedLiterals)
  }

  test("a stream defined on an empty landing dir works once data arrives") {
    // define-before-data: detection must not throw on an empty dir; the
    // fallback schema (current-generation µs) then reads the arriving
    // file correctly
    val dir = s"$workDir/empty-${System.nanoTime()}"
    val cp = s"$workDir/empty-cp-${System.nanoTime()}"
    Files.createDirectories(Paths.get(dir))
    // readEvents must not throw here (the old behavior crashed at
    // stream-definition time on an empty dir)
    val stream = EventStreams.readEvents(spark, dir)
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("t"))
    writeMicrosFile(dir)
    val got = EventStreams.runAvailableNow(stream, "tsenc_sink_empty", "append", cp)
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    assert(got == expectedLiterals)
  }

  test("ns file landing in an initially-empty dir errors loudly, not silently") {
    // define-before-data where the WRONG generation lands: the stream's
    // schema was baked assuming µs NTZ; a ns-annotated file cannot be
    // decoded into it. The failure must be the targeted redefine-the-
    // stream error, not silent wrong-unit values or an opaque decode
    // stack (VERDICT r13 item 6).
    val dir = s"$workDir/empty-ns-${System.nanoTime()}"
    val cp = s"$workDir/empty-ns-cp-${System.nanoTime()}"
    Files.createDirectories(Paths.get(dir))
    val stream = EventStreams.readEvents(spark, dir)
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("t"))
    writeNanosFixture(dir)
    val e = intercept[IllegalStateException] {
      EventStreams.runAvailableNow(stream, "tsenc_sink_empty_ns", "append", cp)
    }
    assert(e.getMessage.contains("redefine the stream"), e.getMessage)
    assert(e.getMessage.contains(java.nio.file.Paths.get(dir)
      .toAbsolutePath.normalize.toString), e.getMessage)
    // and redefining the stream now that data exists reads the literals
    val cp2 = s"$workDir/empty-ns-cp2-${System.nanoTime()}"
    val got = EventStreams.runAvailableNow(
      EventStreams.readEvents(spark, dir)
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("t")),
      "tsenc_sink_empty_ns2", "append", cp2)
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    assert(got == expectedLiterals)
  }

  test("explicit LongType read schema decodes NANOS with no session conf") {
    // the mechanism that lets a fixture read mutate no session state:
    // the parquet reader decodes a physical INT64 directly when the
    // REQUESTED type is LongType, regardless of the NANOS annotation —
    // the nanosAsLong conf only gates schema INFERENCE
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val dir = s"$workDir/explicit-ns-${System.nanoTime()}"
    writeNanosFixture(dir)
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val got = spark.read
      .schema(StructType(Seq(StructField("event_id", LongType), StructField("ts", LongType))))
      .parquet(s"$dir/events.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val want = literals.map { case (id, iso, _, _, _, _) => (id, micros(iso) * 1000L) }
    assert(got == want)
  }

  test("ns fixture reads leave ad-hoc reads untouched (conf not sticky)") {
    // VERDICT r14 item 3: touching a ns fixture must not silently
    // re-type unrelated ad-hoc spark.read.parquet for the rest of the
    // session. An ad-hoc INFERENCE read of a ns-annotated file must
    // behave identically before and after a fixture load: same outcome,
    // same error class if it errors.
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val adhocDir = s"$workDir/adhoc-ns-${System.nanoTime()}"
    val fixtureDir = s"$workDir/fixture-ns-${System.nanoTime()}"
    writeNanosFixture(adhocDir)
    writeNanosFixture(fixtureDir)
    def adhocOutcome(): String =
      try spark.read.parquet(s"$adhocDir/events.parquet").schema("ts").dataType.simpleString
      catch { case e: Throwable => s"throws:${e.getClass.getName}" }
    val before = adhocOutcome()
    // the full fixture path: detection + reconcile + load + collect
    assert(loadedLiterals(fixtureDir) == expectedLiterals)
    val after = adhocOutcome()
    assert(after == before,
      s"ad-hoc ns inference read changed from '$before' to '$after' after a fixture load")
    assert(!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"),
      "fixture load left the session-wide nanosAsLong conf set")
  }

  test("stats-registered dir: mid-JVM ns regeneration is never served stale") {
    // VERDICT r14 item 2: once a dir is stats-registered, load() serves
    // the catalog table whose ts DDL was frozen at registration. A
    // mid-JVM fixture regeneration that flips µs→ns must bypass the
    // stale catalog type (fall back to the footer-aware direct read),
    // never decode wrong-unit values through it.
    val dir = s"$workDir/statsregen"
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => { Files.deleteIfExists(q); () })
      finally walk.close()
    }
    Files.createDirectories(p)
    for (t <- Tables.schemas.keys)
      Files.copy(Paths.get(s"$sfDir/$t.parquet"), Paths.get(s"$dir/$t.parquet"))
    Tables.registerWithStats(spark, dir)
    // µs generation through the catalog path: typed + plausible range
    val viaCatalog = Tables.load(spark, dir, "events")
    assert(viaCatalog.schema("ts").dataType == TimestampType)
    assert(viaCatalog.count() > 0)
    // regenerate events as the ns generation at the same path
    Files.delete(Paths.get(s"$dir/events.parquet"))
    writeNanosFixture(dir)
    // load() against the still-registered dir must serve the literals
    // (fresh footer detection disagrees with the frozen catalog DDL →
    // direct footer-aware read), not nanos misread through the µs DDL
    assert(loadedLiterals(dir) == expectedLiterals)
  }

  test("a stray non-parquet file in a fixture dir is skipped by footer resolution") {
    // VERDICT r14 item 6: footer resolution must not pick a marker /
    // csv / log sibling as the "footer" file and fail the load opaquely
    val dir = s"$workDir/stray-${System.nanoTime()}"
    val staging = s"$dir-staging"
    writeMicrosFixture(staging, ntz = true)
    Files.createDirectories(Paths.get(s"$dir/events.parquet"))
    val listing = Files.list(Paths.get(s"$staging/events.parquet"))
    val part =
      try listing.filter(q => q.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      finally listing.close()
    Files.copy(part, Paths.get(s"$dir/events.parquet/part-00000.parquet"))
    // stray siblings that sort BEFORE the part file
    Files.write(Paths.get(s"$dir/events.parquet/aaa-marker.txt"),
      "not parquet".getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/events.parquet/log.csv"),
      "a,b\n1,2\n".getBytes("UTF-8"))
    assert(tsEncoding(s"$dir/events.parquet") ==
      Tables.TsEncoding.Native(false))
    assert(loadedLiterals(dir) == expectedLiterals)
    // a dir holding ONLY strays is "no data yet", not an opaque failure
    val onlyStrays = s"$workDir/strayonly-${System.nanoTime()}"
    Files.createDirectories(Paths.get(onlyStrays))
    Files.write(Paths.get(s"$onlyStrays/junk.txt"), "x".getBytes("UTF-8"))
    assert(!Tables.footer(spark, onlyStrays, "events").hasData)
  }

  test("real fixture dir decodes to the documented 2024-01 event range") {
    val df = Tables.load(spark, sfDir, "events")
    val r = df.agg(min("ts").as("lo"), max("ts").as("hi"), count(lit(1)).as("n"))
      .selectExpr("date_format(lo,'yyyy-MM-dd')", "date_format(hi,'yyyy-MM-dd')", "n")
      .collect()(0)
    assert(r.getString(0).startsWith("2024-01"), s"min ts ${r.getString(0)}")
    assert(r.getString(1).startsWith("2024-0"), s"max ts ${r.getString(1)}")
    assert(r.getLong(2) > 0)
  }
}
