package graft

import graft.plans.GraftExtensions

/** The session has one shape and the native functions one registration:
  * every name in [[GraftExtensions.functions]] resolves in a session
  * built with the extension, and in one built without it once
  * [[SparkEntry.engineFor]] has run on it; source guards keep session
  * building, function registration and task-metric listening each in
  * one place, scratch trees in [[graft.queries.Q]], fixture tables in
  * [[Tables]], fixture views in [[graft.queries.Q.sql]] and the
  * session's engine in [[SparkEntry.engineFor]]; and each
  * decision the query catalog shares (generated-media scans, the
  * quality model, the media oracles, the fixture writers) has one
  * definition.
  */
class SessionShapeSpec extends SparkSpec {

  test("every native function resolves in an extension-built session") {
    assert(GraftExtensions.functions.map(_._1.funcName).toSet == Set("scaled_dot", "maxsim_score", "kmv_sketch", "sq_l2",
      "lsh_bucket", "sorted_overlap", "gram_hash"))
    val registry = spark.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (id, _, _) =>
      assert(registry.functionExists(id), s"$id is not registered")
    }
  }

  test("engineFor registers the native functions in a session built without them") {
    val bare = spark.newSession()
    val registry = bare.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (id, _, _) => registry.dropFunction(id) }
    assert(GraftExtensions.functions.forall { case (id, _, _) => !registry.functionExists(id) })
    SparkEntry.engineFor(bare)
    assert(GraftExtensions.functions.forall { case (id, _, _) => registry.functionExists(id) })
    // the same query through the frame, on the stripped session, uses
    // maxsim_score and scaled_dot
    val rows = SparkEntry.queries("ns_sim_maxsim_plaid")(bare, sfDir).collect()
    assert(rows.nonEmpty)
    // idempotent: a second registration pass changes nothing
    GraftExtensions.registerIn(bare)
    assert(bare.sql("SELECT scaled_dot(array(1.0f, 2.0f), array(3.0f, 4.0f))")
      .head.getLong(0) == 11L * (1L << 40))
  }

  test("source guard: one session factory, one function registry, one listener") {
    import SourceText.{main => sources, mainFilesWith => filesWith}
    assert(filesWith("SparkSession.builder()") == Set("graft/SessionTuning.scala"))
    Seq("registerFunction", "injectFunction", "FunctionIdentifier(", "new ExpressionInfo(")
      .foreach(p => assert(filesWith(p) == Set("graft/plans/GraftExtensions.scala"), p))
    assert(filesWith("registerIn(") ==
      Set("graft/plans/GraftExtensions.scala", "graft/SparkEntry.scala"))
    assert("registerIn\\(".r.findAllIn(sources("graft/SparkEntry.scala")).size == 1,
      "SparkEntry.engineFor is the one caller of GraftExtensions.registerIn")
    assert(filesWith("SparkListener {") ++ filesWith("SparkListener{") ==
      Set("graft/Metrics.scala"))
  }

  test("source guard: scratch trees only through Q, no absolute path into the checkout") {
    val sources = SourceText.main
    Seq("scratchDir(", "scratchDelete(").foreach { p =>
      assert(SourceText.mainFilesWith(p) ==
        Set("graft/queries/Q.scala", "graft/ScaleProbe.scala"), p)
    }
    // the only absolute paths are the read-only fixture defaults
    val absolute = sources.values.flatMap("\"/root/[^\"]*".r.findAllIn(_)).toSeq
    assert(absolute.nonEmpty && absolute.forall(_.startsWith("\"/root/testdata/")),
      absolute.mkString(", "))
  }

  test("source guard: fixtures become named tables in Tables and views only in Q.sql") {
    Seq("CREATE TABLE", "ANALYZE TABLE").foreach(p =>
      assert(SourceText.mainFilesWith(p) == Set("graft/Tables.scala"), p))
    // one ANALYZE per table: the column command also writes the
    // table-level sizeInBytes and rowCount
    assert(mainCount("ANALYZE TABLE") == 1)
    // one fixture DDL, Tables.fixtureDdl
    assert(mainCount("CREATE TABLE") == 1)
    assert(SourceText.mainFilesWith("createOrReplaceTempView") ==
      Set("graft/queries/Q.scala", "graft/ScaleProbe.scala"))
    assert("createOrReplaceTempView".r
      .findAllIn(SourceText.main("graft/queries/Q.scala")).size == 1,
      "Q.sql is the one place a query binds fixture views")
  }

  test("source guard: one fixture-read decision, one prepared-plan table") {
    // frames over a held plan are built by one accessor
    assert(mainCount("ofRows(") == 1)
    assert(SourceText.mainFilesWith("ofRows(") ==
      Set("org/apache/spark/sql/graftengine/PlanFrames.scala"))
    // Tables.source decides catalog table or direct read; load and the
    // prepared-plan check both ask it
    assert(mainCount("def source(") == 1)
    assert(SourceText.mainFilesWith("catalogRecord(") == Set("graft/Tables.scala"))
    assert(mainCount("catalogRecord(spark, statsTableName(") == 1)
    assert(SourceText.mainFilesWith("Tables.source(") == Set("graft/engine/Recorder.scala"))
    // the prepared table, its recording and its frames live in Engine
    Seq("Recorder.record(", "PlanFrames.fromShared(", "class Prepared").foreach(p =>
      assert(SourceText.mainFilesWith(p) == Set("graft/engine/Engine.scala"), p))
  }

  test("source guard: one engine per session") {
    // SparkEntry.engineFor builds it; Engine.persistent returns it
    assert(SourceText.mainFilesWith("new Engine(") == Set("graft/SparkEntry.scala"))
    assert(mainCount("new Engine(") == 1)
  }

  /** Occurrences of `pattern` in the code of every main file. */
  private def mainCount(pattern: String): Int =
    SourceText.main.values.map(java.util.regex.Pattern.quote(pattern).r.findAllIn(_).size).sum

  test("source guard: generated media files are written and scanned only by Q.media") {
    val scan = "read.format(\"binaryFile\")"
    // besides Q.media: the binaryFile source test (one file per nation
    // name) and the header census, whose 26th file is not nation-keyed
    assert(SourceText.mainFilesWith(scan) == Set("graft/queries/Q.scala",
      "graft/queries/SourcesQueries.scala", "graft/queries/NorthStarQueries.scala"))
    assert(mainCount(scan) == 3)
    assert(mainCount("Q.media(") == 38)
  }

  test("source guard: the quality model and the media oracles have one definition each") {
    // the logistic model's linear term, Spark and DuckDB
    assert(mainCount("lit(0.004) * col(") == 1)
    assert(mainCount("0.004 * n_toks") == 1)
    // the image fixtures' geometry, pixel expansion and JPEG DC closed form
    assert(mainCount("cast(16 + n_nationkey as bigint) AS w") == 1)
    assert(mainCount("unnest(generate_series(0, w - 1)) AS x FROM g") == 1)
    assert(mainCount("16 * (((7 * j) % 32) - 16)") == 1)
    // the PNG and JPEG decode selects
    assert(mainCount("Multimodal.pngStatsAll(") == 1)
    assert(mainCount("Multimodal.jpegDcAll(") == 1)
  }

  test("source guard: one file-stream replay path") {
    // every parquet stream sink drains through Replay.drain; the memory
    // sink of runAvailableNow serves the complete- and update-mode specs
    assert(SourceText.mainFilesWith("writeStream") ==
      Set("graft/streaming/Replay.scala", "graft/streaming/EventStreams.scala"))
    assert(mainCount("writeStream") == 2)
    assert(SourceText.mainFilesWith("maxFilesPerTrigger") ==
      Set("graft/streaming/Replay.scala"))
    // batches land, with pinned mtimes, only through Replay.land
    Seq("setLastModified", "listFiles()").foreach(p =>
      assert(!SourceText.mainFilesWith(p).exists(_.startsWith("graft/queries/")), p))
    // the five-long decode-or-invalid fold of the media decoders
    assert(mainCount("case None => (id, 0L, 0L, 0L, 0L, 0L, false)") == 1)
  }

  test("source guard: one embedding-similarity definition per engine") {
    // the cosine ratio, a product of two square roots: NorthStarQueries.
    // cosine (a Spark Column) and cosineSql (SQL text for the oracles)
    val ratios = SourceText.main.toSeq.flatMap { case (f, src) =>
      "sqrt\\(.*\\) \\* sqrt\\(".r.findAllIn(src).map(_ => f)
    }
    assert(ratios == Seq.fill(2)("graft/queries/NorthStarQueries.scala"), ratios.mkString(", "))
    assert(mainCount("def scaledDot(") == 0)
    assert(mainCount("cosE6") == 0)
    // the bucketed-embedding frame, bucketed and bucketedSqlCte; the other
    // bucket expression per engine is the ns_sim_lsh_buckets histogram
    assert(mainCount("expr(\"lsh_bucket(embedding)\")") == 2)
    assert(mainCount("lshBucketSql AS bucket") + mainCount("lshBucketSql} AS bucket") == 2)
    // the bucket-equi top-3 edge build, knnEdges and knnSqlCte
    assert(mainCount(
      "col(\"bucket\") === col(\"bucket_b\") && col(\"a_id\") =!= col(\"b_id\")") == 1)
    assert(mainCount("a.bucket = b.bucket AND a.vec_id <> b.vec_id") == 1)
  }

  test("source guard: one IVF coarse assignment per engine") {
    // ivfRanked (Spark) and ivfRankedSqlCtes (DuckDB)
    assert(mainCount("col(\"cen_cos\").desc") == 1)
    assert(mainCount("ORDER BY cen_cos DESC, cen_id") == 1)
  }

  test("source guard: one GIF sub-block walk, one JPEG EXTEND, one WARC member writer") {
    val mm = SourceText.main("graft/operators/Multimodal.scala")
    assert("n = b\\(pos\\) & 0xff\\s+pos \\+= 1 \\+ n".r.findAllIn(mm).size == 1)
    assert(mainCount("bits - (1L << cat) + 1") == 1)
    assert(mainCount("WARC-Record-ID: <urn:uuid:") == 1)
    assert(mainCount("cb.write(body, o, n)") == 1)
  }

  test("source guard: one PNG chunk writer and one JPEG bit writer") {
    val mm = SourceText.main("graft/operators/Multimodal.scala")
    assert("def chunk\\(".r.findAllIn(mm).size == 1)
    assert("def putBits\\(".r.findAllIn(mm).size == 1)
    assert(SourceText.mainFilesWith("def putBits(") == Set("graft/operators/Multimodal.scala"))
  }
}
