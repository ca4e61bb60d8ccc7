package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Q.T

/** SURVEY.md §2B scans/sources/sinks beyond plain Parquet reads: CSV and
  * JSON round-trips, partitioned Parquet writes (with codec), and
  * partition-local sort. Each writer materializes a derived copy in its
  * own per-call scratch tree ([[Q.scratch]] — fixtures stay read-only;
  * the tree is gone when the call returns), reads it back, and
  * aggregates; the oracle computes the same aggregate from the original
  * table, so any round-trip corruption fails the diff.
  *
  * Values routed through text formats are cast to decimal/long/string
  * first — exact text round-trips, no float-rendering ambiguity.
  */
object SourcesQueries {

  /** CSV sink + scan (header, explicit read schema — no inference cost). */
  private val csvRoundtrip = Q.scratch("csv")(
    (s, dir, base) => {
      val path = s"$base/csv_orders"
      T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
                col("o_totalprice").cast("decimal(18,2)").as("price"))
        .write.mode("overwrite").option("header", "true").csv(path)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("price", DecimalType(18, 2))))
      s.read.schema(schema).option("header", "true").csv(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("total"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""SELECT o_orderstatus, count(*) AS n,
           |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total
           |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  /** ORC sink + scan (zstd): the second columnar format the engine
    * speaks natively (Spark's ORC reader is vectorized like parquet's,
    * with the same predicate pushdown). DuckDB cannot read ORC, so the
    * oracle recomputes the aggregate from the parquet original — the
    * round-trip preserving it is exactly what is under test. Exact
    * types only (long/decimal/string) cross the format boundary.
    */
  private val orcRoundtrip = Q.scratch("orc")(
    (s, dir, base) => {
      val path = s"$base/orc_customer"
      T(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
                col("c_acctbal").cast("decimal(18,2)").as("bal"))
        .write.mode("overwrite").option("compression", "zstd").orc(path)
      s.read.orc(path)
        .where(col("bal") > 0)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("bal")).cast("double").as("total_bal"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment, count(*) AS n,
           |  cast(sum(cast(c_acctbal as decimal(18,2))) as double) AS total_bal
           |FROM customer WHERE cast(c_acctbal as decimal(18,2)) > 0
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** Z-order data layout: interleave the bits of two filter columns into
    * one sort key so range-clustering the files bounds BOTH dimensions
    * at once — the multi-dimensional scan-pruning layout (Delta/Iceberg
    * OPTIMIZE ZORDER) expressed with plain Spark: exact integer bit
    * interleave (pure codegen'd arithmetic, no HOFs) + range bucketing.
    * The output proves the pruning property the layout exists for: each
    * z-bucket's min/max envelope on BOTH key columns is narrow, so a
    * predicate on either column can skip most buckets on file-level
    * stats alone. All integer math — bit-identical in DuckDB.
    */
  private val zorderLayout = Q(
    (s, dir) => {
      val terms = (0 until 12).flatMap { b =>
        Seq(s"(((xk >> $b) & 1) << ${2 * b})", s"(((yk >> $b) & 1) << ${2 * b + 1})")
      }
      T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"),
          (col("l_orderkey") % 4096).as("xk"), (col("l_partkey") % 4096).as("yk"))
        .withColumn("z", expr(terms.mkString(" + ")))
        .withColumn("z_bucket", expr("z >> 20"))
        .groupBy(col("z_bucket"))
        .agg(count(lit(1)).as("n"),
             min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"),
             min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"))
        .orderBy(col("z_bucket"))
    },
    Some {
      val terms = (0 until 12).flatMap { b =>
        Seq(s"(((xk >> $b) & 1) << ${2 * b})", s"(((yk >> $b) & 1) << ${2 * b + 1})")
      }
      s"""WITH k AS (
         |  SELECT l_orderkey, l_partkey,
         |    l_orderkey % 4096 AS xk, l_partkey % 4096 AS yk
         |  FROM lineitem
         |), z AS (
         |  SELECT l_orderkey, l_partkey, (${terms.mkString(" + ")}) AS z FROM k
         |)
         |SELECT z >> 20 AS z_bucket, count(*) AS n,
         |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
         |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk
         |FROM z GROUP BY z_bucket ORDER BY z_bucket""".stripMargin
    })

  /** JSON-lines sink + scan with explicit schema. */
  private val jsonRoundtrip = Q.scratch("json")(
    (s, dir, base) => {
      val path = s"$base/json_lineitem"
      T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
                col("l_quantity").cast("decimal(18,4)").as("qty"),
                col("l_returnflag"))
        .write.mode("overwrite").json(path)
      val schema = StructType(Seq(
        StructField("l_orderkey", LongType),
        StructField("l_linenumber", IntegerType),
        StructField("qty", DecimalType(18, 4)),
        StructField("l_returnflag", StringType)))
      s.read.schema(schema).json(path)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag, count(*) AS n,
           |  cast(sum(cast(l_quantity as decimal(18,4))) as double) AS sum_qty
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Partitioned Parquet write (by event date, zstd codec — the A6
    * compression analog) + partition-pruned read-back. At scale this is
    * the layout that enables dynamic partition pruning on date.
    */
  private val partitionedWrite = Q.scratch("partitioned")(
    (s, dir, base) => {
      val path = s"$base/events_by_day"
      T(s, dir, "events")
        .withColumn("d", to_date(col("ts")))
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("d").parquet(path)
      s.read.parquet(path)
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n"),
             sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        .orderBy(col("d"))
    },
    Some("""SELECT cast(ts as date) AS d, count(*) AS n,
           |  cast(sum(cast(value as decimal(18,4))) as double) AS sum_value
           |FROM events GROUP BY 1 ORDER BY d""".stripMargin))

  /** Partition-local sort: range-repartition on the key then sort within
    * partitions — concatenated partitions form a total order without a
    * global sort stage (the write-sorted-runs idiom for large outputs).
    */
  private val sortWithinPartitions = Q(
    (s, dir) =>
      T(s, dir, "lineitem")
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"),
                col("l_quantity").cast("decimal(18,4)").cast("double").as("qty"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("qty")),
    Some("""SELECT l_orderkey, l_linenumber,
           |  cast(cast(l_quantity as decimal(18,4)) as double) AS qty
           |FROM lineitem ORDER BY l_orderkey, l_linenumber, qty""".stripMargin))

  /** Table registry / catalog surface: the fixtures queried by name
    * through spark.sql ([[Q.sql]] binds them for the one call) — the
    * analog of the reference handing handlers a connection to a
    * named-table database.
    */
  private val tableRegistry = Q(
    (s, dir) => {
      Q.sql(s, dir)("""SELECT o.o_orderstatus, count(*) AS n,
              |  cast(sum(cast(l.l_quantity as decimal(18,4))) as double) AS sum_qty
              |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
              |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin)
    },
    Some("""SELECT o.o_orderstatus, count(*) AS n,
           |  cast(sum(cast(l.l_quantity as decimal(18,4))) as double) AS sum_qty
           |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin))

  /** Bucketed co-located join: both fact tables written `bucketBy` the
    * join key (8 buckets, sorted) into the session catalog, then joined
    * bucket-to-bucket. With matching bucketing on both sides Catalyst
    * drops the join-side Exchanges entirely — the layout that turns the
    * biggest recurring shuffle at 100 TB into a local merge (plan
    * property asserted in BucketedJoinSpec; here the oracle checks
    * semantics against the unbucketed join).
    */
  private val bucketedJoin = Q.scratch("bucketed")(
    (s, dir, base) => {
      // catalog names of this call only, dropped once the join is
      // materialized: concurrent calls never share a table, and none
      // outlives the request
      val tag = new java.io.File(base).getName.replaceAll("\\W", "_")
      val (orders, lineitem) = (s"${tag}_orders", s"${tag}_lineitem")
      try {
        T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"))
          .write.format("parquet")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$base/$orders")
          .saveAsTable(orders)
        T(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"))
          .write.format("parquet")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$base/$lineitem")
          .saveAsTable(lineitem)
        s.table(orders)
          .join(s.table(lineitem), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
               sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
          .orderBy(col("o_orderstatus"))
          .localCheckpoint(true)
      } finally Seq(orders, lineitem).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    },
    Some("""SELECT o_orderstatus, count(*) AS n,
           |  cast(sum(cast(l_quantity as decimal(18,4))) as double) AS sum_qty
           |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  /** Plain-text sink + scan (`spark.read.text` — one string column per
    * line): the format raw-corpus drops arrive in before any schema
    * exists. Lines are written as a pipe-delimited record (exact
    * long/string fields only), read back as `value`, and parsed with
    * split — the classic ingest-then-structure pass. The oracle
    * recomputes the aggregate from the parquet original, so a lost or
    * mangled line fails the diff.
    */
  private val textRoundtrip = Q.scratch("text")(
    (s, dir, base) => {
      val path = s"$base/text_documents"
      // concat_ws SKIPS null fields (shifting later fields left), so each
      // field is coalesced to an explicit \N sentinel before joining —
      // field positions stay stable for nullable columns, and the parse
      // side maps the sentinel back to null (nullif; casts of \N null out
      // on their own but the string column needs it explicitly).
      val nul = "\\N"
      T(s, dir, "documents")
        .select(concat_ws("|",
          coalesce(col("doc_id").cast("string"), lit(nul)),
          coalesce(col("lang"), lit(nul)),
          coalesce(col("n_chars").cast("string"), lit(nul))).as("value"))
        .write.mode("overwrite").text(path)
      s.read.text(path)
        .select(split(col("value"), "\\|").as("f"))
        .select(nullif(col("f").getItem(0), lit(nul)).cast("long").as("doc_id"),
                nullif(col("f").getItem(1), lit(nul)).as("lang"),
                nullif(col("f").getItem(2), lit(nul)).cast("long").as("n_chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
             min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("lang"))
    },
    Some("""SELECT lang, count(*) AS n, cast(sum(n_chars) as bigint) AS sum_chars,
           |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  /** `binaryFile` source: whole files as (path, length, content) rows —
    * the ingest path for raw multimodal assets (images/audio) before the
    * decode UDFs in [[graft.operators.Multimodal]] take over. The 25
    * nation names are materialized as individual .bin files (driver-side
    * — a bounded 25-row pull, standing in for an object-store listing),
    * scanned back via binaryFile, and fingerprinted: byte length and
    * sha256 of the content must match what the oracle computes from the
    * original STRING column, proving bytes survive the file boundary
    * untouched.
    */
  private val binaryfileScan = Q.scratch("binaryfile")(
    (s, dir, base) => {
      val path = new java.io.File(s"$base/bin_nation")
      path.mkdirs()
      T(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
        .collect() // 25 rows: bounded fixture dim, not a corpus pull
        .foreach { r =>
          java.nio.file.Files.write(
            path.toPath.resolve(f"n_${r.getInt(0)}%02d.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
        .load(path.getAbsolutePath)
        .select(regexp_extract(col("path"), "n_(\\d+)\\.bin", 1).cast("long").as("nationkey"),
                col("length"), sha2(col("content"), 256).as("sha"))
        .orderBy(col("nationkey"))
    },
    Some("""SELECT cast(n_nationkey as bigint) AS nationkey,
           |  cast(length(n_name) as bigint) AS length,
           |  sha256(n_name) AS sha
           |FROM nation ORDER BY nationkey""".stripMargin))

  /** Parquet AGGREGATE pushdown — the stats-only scan: count/min/max
    * answered from row-group metadata in the parquet footers, zero data
    * pages decoded. At 100 TB this is the difference between a
    * sub-second manifest read and a full corpus scan for the "how many
    * rows / what id range" operational queries every pipeline run
    * issues. Requires the DSv2 parquet path, so the two confs are set
    * scoped around the one eager execution and restored (the catalog and
    * every other query keep their planned V1 path); the plan actually
    * containing `PushedAggregation` is asserted in PlanFeaturesSpec —
    * this query gates the VALUES against DuckDB.
    *
    * Bounded to types whose parquet min/max stats are exact and
    * engine-portable (int64/int32); count(*) needs no stats at all
    * (row-group row counts).
    */
  private val aggPushdown = Q(
    (s, dir) => {
      val (keyList, keyAgg) =
        ("spark.sql.sources.useV1SourceList", "spark.sql.parquet.aggregatePushdown")
      val prevList = s.conf.get(keyList, "")
      val prevAgg = s.conf.get(keyAgg, "false")
      s.conf.set(keyList, "")
      s.conf.set(keyAgg, "true")
      try {
        s.read.parquet(s"$dir/lineitem.parquet")
          .agg(count(lit(1)).as("n_rows"),
            min(col("l_orderkey")).as("min_okey"),
            max(col("l_orderkey")).as("max_okey"),
            min(col("l_linenumber")).cast("long").as("min_line"),
            max(col("l_linenumber")).cast("long").as("max_line"))
          .localCheckpoint(true) // eager: executes while the v2 confs hold
      } finally {
        s.conf.set(keyList, prevList)
        s.conf.set(keyAgg, prevAgg)
      }
    },
    Some("""SELECT count(*) AS n_rows,
           |  min(l_orderkey) AS min_okey, max(l_orderkey) AS max_okey,
           |  cast(min(l_linenumber) as bigint) AS min_line,
           |  cast(max(l_linenumber) as bigint) AS max_line
           |FROM lineitem""".stripMargin))

  /** XML sink + scan — the fourth text-format round-trip (CSV / JSON /
    * text / XML), using Spark 4's built-in XML data source (rowTag
    * framing both ways). DuckDB cannot read XML, so the oracle
    * recomputes the aggregate from the parquet original — the
    * round-trip preserving it is exactly what is under test. Exact
    * types only (int/long/string) cross the format boundary.
    */
  private val xmlRoundtrip = Q.scratch("xml")(
    (s, dir, base) => {
      val path = s"$base/xml_nation"
      T(s, dir, "nation")
        .write.mode("overwrite")
        .format("xml").option("rootTag", "nations").option("rowTag", "nation")
        .save(path)
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      s.read.schema(schema)
        .format("xml").option("rowTag", "nation").load(path)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_nationkey").cast("long")).as("key_sum"),
          min(col("n_name")).as("first_name"))
        .orderBy(col("n_regionkey"))
    },
    Some("""SELECT n_regionkey, count(*) AS n,
           |  cast(sum(n_nationkey) as bigint) AS key_sum,
           |  min(n_name) AS first_name
           |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin))

  val all: Map[String, Q] = Map(
    "src_xml_roundtrip" -> xmlRoundtrip,
    "src_agg_pushdown" -> aggPushdown,
    "src_bucketed_join" -> bucketedJoin,
    "src_text_roundtrip" -> textRoundtrip,
    "src_binaryfile_scan" -> binaryfileScan,
    "src_table_registry" -> tableRegistry,
    "src_csv_roundtrip" -> csvRoundtrip,
    "src_orc_roundtrip" -> orcRoundtrip,
    "src_zorder_layout" -> zorderLayout,
    "src_json_roundtrip" -> jsonRoundtrip,
    "src_partitioned_write" -> partitionedWrite,
    "src_sort_within_partitions" -> sortWithinPartitions
  )
}
