package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.Engine
import graft.plans.GraftExtensions
import graft.queries.{Q, RelationalQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query inventory lives in `graft.queries.*` as [[graft.queries.Q]]
  * entries (Spark query + optional DuckDB oracle); this object flattens
  * them into the driver's shape. Every query is DISPATCHED THROUGH the
  * [[graft.engine.Engine]] frame (register -> submit), so the §2A
  * mechanisms of the reference (`/root/reference/src/processor.ts:36-89`)
  * are exercised by the driver gates, not just by unit tests.
  */
object SparkEntry {

  /** Full declared inventory (SURVEY.md §2B/§2C, one entry per operator). */
  def catalog: Map[String, Q] =
    RelationalQueries.all ++
    graft.queries.TimeSeriesQueries.all ++
    graft.queries.ScalarQueries.all ++
    graft.queries.SourcesQueries.all ++
    graft.queries.UdfQueries.all ++
    graft.queries.NorthStarQueries.all ++
    graft.queries.CurationQueries.all

  /** One Engine per SparkSession, with every catalog query registered as
    * a handler taking the fixture dir as its single argument; the one
    * [[graft.engine.Engine.persistent]] returns too. The native
    * functions are added here too, so a session built without
    * [[graft.plans.GraftExtensions]] (e.g. one the calling application
    * built) still runs every query.
    */
  private val engines = scala.collection.concurrent.TrieMap.empty[SparkSession, Engine]
  def engineFor(spark: SparkSession): Engine =
    engines.getOrElseUpdate(spark, {
      GraftExtensions.registerIn(spark)
      val e = new Engine(spark)
      catalog.foreach { case (name, q) =>
        e.register(name)((s, _, args) => q.fn(s, args.head.toString))
      }
      e
    })

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    engineFor(spark).submit("agg_pricing_summary", Seq("/root/testdata/sf0.001")).get

  /** One entry per implemented operator from SURVEY.md §2 — dispatched
    * through Engine.submit (registry lookup, error semantics, job frame).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.keys.map { name =>
      name -> ((s: SparkSession, dir: String) =>
        engineFor(s).submit(name, Seq(dir)).get)
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (approx sketches, LSH internals) -> driver records rows-only check.
    */
  def oracleSql: Map[String, String] =
    catalog.collect { case (name, Q(_, Some(sql), _)) => name -> sql }

  /** Headline subset for the benchmark harness. */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.collect { case (name, q) if q.bench => name -> q.fn }

  /** North-star bench group — the LLM-pipeline perf channel. Timed by
    * `graft.Bench` under the identical warm-up/min-of-3 protocol but
    * summed into a SEPARATE `ns_total` score field, so the headline
    * `value` stays comparable with the r3-frozen relational baseline
    * while the dedup/retrieval/curation half of the engine gets its own
    * frozen numbers (BASELINE.md north-star section, measured r10).
    */
  val benchNorthStar: Seq[String] = Seq(
    "ns_text_bm25", "ns_sim_pq_adc", "ns_dedup_incremental",
    "ns_pipeline_manifest", "ns_embed_pagerank",
    // r11: the BLOCKED production ANN shape (IVF cells + PQ codes, the
    // nprobe/C scored fraction) joins the gate so the 2x bound guards
    // the scale path, not just the brute-force audit baseline
    // (ns_sim_cosine_topk stays in the headline set as the exactness
    // anchor)
    "ns_sim_ivfpq")

  def benchNsQueries: Map[String, (SparkSession, String) => DataFrame] =
    benchNorthStar.map(n => n -> catalog(n).fn).toMap

  /** Direct (un-dispatched) fn of any catalog query — the hook
    * `graft.Bench` uses to time ad-hoc extras (scale-tier anchors)
    * under the standard protocol without touching the frozen score
    * groups.
    */
  def queryFn(name: String): Option[(SparkSession, String) => DataFrame] =
    catalog.get(name).map(_.fn)
}
