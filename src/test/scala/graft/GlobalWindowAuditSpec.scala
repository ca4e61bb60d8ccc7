package graft

import scala.collection.mutable

import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** r22 audit (VERDICT r21 item 5): a `Window.orderBy(...)` with no
  * partition spec moves ALL its input to a single partition — safe only
  * when the input frame is bounded by construction (a top-k pre-limit,
  * block/group summaries, a vocabulary-sized rank cut). This spec
  * enforces that at RUNTIME for every query that declares a global
  * window: it executes the query at sf0.001, captures every executed
  * plan of the run (including eager `localCheckpoint` construct jobs,
  * which fire the QueryExecutionListener), finds each no-partition
  * [[WindowExec]], and asserts the row count entering it stays under a
  * hard bound.
  *
  * Row counts come from the nearest row-bearing descendant: an explicit
  * limit's k, or the first `numOutputRows` / shuffle-records-written
  * metric below the window (windows and sorts are cardinality-
  * preserving, so the first such descendant's output IS the window's
  * input).
  *
  * The source-count guard fails when a new `Window.orderBy` site
  * appears anywhere in the code of the query files (comments do not
  * count), forcing this audit's query list
  * (and its bound) to be maintained alongside the code.
  */
class GlobalWindowAuditSpec extends SparkSpec {

  /** Queries whose plans contain at least one global window — the
    * enclosing query of every `Window.orderBy` site in the two query
    * files (mapping recorded in OPTIMIZATION_r22.md).
    */
  private val auditedQueries = Seq(
    "ns_text_pack", "ns_corpus_ngram_coverage", "ns_text_bpe_merges",
    "ns_corpus_shuffle", "ns_corpus_shard_manifest", "ns_embed_pca_project",
    "ns_corpus_vocab_growth", "ns_sample_allocation", "ns_corpus_curriculum",
    "ns_quality_isotonic", "ns_sample_gumbel_topk", "ns_sample_reservoir",
    "ns_profile_zipf", "ns_corpus_interleave", "ns_quality_bradley_terry",
    "ns_profile_burstiness", "ns_corpus_anneal_mix", "ns_embed_hits",
    "ns_text_rank_cd", "ns_text_rank_weighted", "ns_text_headline",
    "ns_dedup_exact_substr_bpe", "ns_dedup_exact_substr_bpe50",
    "ns_text_unk_rate", "ns_profile_heaps_fit")

  /** Max rows a single-partition window may see at sf0.001 (500 docs).
    * Bounded frames here are top-k cuts (k <= 300), block/decile/phase
    * summaries (<= ~128), and vocabulary-rank cuts; a corpus-shaped
    * leak (all docs, grams, or tokens) lands in the thousands.
    */
  private val RowBound = 1200L

  test("source guard: global-window site count is maintained with the audit") {
    val src = Seq("graft/queries/NorthStarQueries.scala", "graft/queries/CurationQueries.scala")
      .map(SourceText.main).mkString
    val n = "Window\\.orderBy".r.findAllIn(src).size
    assert(n == 25,
      s"found $n Window.orderBy sites (expected 25) — a global-window " +
        "site was added or removed: update GlobalWindowAuditSpec's " +
        "auditedQueries list and re-verify the new site's input is bounded")
  }

  // -- plan walking -------------------------------------------------------

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
    case q: QueryStageExec => p +: allNodes(q.plan)
    case r: ReusedExchangeExec => p +: allNodes(r.child)
    case _ => p +: p.children.flatMap(allNodes)
  }

  /** Rows entering `p`'s output — an explicit limit's k, or the first
    * row metric at/below `p` (never recursing past a limit, whose k
    * already bounds everything above it).
    */
  private def outRows(p: SparkPlan): Option[Long] = p match {
    case t: TakeOrderedAndProjectExec => Some(t.limit.toLong)
    case g: GlobalLimitExec => Some(g.limit.toLong)
    case l: LocalLimitExec => Some(l.limit.toLong)
    case q: QueryStageExec => outRows(q.plan)
    case r: ReusedExchangeExec => outRows(r.child)
    case n if n.metrics.contains("numOutputRows") =>
      Some(n.metrics("numOutputRows").value)
    case e: ShuffleExchangeExec =>
      e.metrics.get("shuffleRecordsWritten").map(_.value)
    case n if n.children.size == 1 => outRows(n.children.head)
    case _ => None
  }

  test("every no-partition window runs over a bounded frame at runtime") {
    val captured = mutable.ArrayBuffer[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        captured.synchronized { captured += qe.executedPlan }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val report = mutable.ArrayBuffer[String]()
      var globalWindowsSeen = 0
      for (name <- auditedQueries) {
        captured.synchronized(captured.clear())
        val df = SparkEntry.queryFn(name)
          .getOrElse(sys.error(s"unknown query $name"))(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        org.apache.spark.graftbench.ListenerFlush.drain(spark.sparkContext)
        val plans = captured.synchronized(captured.toVector) :+
          df.queryExecution.executedPlan
        val windows = plans.flatMap(allNodes).collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        globalWindowsSeen += windows.size
        for (w <- windows) {
          val rows = outRows(w.child)
          assert(rows.isDefined,
            s"$name: cannot determine input rows of global window " +
              s"${w.simpleStringWithNodeId()} — extend outRows()")
          assert(rows.get <= RowBound,
            s"$name: global window saw ${rows.get} rows (> $RowBound) — " +
              s"unbounded single-partition frame:\n$w")
          report += f"$name%-28s ${rows.get}%6d rows"
        }
      }
      info(s"audited ${auditedQueries.size} queries, " +
        s"$globalWindowsSeen global windows, all <= $RowBound rows")
      report.foreach(info(_))
      // the audit is vacuous if execution surfaces no global windows at
      // all (e.g. every site got checkpoint-hidden): require coverage
      assert(globalWindowsSeen >= 15,
        s"only $globalWindowsSeen global windows observed at runtime — " +
          "the audit lost coverage; check checkpoint-hidden plans")
    } finally spark.listenerManager.unregister(listener)
  }
}
