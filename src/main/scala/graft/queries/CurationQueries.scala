package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.GramHash
import graft.streaming.Replay

import NorthStarQueries.{bucketed, bucketedSqlCte, cosine, cosineSql, ivfRanked,
  ivfRankedSqlCtes, knnEdges, knnSqlCte, scaledDotSql}
import Q.{T, TS}

/** SURVEY.md §2C, round-10 additions — corpus-curation operators a
  * training-data pipeline runs between crawl and tokenizer: per-document
  * entropy quality signals, deterministic train/val/test splits,
  * snapshot-to-snapshot delta accounting, and BPE merge-pair induction.
  * Same oracle-parity rules as [[NorthStarQueries]] (total order, exact
  * integer sums for order-sensitive reductions, one terminal rounding of
  * any transcendental-derived float).
  *
  * Reference analog: the reference delegates all document processing to
  * its SQL handle (`/root/reference/src/processor.ts:26`); these extend
  * that surface the same way the rest of §2C does.
  */
object CurationQueries {

  // ---------------------------------------------------------------------
  // Character-entropy quality signals
  // ---------------------------------------------------------------------

  /** ln(2) as one shared double literal so the bits conversion divides by
    * the identical constant in both engines.
    */
  private val LN2 = "0.6931471805599453"

  /** Per-document character-level Shannon entropy + concentration
    * signals (the Gopher/C4-family quality filters that catch binary
    * junk, repeated-character padding, and single-script spam that
    * word-level stats miss): distinct-character count, top-character
    * fraction, and entropy in bits.
    *
    * Determinism: the per-character terms `floor(c * ln(c) * 1e6)` are
    * exact bigints summed order-independently; `ln` appears once per
    * term and once for the doc total, and the final expression rounds to
    * 6 dp — the same single-terminal-rounding mitigation as
    * [[NorthStarQueries.textTfidf]]'s idf.
    *
    * Scale: one (doc, char)-keyed aggregate with map-side partials
    * (alphabet-bounded per doc), then a doc-keyed rollup — both shuffles
    * carry counts, never text. No windows, no driver state.
    */
  private val textEntropy = Q(
    (s, dir) => {
      val cc = TS(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .groupBy(col("doc_id"), col("ch"))
        .agg(count(lit(1)).as("c"))
      cc.groupBy(col("doc_id"))
        .agg(
          sum(col("c")).as("n"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("cmax"),
          sum(floor(col("c").cast("double") * log(col("c").cast("double")) * lit(1e6))
            .cast("long")).as("s_clnc"))
        .select(
          col("doc_id"),
          col("n").cast("long").as("n_chars_tok"),
          col("n_distinct"),
          round(col("cmax").cast("double") / col("n"), 6).as("top_char_frac"),
          round((log(col("n").cast("double")) -
            col("s_clnc").cast("double") / lit(1e6) / col("n")) / expr(LN2), 6)
            .as("entropy_bits"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ch AS (
            |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
            |), cc AS (
            |  SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch
            |), ag AS (
            |  SELECT doc_id, cast(sum(c) as bigint) AS n, count(*) AS n_distinct,
            |    max(c) AS cmax,
            |    cast(sum(cast(floor(c * ln(c) * 1e6) as bigint)) as bigint) AS s_clnc
            |  FROM cc GROUP BY doc_id
            |)
            |SELECT doc_id, n AS n_chars_tok, n_distinct,
            |  round(cast(cmax as double) / n, 6) AS top_char_frac,
            |  round((ln(n) - cast(s_clnc as double) / 1e6 / n) / $LN2, 6)
            |    AS entropy_bits
            |FROM ag ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------------------------------
  // Deterministic train/val/test split
  // ---------------------------------------------------------------------

  /** Deterministic 90/5/5 train/val/test assignment by salted content-id
    * hash — the split every training run needs to be reproducible across
    * re-ingests (membership is a pure function of doc_id, so a re-crawled
    * corpus lands each doc in the same split). Reports per-(split, lang)
    * volumes; the id ranges double as a disjointness spot-check.
    *
    * Scale: the hash coin is map-only (same md5 idiom as
    * [[NorthStarQueries.sampleHash]]); the only shuffle is the tiny
    * (split, lang) rollup.
    */
  /** SPLIT DISTRIBUTION PARITY — the companion audit to
    * [[corpusSplitLeakage]] on the DISTRIBUTION axis: Jensen-Shannon
    * divergence between the unigram token distributions of each split
    * pair (train/val, train/test, val/test) from the SAME deterministic
    * hash split as `ns_corpus_split`. Leakage-free splits can still be
    * skewed (a val set whose vocabulary mix drifts from train measures
    * the wrong thing); near-zero JS across pairs is the parity
    * certificate, and a drifted pair names itself.
    *
    * Determinism: the declared estimator is integer-folded exactly like
    * the entropy family — per-term Σ floor(c·ln c·1e3) for each split
    * and Σ floor(u·ln u) for the common-denominator mixture counts
    * u = c_a·N_b + c_b·N_a (so the mixture needs no rational
    * arithmetic: m_t = u_t / (2·N_a·N_b)); the final
    * JS = H(m) − (H(a)+H(b))/2 is ONE identically-written float
    * expression over those exact bigints, rounded once to e6. Both
    * engines fold the same integers, so the gate matches bitwise.
    *
    * Scale: one token pass into a (split, term)-keyed count
    * (partial-aggregable, vocabulary-bounded output); the pair frames
    * are term-keyed full-outer joins of two vocabulary-sized sides;
    * totals are 3 rows. Replication multiplies counts, not vocabulary.
    */
  private val corpusSplitJs = Q(
    (s, dir) => {
      val cnt = T(s, dir, "documents")
        .withColumn("h", expr(
          "cast(conv(substring(md5(concat('sp:', cast(doc_id as string))), 1, 8), 16, 10) as bigint) % 100"))
        .withColumn("split",
          when(col("h") < 90, "train").when(col("h") < 95, "val")
            .otherwise("test"))
        .select(col("split"), explode(split(col("text"), " ")).as("tok"))
        .where(length(col("tok")) > 0)
        .groupBy(col("split"), col("tok")).agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // consumers: 3 totals + 3 pair joins
      val tot = cnt.groupBy(col("split"))
        .agg(sum(col("c")).as("n"),
          sum(expr("cast(floor(cast(c as double) * ln(cast(c as double)) " +
            "* 1000.0) as bigint)")).as("sh"))
      val pairs = Seq(("train", "val"), ("train", "test"), ("val", "test"))
        .map { case (a, b) =>
          val ca = cnt.where(col("split") === a)
            .select(col("tok"), col("c").as("ca"))
          val cb = cnt.where(col("split") === b)
            .select(col("tok"), col("c").as("cb"))
          val ta = tot.where(col("split") === a)
            .select(col("n").as("na"), col("sh").as("sha"))
          val tb = tot.where(col("split") === b)
            .select(col("n").as("nb"), col("sh").as("shb"))
          ca.join(cb, Seq("tok"), "full_outer")
            .na.fill(0L, Seq("ca", "cb"))
            .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
            .withColumn("u", col("ca") * col("nb") + col("cb") * col("na"))
            .agg(
              first(col("na")).as("na"), first(col("nb")).as("nb"),
              first(col("sha")).as("sha"), first(col("shb")).as("shb"),
              count(lit(1)).as("n_terms"),
              sum(expr("cast(floor(cast(u as double) * ln(cast(u as double))) as bigint)"))
                .as("su"))
            .select(lit(a).as("split_a"), lit(b).as("split_b"),
              col("na"), col("nb"), col("n_terms"),
              expr("cast(floor(((ln(2.0 * na * nb) " +
                "- cast(su as double) / (2.0 * na * nb)) " +
                "- 0.5 * (ln(cast(na as double)) - cast(sha as double) / 1000.0 / na) " +
                "- 0.5 * (ln(cast(nb as double)) - cast(shb as double) / 1000.0 / nb)) " +
                "* 1000000.0) as bigint)").as("js_e6"))
            // empty-split degenerate: the global agg over zero rows would
            // emit one all-null row while the oracle's join emits none —
            // drop the pair in both engines (null na/nb fails > 0)
            .where(col("na") > 0 && col("nb") > 0)
        }
      pairs.reduce(_ unionAll _).orderBy(col("split_a"), col("split_b"))
    },
    Some("""WITH h AS (
           |  SELECT doc_id, text,
           |    cast('0x' || substr(md5('sp:' || cast(doc_id as varchar)), 1, 8)
           |      as bigint) % 100 AS h
           |  FROM documents
           |), tk AS (
           |  SELECT CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val'
           |    ELSE 'test' END AS split,
           |    unnest(string_split(text, ' ')) AS tok
           |  FROM h
           |), cnt AS (
           |  SELECT split, tok, cast(count(*) as bigint) AS c
           |  FROM tk WHERE len(tok) > 0 GROUP BY split, tok
           |), tot AS (
           |  SELECT split, cast(sum(c) as bigint) AS n,
           |    cast(sum(cast(floor(cast(c as double) * ln(cast(c as double))
           |      * 1000.0) as bigint)) as bigint) AS sh
           |  FROM cnt GROUP BY split
           |), pr AS (
           |  SELECT 'train' AS a, 'val' AS b
           |  UNION ALL SELECT 'train', 'test'
           |  UNION ALL SELECT 'val', 'test'
           |), tp AS (
           |  SELECT pr.a, pr.b, c.tok
           |  FROM pr JOIN cnt c ON c.split = pr.a OR c.split = pr.b
           |  GROUP BY pr.a, pr.b, c.tok
           |), u AS (
           |  SELECT tp.a, tp.b,
           |    coalesce(ca.c, 0) * tb.n + coalesce(cb.c, 0) * ta.n AS u
           |  FROM tp
           |  LEFT JOIN cnt ca ON ca.split = tp.a AND ca.tok = tp.tok
           |  LEFT JOIN cnt cb ON cb.split = tp.b AND cb.tok = tp.tok
           |  JOIN tot ta ON ta.split = tp.a
           |  JOIN tot tb ON tb.split = tp.b
           |), agg AS (
           |  SELECT a, b, cast(count(*) as bigint) AS n_terms,
           |    cast(sum(cast(floor(cast(u as double) * ln(cast(u as double)))
           |      as bigint)) as bigint) AS su
           |  FROM u GROUP BY a, b
           |)
           |SELECT agg.a AS split_a, agg.b AS split_b,
           |  ta.n AS na, tb.n AS nb, agg.n_terms,
           |  cast(floor(((ln(2.0 * ta.n * tb.n)
           |    - cast(agg.su as double) / (2.0 * ta.n * tb.n))
           |    - 0.5 * (ln(cast(ta.n as double))
           |      - cast(ta.sh as double) / 1000.0 / ta.n)
           |    - 0.5 * (ln(cast(tb.n as double))
           |      - cast(tb.sh as double) / 1000.0 / tb.n))
           |    * 1000000.0) as bigint) AS js_e6
           |FROM agg JOIN tot ta ON ta.split = agg.a
           |JOIN tot tb ON tb.split = agg.b
           |WHERE ta.n > 0 AND tb.n > 0
           |ORDER BY split_a, split_b""".stripMargin))

  private val corpusSplit = Q(
    (s, dir) =>
      T(s, dir, "documents")
        .withColumn("h", expr(
          "cast(conv(substring(md5(concat('sp:', cast(doc_id as string))), 1, 8), 16, 10) as bigint) % 100"))
        .withColumn("split",
          when(col("h") < 90, "train").when(col("h") < 95, "val").otherwise("test"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("sum_chars"),
             min(col("doc_id")).as("min_id"),
             max(col("doc_id")).as("max_id"))
        .orderBy(col("split"), col("lang")),
    Some("""WITH h AS (
           |  SELECT *, cast('0x' || substr(md5('sp:' || cast(doc_id as varchar)), 1, 8) as bigint) % 100 AS h
           |  FROM documents
           |)
           |SELECT CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split,
           |  lang, count(*) AS n_docs, cast(sum(n_chars) as bigint) AS sum_chars,
           |  min(doc_id) AS min_id, max(doc_id) AS max_id
           |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  // ---------------------------------------------------------------------
  // Leakage-safe (cluster-aware) split
  // ---------------------------------------------------------------------

  /** The 90/5/5 md5 coin from [[corpusSplit]], applied to an arbitrary
    * key column so the same assignment function can hash either the doc
    * id (naive) or the near-dup cluster representative (leakage-safe).
    */
  private def splitCoin(key: String): org.apache.spark.sql.Column = {
    val h = s"cast(conv(substring(md5(concat('sp:', cast($key as string))), 1, 8), 16, 10) as bigint) % 100"
    expr(s"CASE WHEN $h < 90 THEN 'train' WHEN $h < 95 THEN 'val' ELSE 'test' END")
  }
  private def splitCoinSql(key: String): String = {
    val h = s"cast('0x' || substr(md5('sp:' || cast($key as varchar)), 1, 8) as bigint) % 100"
    s"CASE WHEN $h < 90 THEN 'train' WHEN $h < 95 THEN 'val' ELSE 'test' END"
  }

  /** Leakage-safe train/val/test split: the hash coin is applied to the
    * NEAR-DUP CLUSTER representative (the connected-components label from
    * [[NorthStarQueries.clusterLabels]]) instead of the doc id, so every
    * member of a near-dup cluster lands in the same split — the
    * assignment that keeps eval honest when the corpus contains near
    * copies (a naive per-doc coin puts one copy in train and its twin in
    * test, and the eval set leaks). Reports per-split volumes plus the
    * audit that justifies the extra cluster pass: the number of LSH
    * candidate pairs straddling splits under the cluster-aware coin
    * (zero by construction) next to the count under the naive
    * [[corpusSplit]] coin on the same corpus.
    *
    * Scale: cluster labels are the CC fixpoint (one doc-keyed shuffle
    * per round, O(log diameter) rounds); the coin itself is map-only;
    * the audit joins the bounded LSH candidate-pair set to the
    * assignment twice on doc id — never all-pairs, and the leak scalars
    * broadcast back onto the 3-row split rollup.
    */
  private val corpusSplitLeakage = Q(
    (s, dir) => {
      val assigned = T(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
        .join(NorthStarQueries.clusterLabels(s, dir), "doc_id")
        .withColumn("split", splitCoin("label"))
        .withColumn("split_naive", splitCoin("doc_id"))
      val bands = NorthStarQueries.minhashBands(s, dir)
      val b2 = bands.select(col("doc_id").as("b_id"), col("band"), col("bkey"))
      val pairs = bands.join(b2,
          bands("band") === b2("band") && bands("bkey") === b2("bkey") &&
            bands("doc_id") < col("b_id"))
        .select(col("doc_id").as("a_id"), col("b_id")).distinct()
      val leak = pairs
        .join(assigned.select(col("doc_id").as("a_id"), col("split").as("sa"),
          col("split_naive").as("na")), "a_id")
        .join(assigned.select(col("doc_id").as("b_id"), col("split").as("sb"),
          col("split_naive").as("nb")), "b_id")
        .agg(
          coalesce(sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)), lit(0L))
            .as("leak_pairs_cluster"),
          coalesce(sum(when(col("na") =!= col("nb"), 1L).otherwise(0L)), lit(0L))
            .as("leak_pairs_naive"))
      assigned.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(col("label")).as("n_clusters"),
             sum(col("n_chars")).as("sum_chars"))
        .crossJoin(broadcast(leak))
        .orderBy(col("split"))
    },
    Some(
      s"""WITH RECURSIVE ${NorthStarQueries.minhashBandsSqlCtes}, hubs AS (
         |  SELECT band, bkey, min(doc_id) AS hub FROM bands GROUP BY 1, 2
         |), e AS (
         |  SELECT DISTINCT b.doc_id AS a, h.hub AS b
         |  FROM bands b JOIN hubs h USING (band, bkey)
         |  WHERE b.doc_id <> h.hub
         |), sym AS (
         |  SELECT a, b FROM e UNION SELECT b, a FROM e
         |), reach(node, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT s.b, r.label FROM sym s JOIN reach r ON r.node = s.a
         |), comp AS (
         |  SELECT node, min(label) AS cluster FROM reach GROUP BY node
         |), asg AS (
         |  SELECT d.doc_id, d.n_chars, c.cluster,
         |    ${splitCoinSql("c.cluster")} AS split,
         |    ${splitCoinSql("d.doc_id")} AS split_naive
         |  FROM documents d JOIN comp c ON c.node = d.doc_id
         |), pairs AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |), leak AS (
         |  SELECT
         |    cast(coalesce(sum(CASE WHEN pa.split <> pb.split THEN 1 ELSE 0 END), 0) as bigint)
         |      AS leak_pairs_cluster,
         |    cast(coalesce(sum(CASE WHEN pa.split_naive <> pb.split_naive THEN 1 ELSE 0 END), 0) as bigint)
         |      AS leak_pairs_naive
         |  FROM pairs p
         |  JOIN asg pa ON pa.doc_id = p.a_id
         |  JOIN asg pb ON pb.doc_id = p.b_id
         |)
         |SELECT a.split, count(*) AS n_docs,
         |  count(distinct a.cluster) AS n_clusters,
         |  cast(sum(a.n_chars) as bigint) AS sum_chars,
         |  l.leak_pairs_cluster, l.leak_pairs_naive
         |FROM asg a CROSS JOIN leak l
         |GROUP BY a.split, l.leak_pairs_cluster, l.leak_pairs_naive
         |ORDER BY split""".stripMargin))

  // ---------------------------------------------------------------------
  // Snapshot delta (corpus versioning)
  // ---------------------------------------------------------------------

  /** Snapshot-to-snapshot delta accounting — the audit a versioned corpus
    * store (crawl N vs crawl N+1) publishes with every release: how many
    * docs were added / removed / changed / unchanged, by source. The
    * "new" snapshot is derived deterministically from the fixture (drops
    * doc_id % 10 == 3, edits the text of doc_id % 7 == 0, ingests a new
    * doc per doc_id % 13 == 0 under shifted ids), so both engines diff
    * the identical pair of corpora.
    *
    * Scale: content hashes are map-side sha256; the diff is ONE
    * doc_id-keyed full-outer join (the id spine is the shuffle key, the
    * payload is a 64-char hash, never the text); the status rollup is
    * tiny. At 100 TB this is the plan you want: no text movement, no
    * all-pairs, one key-partitioned exchange.
    */
  private val pipelineDelta = Q(
    (s, dir) => {
      val docs = T(s, dir, "documents")
      val old = docs.select(col("doc_id"), col("source"),
        sha2(col("text"), 256).as("h"))
      val edited = docs
        .where(col("doc_id") % 10 =!= 3)
        .select(col("doc_id"), col("source"),
          sha2(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")), 256).as("h"))
      val ingested = docs
        .where(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), lit("ingest").as("source"),
          sha2(concat(lit("new:"), col("text")), 256).as("h"))
      val neu = edited.unionAll(ingested)
      old.select(col("doc_id"), col("source").as("src_old"), col("h").as("h_old"))
        .join(neu.select(col("doc_id"), col("source").as("src_new"), col("h").as("h_new")),
          Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("h_old").isNull, "added")
            .when(col("h_new").isNull, "removed")
            .when(col("h_old") =!= col("h_new"), "changed")
            .otherwise("unchanged"))
        .groupBy(col("status"), coalesce(col("src_new"), col("src_old")).as("source"))
        .agg(count(lit(1)).as("n_docs"),
             min(col("doc_id")).as("min_id"),
             max(col("doc_id")).as("max_id"))
        .orderBy(col("status"), col("source"))
    },
    Some("""WITH old AS (
           |  SELECT doc_id, source, sha256(text) AS h FROM documents
           |), neu AS (
           |  SELECT doc_id, source,
           |    sha256(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END) AS h
           |  FROM documents WHERE doc_id % 10 <> 3
           |  UNION ALL
           |  SELECT doc_id + 1000000 AS doc_id, 'ingest' AS source,
           |    sha256('new:' || text) AS h
           |  FROM documents WHERE doc_id % 13 = 0
           |), d AS (
           |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           |    coalesce(n.source, o.source) AS source,
           |    CASE WHEN o.h IS NULL THEN 'added'
           |         WHEN n.h IS NULL THEN 'removed'
           |         WHEN o.h <> n.h THEN 'changed'
           |         ELSE 'unchanged' END AS status
           |  FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id
           |)
           |SELECT status, source, count(*) AS n_docs,
           |  min(doc_id) AS min_id, max(doc_id) AS max_id
           |FROM d GROUP BY status, source ORDER BY status, source""".stripMargin))

  /** Streaming snapshot delta — the continuous form of
    * [[pipelineDelta]], now COMPLETE including `removed`: the previous
    * snapshot and the new crawl both arrive as streams (the two-stream
    * union formulation, materialized through one tagged file source)
    * and [[graft.streaming.DocumentStreams.snapshotDelta]] pairs them
    * per doc_id under a watermarked window. A group that finalizes with
    * only an old-side record IS the removal observation — absence
    * becomes an event at the watermark crossing, which a trailing
    * sentinel record (later event time, never emitted: its own window
    * stays open when the query stops) pushes past the data window.
    *
    * Runs four REAL micro-batches (`maxFilesPerTrigger=1`, AvailableNow:
    * old snapshot, two crawl halves, sentinel) plus the no-data
    * finalization batch, so classification state crosses batch
    * boundaries; the finalized (doc_id -> status) set is a pure function
    * of the two snapshots, hence arrival-order-invariant, and DuckDB
    * oracles it with the batch FULL OUTER formulation.
    *
    * Scale: streaming state per doc is two 64-hex hashes + two source
    * strings, evicted at watermark; both inputs are map-only hashed
    * before the one (window, doc_id)-keyed aggregate.
    */
  private val pipelineDeltaStream = Q.scratch("deltastream")(
    (s, dir, base) => {
      val docs = T(s, dir, "documents")
      val neu = docs
        .where(col("doc_id") % 10 =!= 3)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text"))
        .unionAll(docs.where(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), lit("ingest").as("source"),
            col("lang"), col("n_chars"), concat(lit("new:"), col("text")).as("text")))
      val t0 = lit("2024-01-01 00:00:00").cast("timestamp")
      def tag(df: DataFrame, side: String) = df.select(
        col("doc_id"), col("source"), lit(side).as("side"),
        sha2(col("text"), 256).as("h"), t0.as("ts"))
      // one file per micro-batch, landed in order so the file source
      // processes the sentinel LAST (a sentinel-first order would set
      // the watermark past the data and drop every record as late)
      val parts = Seq(
        "old" -> tag(docs, "old"),
        "new0" -> tag(neu.where(col("doc_id") % 2 === 0), "new"),
        "new1" -> tag(neu.where(col("doc_id") % 2 === 1), "new"),
        "tick" -> tag(
          docs.limit(1).select(lit(-1L).as("doc_id"), lit("tick").as("source"),
            col("lang"), col("n_chars"), lit("").as("text")),
          "tick").withColumn("ts", lit("2024-01-02 00:00:00").cast("timestamp")))
      Replay.land(s"$base/in", parts)
      Replay.drain(graft.streaming.DocumentStreams.snapshotDelta(
          Replay.stream(s, s"$base/in", parts.head._2.schema)),
        s"$base/out", s"$base/cp")
      s.read.parquet(s"$base/out")
        .groupBy(col("status"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("status"), col("source"))
    },
    Some("""WITH old AS (
           |  SELECT doc_id, source, sha256(text) AS h FROM documents
           |), neu AS (
           |  SELECT doc_id, source,
           |    sha256(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END) AS h
           |  FROM documents WHERE doc_id % 10 <> 3
           |  UNION ALL
           |  SELECT doc_id + 1000000 AS doc_id, 'ingest' AS source,
           |    sha256('new:' || text) AS h
           |  FROM documents WHERE doc_id % 13 = 0
           |), d AS (
           |  SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
           |    coalesce(n.source, o.source) AS source,
           |    CASE WHEN o.h IS NULL THEN 'added'
           |         WHEN n.h IS NULL THEN 'removed'
           |         WHEN o.h <> n.h THEN 'changed'
           |         ELSE 'unchanged' END AS status
           |  FROM neu n FULL OUTER JOIN old o ON n.doc_id = o.doc_id
           |)
           |SELECT status, source, count(*) AS n_docs,
           |  min(doc_id) AS min_id, max(doc_id) AS max_id
           |FROM d GROUP BY status, source ORDER BY status, source""".stripMargin))

  // ---------------------------------------------------------------------
  // BPE merge-pair induction
  // ---------------------------------------------------------------------

  /** First BPE merge round — the corpus-wide statistic a tokenizer
    * trainer computes over and over: adjacent character-pair frequencies
    * weighted by word occurrence counts, ranked to the top-20 merge
    * candidates (count desc, pair asc — a total order).
    *
    * Scale: this is the two-level trick that makes BPE training feasible
    * on 100 TB — the corpus collapses to its word-count table FIRST
    * (vocabulary-keyed aggregate), and the pair explode runs over
    * DISTINCT words weighted by their counts, so pair extraction is
    * proportional to the vocabulary, not the token stream. The rank
    * window runs on the pair-vocabulary table (alphabet², tiny).
    */
  /** The ranked top-20 merge-pair table (rnk, pair, n_occ, n_words) —
    * shared by the learning query [[textBpeMerges]] and the tokenizer
    * application [[textBpeApply]], so "apply" runs the literally-same
    * induction pipeline it tokenizes with.
    */
  private def bpeMergeTable(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val wc = TS(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .where(length(col("w")) >= 2)
    val pairs = wc
      .select(col("c"),
        explode(expr("transform(sequence(1, length(w)), i -> substring(w, i, 2))"))
          .as("pair"))
      .where(length(col("pair")) === 2)
      .groupBy(col("pair"))
      .agg(sum(col("c")).as("n_occ"), count(lit(1)).as("n_words"))
    pairs
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("n_occ").desc, col("pair"))))
      .where(col("rnk") <= 20)
      .select(col("rnk"), col("pair"), col("n_occ"), col("n_words"))
  }

  /** DuckDB twin of [[bpeMergeTable]] as CTE text: `wc`, `pairs`, `r`,
    * `merges` (the rnk <= 20 table).
    */
  private val bpeMergeSqlCtes =
    """wc AS (
      |  SELECT w, count(*) AS c FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w HAVING len(w) >= 2
      |), pairs AS (
      |  SELECT pair, cast(sum(c) as bigint) AS n_occ, count(*) AS n_words FROM (
      |    SELECT c, unnest(list_transform(generate_series(1, len(w)),
      |      i -> substr(w, i, 2))) AS pair
      |    FROM wc
      |  ) WHERE len(pair) = 2 GROUP BY pair
      |), r AS (
      |  SELECT pair, n_occ, n_words,
      |    row_number() OVER (ORDER BY n_occ DESC, pair) AS rnk
      |  FROM pairs
      |), merges AS (SELECT rnk, pair, n_occ, n_words FROM r WHERE rnk <= 20)""".stripMargin

  private val textBpeMerges = Q(
    (s, dir) => bpeMergeTable(s, dir).orderBy(col("rnk")),
    Some(s"""WITH $bpeMergeSqlCtes
           |SELECT rnk, pair, n_occ, n_words FROM merges ORDER BY rnk""".stripMargin))

  /** Spark fold chain applying merge rules 1..20 in rank order to the
    * char-token encoding of `w` (tokens joined by the 0x1F unit
    * separator). Each rule is one left-to-right greedy `aggregate` fold
    * — merge (a, b) fires when the accumulated string ends in token `a`
    * and the next token is `b`, which is exactly BPE's leftmost-first,
    * no-overlap application (a freshly merged token can't re-fire the
    * same rule because the rule matches the PAIR, not the merged
    * symbol). Rule k's pieces arrive as columns a{k}/b{k}/p{k} of the
    * pivoted one-row merge table, so the rules stay DATA — no
    * driver-side literal round-trip.
    */
  private val bpeApplyExpr: String = {
    val sep = "char(31)"
    def step(k: Int, toks: String): String =
      s"aggregate($toks, '', (acc, t) -> " +
        s"CASE WHEN acc = '' THEN t " +
        s"WHEN t = b$k AND (acc = a$k OR right(acc, 2) = concat($sep, a$k)) " +
        s"THEN concat(left(acc, length(acc) - 1), p$k) " +
        s"ELSE concat(acc, $sep, t) END)"
    (1 to 20).foldLeft("split(w, '')")((arr, k) => s"split(${step(k, arr)}, $sep)")
  }

  /** DuckDB twin of [[bpeApplyExpr]]: `list_reduce` seeds the fold with
    * the first element (no explicit zero), which matches the Spark
    * chain's `acc = ''` bootstrap case exactly — no merge rule can fire
    * on the empty accumulator because every `a` is a nonempty symbol.
    */
  private val bpeApplySql: String = {
    def step(k: Int, toks: String): String =
      s"list_reduce($toks, (acc, t) -> " +
        s"CASE WHEN t = b$k AND (acc = a$k OR right(acc, 2) = chr(31) || a$k) " +
        s"THEN left(acc, len(acc) - 1) || p$k " +
        s"ELSE acc || chr(31) || t END)"
    (1 to 20).foldLeft("string_split(w, '')")(
      (arr, k) => s"string_split(${step(k, arr)}, chr(31))")
  }

  /** BPE tokenizer APPLICATION — the other half of [[textBpeMerges]]:
    * tokenize the corpus with the top-20 learned merges and report, per
    * document, word/char/token volumes and the chars-per-token
    * compression the merges bought. This is the op that turns a merge
    * table into actual token counts (the sizing input for packing,
    * budgeting, and cost estimates downstream).
    *
    * Scale: merges are learned once (vocabulary-bounded pair table, the
    * shared [[bpeMergeTable]] pipeline) and pivot into a ONE-ROW rule
    * table crossed onto the DISTINCT-word vocabulary — the 20-fold
    * tokenize chain runs per distinct word, never per occurrence. The
    * corpus-sized work is one word explode + one word-keyed join (AQE
    * broadcasts the vocabulary side at this SF) + a doc-keyed rollup.
    */
  /** One-row pivot of [[bpeMergeTable]] into rule columns a{k}/b{k}/p{k}
    * — shared by [[textBpeApply]] and the BPE-id span frame.
    */
  private def bpeRulePivot(s: org.apache.spark.sql.SparkSession, dir: String) =
    bpeMergeTable(s, dir).agg(
      max(when(col("rnk") === 1, expr("substring(pair, 1, 1)"))).as("a1"),
      (1 to 20).flatMap { k =>
        val base = if (k == 1) Seq.empty[org.apache.spark.sql.Column]
          else Seq(max(when(col("rnk") === k, expr("substring(pair, 1, 1)"))).as(s"a$k"))
        base ++ Seq(
          max(when(col("rnk") === k, expr("substring(pair, 2, 1)"))).as(s"b$k"),
          max(when(col("rnk") === k, col("pair"))).as(s"p$k"))
      }: _*)

  /** DuckDB pivot-columns twin of [[bpeRulePivot]]. */
  private val bpePivotColsSql: String = (1 to 20).flatMap { k =>
    Seq(s"max(CASE WHEN rnk = $k THEN substr(pair, 1, 1) END) AS a$k",
      s"max(CASE WHEN rnk = $k THEN substr(pair, 2, 1) END) AS b$k",
      s"max(CASE WHEN rnk = $k THEN pair END) AS p$k")
  }.mkString(",\n    ")

  private val textBpeApply = Q(
    (s, dir) => {
      val m = bpeRulePivot(s, dir)
      val words = TS(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) > 0)
      val vocab = words.select(col("w")).distinct()
        .crossJoin(broadcast(m))
        .select(col("w"), expr(s"size($bpeApplyExpr)").as("n_tok"))
      words.join(vocab, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("w"))).as("n_chars_w"),
          sum(col("n_tok")).as("n_tokens"))
        .select(col("doc_id"), col("n_words"), col("n_chars_w"), col("n_tokens"),
          round(col("n_chars_w").cast("double") / col("n_tokens"), 6)
            .as("chars_per_token"))
        .orderBy(col("doc_id"))
    },
    Some {
      s"""WITH $bpeMergeSqlCtes, m AS (
         |  SELECT $bpePivotColsSql FROM merges
         |), wt AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
         |), wt2 AS (SELECT doc_id, w FROM wt WHERE len(w) > 0
         |), vocab AS (SELECT DISTINCT w FROM wt2
         |), tok AS (
         |  SELECT w, len($bpeApplySql) AS n_tok FROM vocab, m
         |)
         |SELECT doc_id, count(*) AS n_words,
         |  cast(sum(len(w)) as bigint) AS n_chars_w,
         |  cast(sum(n_tok) as bigint) AS n_tokens,
         |  round(cast(sum(len(w)) as double) / sum(n_tok), 6) AS chars_per_token
         |FROM wt2 JOIN tok USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    })

  // ---------------------------------------------------------------------
  // Embedding outlier detection (per-cluster distance percentile)
  // ---------------------------------------------------------------------

  /** Embedding-space outlier flagging: every vector's exact squared
    * distance to its k-means centroid, compared against its CLUSTER's
    * 90th-percentile distance — the curation gate that drops
    * mis-embedded or off-manifold points before they poison similarity
    * search and semantic dedup (a global threshold would mask dense
    * clusters and over-flag sparse ones; the per-cluster percentile
    * adapts). Reuses the [[NorthStarQueries]] integer-exact Lloyd
    * fixpoint, so `d_scaled` is a deterministic bigint on the 2^14
    * grid and the only floats are the k percentile thresholds (the
    * proven quantile_cont-parity interpolation).
    *
    * Scale: assignment is the shared map-only pass against broadcast
    * centroid literals; the threshold table is k rows and broadcasts
    * back; the flag compare is map-only — no corpus-sized shuffle
    * beyond the gate dump's sort.
    */
  private val embedOutliers = Q(
    (s, dir) => {
      val asg = NorthStarQueries.kmeansAssign(s, dir)
        .select(col("vec_id"), col("cl"), col("d"))
      val thr = asg.groupBy(col("cl")).agg(expr("percentile(d, 0.9)").as("t"))
      asg.join(broadcast(thr), Seq("cl"))
        .select(col("vec_id"), col("cl").as("cluster"), col("d").as("d_scaled"),
          (col("d") > col("t")).as("is_outlier"))
        .orderBy(col("vec_id"))
    },
    Some(s"""${NorthStarQueries.kmeansOracleCtes}, thr AS (
            |  SELECT cl, quantile_cont(d, 0.9) AS t FROM a3 GROUP BY cl
            |)
            |SELECT a.vec_id, a.cl AS cluster, cast(a.d as bigint) AS d_scaled,
            |  a.d > t.t AS is_outlier
            |FROM a3 a JOIN thr t USING (cl) ORDER BY a.vec_id""".stripMargin))

  // ---------------------------------------------------------------------
  // Cross-document substring dedup REWRITE (keep-first, reassembled docs)
  // ---------------------------------------------------------------------

  /** Substring-level dedup REWRITE — the transform that follows
    * `ns_dedup_chunks`' detection pass: every CDC chunk occurrence
    * except the globally-first one (min (doc_id, chunk_idx) per chunk
    * hash) is removed, and each document is reassembled from its
    * surviving chunks in position order — the "deduplicate the training
    * set, don't just flag it" pass every pipeline runs before
    * tokenization. Per doc: chunk/kept/token volumes plus an md5 of the
    * rebuilt text, so the gate hash pins every byte of the cleaned
    * corpus without dumping it (a doc whose chunks are all non-canonical
    * rebuilds to the empty string and hashes as such).
    *
    * Scale: the corpus is tokenized ONCE — the keep flag is a
    * row_number window partitioned by chunk_md5 (one chunk-hash-keyed
    * exchange; partitions are per-hash, so there is no global-sort
    * funnel and the per-partition sort is bounded by a chunk's
    * duplication count). A first draft built a separate canonical
    * min-(doc,idx) table and joined it back: that re-ran the CDC
    * tokenize+explode for the build side and materialized a
    * corpus-sized broadcast — 2× the scan work and a broadcast that
    * cannot exist at 100 TB. The rebuild is one doc-keyed aggregate
    * whose ordered reassembly runs INSIDE the aggregate (array_sort
    * over the ≤ chunks-per-doc kept structs) — no per-doc driver
    * state. The shuffled payload is the chunk text itself, which a
    * corpus rewrite necessarily carries exactly once.
    */
  private val dedupRewrite = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
      NorthStarQueries.cdcChunks(s, dir)
        .withColumn("kept", row_number().over(w) === 1)
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_chunks"),
          sum(when(col("kept"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
          sum(col("n_chunk_toks").cast("long")).as("n_toks"),
          sum(when(col("kept"), col("n_chunk_toks").cast("long")).otherwise(lit(0L)))
            .as("n_toks_kept"),
          expr("""md5(array_join(transform(
                 |  array_sort(collect_list(
                 |    CASE WHEN kept THEN struct(chunk_idx, chunk_txt) END)),
                 |  x -> x.chunk_txt), ' '))""".stripMargin).as("rebuilt_md5"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ${NorthStarQueries.cdcChunksSqlCtes}, k AS (
            |  SELECT doc_id, chunk_idx, n_chunk_toks, chunk_txt,
            |    row_number() OVER (PARTITION BY chunk_md5
            |      ORDER BY doc_id, chunk_idx) AS rn
            |  FROM cdc
            |)
            |SELECT doc_id, count(*) AS n_chunks,
            |  cast(coalesce(sum(CASE WHEN rn = 1 THEN 1 END), 0) as bigint) AS n_kept,
            |  cast(sum(n_chunk_toks) as bigint) AS n_toks,
            |  cast(coalesce(sum(CASE WHEN rn = 1 THEN n_chunk_toks END), 0) as bigint)
            |    AS n_toks_kept,
            |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_txt END, ' '
            |    ORDER BY chunk_idx), '')) AS rebuilt_md5
            |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------------------------------
  // Document-pair containment (subset duplicates)
  // ---------------------------------------------------------------------

  /** Doc-pair CONTAINMENT detection: |chunks(A) ∩ chunks(B)| / min(|A|,
    * |B|) over distinct CDC chunk hashes — the asymmetric measure that
    * catches subset duplicates (doc A embedded whole inside a longer
    * doc B), which Jaccard-style near-dup (`ns_dedup_ngram_jaccard`)
    * structurally under-scores and its length-band blocking never even
    * pairs. Top-20 pairs with both endpoint sizes so the direction of
    * containment is readable.
    *
    * Scale: pairing goes through the chunk-hash inverted index, never
    * all-pairs — and chunk hashes shared by more than 16 docs are
    * excluded from PAIRING (they are boilerplate, `ns_dedup_chunks` /
    * `ns_text_boilerplate` territory; the standard df-cap that bounds
    * the pair explosion to ≤ 16× the chunk stream regardless of corpus
    * size). Doc sizes join back on doc id; the final top-20 is a
    * TakeOrderedAndProject (per-partition heaps, no global sort). The
    * distinct (doc, chunk-hash) inverted index feeds FOUR consumers
    * (df counts, both self-join sides, doc sizes), so it
    * localCheckpoints — without it the CDC tokenize+explode re-ran 4×
    * (the label-prop/knn-2hop lesson).
    */
  private val dedupContainment = Q(
    (s, dir) => {
      val u = NorthStarQueries.cdcChunks(s, dir)
        .select(col("doc_id"), col("chunk_md5")).distinct()
        .localCheckpoint(true)
      val df = u.groupBy(col("chunk_md5")).agg(count(lit(1)).as("n_docs"))
      val shared = u.join(df.where(col("n_docs").between(2, 16)), Seq("chunk_md5"))
        .select(col("chunk_md5"), col("doc_id"))
      val pairs = shared.select(col("chunk_md5"), col("doc_id").as("doc_a"))
        .join(shared.select(col("chunk_md5"), col("doc_id").as("doc_b")),
          Seq("chunk_md5"))
        .where(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
      val sizes = u.groupBy(col("doc_id")).agg(count(lit(1)).as("n_ch"))
      pairs
        .join(sizes.select(col("doc_id").as("doc_a"), col("n_ch").as("n_a")),
          Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n_ch").as("n_b")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          col("n_a"), col("n_b"),
          round(col("n_shared").cast("double") / least(col("n_a"), col("n_b")), 6)
            .as("containment"))
        .orderBy(col("containment").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    },
    Some(s"""WITH ${NorthStarQueries.cdcChunksSqlCtes}, u AS (
            |  SELECT DISTINCT doc_id, chunk_md5 FROM cdc
            |), fdf AS (
            |  SELECT chunk_md5, count(*) AS n_docs FROM u GROUP BY chunk_md5
            |), sh AS (
            |  SELECT u.doc_id, u.chunk_md5 FROM u JOIN fdf USING (chunk_md5)
            |  WHERE n_docs BETWEEN 2 AND 16
            |), p AS (
            |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
            |  FROM sh a JOIN sh b
            |    ON a.chunk_md5 = b.chunk_md5 AND a.doc_id < b.doc_id
            |  GROUP BY 1, 2
            |), sz AS (
            |  SELECT doc_id, count(*) AS n_ch FROM u GROUP BY doc_id
            |)
            |SELECT p.doc_a, p.doc_b, p.n_shared, sa.n_ch AS n_a, sb.n_ch AS n_b,
            |  round(cast(p.n_shared as double) / least(sa.n_ch, sb.n_ch), 6)
            |    AS containment
            |FROM p JOIN sz sa ON p.doc_a = sa.doc_id
            |       JOIN sz sb ON p.doc_b = sb.doc_id
            |ORDER BY containment DESC, doc_a, doc_b LIMIT 20""".stripMargin))

  // ---------------------------------------------------------------------
  // Int8 scalar-quantized ANN with recall audit
  // ---------------------------------------------------------------------

  /** Scalar quantization to int8 with per-dimension min/max calibration
    * (the FAISS SQ8 memory layout: 4x smaller than float32, ~0 recall
    * loss on most corpora) + the recall@5 audit against exact search
    * that decides whether the compression is safe to deploy.
    *
    * Determinism: the calibration mins/maxes stay IN the plan (a one-row
    * aggregated array broadcast into the quantize expression — never
    * printed to literals, so no double-to-string round-trip); the
    * quantize expression is a fixed tree of IEEE ops on identical
    * doubles in both engines; distances on both the int8 grid and the
    * exact 2^14 grid are integer `sq_l2`, so ranking ties and hashes
    * match bitwise.
    *
    * Scale: calibration is one dim-keyed aggregate (64 groups);
    * quantization is map-only against the broadcast calibration row. The
    * exact and SQ8 top-5s are built as SEPARATE branches, each a
    * broadcast-query corpus pass whose `rank <= 5` filter sits directly
    * above its window so WindowGroupLimit prunes map-side (a single
    * shared pass with an OR-filter over two stacked windows would defeat
    * the prune and funnel the whole joined set through n_queries sort
    * partitions); recall is then a join of two queries x 5 lists —
    * corpus-independent.
    */
  private val simSq8Recall = Q(
    (s, dir) => {
      val e = NorthStarQueries.kmeansQuantized(s, dir)
        .join(TS(s, dir, "embeddings").select(col("vec_id"), col("embedding")), Seq("vec_id"))
      val cal = TS(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("d0", "x")))
        .groupBy(col("d0"))
        .agg(min(col("x").cast("double")).as("mn"), max(col("x").cast("double")).as("mx"))
        .agg(expr("transform(array_sort(collect_list(struct(d0, mn, mx))), " +
          "t -> struct(t.mn AS mn, t.mx AS mx))").as("cal"))
      val q8Expr =
        "transform(sequence(1, size(embedding)), i -> " +
          "CASE WHEN element_at(cal, i).mx = element_at(cal, i).mn THEN cast(0 as bigint) " +
          "ELSE cast(greatest(0.0, least(255.0, floor(" +
          "((cast(element_at(embedding, i) as double) - element_at(cal, i).mn) * 255.0) " +
          "/ (element_at(cal, i).mx - element_at(cal, i).mn)))) as bigint) END)"
      val vv = e.crossJoin(broadcast(cal))
        .select(col("vec_id"), col("xq"), expr(q8Expr).as("q8"))
        .localCheckpoint(true)
      val queries = vv.where(col("vec_id") < 16)
      def top5(metric: String, qCol: String, cCol: String) = {
        val w = Window.partitionBy(col("q_id")).orderBy(col("d"), col("c_id"))
        vv.select(col("vec_id").as("c_id"), col(metric))
          .join(broadcast(queries.select(col("vec_id").as("q_id"),
            col(metric).as("qv"))), col("q_id") =!= col("c_id"))
          .withColumn("d", expr(s"sq_l2(qv, $metric)"))
          .withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= 5)
          .select(col("q_id"), col("c_id"))
      }
      val hits = top5("xq", "q_id", "c_id")
        .join(top5("q8", "q_id", "c_id"), Seq("q_id", "c_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("h"))
      queries.select(col("vec_id").as("q_id"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("h"), lit(0L)).as("n_hits"),
          (coalesce(col("h"), lit(0L)).cast("double") / lit(5.0)).as("recall_at5"))
        .orderBy(col("q_id"))
    },
    Some(s"""WITH v AS (
            |  SELECT vec_id, embedding,
            |    list_transform(embedding, x -> cast(floor(x::double * 16384) as bigint)) AS xq
            |  FROM embeddings
            |), calrows AS (
            |  SELECT dim, min(x::double) AS mn, max(x::double) AS mx FROM (
            |    SELECT unnest(generate_series(1, len(embedding))) AS dim,
            |           unnest(embedding) AS x
            |    FROM embeddings) GROUP BY dim
            |), cal AS (
            |  SELECT list(struct_pack(mn := mn, mx := mx) ORDER BY dim) AS cal FROM calrows
            |), vv AS (
            |  SELECT vec_id, xq,
            |    list_transform(generate_series(1, len(embedding)), i ->
            |      CASE WHEN cal[i].mx = cal[i].mn THEN cast(0 as bigint)
            |      ELSE cast(greatest(0.0, least(255.0, floor(
            |        ((embedding[i]::double - cal[i].mn) * 255.0) / (cal[i].mx - cal[i].mn))))
            |        as bigint) END) AS q8
            |  FROM v, cal
            |), pairs AS (
            |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
            |    list_sum(list_transform(generate_series(1, len(q.xq)),
            |      i -> (q.xq[i] - c.xq[i]) * (q.xq[i] - c.xq[i]))) AS d_exact,
            |    list_sum(list_transform(generate_series(1, len(q.q8)),
            |      i -> (q.q8[i] - c.q8[i]) * (q.q8[i] - c.q8[i]))) AS d_sq8
            |  FROM vv q JOIN vv c ON q.vec_id < 16 AND q.vec_id <> c.vec_id
            |), ranked AS (
            |  SELECT q_id, c_id,
            |    row_number() OVER (PARTITION BY q_id ORDER BY d_exact, c_id) AS exact_rnk,
            |    row_number() OVER (PARTITION BY q_id ORDER BY d_sq8, c_id) AS sq8_rnk
            |  FROM pairs
            |)
            |SELECT q_id,
            |  cast(sum(CASE WHEN exact_rnk <= 5 AND sq8_rnk <= 5 THEN 1 ELSE 0 END) as bigint)
            |    AS n_hits,
            |  cast(sum(CASE WHEN exact_rnk <= 5 AND sq8_rnk <= 5 THEN 1 ELSE 0 END) as double)
            |    / 5.0 AS recall_at5
            |FROM ranked WHERE exact_rnk <= 5 OR sq8_rnk <= 5
            |GROUP BY q_id ORDER BY q_id""".stripMargin))

  /** SCALAR-QUANTIZATION LADDER — [[simSq8Recall]] extended down the
    * compression axis in one query: recall@5 of int8 (256 levels), int4
    * (16) and int2 (4) scalar quantization against exact search, the
    * memory/recall trade read (4x/8x/16x smaller than float32) that
    * decides which tier an index can afford. One calibration, one
    * quantize pass producing all three grids, one exact top-5; each
    * tier's ranking reuses the same machinery, so adding a tier costs
    * one column, not one corpus pass.
    *
    * Determinism: the [[simSq8Recall]] contract per tier — IEEE
    * quantize expressions written identically in both engines, integer
    * `sq_l2` distances, (d, c_id) total orders.
    *
    * Scale: the quantize pass is map-only against the broadcast
    * calibration row; each tier's top-5 is a broadcast-query corpus
    * pass with the rank filter directly above its window
    * (WindowGroupLimit prunes map-side); the roll-up is 3 rows.
    */
  private val simSqLadder = Q(
    (s, dir) => {
      val e = NorthStarQueries.kmeansQuantized(s, dir)
        .join(TS(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
          Seq("vec_id"))
      val cal = TS(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("d0", "x")))
        .groupBy(col("d0"))
        .agg(min(col("x").cast("double")).as("mn"),
          max(col("x").cast("double")).as("mx"))
        .agg(expr("transform(array_sort(collect_list(struct(d0, mn, mx))), " +
          "t -> struct(t.mn AS mn, t.mx AS mx))").as("cal"))
      def qExpr(levels: Int): String =
        "transform(sequence(1, size(embedding)), i -> " +
          "CASE WHEN element_at(cal, i).mx = element_at(cal, i).mn THEN cast(0 as bigint) " +
          s"ELSE cast(greatest(0.0, least($levels.0, floor(" +
          s"((cast(element_at(embedding, i) as double) - element_at(cal, i).mn) * $levels.0) " +
          "/ (element_at(cal, i).mx - element_at(cal, i).mn)))) as bigint) END)"
      val vv = e.crossJoin(broadcast(cal))
        .select(col("vec_id"), col("xq"), expr(qExpr(255)).as("q8"),
          expr(qExpr(15)).as("q4"), expr(qExpr(3)).as("q2"))
        .localCheckpoint(true)
      val queries = vv.where(col("vec_id") < 16)
      def top5(metric: String) = {
        val w = Window.partitionBy(col("q_id")).orderBy(col("d"), col("c_id"))
        vv.select(col("vec_id").as("c_id"), col(metric))
          .join(broadcast(queries.select(col("vec_id").as("q_id"),
            col(metric).as("qv"))), col("q_id") =!= col("c_id"))
          .withColumn("d", expr(s"sq_l2(qv, $metric)"))
          .withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= 5)
          .select(col("q_id"), col("c_id"))
      }
      val exact = top5("xq").localCheckpoint(true)
      val tiers = Seq(8 -> "q8", 4 -> "q4", 2 -> "q2").map { case (bits, m) =>
        exact.join(top5(m), Seq("q_id", "c_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(bits.toLong).as("bits"), col("hits"))
      }
      tiers.reduce(_ unionAll _)
        .select(col("bits"), col("hits"),
          expr("hits * 1000000 div 80").as("recall5_e6"))
        .orderBy(col("bits").desc)
    },
    Some(s"""WITH v AS (
            |  SELECT vec_id, embedding,
            |    list_transform(embedding, x -> cast(floor(x::double * 16384) as bigint)) AS xq
            |  FROM embeddings
            |), calrows AS (
            |  SELECT dim, min(x::double) AS mn, max(x::double) AS mx FROM (
            |    SELECT unnest(generate_series(1, len(embedding))) AS dim,
            |           unnest(embedding) AS x
            |    FROM embeddings) GROUP BY dim
            |), cal AS (
            |  SELECT list(struct_pack(mn := mn, mx := mx) ORDER BY dim) AS cal FROM calrows
            |), vv AS (
            |  SELECT vec_id, xq,
            |    list_transform(generate_series(1, len(embedding)), i ->
            |      CASE WHEN cal[i].mx = cal[i].mn THEN cast(0 as bigint)
            |      ELSE cast(greatest(0.0, least(255.0, floor(
            |        ((embedding[i]::double - cal[i].mn) * 255.0) / (cal[i].mx - cal[i].mn))))
            |        as bigint) END) AS q8,
            |    list_transform(generate_series(1, len(embedding)), i ->
            |      CASE WHEN cal[i].mx = cal[i].mn THEN cast(0 as bigint)
            |      ELSE cast(greatest(0.0, least(15.0, floor(
            |        ((embedding[i]::double - cal[i].mn) * 15.0) / (cal[i].mx - cal[i].mn))))
            |        as bigint) END) AS q4,
            |    list_transform(generate_series(1, len(embedding)), i ->
            |      CASE WHEN cal[i].mx = cal[i].mn THEN cast(0 as bigint)
            |      ELSE cast(greatest(0.0, least(3.0, floor(
            |        ((embedding[i]::double - cal[i].mn) * 3.0) / (cal[i].mx - cal[i].mn))))
            |        as bigint) END) AS q2
            |  FROM v, cal
            |), pairs AS (
            |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
            |    list_sum(list_transform(generate_series(1, len(q.xq)),
            |      i -> (q.xq[i] - c.xq[i]) * (q.xq[i] - c.xq[i]))) AS d_exact,
            |    list_sum(list_transform(generate_series(1, len(q.q8)),
            |      i -> (q.q8[i] - c.q8[i]) * (q.q8[i] - c.q8[i]))) AS d8,
            |    list_sum(list_transform(generate_series(1, len(q.q4)),
            |      i -> (q.q4[i] - c.q4[i]) * (q.q4[i] - c.q4[i]))) AS d4,
            |    list_sum(list_transform(generate_series(1, len(q.q2)),
            |      i -> (q.q2[i] - c.q2[i]) * (q.q2[i] - c.q2[i]))) AS d2
            |  FROM vv q JOIN vv c ON q.vec_id < 16 AND q.vec_id <> c.vec_id
            |), ranked AS (
            |  SELECT q_id, c_id,
            |    row_number() OVER (PARTITION BY q_id ORDER BY d_exact, c_id) AS re,
            |    row_number() OVER (PARTITION BY q_id ORDER BY d8, c_id) AS r8,
            |    row_number() OVER (PARTITION BY q_id ORDER BY d4, c_id) AS r4,
            |    row_number() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS r2
            |  FROM pairs
            |), h AS (
            |  SELECT 8 AS bits, cast(sum(CASE WHEN re <= 5 AND r8 <= 5 THEN 1 ELSE 0 END) as bigint) AS hits FROM ranked
            |  UNION ALL
            |  SELECT 4, cast(sum(CASE WHEN re <= 5 AND r4 <= 5 THEN 1 ELSE 0 END) as bigint) FROM ranked
            |  UNION ALL
            |  SELECT 2, cast(sum(CASE WHEN re <= 5 AND r2 <= 5 THEN 1 ELSE 0 END) as bigint) FROM ranked
            |)
            |SELECT cast(bits as bigint) AS bits, hits,
            |  (hits * 1000000) // 80 AS recall5_e6
            |FROM h ORDER BY bits DESC""".stripMargin))

  /** BINARY QUANTIZATION search — the 1-bit rung below the
    * [[simSqLadder]] (int8/int4/int2): each 64-dim vector packs to 64
    * SIGN bits (the BQ/RaBitQ serving shape every major vector store
    * now ships), candidates shortlist by HAMMING distance
    * (xor + bit_count on two sign-safe 32-bit words), and only the
    * top-20 shortlist pays the exact re-rank — the two-stage contract
    * that makes 1-bit storage usable: 64x smaller index, exact
    * distances only on the shortlist. Each emitted row carries
    * `in_exact` (membership in the exhaustive top-5), so the query is
    * its own recall audit — directly comparable to the ladder's
    * int2 row (binary-with-rerank vs 2-bit-without).
    *
    * Determinism: the sign test is an exact float comparison; packing,
    * xor, bit_count, and the 16384-grid re-rank distances are integer;
    * all rankings tie-break on the lowest id.
    *
    * Scale: packing is one map-only pass (two bigint words per
    * vector); the Hamming pass scans words, not vectors (16 bytes per
    * candidate vs 256); the re-rank window is probe-bounded
    * (WindowGroupLimit) and exact distances touch 20 rows per query.
    * The exhaustive branch is the declared audit, dropped at scale.
    */
  private val simBinaryQuant = Q(
    (s, dir) => {
      val v = NorthStarQueries.kmeansQuantized(s, dir)
        .join(TS(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
          Seq("vec_id"))
      def packExpr(lo: Int) =
        s"aggregate(sequence($lo, ${lo + 31}), cast(0 as bigint), " +
          "(acc, i) -> acc + IF(cast(element_at(embedding, i) as double) > 0.0D, " +
          s"shiftleft(cast(1 as bigint), i - $lo), cast(0 as bigint)))"
      val bq = v.select(col("vec_id"), col("xq"),
          expr(packExpr(1)).as("w0"), expr(packExpr(33)).as("w1"))
        .localCheckpoint(true) // corpus side + query side + exact audit
      val qs = bq.where(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("xq").as("qx"),
          col("w0").as("qw0"), col("w1").as("qw1"))
      val wH = Window.partitionBy(col("q_id"))
        .orderBy(col("hamming"), col("c_id"))
      val wR = Window.partitionBy(col("q_id")).orderBy(col("d"), col("c_id"))
      val rer = bq
        .select(col("vec_id").as("c_id"), col("xq").as("cx"),
          col("w0"), col("w1"))
        .join(broadcast(qs), col("q_id") =!= col("c_id"))
        .withColumn("hamming", expr(
          "cast(bit_count(qw0 ^ w0) + bit_count(qw1 ^ w1) as bigint)"))
        .withColumn("hrn", row_number().over(wH))
        .where(col("hrn") <= 20)
        .withColumn("d", expr("sq_l2(qx, cx)"))
        .withColumn("rnk", row_number().over(wR).cast("long"))
        .where(col("rnk") <= 5)
      val exact = bq.select(col("vec_id").as("c_id"), col("xq").as("cx"))
        .join(broadcast(qs.select(col("q_id"), col("qx"))),
          col("q_id") =!= col("c_id"))
        .withColumn("d", expr("sq_l2(qx, cx)"))
        .withColumn("ern", row_number().over(wR))
        .where(col("ern") <= 5)
        .select(col("q_id").as("eq"), col("c_id").as("ec"))
      rer.join(exact,
          col("q_id") === col("eq") && col("c_id") === col("ec"), "left")
        .select(col("q_id"), col("rnk"), col("c_id"), col("hamming"),
          col("d").cast("long").as("d_grid"),
          col("ec").isNotNull.as("in_exact"))
        .orderBy(col("q_id"), col("rnk"))
    },
    Some("""WITH v AS (
           |  SELECT vec_id, embedding,
           |    list_transform(embedding,
           |      x -> cast(floor(x::double * 16384) as bigint)) AS xq
           |  FROM embeddings
           |), bq AS (
           |  SELECT vec_id, xq,
           |    list_sum(list_transform(generate_series(1, 32), i ->
           |      CASE WHEN embedding[i]::double > 0.0
           |        THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS w0,
           |    list_sum(list_transform(generate_series(33, 64), i ->
           |      CASE WHEN embedding[i]::double > 0.0
           |        THEN (1::BIGINT << (i - 33)) ELSE 0 END)) AS w1
           |  FROM v
           |), pairs AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |    cast(bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1))
           |      as bigint) AS hamming,
           |    list_sum(list_transform(generate_series(1, len(q.xq)),
           |      i -> (q.xq[i] - c.xq[i]) * (q.xq[i] - c.xq[i]))) AS d
           |  FROM bq q JOIN bq c ON q.vec_id < 16 AND q.vec_id <> c.vec_id
           |), short AS (
           |  SELECT q_id, c_id, hamming, d FROM (
           |    SELECT q_id, c_id, hamming, d,
           |      row_number() OVER (PARTITION BY q_id
           |        ORDER BY hamming, c_id) AS hrn
           |    FROM pairs) WHERE hrn <= 20
           |), rer AS (
           |  SELECT q_id, c_id, hamming, d,
           |    cast(row_number() OVER (PARTITION BY q_id ORDER BY d, c_id)
           |      as bigint) AS rnk
           |  FROM short
           |), ex AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q_id, c_id,
           |      row_number() OVER (PARTITION BY q_id ORDER BY d, c_id) AS ern
           |    FROM pairs) WHERE ern <= 5
           |)
           |SELECT r.q_id, r.rnk, r.c_id, r.hamming,
           |  cast(r.d as bigint) AS d_grid,
           |  ex.c_id IS NOT NULL AS in_exact
           |FROM rer r LEFT JOIN ex ON ex.q_id = r.q_id AND ex.c_id = r.c_id
           |WHERE r.rnk <= 5
           |ORDER BY r.q_id, r.rnk""".stripMargin))

  // ---------------------------------------------------------------------
  // IVF + PQ combined search (the FAISS IVFPQ architecture)
  // ---------------------------------------------------------------------

  private val IVF_CELLS = 16
  // single source of truth: the ns_sim_pq codebook geometry
  private val PQ_M = NorthStarQueries.PQ_M
  private val PQ_CODES = NorthStarQueries.PQ_CODES

  /** IVF-PQ search — the billion-scale ANN architecture: a coarse
    * quantizer (16 cells, centroids = quantized vecs 100..115) restricts
    * each query to its nprobe=2 nearest cells, and within those cells
    * distances are PQ asymmetric lookups (8 subspaces x 16 codes,
    * codebook = subvectors of vecs 0..15) — so the search never computes
    * a full-vector distance against the corpus, and never even LOOKS at
    * corpus vectors outside the probed cells.
    *
    * Everything is exact integer math on the 2^14 grid (cell argmin,
    * probe ranking, encode argmin, ADC sums), so both engines agree
    * bitwise.
    *
    * Scale: cell assignment + PQ encode are map-only passes against
    * broadcast literals (one corpus read); the probe list (queries x 2
    * rows) and the distance tables (queries x 128 rows) broadcast; the
    * candidate join keys on cell — at C cells the scored fraction is
    * nprobe/C of the corpus, the knob that makes 100 TB searchable.
    */
  private val simIvfPq = Q(
    (s, dir) => {
      val v = NorthStarQueries.kmeansQuantizedIndex(s, dir)
      val cellSorted = ivfCellSortedExpr(v)
      val vc = v.withColumn("cell", expr(s"element_at($cellSorted, 1).j"))
      // queries probe their 2 nearest cells
      val probes = v.where(col("vec_id") < PQ_CODES)
        .select(col("vec_id").as("q_id"),
          explode(expr(s"transform(slice($cellSorted, 1, 2), t -> t.j)")).as("pcell"))
      // PQ codebook + encode exprs: the shared builder (same convention
      // and byte-identical expression text as ns_sim_pq / ns_sim_pq_adc)
      val cb = NorthStarQueries.pqCodebook(v)
      val enc = ivfPqIndexRows(vc, cb)
      val dtab = ivfPqDistTable(v, cb)
      val wTop = Window.partitionBy(col("q_id")).orderBy(col("adc_d"), col("c_id"))
      enc.join(broadcast(probes),
          col("cell") === col("pcell") && col("q_id") =!= col("c_id"))
        .join(broadcast(dtab),
          col("tq_id") === col("q_id") && col("m") === col("em") && col("j") === col("code"))
        .groupBy(col("q_id"), col("c_id")).agg(sum(col("d")).as("adc_d"))
        .withColumn("rnk", row_number().over(wTop))
        .where(col("rnk") <= 3)
        .select(col("q_id"), col("rnk"), col("c_id"), col("adc_d"))
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(s"""WITH v AS (
            |  SELECT vec_id,
            |    list_transform(embedding, x -> cast(floor(x::double * 16384) as bigint)) AS xq
            |  FROM embeddings
            |), cents AS (
            |  SELECT vec_id - 100 AS cj, xq AS c FROM v WHERE vec_id BETWEEN 100 AND 115
            |), celldist AS (
            |  SELECT v.vec_id, c.cj,
            |    list_sum(list_transform(generate_series(1, len(v.xq)),
            |      i -> (v.xq[i] - c.c[i]) * (v.xq[i] - c.c[i]))) AS d
            |  FROM v, cents c
            |), cellasg AS (
            |  SELECT vec_id, arg_min(cj, d * $IVF_CELLS + cj) AS cell
            |  FROM celldist GROUP BY vec_id
            |), probes AS (
            |  SELECT vec_id AS q_id, cj AS pcell FROM (
            |    SELECT vec_id, cj,
            |      row_number() OVER (PARTITION BY vec_id ORDER BY d * $IVF_CELLS + cj) AS rn
            |    FROM celldist WHERE vec_id < $PQ_CODES
            |  ) WHERE rn <= 2
            |), ms AS (
            |  SELECT unnest(generate_series(0, ${PQ_M - 1})) AS m
            |), cb AS (
            |  SELECT m, vec_id AS j, xq[m*8+1:m*8+8] AS c FROM v, ms WHERE vec_id < $PQ_CODES
            |), ev AS (
            |  SELECT vec_id, m, xq[m*8+1:m*8+8] AS xs FROM v, ms
            |), dist AS (
            |  SELECT ev.vec_id, ev.m, cb.j,
            |    list_sum(list_transform(generate_series(1, 8),
            |      i -> (ev.xs[i] - cb.c[i]) * (ev.xs[i] - cb.c[i]))) AS d
            |  FROM ev JOIN cb ON ev.m = cb.m
            |), enc AS (
            |  SELECT vec_id AS c_id, m, arg_min(j, d * $PQ_CODES + j) AS code
            |  FROM dist GROUP BY vec_id, m
            |), dtab AS (
            |  SELECT vec_id AS q_id, m, j, d FROM dist WHERE vec_id < $PQ_CODES
            |), cand AS (
            |  SELECT p.q_id, e.c_id, e.m, e.code
            |  FROM enc e
            |  JOIN cellasg ca ON e.c_id = ca.vec_id
            |  JOIN probes p ON ca.cell = p.pcell
            |  WHERE p.q_id <> e.c_id
            |), scored AS (
            |  SELECT cand.q_id, cand.c_id, cast(sum(dt.d) as bigint) AS adc_d
            |  FROM cand JOIN dtab dt
            |    ON cand.q_id = dt.q_id AND cand.m = dt.m AND cand.code = dt.j
            |  GROUP BY cand.q_id, cand.c_id
            |), r AS (
            |  SELECT q_id, c_id, adc_d,
            |    row_number() OVER (PARTITION BY q_id ORDER BY adc_d, c_id) AS rnk
            |  FROM scored
            |)
            |SELECT q_id, rnk, c_id, adc_d FROM r WHERE rnk <= 3
            |ORDER BY q_id, rnk""".stripMargin))

  /** IVF-PQ over a PERSISTED index — the production build/serve split
    * [[simIvfPq]] computes in one plan. BUILD: cell assignment + PQ
    * codes are written as parquet PARTITIONED BY CELL (the layout an
    * ANN serving tier stores). SERVE: the probed cells (queries x
    * nprobe, a bounded driver-side set — 2-16 values) become a static
    * partition filter on the read-back, so the scan READS ONLY the
    * probed cells' files — cell pruning realized as parquet partition
    * pruning, which at 100 TB means the search I/O is nprobe/C of the
    * index regardless of corpus size (PlanFeaturesSpec asserts the
    * PartitionFilters reach the scan). Same output contract and oracle
    * as [[simIvfPq]]: persisting the index must not change a single
    * result bit.
    */
  /** The coarse-quantizer assignment expression (sorted (distance, cell)
    * structs over the 16 centroid literals) — shared by the persisted
    * index build, the incremental append, and the serve-side probe
    * selection, scored with the native `sq_l2`.
    */
  private[graft] def ivfCellSortedExpr(v: DataFrame): String = {
    val cents: Seq[(Int, Seq[Long])] = v
      .where(col("vec_id").between(100, 115)).collect()
      .map(r => ((r.getLong(0) - 100).toInt, r.getSeq[Long](1)))
      .sortBy(_._1).toSeq
    val cellStructs = cents.map { case (j, c) =>
      s"struct(sq_l2(xq, cast(array(${c.mkString(",")}) as array<bigint>)) AS d, " +
        s"cast($j as bigint) AS j)"
    }
    s"array_sort(array(${cellStructs.mkString(", ")}))"
  }

  /** PQ-encode a cell-assigned corpus slice into the stored-index row
    * shape: one (c_id, cell, em, code) row per (vector, subspace).
    */
  private[graft] def ivfPqIndexRows(vc: DataFrame,
      cb: Map[Int, Seq[(Int, Seq[Long])]]): DataFrame = {
    val encExprs = NorthStarQueries.pqEncodeExprs(cb)
    vc.select(col("vec_id").as("c_id"), col("cell"),
        explode(expr(s"array(${encExprs.mkString(", ")})")).as("e"))
      .select(col("c_id"), col("cell"), col("e.em").as("em"),
        col("e.code").as("code"))
  }

  /** The per-query ADC distance tables: one (tq_id, m, j, d) row per
    * query vector, subspace and code, `d` the squared distance from the
    * query's subvector to that code's centroid.
    */
  private def ivfPqDistTable(v: DataFrame, cb: Map[Int, Seq[(Int, Seq[Long])]]): DataFrame = {
    val dtabStructs = (0 until PQ_M).flatMap { m =>
      cb(m).map { case (j, c) =>
        s"struct(cast($m as bigint) AS m, cast($j as bigint) AS j, " +
          s"sq_l2(xq, cast(array(${c.mkString(",")}) as array<bigint>), ${m * 8}) AS d)"
      }
    }
    v.where(col("vec_id") < PQ_CODES)
      .select(col("vec_id").as("tq_id"),
        explode(expr(s"array(${dtabStructs.mkString(", ")})")).as("t"))
      .select(col("tq_id"), col("t.m").as("m"), col("t.j").as("j"), col("t.d").as("d"))
  }

  /** Serve an ADC top-3 search over a PERSISTED cell-partitioned index:
    * probed cells collected (bounded <= IVF_CELLS values) and applied as
    * a STATIC partition filter — only those cells' files are read;
    * probes and per-query distance tables broadcast. Returns the
    * un-checkpointed result (callers checkpoint before deleting the
    * store).
    */
  private def ivfPqServeStore(s: org.apache.spark.sql.SparkSession,
      v: DataFrame, base: String, cellSorted: String,
      cb: Map[Int, Seq[(Int, Seq[Long])]],
      tombstones: Option[DataFrame] = None): DataFrame = {
    val probes = v.where(col("vec_id") < PQ_CODES)
      .select(col("vec_id").as("q_id"),
        explode(expr(s"transform(slice($cellSorted, 1, 2), t -> t.j)")).as("pcell"))
      .localCheckpoint(true)
    val probedCells = probes.select(col("pcell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val servedAll = s.read.parquet(base)
      .where(col("cell").isin(probedCells: _*))
    // tombstoned serve: deleted ids never score — a broadcast anti-join
    // on the probed slice only (the stored files are untouched)
    val served = tombstones.fold(servedAll)(t =>
      servedAll.join(broadcast(t), Seq("c_id"), "left_anti"))
    val dtab = ivfPqDistTable(v, cb)
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("adc_d"), col("c_id"))
    served.join(broadcast(probes),
        col("cell") === col("pcell") && col("q_id") =!= col("c_id"))
      .join(broadcast(dtab),
        col("tq_id") === col("q_id") && col("m") === col("em") && col("j") === col("code"))
      .groupBy(col("q_id"), col("c_id")).agg(sum(col("d")).as("adc_d"))
      .withColumn("rnk", row_number().over(wTop))
      .where(col("rnk") <= 3)
      .select(col("q_id"), col("rnk"), col("c_id"), col("adc_d"))
      .orderBy(col("q_id"), col("rnk"))
  }

  private val simIvfPqPersisted = Q.scratch("ivfidx")(
    (s, dir, base) => {
      val v = NorthStarQueries.kmeansQuantizedIndex(s, dir)
      val cellSorted = ivfCellSortedExpr(v)
      val vc = v.withColumn("cell", expr(s"element_at($cellSorted, 1).j"))
      val cb = NorthStarQueries.pqCodebook(v)
      // BUILD: the stored index — (c_id, m, code) rows partitioned by cell
      ivfPqIndexRows(vc, cb)
        .write.mode("overwrite").partitionBy("cell").parquet(base)
      ivfPqServeStore(s, v, base, cellSorted, cb)
    },
    simIvfPq.oracle)

  /** Incremental IVF-PQ index maintenance — the ANN analog of
    * [[corpusUpsert]]: the index is first built from the vectors already
    * ingested (vec_id % 10 != 0), then the new arrivals (the remaining
    * tenth) are assigned to their cells and APPENDED to the
    * cell-partitioned store — no rebuild, no rewrite of existing files
    * (CurationSpec asserts the base files survive byte-identical). The
    * gate then serves the standard ADC search over the appended store
    * with the SAME oracle as the one-shot build: any lost, duplicated,
    * or mis-assigned appended vector changes the top-3 lists and
    * hash-fails.
    *
    * Scale: this is how a 100 TB vector index tracks a growing corpus —
    * per-batch work is one map-only assign+encode over the ARRIVALS plus
    * an append write into the cells they land in; search cost is
    * unchanged (partition-pruned to probed cells). Codebook/centroids
    * stay frozen across the append, exactly like production (drift is
    * [[simIvfBalance]]'s job to detect).
    */
  private val simIvfAppend = Q.scratch("ivfappend")(
    (s, dir, base) => {
      val v = NorthStarQueries.kmeansQuantizedIndex(s, dir)
      val cellSorted = ivfCellSortedExpr(v)
      val vc = v.withColumn("cell", expr(s"element_at($cellSorted, 1).j"))
      val cb = NorthStarQueries.pqCodebook(v)
      ivfPqIndexRows(vc.where(col("vec_id") % 10 =!= 0), cb)
        .write.mode("overwrite").partitionBy("cell").parquet(base)
      ivfPqIndexRows(vc.where(col("vec_id") % 10 === 0), cb)
        .write.mode("append").partitionBy("cell").parquet(base)
      ivfPqServeStore(s, v, base, cellSorted, cb)
    },
    simIvfPq.oracle)

  /** STREAMING IVF-PQ ingest — the continuous-arrival twin of
    * [[simIvfAppend]] (the r15 verdict's item 8): vectors land as files
    * in a directory; a stream assigns each micro-batch to its frozen
    * coarse cell, PQ-encodes it (map-only against the frozen codebook —
    * a stateless stream, exactly the production ANN ingest stage), and
    * appends through the parquet FILE SINK partitioned by cell, so
    * EXACTLY-ONCE is the sink's `_spark_metadata` transaction log. Two
    * landing files (the base nine-tenths, then the arrival tenth,
    * mtime-ordered) stream through one checkpoint; the stream is then
    * REPLAYED from the same checkpoint over the same input and the
    * query itself requires the store row count unchanged — a duplicated
    * append fails the gate loudly, not statistically. Serving is the
    * standard partition-pruned ADC search with the SAME oracle as the
    * one-shot [[simIvfPq]] build: any lost, duplicated, or mis-assigned
    * streamed vector changes the top-3 lists and hash-fails.
    *
    * Scale: per-micro-batch work is map-only assign+encode over the
    * arrivals plus a transactional append into the cells they touch;
    * the search I/O stays nprobe/C of the index via partition pruning.
    * The whole store lives under ONE file-sink log (a batch-written
    * base plus a streaming append would split visibility — Spark's
    * metadata-aware read ignores foreign files in a sink directory).
    */
  private val simIvfAppendStream = Q.scratch("ivfappendstream")(
    (s, dir, base) => {
      val v = NorthStarQueries.kmeansQuantizedIndex(s, dir)
      val cellSorted = ivfCellSortedExpr(v)
      val cb = NorthStarQueries.pqCodebook(v)
      val store = s"$base/store"
      Replay.land(s"$base/land", Seq(
        "batch0" -> v.where(col("vec_id") % 10 =!= 0),
        "batch1" -> v.where(col("vec_id") % 10 === 0)))
      val rows = ivfPqIndexRows(Replay.stream(s, s"$base/land", v.schema)
        .withColumn("cell", expr(s"element_at($cellSorted, 1).j")), cb)
      def run(): Unit =
        Replay.drain(rows, store, s"$base/cp", partitionBy = Seq("cell"))
      run()
      val n1 = s.read.parquet(store).count()
      run() // replay from the same checkpoint over the same input
      val n2 = s.read.parquet(store).count()
      require(n1 == n2,
        s"streaming IVF append replayed rows: $n1 -> $n2 (exactly-once broken)")
      ivfPqServeStore(s, v, store, cellSorted, cb)
    },
    simIvfPq.oracle)

  // ---------------------------------------------------------------------
  // PCA top component via integer power iteration
  // ---------------------------------------------------------------------

  /** Floor division that is identical in Spark and DuckDB for any sign
    * of `a` (b > 0): subtract the non-negative remainder, then the exact
    * quotient. Spark's `div` and DuckDB's `//` disagree on negative
    * operands (truncation vs floor); on an exactly-divisible numerator
    * they agree.
    */
  private def fdivSpark(a: String, b: String): String =
    s"(($a) - pmod($a, $b)) div ($b)"
  private def fdivSql(a: String, b: String): String =
    s"(($a) - ((($a) % ($b) + ($b)) % ($b))) // ($b)"

  /** PB — the power-iteration rescale bound 2^14: vectors are renormed
    * to max |v| = PB each round, keeping every matvec inside 63 bits
    * (|C| <= 2^28 after the /N scale, 64 terms, PB^2 = 2^28 headroom).
    */
  private val PB = 16384L

  /** Top principal direction of the embedding second-moment matrix via
    * SIX integer power-iteration rounds — the PCA/whitening prep that
    * decides which dimensions carry signal (and the scale path to
    * low-rank projection). The Gram matrix is built DISTRIBUTED (the
    * [[NorthStarQueries]] covariance shape: in-partition upper-triangle
    * pair explode absorbed by the partial hash agg, shuffle bounded by
    * dim^2, corpus read once); the 64x64 eigensolve itself is
    * dim^2-bounded and corpus-independent, so five rounds run on
    * driver-collected matrix rows (2080 of them — the same bounded-
    * collect justification as Lloyd's k x dim centroid pull) and the
    * SIXTH round runs in-plan: the returned DataFrame recomputes the
    * final matvec + rescale distributed from the corpus, so the gate
    * exercises the full pipeline.
    *
    * Every step is integer-exact: C = floordiv(sum_products, N) on the
    * 2^14 grid, matvec is bigint dot, rescale is floordiv(u * 2^14,
    * max|u|) — both engines replay the identical fixpoint, so the
    * loadings hash-match bitwise.
    */
  private val embedPcaPower = Q(
    (s, dir) => {
      val upper = gramUpper(s, dir).localCheckpoint(true)
      val full = upper.unionAll(
        upper.where(col("i") =!= col("j"))
          .select(col("j").as("i"), col("i").as("j"), col("sp"), col("n")))
      // five driver-side rounds over the dim^2-bounded collected matrix
      // (the checkpointed Gram is collected rather than re-scanned via
      // pcaLoadings — one corpus read for the whole query)
      val rows = full.collect()
        .map(r => ((r.getAs[Int]("i"), r.getAs[Int]("j")),
          Math.floorDiv(r.getAs[Long]("sp"), r.getAs[Long]("n"))))
      val vcur = pcaPowerRounds(rows.toMap, rows.map(_._1._1).max, 5)
      // sixth round distributed: matvec against the in-plan matrix
      val vLit = s"array(${vcur.mkString("L,")}L)"
      val u6 = full
        .withColumn("cij", expr(fdivSpark("sp", "n")))
        .withColumn("uterm", col("cij") * expr(s"element_at($vLit, j)"))
        .groupBy(col("i")).agg(sum(col("uterm")).as("u"))
      u6.crossJoin(broadcast(u6.agg(max(abs(col("u"))).as("umax"))))
        .select(col("i").as("dim"),
          expr(fdivSpark(s"u * $PB", "umax")).as("loading"))
        .orderBy(col("dim"))
    },
    Some(s"""WITH $pcaSqlCtes
            |SELECT cast(i as int) AS dim, x AS loading
            |FROM v6 ORDER BY dim""".stripMargin))

  // ---------------------------------------------------------------------
  // Range (radius) similarity search
  // ---------------------------------------------------------------------

  /** Range search — the OTHER ANN API: instead of top-k, return
    * everything within a similarity radius (cosine >= 0.25 here), the
    * query shape behind near-dup candidate pulls and "find everything
    * this similar" audits where k is unknowable a priori. Reported per
    * query: the in-range count and the cosine extremes (rounded once),
    * so result size stays bounded even when the radius catches a large
    * neighborhood.
    *
    * Scale: one broadcast-query corpus pass, map-only predicate on the
    * exact integer `scaled_dot` grid, then a query-keyed aggregate —
    * no rank window at all (range search has no k to prune to); the
    * production variant composes the same predicate with the LSH-bucket
    * or IVF-cell blocking the top-k family already demonstrates.
    */
  private val simRangeSearch = Q(
    (s, dir) => {
      val e = TS(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          expr("scaled_dot(embedding, embedding)").as("nrm"))
      val q = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("nq"))
      e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
          col("nrm").as("nc"))
        .join(broadcast(q), col("q_id") =!= col("c_id"))
        .withColumn("cos", cosine(expr("scaled_dot(q_emb, c_emb)"), "nq", "nc"))
        .where(col("cos") >= 0.25)
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_in_range"),
          round(max(col("cos")), 6).as("max_cos"),
          round(min(col("cos")), 6).as("min_cos"))
        // re-anchor on the 16-query spine (the simSq8Recall pattern):
        // a query with NO in-range neighbor still reports its row
        // (n_in_range = 0, null extremes) — "reported per query" holds
        // on sparser data instead of silently dropping the query
        .join(q.select(col("q_id")), Seq("q_id"), "right_outer")
        .select(col("q_id"),
          coalesce(col("n_in_range"), lit(0L)).as("n_in_range"),
          col("max_cos"), col("min_cos"))
        .orderBy(col("q_id"))
    },
    Some(s"""WITH e AS (
            |  SELECT vec_id, embedding,
            |    ${scaledDotSql("embedding", "embedding")} AS nrm
            |  FROM embeddings
            |), q AS (
            |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS nq
            |  FROM e WHERE vec_id < 16
            |), p AS (
            |  SELECT q.q_id,
            |    ${cosineSql(scaledDotSql("q.q_emb", "c.embedding"), "q.nq", "c.nrm")} AS cos
            |  FROM q JOIN e c ON q.q_id <> c.vec_id
            |), a AS (
            |  SELECT q_id, count(*) AS n_in_range,
            |    round(max(cos), 6) AS max_cos, round(min(cos), 6) AS min_cos
            |  FROM p WHERE cos >= 0.25
            |  GROUP BY q_id
            |)
            |SELECT q.q_id, cast(coalesce(a.n_in_range, 0) as bigint) AS n_in_range,
            |  a.max_cos, a.min_cos
            |FROM q LEFT JOIN a ON a.q_id = q.q_id
            |ORDER BY q.q_id""".stripMargin))

  // ---------------------------------------------------------------------
  // Deterministic corpus shuffle (training-order assignment)
  // ---------------------------------------------------------------------

  /** Deterministic corpus shuffle — the reproducible training-order
    * assignment every run needs: each document's position is its rank
    * under a salted content-id hash, so the "random" order is a pure
    * function of the corpus (re-runs and re-ingests see the same order)
    * and sources interleave uniformly. Reported per source: count and
    * position stats — a skewed mean position would mean one source
    * clusters early/late in the epoch (the bug hash-ordering exists to
    * prevent).
    *
    * Scale: the global rank is computed WITHOUT a single-reducer
    * window, via the [[NorthStarQueries]] textPack decomposition — the
    * hash's first byte is the range block (the block id is a PREFIX of
    * the sort key, so block-major order IS global key order), each
    * block ranks locally in parallel, and the 256-row block-count
    * cumsum broadcasts back as bases. The oracle uses a plain global
    * row_number; hash equality of the two is the proof the
    * decomposition is exact.
    */
  private val corpusShuffle = Q(
    (s, dir) => {
      val keyed = T(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(concat(lit("shuf:"), col("doc_id").cast("string"))).as("k"))
        .withColumn("block",
          expr("cast(conv(substring(k, 1, 2), 16, 10) as int)"))
      val wLocal = Window.partitionBy(col("block")).orderBy(col("k"), col("doc_id"))
      val wBlocks = Window.orderBy(col("block"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bases = keyed.groupBy(col("block")).agg(count(lit(1)).as("bcnt"))
        .withColumn("base", sum(col("bcnt")).over(wBlocks) - col("bcnt"))
        .select(col("block"), col("base"))
      keyed
        .withColumn("lrank", row_number().over(wLocal))
        .join(broadcast(bases), Seq("block"))
        .withColumn("pos", col("base") + col("lrank"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("pos")).as("min_pos"),
          max(col("pos")).as("max_pos"),
          round(sum(col("pos")).cast("double") / count(lit(1)), 6).as("mean_pos"))
        .orderBy(col("source"))
    },
    Some("""WITH keyed AS (
           |  SELECT doc_id, source, md5('shuf:' || cast(doc_id as varchar)) AS k
           |  FROM documents
           |), p AS (
           |  SELECT source,
           |    row_number() OVER (ORDER BY k, doc_id) AS pos
           |  FROM keyed
           |)
           |SELECT source, count(*) AS n_docs,
           |  min(pos) AS min_pos, max(pos) AS max_pos,
           |  round(cast(sum(pos) as double) / count(*), 6) AS mean_pos
           |FROM p GROUP BY source ORDER BY source""".stripMargin))

  // ---------------------------------------------------------------------
  // Training-shard writer (the pipeline's output stage)
  // ---------------------------------------------------------------------

  /** Training-shard writer — the write a real 100 TB run END IN: every
    * document gets a deterministic shard from its position in the
    * [[corpusShuffle]] training order (shard k = the k-th contiguous
    * range of the shuffled order, so one shard = one training-order
    * slice), the doc-level assignment is WRITTEN as shard-partitioned
    * parquet, and the per-shard manifest — doc/token counts, position
    * span, a contiguity audit, an order-independent content
    * fingerprint — is computed by READING THE SHARDS BACK, so the gate
    * hashes what the files actually contain, not what the plan meant
    * to write.
    *
    * Determinism: position reuses the corpusShuffle salted-md5 rank
    * (block-decomposed, no single-reducer window); the shard index is
    * `(pos-1) * S div N` (integer floor, N broadcast from a 1-row agg);
    * the fingerprint sums each doc's first-8-hex-of-sha256 as exact
    * bigints — order-independent, so it is stable under any read-back
    * row order and any engine.
    *
    * Scale: one corpus shuffle for the rank, one partitioned write
    * (shard-keyed, S output dirs), one read-back aggregate keyed by
    * shard. The manifest is S rows; nothing corpus-sized ever reaches
    * the driver. `contiguous` must be true for every shard — the audit
    * that the rank decomposition and the shard math agree.
    */
  private val corpusShardManifest = Q.scratch("shards")(
    (s, dir, base) => {
      val S = 8
      val keyed = T(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_toks"),
          sha2(col("text"), 256).as("sha"),
          md5(concat(lit("shuf:"), col("doc_id").cast("string"))).as("k"))
        .withColumn("block",
          expr("cast(conv(substring(k, 1, 2), 16, 10) as int)"))
      val wLocal = Window.partitionBy(col("block")).orderBy(col("k"), col("doc_id"))
      val wBlocks = Window.orderBy(col("block"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bases = keyed.groupBy(col("block")).agg(count(lit(1)).as("bcnt"))
        .withColumn("base", sum(col("bcnt")).over(wBlocks) - col("bcnt"))
        .select(col("block"), col("base"))
      val total = keyed.agg(count(lit(1)).as("n_total"))
      val assigned = keyed
        .withColumn("lrank", row_number().over(wLocal))
        .join(broadcast(bases), Seq("block"))
        .withColumn("pos", col("base") + col("lrank"))
        .crossJoin(broadcast(total))
        .withColumn("shard_id", expr(s"(pos - 1) * $S div n_total"))
        .select(col("doc_id"), col("source"), col("n_toks"), col("sha"),
          col("pos"), col("shard_id"))
      assigned.write.mode("overwrite").partitionBy("shard_id").parquet(base)
      s.read.parquet(base)
        .groupBy(col("shard_id").cast("long").as("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          countDistinct(col("source")).as("n_sources"),
          min(col("pos")).as("min_pos"),
          max(col("pos")).as("max_pos"),
          sum(expr("cast(conv(substring(sha, 1, 8), 16, 10) as bigint)"))
            .as("content_fp"))
        .withColumn("contiguous", col("max_pos") - col("min_pos") + 1 === col("n_docs"))
        .orderBy(col("shard_id"))
    },
    Some("""WITH keyed AS (
           |  SELECT doc_id, source,
           |    cast(len(string_split(text, ' ')) as bigint) AS n_toks,
           |    sha256(text) AS sha,
           |    md5('shuf:' || cast(doc_id as varchar)) AS k
           |  FROM documents
           |), p AS (
           |  SELECT doc_id, source, n_toks, sha,
           |    row_number() OVER (ORDER BY k, doc_id) AS pos,
           |    count(*) OVER () AS n_total
           |  FROM keyed
           |), a AS (
           |  SELECT doc_id, source, n_toks, sha, pos,
           |    (pos - 1) * 8 // n_total AS shard_id
           |  FROM p
           |)
           |SELECT cast(shard_id as bigint) AS shard_id,
           |  count(*) AS n_docs,
           |  cast(sum(n_toks) as bigint) AS n_tokens,
           |  cast(count(DISTINCT source) as bigint) AS n_sources,
           |  min(pos) AS min_pos, max(pos) AS max_pos,
           |  cast(sum(cast('0x' || substr(sha, 1, 8) as bigint)) as bigint) AS content_fp,
           |  (max(pos) - min(pos) + 1 = count(*)) AS contiguous
           |FROM a GROUP BY shard_id ORDER BY shard_id""".stripMargin))

  // ---------------------------------------------------------------------
  // N-gram novelty (per-document diversity contribution)
  // ---------------------------------------------------------------------

  /** Per-document n-gram NOVELTY: the fraction of a document's distinct
    * word-3-grams whose global first occurrence (min doc_id over the
    * corpus) is this document — the "what does this doc add that the
    * corpus didn't already have" signal diversity-aware selection ranks
    * by (the complement of the containment/near-dup signals: those find
    * redundancy, this finds contribution).
    *
    * Determinism: first occurrence is an exact min over doc_ids;
    * novelty is integer parts-per-million of exact counts.
    *
    * Scale: one corpus shingle pass -> (doc, gram) distinct (gram-keyed
    * shuffle with map-side partials), one gram-keyed min aggregate, one
    * gram-keyed join back, one doc-keyed rollup — every stage keyed and
    * partial-aggregable, nothing driver-side, same plan family as
    * `ns_corpus_vocab_growth`'s first-occurrence decomposition.
    */
  private val textNovelty = Q(
    (s, dir) => {
      // r21 (guide §2.4 — remove the shuffle outright): n_novel per doc
      // is countable from the first-occurrence table ALONE (one row per
      // gram), so the old gram-keyed join-back of the FULL (doc, gram)
      // frame — the documented 2.6x@10x growth axis — disappears. Both
      // consumers read the materialized distinct set (the bm25
      // postings-materialize precedent: the two branches prune
      // different columns, so exchange reuse would silently break and
      // re-run the tokenize without the checkpoint); every exchange
      // after it carries partial-aggregated rows only. Docs whose every
      // gram was seen earlier take the coalesce-0 default — exactly the
      // zero the old sum(when) computed for them.
      val grams = TS(s, dir, "documents")
        .select(col("doc_id"),
          explode(expr(NorthStarQueries.shinglesExpr)).as("g"))
        .distinct()
        .localCheckpoint(true)
      val nGrams = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      val novel = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
        .groupBy(col("first_doc").as("doc_id")).agg(count(lit(1)).as("n_novel"))
      nGrams.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .withColumn("novelty_ppm", expr("n_novel * 1000000 div n_grams"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH raw AS (
            |  SELECT doc_id, unnest(${NorthStarQueries.shinglesSql}) AS g
            |  FROM documents
            |), g AS (
            |  SELECT DISTINCT doc_id, g FROM raw
            |), f AS (
            |  SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g
            |)
            |SELECT g.doc_id, count(*) AS n_grams,
            |  cast(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) as bigint)
            |    AS n_novel,
            |  cast((cast(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) as bigint)
            |    * 1000000) // count(*) as bigint) AS novelty_ppm
            |FROM g JOIN f ON f.g = g.g
            |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin))

  // ---------------------------------------------------------------------
  // Context-length planning profile (truncation / padding accounting)
  // ---------------------------------------------------------------------

  /** Context-length planning profile: for each candidate context size,
    * the exact truncation loss (docs clipped to one window) and padding
    * waste (one doc per sequence, long docs split) the corpus would
    * incur — the numbers a pipeline reads BEFORE committing to a
    * context size and packing strategy (the planning complement of
    * `ns_text_pack` / `ns_corpus_pack_greedy`, which execute one
    * chosen layout).
    *
    * Scale: ONE corpus pass; the 4-way context expansion explodes
    * map-side and is absorbed by the 4-group partial aggregate, so the
    * shuffle carries 4 rows per partition regardless of corpus size.
    * All counters are exact integers (ppm floor-division), so the
    * cross-engine hash is stable at any corpus size.
    */
  private val corpusCtxProfile = Q(
    (s, dir) => {
      TS(s, dir, "documents")
        .select(expr("cast(size(filter(split(text, ' '), t -> length(t) > 0)) as bigint)")
          .as("n_toks"))
        .select(col("n_toks"),
          explode(expr("array(cast(128 as bigint), cast(256 as bigint), " +
            "cast(512 as bigint), cast(1024 as bigint))")).as("ctx"))
        .groupBy(col("ctx"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_tokens"),
          sum(when(col("n_toks") > col("ctx"), 1L).otherwise(0L)).as("trunc_docs"),
          sum(greatest(col("n_toks") - col("ctx"), lit(0L))).as("trunc_lost"),
          sum(expr("(n_toks + ctx - 1) div ctx")).as("pad_sequences"),
          sum(expr("((n_toks + ctx - 1) div ctx) * ctx - n_toks")).as("pad_waste"))
        .withColumn("trunc_lost_ppm", expr("trunc_lost * 1000000 div total_tokens"))
        .withColumn("pad_waste_ppm",
          expr("pad_waste * 1000000 div (pad_sequences * ctx)"))
        .select(col("ctx"), col("n_docs"), col("trunc_docs"), col("trunc_lost"),
          col("trunc_lost_ppm"), col("pad_sequences"), col("pad_waste"),
          col("pad_waste_ppm"))
        .orderBy(col("ctx"))
    },
    Some("""WITH d AS (
           |  SELECT cast(len(list_filter(string_split(text, ' '),
           |    t -> len(t) > 0)) as bigint) AS n_toks
           |  FROM documents
           |), x AS (
           |  SELECT n_toks, cast(c.ctx as bigint) AS ctx
           |  FROM d CROSS JOIN (SELECT unnest([128, 256, 512, 1024]) AS ctx) c
           |)
           |SELECT ctx, count(*) AS n_docs,
           |  cast(sum(CASE WHEN n_toks > ctx THEN 1 ELSE 0 END) as bigint) AS trunc_docs,
           |  cast(sum(greatest(n_toks - ctx, 0)) as bigint) AS trunc_lost,
           |  cast((cast(sum(greatest(n_toks - ctx, 0)) as bigint) * 1000000)
           |    // cast(sum(n_toks) as bigint) as bigint) AS trunc_lost_ppm,
           |  cast(sum((n_toks + ctx - 1) // ctx) as bigint) AS pad_sequences,
           |  cast(sum(((n_toks + ctx - 1) // ctx) * ctx - n_toks) as bigint) AS pad_waste,
           |  cast((cast(sum(((n_toks + ctx - 1) // ctx) * ctx - n_toks) as bigint) * 1000000)
           |    // (cast(sum((n_toks + ctx - 1) // ctx) as bigint) * ctx) as bigint)
           |    AS pad_waste_ppm
           |FROM x GROUP BY ctx ORDER BY ctx""".stripMargin))

  // ---------------------------------------------------------------------
  // Small-file compaction (ingest housekeeping)
  // ---------------------------------------------------------------------

  /** Small-file COMPACTION — the housekeeping pass every long-running
    * ingest needs: a fragmented shard store (many small part files per
    * shard dir, what micro-batch appends and wide-parallelism writes
    * leave behind) is rewritten to one file per shard, clustering on
    * the partition column so each shard lands in exactly one task. The
    * query's OUTPUT is computed from the COMPACTED files — per-shard
    * doc counts and an order-independent content fingerprint that the
    * oracle recomputes from the source table — so a compaction that
    * lost, duplicated, or cross-assigned a single row hash-fails the
    * gate. The physical claim (files collapse to one per shard) is
    * asserted in CurationSpec.
    *
    * Scale: both writes are one corpus pass each; the compact
    * clustering is a single shard-keyed exchange (S partitions); at
    * 100 TB the same plan compacts per-shard subtrees independently
    * and the fingerprint lets an auditor verify any shard without
    * re-reading the rest.
    */
  private val corpusCompact = Q.scratch("compact")(
    (s, dir, base) => {
      val S = 8
      T(s, dir, "documents")
        .withColumn("shard_id",
          pmod(expr("cast(conv(substring(md5(concat('shard:', " +
            "cast(doc_id as string))), 1, 8), 16, 10) as bigint)"), lit(S.toLong)))
        .repartition(32) // the fragmented ingest state: many files/shard
        .write.mode("overwrite").partitionBy("shard_id").parquet(s"$base/frag")
      s.read.parquet(s"$base/frag")
        .repartition(S, col("shard_id")) // cluster: one task -> one file per shard
        .write.mode("overwrite").partitionBy("shard_id").parquet(s"$base/compact")
      s.read.parquet(s"$base/compact")
        .groupBy(col("shard_id").cast("long").as("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("cast(conv(substring(sha2(text, 256), 1, 8), 16, 10) as bigint)"))
            .as("content_fp"))
        .orderBy(col("shard_id"))
    },
    Some("""SELECT
           |  cast('0x' || substr(md5('shard:' || cast(doc_id as varchar)), 1, 8)
           |    as bigint) % 8 AS shard_id,
           |  count(*) AS n_docs,
           |  cast(sum(cast('0x' || substr(sha256(text), 1, 8) as bigint)) as bigint)
           |    AS content_fp
           |FROM documents
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  // ---------------------------------------------------------------------
  // Perplexity-bucket partitioning (the CCNet output layout)
  // ---------------------------------------------------------------------

  /** CCNet-style quality bucketing: every document lands in the head /
    * middle / tail third of the corpus by its bigram-LM score (the
    * [[NorthStarQueries]] `ns_text_ngram_lm` fixed-point conditional-
    * probability average — higher = more predictable = cleaner text),
    * with documents too short to score (no bigrams) split out as
    * `empty`. This is the partitioning CCNet publishes its crawls in,
    * and the knob mixture builders sample against.
    *
    * Determinism: per-doc scores are exact bigints (the LM pipeline's
    * `(c12 * 2^20) div c1` fixed point, floor-averaged per doc); the
    * two tercile cutoffs are ONE exact interpolated percentile per
    * engine (the `agg_percentiles_exact`-proven quantile_cont parity)
    * broadcast back as scalars; bucket membership compares exact
    * bigints against those two doubles.
    *
    * Scale: the LM count tables are vocabulary-bounded; the doc-score
    * aggregate shuffles (doc, bigram-count) rows once; the percentile
    * runs over one bigint per doc and its two-row result broadcasts —
    * no corpus-sized sort, no second text pass.
    */
  private val corpusPplBuckets = Q(
    (s, dir) => {
      val bigrams = NorthStarQueries.docBigrams(s, dir)
      val c12 = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val c1 = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val qa = bigrams
        .join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
        .withColumn("q", expr("c12 * 1048576 div c1"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("q_sum"))
        .select(col("doc_id"), expr("q_sum div n_bigrams").as("q_avg"))
      val cut = qa.agg(
        expr("percentile(q_avg, 0.3333333333333333)").as("c1v"),
        expr("percentile(q_avg, 0.6666666666666666)").as("c2v"))
      T(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .join(qa, Seq("doc_id"), "left")
        .crossJoin(broadcast(cut))
        .withColumn("bucket",
          when(col("q_avg").isNull, "empty")
            .when(col("q_avg") > col("c2v"), "head")
            .when(col("q_avg") > col("c1v"), "middle")
            .otherwise("tail"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("q_avg")).as("min_q_avg"),
          max(col("q_avg")).as("max_q_avg"))
        .orderBy(col("bucket"))
    },
    Some(s"""WITH bg AS (
            |${NorthStarQueries.docBigramsSql}
            |), c12 AS (
            |  SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
            |), c1 AS (
            |  SELECT w1, count(*) AS c1 FROM bg GROUP BY w1
            |), qa AS (
            |  SELECT doc_id,
            |    cast(sum((c12.c12 * 1048576) // c1.c1) as bigint)
            |      // count(*) AS q_avg
            |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
            |  GROUP BY doc_id
            |), cut AS (
            |  SELECT quantile_cont(q_avg, 0.3333333333333333) AS c1v,
            |         quantile_cont(q_avg, 0.6666666666666666) AS c2v
            |  FROM qa
            |), b AS (
            |  SELECT d.doc_id, d.n_chars, qa.q_avg,
            |    CASE WHEN qa.q_avg IS NULL THEN 'empty'
            |         WHEN qa.q_avg > cut.c2v THEN 'head'
            |         WHEN qa.q_avg > cut.c1v THEN 'middle'
            |         ELSE 'tail' END AS bucket
            |  FROM documents d LEFT JOIN qa ON d.doc_id = qa.doc_id, cut
            |)
            |SELECT bucket, count(*) AS n_docs,
            |  cast(sum(n_chars) as bigint) AS sum_chars,
            |  min(q_avg) AS min_q_avg, max(q_avg) AS max_q_avg
            |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin))

  // ---------------------------------------------------------------------
  // Multimodal frame sampling (gated twin of Multimodal.sampleFrames)
  // ---------------------------------------------------------------------

  /** REAL KEYFRAME SAMPLING (r20 re-point — the frame row graduates
    * from stub slicing): 25 nation-keyed MP4 movies with full sample
    * tables ([[graft.operators.Multimodal.mp4MovieBytes]] — two-run
    * stts, explicit video stsz, stsc/stco chunk layout, stss sync
    * list) run through the REAL operator
    * [[graft.operators.Multimodal.sampleFrames]], which resolves stss
    * sample numbers through stsc/stco/stsz to mdat byte ranges and
    * picks up to 4 keyframes evenly across the sync list (i*K/4,
    * deduplicated — short lists emit fewer frames). The oracle replays
    * the fixture closed form: keyframe sample j carries bytes
    * (tag*13 + j*7) % 256, so a wrong chunk walk, a mis-resolved
    * offset, or an off-by-one sample number changes the hex and
    * hash-fails. Non-MP4 payloads keep the documented even-slice
    * fallback (NorthStarSpec covers it).
    *
    * Scale: the parseAll narrow shape — per-file table walk + bounded
    * slice extraction, one row in / <=4 tiny rows out, no shuffle
    * before the gate sort; mdat is touched only at the selected
    * keyframe offsets.
    */
  private val multimodalFrames = Q.media("mp4frames")(
    k => graft.operators.Multimodal.mp4MovieBytes(
      k, 6 + k % 5, 2 + k % 3, 3 + k % 4),
    (_, scanned) => {
      graft.operators.Multimodal.sampleFrames(scanned.select(
        col("file_id").as("doc_id"), col("content").as("payload"))).toDF()
        .select(col("docId").as("file_id"), col("frameIdx").as("frame_idx"),
          length(col("frame")).as("n_bytes"),
          lower(hex(col("frame"))).as("frame_hex"))
        .orderBy(col("file_id"), col("frame_idx"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(6 + n_nationkey % 5 as bigint) AS nv,
           |    cast(2 + n_nationkey % 3 as bigint) AS kf
           |  FROM nation
           |), kk AS (
           |  SELECT k, kf, (nv + kf - 1) // kf AS nk FROM g
           |), sel AS (
           |  SELECT DISTINCT k, kf, (t.i * nk) // 4 AS s
           |  FROM kk, unnest(generate_series(0, 3)) AS t(i)
           |  WHERE (t.i * nk) // 4 < nk
           |), fr AS (
           |  SELECT k, cast(row_number() OVER (PARTITION BY k ORDER BY s) - 1
           |      as int) AS frame_idx,
           |    s * kf AS j0
           |  FROM sel
           |)
           |SELECT k AS file_id, frame_idx, cast(8 as int) AS n_bytes,
           |  repeat(lpad(lower(hex((k * 13 + j0 * 7) % 256)), 2, '0'), 8)
           |    AS frame_hex
           |FROM fr ORDER BY file_id, frame_idx""".stripMargin))

  /** MP4 SAMPLE-TABLE CENSUS — the per-track read a video curation
    * pass gates on before spending decode cycles, the r19 verdict's
    * named gap past the box census: exact per-track duration (stts
    * runs against the mdhd timescale), sample count + byte volume
    * (stsz, BOTH forms — explicit video table, uniform audio size),
    * and keyframe count (stss; absent stss = every sample is sync per
    * spec, reported with has_stss=false).
    * [[graft.operators.Multimodal.mp4SampleStats]] validates the
    * tables against each other — stts totals vs stsz count, the stsc
    * chunk walk covering samples exactly, stss numbers in-range and
    * ascending, every sample inside the file — and every 7th fixture
    * carries a LYING stsz count that must reject whole-file
    * (valid=false), never a partial census.
    *
    * Scale: the parseAll narrow shape — table walk per file, a few
    * longs per track leave the map side; mdat is never read.
    */
  private val multimodalMp4Samples = Q.media("mp4samples")(
    k => graft.operators.Multimodal.mp4MovieBytes(
      k, 6 + k % 5, 2 + k % 3, 4 + k % 4, corrupt = k % 7 == 6),
    (s, scanned) => {
      import s.implicits._
      scanned.as[(Long, Array[Byte])]
        .flatMap { case (id, bytes) =>
          graft.operators.Multimodal.mp4SampleStats(bytes) match {
            case Some(tracks) => tracks.map { case (ti, h, tsc, n, dt, dm,
                tb, nk, hs) => (id, ti, h, tsc, n, dt, dm, tb, nk, hs, true) }
            case None =>
              Seq((id, -1L, "", 0L, 0L, 0L, 0L, 0L, 0L, false, false))
          }
        }
        .toDF("file_id", "track_idx", "handler", "timescale", "n_samples",
          "duration_ticks", "dur_ms", "total_bytes", "n_keyframes",
          "has_stss", "valid")
        .orderBy(col("file_id"), col("track_idx"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(6 + n_nationkey % 5 as bigint) AS nv,
           |    cast(2 + n_nationkey % 3 as bigint) AS kf,
           |    cast(4 + n_nationkey % 4 as bigint) AS na,
           |    (n_nationkey % 7 = 6) AS bad
           |  FROM nation
           |), rows_ AS (
           |  SELECT k, 0 AS track_idx, 'vide' AS handler, 600 AS timescale,
           |    nv AS n_samples,
           |    (nv // 2) * 20 + (nv - nv // 2) * 30 AS duration_ticks,
           |    ((nv // 2) * 20 + (nv - nv // 2) * 30) * 1000 // 600 AS dur_ms,
           |    (nv // 3) * 36 + CASE WHEN nv % 3 = 1 THEN 8
           |      WHEN nv % 3 = 2 THEN 20 ELSE 0 END AS total_bytes,
           |    (nv + kf - 1) // kf AS n_keyframes, true AS has_stss
           |  FROM g WHERE NOT bad
           |  UNION ALL
           |  SELECT k, 1, 'soun', 8000, na, na * 160, na * 20, na * 6, na,
           |    false
           |  FROM g WHERE NOT bad
           |  UNION ALL
           |  SELECT k, -1, '', 0, 0, 0, 0, 0, 0, false FROM g WHERE bad
           |)
           |SELECT k AS file_id, cast(track_idx as bigint) AS track_idx,
           |  handler, cast(timescale as bigint) AS timescale,
           |  cast(n_samples as bigint) AS n_samples,
           |  cast(duration_ticks as bigint) AS duration_ticks,
           |  cast(dur_ms as bigint) AS dur_ms,
           |  cast(total_bytes as bigint) AS total_bytes,
           |  cast(n_keyframes as bigint) AS n_keyframes,
           |  has_stss, (track_idx >= 0) AS valid
           |FROM rows_ ORDER BY file_id, track_idx""".stripMargin))

  // ---------------------------------------------------------------------
  // Graph-expansion ANN search (2-hop over the k-NN graph)
  // ---------------------------------------------------------------------

  /** Graph-expansion ANN — the NN-descent / HNSW-family search idea in
    * its batch form: seed each query with its sign-LSH bucket mates,
    * expand ONE hop through the k-NN graph (neighbors-of-seeds recover
    * true neighbors that hashed into other buckets), then exact-cosine
    * re-rank the candidate union to a top-5. Complements IVF-PQ: same
    * recall-recovery goal, graph structure instead of coarse cells.
    *
    * Scale: the edge list is [[NorthStarQueries.knnEdges]] (bucket-equi
    * join, rank-pruned to 3 edges/vector) over the checkpointed bucketed
    * frame, itself checkpointed for the hop-2 join; per query the
    * candidate set is bucket mates + 3x that many hop-2 rows —
    * corpus-independent for bounded buckets; the exact re-rank joins
    * candidate ids back to the corpus by key.
    * Ranking uses the exact integer `scaled_dot` grid, ties to c_id, so
    * both engines agree bitwise.
    */
  private val simKnn2Hop = Q(
    (s, dir) => {
      // five consumers: both sides of the edge build, the query set, the
      // hop-1 seeds and the re-rank join
      val e = bucketed(s, dir).localCheckpoint(true)
      // one consumer (the hop-2 join), checkpointed anyway: built inline,
      // the edge job moves from construct into exec, and exec grew by
      // 37% and 109% in two sf0.01 runs with construct + exec no lower
      val edges = knnEdges(e).select(col("a_id"), col("b_id"))
        .localCheckpoint(true)
      val q = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("nq"), col("bucket").as("q_bucket"))
      // hop 1: bucket mates of the query
      val seeds = broadcast(q.select(col("q_id"), col("q_bucket")))
        .join(e.select(col("vec_id").as("c_id"), col("bucket")),
          col("q_bucket") === col("bucket") && col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"))
      // hop 2: k-NN neighbors of the seeds
      val hop2 = seeds.join(edges, seeds("c_id") === edges("a_id"))
        .where(col("q_id") =!= col("b_id"))
        .select(col("q_id"), col("b_id").as("c_id"))
      val cand = seeds.unionAll(hop2).distinct()
      val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
      cand
        .join(e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
          col("nrm").as("nc")), Seq("c_id"))
        .join(broadcast(q.select(col("q_id"), col("q_emb"), col("nq"))), Seq("q_id"))
        .withColumn("cos", cosine(expr("scaled_dot(q_emb, c_emb)"), "nq", "nc"))
        .withColumn("rnk", row_number().over(wTop))
        .where(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("c_id"), round(col("cos"), 6).as("cos_sim"))
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(s"""WITH $bucketedSqlCte, $knnSqlCte, q AS (
            |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS nq, bucket AS q_bucket
            |  FROM e WHERE vec_id < 16
            |), seeds AS (
            |  SELECT q.q_id, e.vec_id AS c_id FROM q JOIN e
            |    ON q.q_bucket = e.bucket AND q.q_id <> e.vec_id
            |), hop2 AS (
            |  SELECT s.q_id, ed.b_id AS c_id FROM seeds s
            |  JOIN knn ed ON s.c_id = ed.a_id
            |  WHERE s.q_id <> ed.b_id
            |), cand AS (
            |  SELECT DISTINCT q_id, c_id FROM (
            |    SELECT * FROM seeds UNION ALL SELECT * FROM hop2)
            |), scored AS (
            |  SELECT cand.q_id, cand.c_id,
            |    ${cosineSql(scaledDotSql("q.q_emb", "c.embedding"), "q.nq", "c.nrm")} AS cos
            |  FROM cand
            |  JOIN e c ON c.vec_id = cand.c_id
            |  JOIN q ON q.q_id = cand.q_id
            |), r AS (
            |  SELECT q_id, c_id, cos,
            |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
            |  FROM scored
            |)
            |SELECT q_id, rnk, c_id, round(cos, 6) AS cos_sim
            |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin))

  // ---------------------------------------------------------------------
  // PCA projection (the dimensionality-reduction application)
  // ---------------------------------------------------------------------

  /** Shared integer power iteration (the [[embedPcaPower]] fixpoint) run
    * fully driver-side over the collected dim²-bounded Gram matrix:
    * returns the round-`iters` loadings. Driver-side is the right place
    * for the O(dim²) eigensolve at ANY corpus scale — the corpus-sized
    * work (the Gram build) stays distributed in the caller.
    */
  private def pcaLoadings(s: org.apache.spark.sql.SparkSession, dir: String,
                          iters: Int): Array[Long] = {
    val rows = gramUpper(s, dir).collect()
      .flatMap { r =>
        val c = Math.floorDiv(r.getAs[Long]("sp"), r.getAs[Long]("n"))
        val (i, j) = (r.getAs[Int]("i"), r.getAs[Int]("j"))
        if (i == j) Seq(((i, j), c)) else Seq(((i, j), c), ((j, i), c))
      }
    pcaPowerRounds(rows.toMap, rows.map(_._1._1).max, iters)
  }

  /** Distributed Gram build shared by [[embedPcaPower]] and
    * [[pcaLoadings]]: in-partition upper-triangle pair explode absorbed
    * by the partial hash agg, shuffle bounded by dim^2, corpus read
    * once. One definition so the two PCA queries cannot drift apart.
    */
  private def gramUpper(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    NorthStarQueries.kmeansQuantized(s, dir)
      .select(col("xq"))
      .select(posexplode(col("xq")).as(Seq("i0", "xi")), col("xq"))
      .select(col("i0"), col("xi"),
        posexplode(expr("slice(xq, i0 + 1, size(xq) - i0)")).as(Seq("dj", "xj")))
      .select((col("i0") + 1).as("i"), (col("i0") + 1 + col("dj")).as("j"),
        (col("xi") * col("xj")).as("p"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("p")).as("sp"), count(lit(1)).as("n"))

  /** The driver-side integer power fixpoint over the collected
    * dim^2-bounded matrix — ONE implementation so both PCA queries replay
    * bit-identical rounds (floordiv matvec + floordiv rescale on the
    * 2^14 grid).
    */
  private def pcaPowerRounds(c: Map[(Int, Int), Long], dims: Int,
                             iters: Int): Array[Long] = {
    var vcur = Array.fill(dims)(PB)
    for (_ <- 1 to iters) {
      val u = (1 to dims).map(i =>
        (1 to dims).map(j => c.getOrElse((i, j), 0L) * vcur(j - 1)).sum).toArray
      val m = u.map(math.abs).max
      vcur = u.map(x => Math.floorDiv(x * PB, m))
    }
    vcur
  }

  /** The matching oracle preamble: CTEs ending in `v6(i, x)` — the same
    * six floordiv power rounds [[embedPcaPower]] documents.
    */
  private def pcaSqlCtes: String = {
    val matvec = (vRel: String, uRel: String, vNext: String) =>
      s"""$uRel AS (
         |  SELECT c.i, cast(sum(c.c * $vRel.x) as bigint) AS u
         |  FROM c JOIN $vRel ON c.j = $vRel.i GROUP BY c.i
         |), ${uRel}m AS (SELECT max(abs(u)) AS mm FROM $uRel
         |), $vNext AS (
         |  SELECT i, ${fdivSql(s"u * $PB", "mm")} AS x FROM $uRel, ${uRel}m
         |)""".stripMargin
    s"""v AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> cast(floor(x::double * $PB) as bigint)) AS xq
       |  FROM embeddings
       |), a AS (
       |  SELECT xq, unnest(generate_series(1, len(xq))) AS i FROM v
       |), pp AS (
       |  SELECT xq, i, unnest(generate_series(i, len(xq))) AS j FROM a
       |), up AS (
       |  SELECT i, j, cast(sum(xq[i] * xq[j]) as bigint) AS sp, count(*) AS n
       |  FROM pp GROUP BY i, j
       |), m AS (
       |  SELECT i, j, sp, n FROM up
       |  UNION ALL
       |  SELECT j AS i, i AS j, sp, n FROM up WHERE i <> j
       |), c AS (
       |  SELECT i, j, ${fdivSql("sp", "n")} AS c FROM m
       |), v0 AS (
       |  SELECT unnest(generate_series(1, (SELECT max(i) FROM c))) AS i, $PB AS x
       |), ${matvec("v0", "u1", "v1")},
       |${matvec("v1", "u2", "v2")},
       |${matvec("v2", "u3", "v3")},
       |${matvec("v3", "u4", "v4")},
       |${matvec("v4", "u5", "v5")},
       |${matvec("v5", "u6", "v6")}""".stripMargin
  }

  /** PCA projection — the application of [[embedPcaPower]]'s component:
    * every vector's exact integer projection onto the top principal
    * direction, reported as the 10 most-extreme vectors (|p| desc) —
    * the outlier/diversity audit a whitening pipeline runs before
    * committing to a low-rank layout.
    *
    * Scale: loadings come from the driver-side fixpoint over the
    * dim²-bounded Gram matrix (built distributed, collected at 2080
    * rows); the projection pass is map-only against the loading
    * literals; top-10 by (|p|, vec_id) is an orderBy+limit =
    * TakeOrderedAndProject (per-partition heaps, no global sort).
    */
  private val embedPcaProject = Q(
    (s, dir) => {
      val v6 = pcaLoadings(s, dir, 6)
      val vArr = s"array(${v6.mkString("L,")}L)"
      NorthStarQueries.kmeansQuantized(s, dir)
        .withColumn("p", expr(
          s"aggregate(zip_with(xq, $vArr, (x, v) -> x * v), cast(0 as bigint), (acc, t) -> acc + t)"))
        .select(col("vec_id"), col("p"))
        .orderBy(abs(col("p")).desc, col("vec_id"))
        .limit(10)
        .withColumn("rnk", row_number().over(
          Window.orderBy(abs(col("p")).desc, col("vec_id"))))
        .select(col("rnk"), col("vec_id"), col("p"))
        .orderBy(col("rnk"))
    },
    Some(s"""WITH $pcaSqlCtes, proj AS (
            |  SELECT v.vec_id,
            |    cast(sum(v.xq[l.i] * l.x) as bigint) AS p
            |  FROM v, v6 l GROUP BY v.vec_id
            |), r AS (
            |  SELECT vec_id, p,
            |    row_number() OVER (ORDER BY abs(p) DESC, vec_id) AS rnk
            |  FROM proj
            |)
            |SELECT rnk, vec_id, p FROM r WHERE rnk <= 10 ORDER BY rnk""".stripMargin))

  // ---------------------------------------------------------------------
  // Classifier-based quality scoring
  // ---------------------------------------------------------------------

  /** The logistic quality model over `documents`, as columns: `toks`,
    * the token count `n_toks` (a double), `mean_len`, `stop_ratio`,
    * `digit_ratio` and the linear term `z`, whose squash
    * `1 / (1 + exp(-z))` is the keep-probability. One tree of IEEE ops
    * on identical inputs, so every query that scores with it agrees
    * bit for bit; [[qualityZSqlCtes]] is its DuckDB twin.
    */
  private def qualityZ(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_toks", size(col("toks")).cast("double"))
      .withColumn("mean_len",
        (length(col("text")).cast("double") - (col("n_toks") - 1.0)) / col("n_toks"))
      .withColumn("stop_ratio",
        expr("size(filter(toks, t -> array_contains(" +
          "array('the','a','of','and','to','in','is','it'), t)))").cast("double")
          / col("n_toks"))
      .withColumn("digit_ratio",
        (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
          .cast("double") / length(col("text")).cast("double"))
      .withColumn("z",
        lit(-1.5) + lit(0.004) * col("n_toks") + lit(0.35) * col("mean_len")
          + lit(4.0) * col("stop_ratio") - lit(6.0) * col("digit_ratio"))

  /** DuckDB twin of [[qualityZ]] as CTE text: `f`, every `documents`
    * column plus `toks`, `n_toks`, `mean_len`, `stop_ratio`,
    * `digit_ratio` and `z`. */
  private val qualityZSqlCtes: String =
    """fz AS (
      |  SELECT *, string_split(text, ' ') AS toks,
      |    cast(len(string_split(text, ' ')) as double) AS n_toks,
      |    (cast(len(text) as double) - (len(string_split(text, ' ')) - 1.0))
      |      / len(string_split(text, ' ')) AS mean_len,
      |    cast(len(list_filter(string_split(text, ' '),
      |      t -> list_contains(['the','a','of','and','to','in','is','it'], t))) as double)
      |      / len(string_split(text, ' ')) AS stop_ratio,
      |    cast(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) as double)
      |      / cast(len(text) as double) AS digit_ratio
      |  FROM documents
      |), f AS (
      |  SELECT *, -1.5 + 0.004 * n_toks + 0.35 * mean_len + 4.0 * stop_ratio
      |    - 6.0 * digit_ratio AS z
      |  FROM fz
      |)""".stripMargin

  /** Logistic-regression quality scoring — the fastText-classifier
    * analog of the rule-based [[NorthStarQueries]] quality gate: a fixed
    * published-style weight vector over cheap per-doc features (token
    * count, mean token length, stopword ratio, digit ratio), squashed
    * to a keep-probability. Weights are literals (a trained model's
    * coefficients would broadcast identically); features and the linear
    * term are a fixed tree of IEEE ops on identical inputs, and the one
    * transcendental (`exp`) is rounded once at the end — the
    * [[NorthStarQueries.textTfidf]] idf mitigation.
    *
    * Scale: map-only; the only shuffle is the gate dump's total order.
    */
  private val qualityLogreg = Q(
    (s, dir) => {
      TS(s, dir, "documents")
        .transform(qualityZ)
        .select(col("doc_id"),
          round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("keep_prob"))
        .withColumn("keep", col("keep_prob") >= 0.5)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $qualityZSqlCtes
           |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS keep_prob,
           |  round(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS keep
           |FROM f ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------------------------------
  // LSH banding-parameter audit
  // ---------------------------------------------------------------------

  /** The three (bands x rows) layouts of the shared 8-hash minhash
    * signature under audit: high-recall 8x1, the production 4x2, and
    * high-precision 2x4.
    */
  private val lshConfigs: Seq[(Int, Int)] = Seq((8, 1), (4, 2), (2, 4))

  /** LSH banding-parameter audit — the tuning table a dedup engineer
    * reads before picking (bands, rows): for each layout of the SAME
    * 8-hash signature, the bucket count, collision-bucket count,
    * candidate-pair volume (the cost knob) and the layout's S-curve
    * threshold `(1/b)^(1/r)` (the recall knob). Demonstrates the
    * recall/cost trade: 8x1 catches everything and explodes pairs, 2x4
    * is cheap and strict.
    *
    * Scale: signatures compute once (the shared [[NorthStarQueries]]
    * minhash pipeline — map-only behind the doc-keyed spread); ALL
    * THREE layouts' band rows generate in ONE `inline` pass, so the
    * corpus is read once and the only data-sized shuffle is the
    * (cfg, band, bkey) count aggregate; the per-config rollup runs over
    * bucket rows.
    */
  private val dedupLshTune = Q(
    (s, dir) => {
      import s.implicits._
      val bandStructs = lshConfigs.flatMap { case (b, r) =>
        (0 until b).map { j =>
          val key = (0 until r).map(k => s"s${r * j + k}").mkString(", ")
          s"struct('${b}x$r' as cfg, $j as band, concat_ws('|', $key) as bkey)"
        }
      }.mkString("inline(array(", ", ", "))")
      val buckets = NorthStarQueries.minhashSigs(s, dir)
        .select(expr(bandStructs))
        .groupBy(col("cfg"), col("band"), col("bkey"))
        .agg(count(lit(1)).as("n"))
      val cfgMeta = lshConfigs.map { case (b, r) => (s"${b}x$r", b, r) }
        .toDF("cfg", "b", "r")
      buckets.groupBy(col("cfg"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(when(col("n") >= 2, 1L).otherwise(0L)).as("n_multi_buckets"),
          sum(expr("n * (n - 1) div 2")).as("n_candidate_pairs"),
          max(col("n")).as("max_bucket"))
        .join(broadcast(cfgMeta), Seq("cfg"))
        .select(col("cfg"), col("b"), col("r"), col("n_buckets"),
          col("n_multi_buckets"), col("n_candidate_pairs"), col("max_bucket"),
          round(pow(lit(1.0) / col("b"), lit(1.0) / col("r")), 6).as("est_threshold"))
        .orderBy(col("cfg"))
    },
    Some {
      val bandRows = lshConfigs.flatMap { case (b, r) =>
        (0 until b).map { j =>
          val key = (0 until r).map(k => s"s${r * j + k}").mkString(" || '|' || ")
          s"SELECT doc_id, '${b}x$r' AS cfg, $j AS band, $key AS bkey FROM sig"
        }
      }.mkString("\n  UNION ALL ")
      val metaRows = lshConfigs.map { case (b, r) => s"('${b}x$r', $b, $r)" }.mkString(", ")
      s"""WITH ${NorthStarQueries.minhashSigsSqlCtes}, bands AS (
         |  $bandRows
         |), buckets AS (
         |  SELECT cfg, band, bkey, count(*) AS n FROM bands GROUP BY cfg, band, bkey
         |), rollup_cfg AS (
         |  SELECT cfg, count(*) AS n_buckets,
         |    cast(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) as bigint) AS n_multi_buckets,
         |    cast(sum(n * (n - 1) // 2) as bigint) AS n_candidate_pairs,
         |    max(n) AS max_bucket
         |  FROM buckets GROUP BY cfg
         |), meta(cfg, b, r) AS (VALUES $metaRows)
         |SELECT cfg, b, r, n_buckets, n_multi_buckets, n_candidate_pairs, max_bucket,
         |  round(pow(1.0 / b, 1.0 / r), 6) AS est_threshold
         |FROM rollup_cfg JOIN meta USING (cfg) ORDER BY cfg""".stripMargin
    })

  // ---------------------------------------------------------------------
  // DSIR importance resampling (hashed n-gram domain-likelihood ratios)
  // ---------------------------------------------------------------------

  /** Feature-hash bucket count for DSIR (unigrams + bigrams → 64
    * buckets). Small enough that the per-bucket log-ratio table always
    * broadcasts; production raises this to 10k with the same plan.
    */
  private val DSIR_B = 64

  /** DSIR-style importance resampling (Xie et al. 2023): score every
    * document by how much more likely its hashed n-gram features are
    * under a TARGET domain's bag-of-words model than under the raw
    * corpus model, then keep the top decile — the data-selection pass
    * that tilts a crawl toward a reference distribution without
    * training a classifier. Features are unigrams + bigrams hashed into
    * [[DSIR_B]] buckets (the paper's hashed n-gram generative model);
    * the target here is the `lang = 'en'` slice of the corpus.
    *
    * Determinism: the per-bucket log-likelihood ratio is computed as
    * ONE `ln` over a ratio of exact bigint products (Laplace-smoothed
    * counts), floored into 1e-6 fixed point, so per-doc weights are
    * exact bigint sums; the per-doc normalized weight is a single IEEE
    * division written identically in both engines, and the top-decile
    * cutoff is the `agg_percentiles_exact`-proven interpolated
    * percentile broadcast back as a scalar.
    *
    * Scale: the text is exploded ONCE into a (doc, lang, bucket) count
    * aggregate — every other table (the two bucket-count marginals, the
    * totals, the per-doc scores, the percentile cutoff) derives from
    * that compact rollup, and its exchange is byte-identical across
    * consumers so AQE reuses it (the `ns_text_bm25` one-scan trick).
    * The log-ratio table is [[DSIR_B]]-bounded and broadcasts; no
    * second text pass, no global sort, no driver loop.
    */
  private val corpusDsir = Q(
    (s, dir) => {
      // one corpus text pass: per-(doc, bucket) feature counts
      val dbc = TS(s, dir, "documents")
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("lang"),
          explode(expr("concat(w, if(size(w) < 2, array(), " +
            "transform(sequence(1, size(w) - 1), " +
            "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))))")).as("f"))
        .withColumn("b", expr(
          s"cast(conv(substring(md5(concat('ds:', f)), 1, 8), 16, 10) as bigint) % $DSIR_B"))
        .groupBy(col("doc_id"), col("lang"), col("b"))
        .agg(count(lit(1)).as("c"))
      // bucket-count marginals + totals — all from the rollup, no re-explode
      val cnt = dbc.groupBy(col("b"))
        .agg(sum(col("c")).as("cr"),
          sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("ct"))
      val tot = cnt.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
      val ratio = cnt.crossJoin(broadcast(tot))
        .select(col("b"), expr(
          s"cast(floor(ln(cast((ct + 1) * (nr + $DSIR_B) as double) / " +
            s"cast((cr + 1) * (nt + $DSIR_B) as double)) * 1e6) as bigint)").as("r_fp"))
      val scored = dbc.join(broadcast(ratio), Seq("b"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("c")).as("n_feats"), sum(col("c") * col("r_fp")).as("w_sum"))
        .withColumn("w_norm",
          col("w_sum").cast("double") / col("n_feats").cast("double"))
      val cut = scored.agg(expr("percentile(w_norm, 0.9)").as("thr"))
      scored.crossJoin(broadcast(cut))
        .select(col("doc_id"), col("lang"), col("n_feats"),
          // zero normalization: a tiny-negative score rounds to IEEE
          // -0.0 in DuckDB but +0.0 through Spark's decimal round; the
          // CASE maps both to literal 0.0 (the scalar_array_hof idiom)
          when(round(col("w_norm") / lit(1e6), 6) === 0, lit(0.0))
            .otherwise(round(col("w_norm") / lit(1e6), 6)).as("dsir_score"),
          (col("w_norm") > col("thr")).as("selected"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH wds AS (
            |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
            |), f AS (
            |  SELECT doc_id, lang, unnest(list_concat(w,
            |    list_transform(generate_series(1, greatest(len(w) - 1, 0)),
            |      i -> w[i] || ' ' || w[i + 1]))) AS f
            |  FROM wds
            |), fb AS (
            |  SELECT doc_id, lang,
            |    cast('0x' || substr(md5('ds:' || f), 1, 8) as bigint) % $DSIR_B AS b
            |  FROM f
            |), tot AS (
            |  SELECT count(*) AS nr,
            |    cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) as bigint) AS nt
            |  FROM fb
            |), raw AS (
            |  SELECT b, count(*) AS cr FROM fb GROUP BY b
            |), tgt AS (
            |  SELECT b, count(*) AS ct FROM fb WHERE lang = 'en' GROUP BY b
            |), ratio AS (
            |  SELECT r.b,
            |    cast(floor(ln(cast((coalesce(t.ct, 0) + 1) * (tot.nr + $DSIR_B) as double)
            |      / cast((r.cr + 1) * (tot.nt + $DSIR_B) as double)) * 1e6) as bigint) AS r_fp
            |  FROM raw r LEFT JOIN tgt t USING (b), tot
            |), ds AS (
            |  SELECT fb.doc_id, fb.lang, count(*) AS n_feats,
            |    cast(sum(ratio.r_fp) as bigint) AS w_sum
            |  FROM fb JOIN ratio USING (b) GROUP BY fb.doc_id, fb.lang
            |), sc AS (
            |  SELECT doc_id, lang, n_feats,
            |    cast(w_sum as double) / cast(n_feats as double) AS w_norm
            |  FROM ds
            |), cut AS (SELECT quantile_cont(w_norm, 0.9) AS thr FROM sc)
            |SELECT doc_id, lang, n_feats,
            |  CASE WHEN round(w_norm / 1e6, 6) = 0 THEN 0.0
            |       ELSE round(w_norm / 1e6, 6) END AS dsir_score,
            |  w_norm > cut.thr AS selected
            |FROM sc, cut ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------------------------------
  // k-NN label propagation (semi-supervised quality classification)
  // ---------------------------------------------------------------------

  /** Label propagation over the embedding k-NN structure: a quarter of
    * the vectors (`vec_id % 4 = 0`) act as SEED-labeled examples; every
    * other vector takes the majority label among its 3 nearest seed
    * neighbors inside its sign-LSH bucket — the kNN-classifier pass
    * that spreads a small set of human quality labels across a corpus
    * (the distilled-classifier curation step, without training). Votes
    * break ties by total fixed-point cosine weight, then lowest label;
    * vectors whose bucket holds no seed stay unlabeled (`label_pred`
    * null, `n_voters` 0) so coverage is part of the output. `correct`
    * audits the propagation against the held-back true labels.
    *
    * Scale: the candidate join is bucket-equi against the SEED quarter
    * only (never all-pairs), the top-3 rank window prunes map-side
    * (WindowGroupLimit), and the vote/pick aggregates run over ≤ 3
    * rows per vector. Same 100-TB shape as [[NorthStarQueries]]'s
    * `ns_embed_knn_graph` with a 4× smaller build side.
    */
  private val embedLabelProp = Q(
    (s, dir) => {
      val e = bucketed(s, dir, "label")
      val u = e.where(col("vec_id") % 4 =!= 0)
        .select(col("vec_id").as("a_id"), col("label").as("label_true"),
          col("embedding").as("a_emb"), col("bucket"), col("nrm").as("a_nrm"))
      val seeds = e.where(col("vec_id") % 4 === 0)
        .select(col("vec_id").as("b_id"), col("label").as("seed_label"),
          col("embedding").as("b_emb"), col("bucket").as("bucket_b"),
          col("nrm").as("b_nrm"))
      val w = Window.partitionBy(col("a_id")).orderBy(col("cos").desc, col("b_id"))
      val k3 = u.join(seeds, col("bucket") === col("bucket_b"))
        .withColumn("cos", cosine(expr("scaled_dot(a_emb, b_emb)"), "a_nrm", "b_nrm"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("a_id"), col("seed_label"),
          expr("cast(floor(cos * 1e6) as bigint)").as("cos_fp"))
      // r21: votes is now k3's ONLY consumer (coverage rides the pick
      // window as a partition sum), so the former localCheckpoint would
      // be an eager materialization with nothing to share — the bucket
      // join streams straight into the vote aggregate in one plan.
      val votes = k3.groupBy(col("a_id"), col("seed_label"))
        .agg(count(lit(1)).as("n_votes"), sum(col("cos_fp")).as("w_fp"))
      val pw = Window.partitionBy(col("a_id"))
        .orderBy(col("n_votes").desc, col("w_fp").desc, col("seed_label"))
      // r21: n_voters (= k3 rows per a_id = sum of per-label vote counts)
      // rides the pick window's exchange as a partition-wide sum instead
      // of a second k3 aggregation + third join — one shuffle of the
      // votes frame serves pick AND coverage, values identical.
      val pick = votes.withColumn("pr", row_number().over(pw))
        .withColumn("n_voters",
          sum(col("n_votes")).over(Window.partitionBy(col("a_id"))))
        .where(col("pr") === 1)
        .select(col("a_id"), col("seed_label").as("label_pred"), col("n_voters"))
      u.select(col("a_id").as("vec_id"), col("label_true"))
        .join(pick.withColumnRenamed("a_id", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"), col("label_true"), col("label_pred"),
          coalesce(col("n_voters"), lit(0L)).as("n_voters"),
          coalesce(col("label_pred") === col("label_true"), lit(false)).as("correct"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH $bucketedSqlCte, ed AS (
            |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, b.label AS seed_label,
            |    ${cosineSql(scaledDotSql("a.embedding", "b.embedding"), "a.nrm", "b.nrm")} AS cos
            |  FROM e a JOIN e b ON a.bucket = b.bucket
            |  WHERE a.vec_id % 4 <> 0 AND b.vec_id % 4 = 0
            |), k AS (
            |  SELECT a_id, b_id, seed_label,
            |    cast(floor(cos * 1e6) as bigint) AS cos_fp,
            |    row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rn
            |  FROM ed
            |), k3 AS (SELECT * FROM k WHERE rn <= 3
            |), v AS (
            |  SELECT a_id, seed_label, count(*) AS n_votes,
            |    cast(sum(cos_fp) as bigint) AS w_fp
            |  FROM k3 GROUP BY a_id, seed_label
            |), pick AS (
            |  SELECT a_id, seed_label,
            |    row_number() OVER (PARTITION BY a_id
            |      ORDER BY n_votes DESC, w_fp DESC, seed_label) AS pr
            |  FROM v
            |), nv AS (SELECT a_id, count(*) AS n_voters FROM k3 GROUP BY a_id)
            |SELECT u.vec_id, u.label AS label_true, p.seed_label AS label_pred,
            |  cast(coalesce(nv.n_voters, 0) as bigint) AS n_voters,
            |  coalesce(p.seed_label = u.label, false) AS correct
            |FROM embeddings u
            |LEFT JOIN (SELECT a_id, seed_label FROM pick WHERE pr = 1) p
            |  ON p.a_id = u.vec_id
            |LEFT JOIN nv ON nv.a_id = u.vec_id
            |WHERE u.vec_id % 4 <> 0
            |ORDER BY u.vec_id""".stripMargin))

  // ---------------------------------------------------------------------
  // Matryoshka truncated-dimension recall audit
  // ---------------------------------------------------------------------

  /** 2^40 fixed-point scale — MUST match
    * [[graft.expressions.ScaledDotProduct.Scale]] and the `S` constant
    * in [[NorthStarQueries]] so 16-dim dots use the same grid as the
    * 64-dim helper.
    */
  private val S40 = "1099511627776"

  /** DuckDB scaled dot over the first `k` dims (the 64-dim form lives
    * in [[NorthStarQueries.scaledDotSql]]).
    */
  private def dotSqlK(a: String, b: String, k: Int): String =
    s"list_sum(list_transform(generate_series(1, $k), i -> " +
      s"cast(floor($a[i]::double * $b[i]::double * $S40) as bigint)))"

  /** Matryoshka (MRL) truncation audit: how much top-5 retrieval
    * quality survives when embeddings are cut to their first 16 of 64
    * dims — the measurement behind serving truncated Matryoshka
    * representations (store/scan 4× fewer bytes, re-rank the shortlist
    * at full width). Per query: exact full-dim top-5, truncated-dim
    * top-5, and recall@5 = |intersection| / 5.
    *
    * Shape: TWO independently rank-pruned broadcast-query passes
    * intersected on (q_id, c_id) — the `ns_sim_sq8_recall` lesson
    * (a single joined pass with an OR filter defeats
    * WindowGroupLimit's map-side prune). The truncated pass slices
    * before the join, so its per-pair dot reads 16 floats, not 64.
    */
  private val simMatryoshka = Q(
    (s, dir) => {
      val e = TS(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          expr("slice(embedding, 1, 16)").as("emb16"))
        .select(col("vec_id"), col("embedding"), col("emb16"),
          expr("scaled_dot(embedding, embedding)").as("nrm"),
          expr("scaled_dot(emb16, emb16)").as("nrm16"))
      def topk(qEmb: String, cEmb: String, qN: String, cN: String,
               qSel: DataFrame, cSel: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
        broadcast(qSel).join(cSel, col("q_id") =!= col("c_id"))
          .withColumn("cos", cosine(expr(s"scaled_dot($qEmb, $cEmb)"), qN, cN))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 5)
          .select(col("q_id"), col("c_id"))
      }
      val qf = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("nq"))
      val cf = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("nrm").as("nc"))
      val qt = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("emb16").as("q16"), col("nrm16").as("nq16"))
      val ct = e.select(col("vec_id").as("c_id"), col("emb16").as("c16"),
        col("nrm16").as("nc16"))
      val full = topk("q_emb", "c_emb", "nq", "nc", qf, cf)
      val trunc = topk("q16", "c16", "nq16", "nc16", qt, ct)
      val hits = full.join(trunc, Seq("q_id", "c_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
      qf.select(col("q_id"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)) / lit(5.0), 6).as("recall_at5"))
        .orderBy(col("q_id"))
    },
    Some(s"""WITH e0 AS (
            |  SELECT vec_id, embedding, embedding[1:16] AS emb16 FROM embeddings
            |), e AS (
            |  SELECT vec_id, embedding, emb16,
            |    ${scaledDotSql("embedding", "embedding")} AS nrm,
            |    ${dotSqlK("emb16", "emb16", 16)} AS nrm16
            |  FROM e0
            |), pf AS (
            |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
            |    ${cosineSql(scaledDotSql("q.embedding", "c.embedding"), "q.nrm", "c.nrm")} AS cos
            |  FROM e q, e c WHERE q.vec_id < 16 AND q.vec_id <> c.vec_id
            |), rf AS (
            |  SELECT q_id, c_id,
            |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
            |  FROM pf
            |), ff AS (SELECT q_id, c_id FROM rf WHERE rn <= 5
            |), pt AS (
            |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
            |    ${cosineSql(dotSqlK("q.emb16", "c.emb16", 16), "q.nrm16", "c.nrm16")} AS cos
            |  FROM e q, e c WHERE q.vec_id < 16 AND q.vec_id <> c.vec_id
            |), rt AS (
            |  SELECT q_id, c_id,
            |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
            |  FROM pt
            |), ft AS (SELECT q_id, c_id FROM rt WHERE rn <= 5
            |), h AS (
            |  SELECT f.q_id, count(*) AS n_hits
            |  FROM ff f JOIN ft t ON f.q_id = t.q_id AND f.c_id = t.c_id
            |  GROUP BY f.q_id
            |)
            |SELECT q.vec_id AS q_id,
            |  cast(coalesce(h.n_hits, 0) as bigint) AS n_hits,
            |  round(coalesce(h.n_hits, 0) / 5.0, 6) AS recall_at5
            |FROM embeddings q LEFT JOIN h ON h.q_id = q.vec_id
            |WHERE q.vec_id < 16 ORDER BY q_id""".stripMargin))

  // ---------------------------------------------------------------------
  // r11: Count-Min Sketch heavy hitters + Heaps-law vocabulary growth
  // ---------------------------------------------------------------------

  /** Count-Min Sketch frequency estimation with an exact-error audit —
    * the mergeable-sketch answer to "what are the heavy-hitter terms"
    * when the vocabulary itself is too large to count exactly: d=4 hash
    * rows x w=64 buckets of ADDITIVE counters (so partial sketches from
    * any partitioning merge by cell-wise sum — the same re-aggregable
    * algebra as `agg_sketch_mergeable`), estimate = min over rows of the
    * term's bucket counter, which only ever OVER-estimates (collisions
    * add, never subtract).
    *
    * Plan: ONE corpus tokenize pass -> (term, cnt) aggregate; the d x w
    * counter table derives from that VOCAB-sized aggregate (explode d
    * rows per term), never from the corpus again, and is 256 rows
    * regardless of corpus size — the broadcast side of the estimate
    * join. The audit reports the top-20 exact heavy hitters with their
    * CMS estimate and the overestimate, i.e. the index-tuning error
    * number comes out of the engine itself (same discipline as
    * `ns_sim_ivf_recall`). Buckets are md5-derived on both engines, so
    * the sketch contents are bit-identical. At 100 TB: the per-partition
    * state is d x w integers, the vocab agg is the only shuffle.
    */
  private val sketchCms = Q(
    (s, dir) => {
      val bucket = "cast(conv(substring(md5(concat('cms', cast(i as string), " +
        "':', term)), 1, 8), 16, 10) as bigint) % 64"
      val tf = TS(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .where(length(col("term")) > 0)
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val counters = tf
        .select(col("term"), col("cnt"), explode(expr("sequence(0, 3)")).as("i"))
        .select(col("i"), expr(bucket).as("b"), col("cnt"))
        .groupBy(col("i"), col("b")).agg(sum(col("cnt")).as("c"))
      val top = tf.orderBy(col("cnt").desc, col("term")).limit(20)
      top
        .select(col("term"), col("cnt"), explode(expr("sequence(0, 3)")).as("i"))
        .select(col("term"), col("cnt"), col("i"), expr(bucket).as("b"))
        .join(broadcast(counters), Seq("i", "b"))
        .groupBy(col("term"), col("cnt"))
        .agg(min(col("c")).as("est"))
        .select(col("term"), col("cnt").as("exact_count"),
          col("est").as("cms_estimate"),
          (col("est") - col("cnt")).as("overestimate"))
        .orderBy(col("exact_count").desc, col("term"))
    },
    Some {
      val bucket = (t: String) =>
        s"cast('0x' || substr(md5('cms' || cast(i as varchar) || ':' || $t), 1, 8) " +
          s"as bigint) % 64"
      s"""WITH tf AS (
         |  SELECT t AS term, count(*) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS t FROM documents
         |  ) WHERE length(t) > 0 GROUP BY t
         |), is_ AS (SELECT unnest(generate_series(0, 3)) AS i
         |), counters AS (
         |  SELECT i, ${bucket("term")} AS b, cast(sum(cnt) as bigint) AS c
         |  FROM tf, is_ GROUP BY i, ${bucket("term")}
         |), top AS (
         |  SELECT term, cnt FROM tf ORDER BY cnt DESC, term LIMIT 20
         |), est AS (
         |  SELECT t.term, t.cnt, min(c.c) AS est
         |  FROM (SELECT term, cnt, i, ${bucket("term")} AS b FROM top, is_) t
         |  JOIN counters c ON c.i = t.i AND c.b = t.b
         |  GROUP BY t.term, t.cnt
         |)
         |SELECT term, cnt AS exact_count, est AS cms_estimate,
         |  est - cnt AS overestimate
         |FROM est ORDER BY exact_count DESC, term""".stripMargin
    })

  /** Heaps-law vocabulary growth curve: cumulative distinct vocabulary
    * vs cumulative token volume, sampled at 10 equal doc_id blocks of
    * the corpus — the curve a tokenizer-budget decision reads (is the
    * vocabulary still growing at the corpus tail, i.e. does more data
    * still buy coverage?). Companion to the static coverage numbers in
    * `ns_corpus_ngram_coverage`.
    *
    * "Cumulative distinct so far" NEVER materializes a running distinct
    * over the scan order (a single-reducer non-starter): a term's entire
    * contribution is its FIRST-occurrence block (`min(doc_id)` over one
    * vocab-keyed aggregate), per-block new-term counts and token sums
    * are B-row tables, and the running sums are windows over B=10 rows —
    * the block-decomposition discipline of `ns_corpus_shuffle`. Block
    * edges come from broadcast min/max doc_id scalars (the whitelisted
    * one-row shape), so the curve is deterministic for any doc_id
    * domain. At 100 TB: two corpus passes (token counts, first
    * occurrences), everything after is O(vocab) then O(B).
    */
  private val corpusVocabGrowth = Q(
    (s, dir) => {
      val docs = TS(s, dir, "documents")
      val bounds = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      val blk = "((doc_id - lo) * 10) div (hi - lo + 1)"
      val perBlock = docs
        .select(col("doc_id"), expr("size(filter(split(text, ' '), t -> length(t) > 0))").as("n_toks"))
        .crossJoin(broadcast(bounds))
        .select(expr(blk).as("block"), col("n_toks"))
        .groupBy(col("block"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("block_tokens"))
      val firstOcc = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .where(length(col("term")) > 0)
        .groupBy(col("term")).agg(min(col("doc_id")).as("doc_id"))
        .crossJoin(broadcast(bounds))
        .select(expr(blk).as("block"))
        .groupBy(col("block")).agg(count(lit(1)).as("new_terms"))
      val w = Window.orderBy(col("block"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perBlock.join(firstOcc, Seq("block"), "left")
        .na.fill(0L, Seq("new_terms"))
        .select(col("block"), col("n_docs"), col("block_tokens"),
          sum(col("block_tokens")).over(w).as("cum_tokens"),
          col("new_terms"),
          sum(col("new_terms")).over(w).as("cum_vocab"))
        .orderBy(col("block"))
    },
    Some(
      """WITH bounds AS (
        |  SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents
        |), per_block AS (
        |  SELECT ((doc_id - lo) * 10) // (hi - lo + 1) AS block,
        |    count(*) AS n_docs,
        |    cast(sum(len(list_filter(string_split(text, ' '), t -> length(t) > 0))) as bigint) AS block_tokens
        |  FROM documents, bounds GROUP BY 1
        |), first_occ AS (
        |  SELECT t AS term, min(doc_id) AS doc_id FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
        |  ) WHERE length(t) > 0 GROUP BY t
        |), new_terms AS (
        |  SELECT ((doc_id - lo) * 10) // (hi - lo + 1) AS block,
        |    count(*) AS new_terms
        |  FROM first_occ, bounds GROUP BY 1
        |)
        |SELECT p.block, p.n_docs, p.block_tokens,
        |  cast(sum(p.block_tokens) OVER (ORDER BY p.block) as bigint) AS cum_tokens,
        |  coalesce(n.new_terms, 0) AS new_terms,
        |  cast(sum(coalesce(n.new_terms, 0)) OVER (ORDER BY p.block) as bigint) AS cum_vocab
        |FROM per_block p LEFT JOIN new_terms n ON n.block = p.block
        |ORDER BY p.block""".stripMargin))

  /** Winnowing document fingerprints (the MOSS scheme) + cross-doc
    * overlap detection — the guarantee-bearing alternative to the CDC
    * chunk fingerprints: for window size w, EVERY shared substring of at
    * least w + k - 1 tokens is provably caught by a shared fingerprint
    * (CDC chunking only catches shares that span a chunk boundary
    * pattern). k=3 token-grams hashed, w=4 windows; each window selects
    * its RIGHTMOST minimum hash, selections dedupe into the doc's
    * fingerprint set, and doc pairs rank by shared-fingerprint overlap.
    *
    * The exact rightmost-min-per-window argmin is ONE aggregate: each
    * gram position explodes into the <= w window starts it can serve
    * (a bounded w-fold expansion, never all pairs) and the (doc, window)
    * group takes `min(array(h, -pos))` — lexicographic array order gives
    * min-hash-then-rightmost-position in a single pass, identically in
    * both engines. Pairing reuses the containment discipline: hashes
    * capped at df <= 16 docs (a fingerprint shared by more docs is
    * boilerplate, not provenance), pair explosion bounded by df^2 per
    * hash, top-20 = TakeOrderedAndProject. Docs shorter than w + k - 1
    * tokens have no window and are excluded by construction.
    */
  private val dedupWinnow = Q(
    (s, dir) => {
      val gramHash = "cast(conv(substring(md5(concat_ws(' ', slice(toks, i, 3))), 1, 15), 16, 10) as bigint)"
      val grams = TS(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          expr(s"transform(sequence(1, size(toks) - 2), i -> $gramHash)").as("hs"))
        .where(size(col("hs")) >= 4)
        .select(col("doc_id"), size(col("hs")).as("np"),
          posexplode(col("hs")).as(Seq("p0", "h")))
        .select(col("doc_id"), col("np"), (col("p0") + 1).as("pos"), col("h"))
      val sel = grams
        .select(col("doc_id"), col("pos"), col("h"),
          explode(expr("sequence(greatest(1, pos - 3), least(pos, np - 3))")).as("w"))
        .groupBy(col("doc_id"), col("w"))
        .agg(min(array(col("h"), -col("pos"))).as("m"))
        .select(col("doc_id"), col("m").getItem(0).as("h"))
        .distinct()
      val docFp = sel.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
      val keep = sel.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .where(col("df") <= 16)
        .select(col("h"))
      val idx = sel.join(keep, Seq("h"))
      val pairs = idx.select(col("h"), col("doc_id").as("doc_a"))
        .join(idx.select(col("h"), col("doc_id").as("doc_b")), Seq("h"))
        .where(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
      pairs
        .join(docFp.select(col("doc_id").as("doc_a"), col("n_fp").as("fp_a")), Seq("doc_a"))
        .join(docFp.select(col("doc_id").as("doc_b"), col("n_fp").as("fp_b")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          round(col("n_shared").cast("double") /
            least(col("fp_a"), col("fp_b")).cast("double"), 6).as("overlap"))
        .orderBy(col("overlap").desc, col("n_shared").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    },
    Some(
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, len(toks) - 2),
        |      i -> cast('0x' || substr(md5(concat_ws(' ',
        |             toks[i], toks[i+1], toks[i+2])), 1, 15) as bigint)) AS hs
        |  FROM t
        |), gp AS (
        |  SELECT doc_id, len(hs) AS np,
        |    unnest(list_transform(generate_series(1, len(hs)),
        |      i -> {'pos': i, 'h': hs[i]})) AS u
        |  FROM g WHERE len(hs) >= 4
        |), pos AS (
        |  SELECT doc_id, np, u.pos AS pos, u.h AS h FROM gp
        |), win AS (
        |  SELECT doc_id, pos, h,
        |    unnest(generate_series(greatest(1, pos - 3), least(pos, np - 3))) AS w
        |  FROM pos
        |), sel AS (
        |  SELECT DISTINCT doc_id, min([h, -pos])[1] AS h
        |  FROM win GROUP BY doc_id, w
        |), doc_fp AS (
        |  SELECT doc_id, count(*) AS n_fp FROM sel GROUP BY doc_id
        |), keep AS (
        |  SELECT h FROM sel GROUP BY h HAVING count(DISTINCT doc_id) <= 16
        |), idx AS (
        |  SELECT s.h, s.doc_id FROM sel s JOIN keep k ON k.h = s.h
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |  FROM idx a JOIN idx b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT p.doc_a, p.doc_b, p.n_shared,
        |  round(cast(p.n_shared as double) /
        |        cast(least(fa.n_fp, fb.n_fp) as double), 6) AS overlap
        |FROM pairs p
        |JOIN doc_fp fa ON fa.doc_id = p.doc_a
        |JOIN doc_fp fb ON fb.doc_id = p.doc_b
        |ORDER BY overlap DESC, n_shared DESC, doc_a, doc_b LIMIT 20""".stripMargin))

  // ---------------------------------------------------------------------
  // Context-window packing + epoch scheduling (pre-training batch plan)
  // ---------------------------------------------------------------------

  /** Concatenate-then-chunk packing accounting per source: documents in
    * deterministic doc_id order are conceptually concatenated and cut
    * into fixed 512-token context windows — the packing strategy decoder
    * pre-training actually uses — and the report gives the numbers a
    * data lead needs to size a run: sequences produced, pad waste in the
    * final window, and how many documents straddle a window boundary
    * (the cross-document-attention contamination metric that motivates
    * boundary-aware packing variants).
    *
    * Determinism: every column is exact integer arithmetic over a
    * source-partitioned running sum (`div` chunking, no floats except
    * one terminal rounded fraction).
    *
    * Scale: ONE source-keyed ordered window (a single shuffle); a fat
    * source decomposes with the same hash-prefix block prefix-sum
    * pattern `ns_corpus_shuffle` uses, so no single reducer ever owns a
    * corpus-sized source.
    */
  private val corpusPackGreedy = Q(
    (s, dir) => {
      val SEQ = 512L
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      val docs = TS(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          expr("size(split(text, ' '))").cast("long").as("n_tok"))
        .withColumn("cum_before",
          coalesce(sum(col("n_tok")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("seq_first", expr(s"cum_before div $SEQ"))
        .withColumn("seq_last", expr(s"(cum_before + n_tok - 1) div $SEQ"))
      docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tok")).as("total_toks"),
             sum(when(col("seq_first") =!= col("seq_last"), 1L).otherwise(0L))
               .as("n_docs_split"))
        .withColumn("n_seqs", expr(s"(total_toks + ${SEQ - 1}) div $SEQ"))
        .withColumn("pad_toks", expr(s"n_seqs * $SEQ - total_toks"))
        .withColumn("split_frac",
          round(col("n_docs_split").cast("double") / col("n_docs"), 6))
        .select(col("source"), col("n_docs"), col("total_toks"), col("n_seqs"),
          col("pad_toks"), col("n_docs_split"), col("split_frac"))
        .orderBy(col("source"))
    },
    Some("""WITH d AS (
           |  SELECT doc_id, source,
           |    cast(len(string_split(text, ' ')) as bigint) AS n_tok
           |  FROM documents
           |), c AS (
           |  SELECT *, coalesce(sum(n_tok) OVER (PARTITION BY source
           |      ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           |  FROM d
           |), f AS (
           |  SELECT source, n_tok,
           |    cum_before // 512 AS seq_first,
           |    (cum_before + n_tok - 1) // 512 AS seq_last
           |  FROM c
           |), g AS (
           |  SELECT source, count(*) AS n_docs,
           |    cast(sum(n_tok) as bigint) AS total_toks,
           |    cast(sum(CASE WHEN seq_first <> seq_last THEN 1 ELSE 0 END) as bigint)
           |      AS n_docs_split
           |  FROM f GROUP BY source
           |)
           |SELECT source, n_docs, total_toks,
           |  (total_toks + 511) // 512 AS n_seqs,
           |  ((total_toks + 511) // 512) * 512 - total_toks AS pad_toks,
           |  n_docs_split,
           |  round(cast(n_docs_split as double) / n_docs, 6) AS split_frac
           |FROM g ORDER BY source""".stripMargin))

  /** LARGEST-REMAINDER SAMPLE ALLOCATION (Hamilton's method) — the
    * exact way to split a fixed annotation/eval budget of N = 1000
    * docs across sources proportionally: floor shares first, then the
    * leftover seats go to the largest remainders. Naive rounding
    * over- or under-spends the budget; Hamilton is the standard exact
    * apportionment — the ROUNDING step every proportional allocation
    * (including `ns_sample_neyman`'s variance-optimal floored shares)
    * needs before it can be executed — and every quantity here is an
    * integer (share
    * numerators, remainders = docs_i * N mod total, seat ranks), so
    * both engines agree bit-for-bit — ties break (remainder desc,
    * source asc), total allocation PROVABLY sums to N.
    *
    * Scale: one source rollup + a sources-sized rank window — the
    * allocation math never touches the corpus again.
    */
  private val sampleAllocation = Q(
    (s, dir) => {
      val N = 1000L
      val per = TS(s, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val tot = per.agg(sum(col("n_docs")).as("total"))
      val based = per.crossJoin(broadcast(tot))
        .withColumn("base", expr(s"n_docs * $N div total"))
        .withColumn("rem", expr(s"n_docs * $N % total"))
      val wR = Window.orderBy(col("rem").desc, col("source"))
      based
        .withColumn("seats_left",
          lit(N) - sum(col("base")).over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
        .withColumn("rnk", row_number().over(wR).cast("long"))
        .withColumn("alloc",
          col("base") + when(col("rnk") <= col("seats_left"), 1L).otherwise(0L))
        .select(col("source"), col("n_docs"), col("base"), col("rem"),
          col("alloc"))
        .orderBy(col("source"))
    },
    Some("""WITH per AS (
           |  SELECT source, cast(count(*) as bigint) AS n_docs
           |  FROM documents GROUP BY source
           |), t AS (
           |  SELECT cast(sum(n_docs) as bigint) AS total FROM per
           |), b AS (
           |  SELECT per.source, per.n_docs,
           |    cast((per.n_docs * 1000) // t.total as bigint) AS base,
           |    cast((per.n_docs * 1000) % t.total as bigint) AS rem
           |  FROM per, t
           |), sl AS (
           |  SELECT cast(1000 - sum(base) as bigint) AS seats_left FROM b
           |), r AS (
           |  SELECT b.*, sl.seats_left,
           |    cast(row_number() OVER (ORDER BY b.rem DESC, b.source)
           |      as bigint) AS rnk
           |  FROM b, sl
           |)
           |SELECT source, n_docs, base, rem,
           |  base + (CASE WHEN rnk <= seats_left THEN 1 ELSE 0 END) AS alloc
           |FROM r ORDER BY source""".stripMargin))

  /** OVERLAPPING-CHUNK retrieval prep — the RAG passage-window pass
    * (64-token chunks at stride 32, final partial window kept) with
    * CHUNK-granularity dedup accounting: identical 64-token windows
    * recurring across documents are exactly what a retrieval index
    * should store once, and their volume prices chunk-level dedup
    * before anyone builds the index. Per source: docs, chunk count,
    * chunk token volume, and the repeated-chunk share (chunk md5 with
    * corpus df >= 2).
    *
    * Determinism: the window schedule is pure integer arithmetic
    * (starts 1 + 32i, i <= (n-33) div 32 for n > 64, else the whole
    * doc), mirrored exactly in both engines; chunk identity is the md5
    * of the joined window.
    *
    * Scale: the chunk explode is map-only and collapses into the
    * md5-keyed df aggregate (32-char keys — the substr-curve idiom,
    * text never shuffles beyond the one explode pass); the instance
    * rollup joins df back chunk-keyed. At 100 TB this is the
    * chunk-store build's accounting pass.
    */
  private val corpusChunkOverlap = Q(
    (s, dir) => {
      val ch = TS(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .withColumn("n", size(col("w")).cast("long"))
        .select(col("source"), col("doc_id"),
          explode(expr(
            "transform(sequence(0, IF(n > 64, (n - 33) div 32, cast(0 as bigint))), " +
              "i -> struct(md5(array_join(slice(w, cast(1 + 32 * i as int), 64), ' ')) as gk, " +
              "least(cast(64 as bigint), n - 32 * i) as clen))")).as("c"))
        .select(col("source"), col("doc_id"), col("c.gk").as("gk"),
          col("c.clen").as("clen"))
        .localCheckpoint(true) // df aggregate + the instance rollup
      val dfk = ch.groupBy(col("gk")).agg(count(lit(1)).as("df"))
      ch.join(dfk, Seq("gk"))
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(col("clen")).as("chunk_tokens"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_repeated_chunks"),
          coalesce(sum(when(col("df") >= 2, col("clen"))), lit(0L))
            .as("repeated_tokens"))
        .orderBy(col("source"))
    },
    Some("""WITH d AS (
           |  SELECT source, doc_id, string_split(text, ' ') AS w,
           |    cast(len(string_split(text, ' ')) as bigint) AS n
           |  FROM documents
           |), ch AS (
           |  SELECT source, doc_id,
           |    unnest(list_transform(generate_series(0,
           |      CASE WHEN n > 64 THEN (n - 33) // 32 ELSE 0 END),
           |      i -> struct_pack(gk := md5(array_to_string(
           |        list_slice(w, 1 + 32 * i, 32 * i + 64), ' ')),
           |        clen := least(64, n - 32 * i)))) AS c
           |  FROM d
           |), cf AS (
           |  SELECT source, doc_id, (c).gk AS gk,
           |    cast((c).clen as bigint) AS clen
           |  FROM ch
           |), dfk AS (
           |  SELECT gk, count(*) AS df FROM cf GROUP BY gk
           |)
           |SELECT cf.source,
           |  cast(count(DISTINCT cf.doc_id) as bigint) AS n_docs,
           |  cast(count(*) as bigint) AS n_chunks,
           |  cast(sum(cf.clen) as bigint) AS chunk_tokens,
           |  cast(sum(CASE WHEN dfk.df >= 2 THEN 1 ELSE 0 END) as bigint)
           |    AS n_repeated_chunks,
           |  cast(coalesce(sum(CASE WHEN dfk.df >= 2 THEN cf.clen END), 0)
           |    as bigint) AS repeated_tokens
           |FROM cf JOIN dfk USING (gk)
           |GROUP BY cf.source ORDER BY cf.source""".stripMargin))

  /** TRAINING-STEP ATTRIBUTION — the loss-spike forensics read: when
    * training logs a loss spike at packed sequence S of source X, which
    * DOCUMENTS were inside that sequence? Inverts the
    * [[corpusPackGreedy]] packing model (per-source concat in doc_id
    * order, 512-token windows) for probe sequences {0, 2, 5} per
    * source: the docs whose token spans intersect the window, their
    * id range, and each window's exact token fill — the
    * batch-to-provenance map an ops team walks from a spike to the
    * offending data.
    *
    * Determinism: pure integer interval intersection over the same
    * cumulative-sum frame the packing accountant uses; probe windows
    * that a short source never reaches are simply absent in both
    * engines.
    *
    * Scale: ONE source-keyed cumsum window (the pack frame's own
    * shuffle) + a 3-row broadcast probe join with a range predicate —
    * attribution never re-scans text, and at 100 TB the probe list is
    * whatever the spike log says, still broadcast-sized.
    */
  private val pipelineStepAttribution = Q(
    (s, dir) => {
      val SEQ = 512L
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      val docs = TS(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          expr("size(split(text, ' '))").cast("long").as("n_tok"))
        .withColumn("cum_before",
          coalesce(sum(col("n_tok")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val probes = s.createDataFrame(Seq(Tuple1(0L), Tuple1(2L), Tuple1(5L)))
        .toDF("seq_id")
      docs.crossJoin(broadcast(probes))
        .where(col("cum_before") < (col("seq_id") + 1) * SEQ &&
          col("cum_before") + col("n_tok") > col("seq_id") * SEQ)
        .withColumn("overlap",
          least(col("cum_before") + col("n_tok"), (col("seq_id") + 1) * lit(SEQ))
            - greatest(col("cum_before"), col("seq_id") * lit(SEQ)))
        .groupBy(col("source"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).cast("long").as("first_doc"),
          max(col("doc_id")).cast("long").as("last_doc"),
          sum(col("overlap")).as("toks_in_seq"))
        .orderBy(col("source"), col("seq_id"))
    },
    Some("""WITH d AS (
           |  SELECT doc_id, source,
           |    cast(len(string_split(text, ' ')) as bigint) AS n_tok
           |  FROM documents
           |), c AS (
           |  SELECT *, coalesce(sum(n_tok) OVER (PARTITION BY source
           |      ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS cum_before
           |  FROM d
           |), q AS (
           |  SELECT unnest([0, 2, 5]) AS seq_id
           |), m AS (
           |  SELECT c.source, cast(q.seq_id as bigint) AS seq_id, c.doc_id,
           |    least(c.cum_before + c.n_tok, (q.seq_id + 1) * 512)
           |      - greatest(c.cum_before, q.seq_id * 512) AS overlap
           |  FROM c JOIN q ON c.cum_before < (q.seq_id + 1) * 512
           |    AND c.cum_before + c.n_tok > q.seq_id * 512
           |)
           |SELECT source, seq_id, cast(count(*) as bigint) AS n_docs,
           |  cast(min(doc_id) as bigint) AS first_doc,
           |  cast(max(doc_id) as bigint) AS last_doc,
           |  cast(sum(overlap) as bigint) AS toks_in_seq
           |FROM m GROUP BY source, seq_id
           |ORDER BY source, seq_id""".stripMargin))

  /** Temperature-weighted epoch schedule: allocate a global token budget
    * across sources by w_i = sqrt(n_tokens_i) (temperature α = 0.5, the
    * standard multilingual up-sampling) and report each source's token
    * target and REPEAT FACTOR (epochs, fixed-point ×1e6) — with an
    * over-repetition flag at the 4-epoch mark where repeated data stops
    * helping. This is the planning step AFTER [[NorthStarQueries]]'s
    * `ns_corpus_temperature` weight report: weights become an executable
    * per-source allocation.
    *
    * Determinism: the only transcendental (sqrt) is quantized to a 2^20
    * fixed-point bigint per source — one correctly-rounded IEEE op on
    * identical inputs — and every share/target/epoch derives with exact
    * integer `div`, so the order of the weight SUM cannot perturb a bit.
    *
    * Scale: two tiny aggregates (per-source rollup, then a 1-row total
    * broadcast back) — corpus-sized data shuffles once into the
    * per-source rollup; everything after is O(sources).
    */
  private val corpusEpochSchedule = Q(
    (s, dir) => {
      val BUDGET = 50000L
      // localCheckpoint the O(sources)-row rollup so the weight total
      // derives from it WITHOUT a second corpus pass (guaranteed even
      // where AQE exchange reuse doesn't fire — the label-prop /
      // containment pattern)
      val toks = TS(s, dir, "documents")
        .select(col("source"), expr("size(split(text, ' '))").cast("long").as("t"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"))
        .withColumn("w_fp",
          expr("cast(floor(sqrt(cast(n_tokens as double)) * 1048576) as bigint)"))
        .localCheckpoint(true)
      val tot = toks.agg(sum(col("w_fp")).as("w_tot"))
      toks.crossJoin(broadcast(tot))
        .withColumn("target_toks", expr(s"($BUDGET * w_fp) div w_tot"))
        .withColumn("epochs_e6", expr("(target_toks * 1000000) div n_tokens"))
        .withColumn("overrep", col("epochs_e6") > lit(4000000L))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("w_fp"),
          col("target_toks"), col("epochs_e6"), col("overrep"))
        .orderBy(col("source"))
    },
    Some("""WITH toks AS (
           |  SELECT source, count(*) AS n_docs,
           |    cast(sum(len(string_split(text, ' '))) as bigint) AS n_tokens
           |  FROM documents GROUP BY source
           |), w AS (
           |  SELECT *, cast(floor(sqrt(cast(n_tokens as double)) * 1048576) as bigint)
           |    AS w_fp
           |  FROM toks
           |), t AS (SELECT sum(w_fp) AS w_tot FROM w)
           |SELECT source, n_docs, n_tokens, w_fp,
           |  cast((50000 * w_fp) // w_tot as bigint) AS target_toks,
           |  cast((((50000 * w_fp) // w_tot) * 1000000) // n_tokens as bigint) AS epochs_e6,
           |  cast((((50000 * w_fp) // w_tot) * 1000000) // n_tokens as bigint) > 4000000
           |    AS overrep
           |FROM w, t ORDER BY source""".stripMargin))

  /** Quality-gate threshold sweep: docs and tokens retained at each
    * classifier cutoff 0.1..0.9 — the retention curve a data lead reads
    * before PICKING the quality threshold (the single [[qualityLogreg]]
    * row only reports the 0.5 decision). One corpus pass buckets every
    * document by its score decile; all nine cutoffs then derive from
    * the <=11-row decile rollup, so sweeping more cutoffs costs nothing
    * corpus-sized.
    *
    * Determinism: the score is [[qualityLogreg]]'s rounded 6-dp sigmoid
    * (already hash-proven cross-engine); the decile index is one
    * least(floor(x*10), 9) on that rounded double (clamped so a score
    * rounding to exactly 1.0 cannot open an 11th bin); retention
    * fractions are exact integer parts-per-million.
    *
    * Scale: one (decile)-keyed two-phase aggregate over the corpus; the
    * rollup localCheckpoints at <=11 rows and the cutoff expansion is a
    * 9x11 literal join — O(1) regardless of corpus size.
    */
  private val qualityThresholdSweep = Q(
    (s, dir) => {
      val buckets = TS(s, dir, "documents")
        .transform(qualityZ)
        .withColumn("keep_prob", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
        .withColumn("decile",
          expr("cast(least(floor(keep_prob * 10), 9) as bigint)"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_toks").cast("long")).as("n_toks"))
        .localCheckpoint(true)
      val totals = buckets.agg(sum(col("n_docs")).as("docs_total"),
        sum(col("n_toks")).as("toks_total"))
      val cutoffs = s.range(1, 10).select(col("id").as("cutoff_e1"))
      cutoffs.join(buckets, col("decile") >= col("cutoff_e1"), "left")
        .groupBy(col("cutoff_e1"))
        .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_kept"),
             coalesce(sum(col("n_toks")), lit(0L)).as("toks_kept"))
        .crossJoin(broadcast(totals))
        .withColumn("frac_docs_e6", expr("(n_kept * 1000000) div docs_total"))
        .withColumn("frac_toks_e6", expr("(toks_kept * 1000000) div toks_total"))
        .select(col("cutoff_e1"), col("n_kept"), col("toks_kept"),
          col("frac_docs_e6"), col("frac_toks_e6"))
        .orderBy(col("cutoff_e1"))
    },
    Some(s"""WITH $qualityZSqlCtes, p AS (
           |  SELECT doc_id, n_toks,
           |    round(1.0 / (1.0 + exp(-z)), 6) AS keep_prob
           |  FROM f
           |), b AS (
           |  SELECT cast(least(floor(keep_prob * 10), 9) as bigint) AS decile,
           |    count(*) AS n_docs, sum(cast(n_toks as bigint)) AS n_toks
           |  FROM p GROUP BY 1
           |), t AS (
           |  SELECT cast(sum(n_docs) as bigint) AS docs_total,
           |    cast(sum(n_toks) as bigint) AS toks_total
           |  FROM b
           |), c AS (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS cutoff_e1)
           |SELECT cast(c.cutoff_e1 as bigint) AS cutoff_e1,
           |  cast(coalesce(sum(b.n_docs), 0) as bigint) AS n_kept,
           |  cast(coalesce(sum(b.n_toks), 0) as bigint) AS toks_kept,
           |  cast((coalesce(sum(b.n_docs), 0) * 1000000) // t.docs_total as bigint)
           |    AS frac_docs_e6,
           |  cast((coalesce(sum(b.n_toks), 0) * 1000000) // t.toks_total as bigint)
           |    AS frac_toks_e6
           |FROM c LEFT JOIN b ON b.decile >= c.cutoff_e1 CROSS JOIN t
           |GROUP BY c.cutoff_e1, t.docs_total, t.toks_total
           |ORDER BY cutoff_e1""".stripMargin))

  // ---------------------------------------------------------------------
  // Per-domain frequency cap
  // ---------------------------------------------------------------------

  /** Per-domain frequency capping — the web-curation rule that stops any
    * single domain from dominating the mix (the RefinedWeb/C4 "no more
    * than N pages per site" control): each (source, lang) domain keeps at
    * most [[DOMAIN_CAP]] documents, selected deterministically by a
    * salted md5 order so a re-crawl keeps the same survivors. Reports
    * per-domain kept/dropped volumes plus the last kept hash key — a
    * direct witness that the kept set is exactly the CAP lowest keys.
    *
    * Scale: two cheap passes instead of one expensive one — the domain
    * volumes are a plain keyed count (map-side partials, no sort), and
    * the kept set is a top-CAP window WITH the `rn <= CAP` filter, so
    * Spark's WindowGroupLimit prunes map-side (asserted in
    * PlanFeaturesSpec): a hot domain moves at most CAP rows per map
    * partition into the sort, not its whole page set. A single
    * unfiltered window would instead fully sort every domain. The two
    * branches join on the domain key (both sides already partitioned by
    * it).
    */
  private val DOMAIN_CAP = 4

  private val sampleDomainCap = Q(
    (s, dir) => {
      val keyed = T(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_toks"),
          md5(concat(lit("cap:"), col("doc_id").cast("string"))).as("k"))
      val totals = keyed.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("source"), col("lang"))
        .orderBy(col("k"), col("doc_id"))
      val kept = keyed.withColumn("rn", row_number().over(w))
        .where(col("rn") <= DOMAIN_CAP)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_toks")).as("toks_kept"),
          max(col("k")).as("last_kept_k"))
      totals.join(kept, Seq("source", "lang"))
        .withColumn("n_dropped", col("n_docs") - col("n_kept"))
        .select(col("source"), col("lang"), col("n_docs"), col("n_kept"),
          col("n_dropped"), col("toks_kept"), col("last_kept_k"))
        .orderBy(col("source"), col("lang"))
    },
    Some(s"""WITH ranked AS (
            |  SELECT source, lang,
            |    cast(len(string_split(text, ' ')) as bigint) AS n_toks,
            |    md5('cap:' || cast(doc_id as varchar)) AS k,
            |    row_number() OVER (PARTITION BY source, lang
            |      ORDER BY md5('cap:' || cast(doc_id as varchar)), doc_id) AS rn
            |  FROM documents
            |)
            |SELECT source, lang, count(*) AS n_docs,
            |  cast(sum(CASE WHEN rn <= $DOMAIN_CAP THEN 1 ELSE 0 END) as bigint)
            |    AS n_kept,
            |  cast(count(*) - sum(CASE WHEN rn <= $DOMAIN_CAP THEN 1 ELSE 0 END)
            |    as bigint) AS n_dropped,
            |  cast(sum(CASE WHEN rn <= $DOMAIN_CAP THEN n_toks ELSE 0 END)
            |    as bigint) AS toks_kept,
            |  max(CASE WHEN rn <= $DOMAIN_CAP THEN k END) AS last_kept_k
            |FROM ranked GROUP BY source, lang
            |ORDER BY source, lang""".stripMargin))

  // ---------------------------------------------------------------------
  // Partitioned shard-store upsert (MERGE apply)
  // ---------------------------------------------------------------------

  /** Apply a crawl changeset to the persisted shard store IN PLACE — the
    * incremental-update write a 100 TB corpus store needs (a Delta-style
    * MERGE): inserts/updates/deletes land by rewriting ONLY the shard
    * partitions that contain affected documents (dynamic partition
    * overwrite), never the whole store. The changeset is the
    * [[pipelineDelta]] generative scheme (edits at `doc_id % 7`, removals
    * at `% 10 = 3`, ingests at `% 13`); after the merge the store is read
    * back and every shard's document count and content fingerprint is
    * compared against a from-scratch rebuild of the new snapshot — the
    * `consistent` flag failing would hash-fail the gate, so the merge
    * path is proven byte-equivalent to a full rewrite.
    *
    * Determinism: shard assignment is `doc_id % 16`; fingerprints are
    * the shard-manifest order-independent bigint sum over sha256
    * prefixes.
    *
    * Scale: the changeset derivation is one id-keyed full-outer hash
    * join over (id, hash) pairs — never text; the merge reads only
    * touched partitions (partition pruning on the scan, `IN touched`);
    * the rewrite shuffles only touched-shard rows. The touched-shard
    * list is the ONLY driver-side collect and is bounded by the shard
    * count S, not the corpus. Selectivity (untouched partitions keep
    * their physical files) is asserted in CurationSpec.
    */
  private[graft] def upsertShardStore(
      s: org.apache.spark.sql.SparkSession, base: String,
      ch: DataFrame): Seq[Int] = {
    val touched = ch.select(col("shard")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    if (touched.nonEmpty) {
      val store = s.read.parquet(base)
        .where(col("shard").isin(touched: _*))
      val merged = store
        .join(ch.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("n_toks"), col("sha"),
          col("shard"))
        .unionByName(ch.where(col("op") === "upsert")
          .select(col("doc_id"), col("source"), col("n_toks"), col("sha"),
            col("shard")))
        // break lineage to the files being overwritten (Spark refuses a
        // write whose plan still reads the target path)
        .localCheckpoint(true)
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try merged.write.mode("overwrite").partitionBy("shard").parquet(base)
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    }
    touched
  }

  private val corpusUpsert = Q.scratch("upsert")(
    (s, dir, base) => {
      val S = 16
      val docs = T(s, dir, "documents")
      val old = docs.select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_toks"),
          sha2(col("text"), 256).as("sha"))
        .withColumn("shard", (col("doc_id") % S).cast("int"))
      old.write.mode("overwrite").partitionBy("shard").parquet(base)
      val newText =
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text"))
      val neu = docs.where(col("doc_id") % 10 =!= 3)
        .select(col("doc_id"), col("source"),
          size(split(newText, " ")).cast("long").as("n_toks"),
          sha2(newText, 256).as("sha"))
        .unionAll(docs.where(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            lit("ingest").as("source"),
            size(split(concat(lit("new:"), col("text")), " ")).cast("long")
              .as("n_toks"),
            sha2(concat(lit("new:"), col("text")), 256).as("sha")))
      val ch = old.select(col("doc_id"), col("sha").as("sha_old"))
        .join(neu.select(col("doc_id"), col("source").as("src_new"),
          col("n_toks").as("nt_new"), col("sha").as("sha_new")),
          Seq("doc_id"), "full_outer")
        .withColumn("op",
          when(col("sha_new").isNull, "delete")
            .when(col("sha_old").isNull || col("sha_old") =!= col("sha_new"),
              "upsert"))
        .where(col("op").isNotNull)
        .select(col("doc_id"), col("op"), col("src_new").as("source"),
          col("nt_new").as("n_toks"), col("sha_new").as("sha"),
          (col("doc_id") % S).cast("int").as("shard"))
      val touched = upsertShardStore(s, base, ch)
      val rb = s.read.parquet(base)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
          sum(expr("cast(conv(substring(sha, 1, 8), 16, 10) as bigint)"))
            .as("content_fp"))
      val rebuild = neu
        .groupBy((col("doc_id") % S).cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs_rb"),
          sum(expr("cast(conv(substring(sha, 1, 8), 16, 10) as bigint)"))
            .as("fp_rb"))
      rb.join(rebuild, Seq("shard"), "full_outer")
        .withColumn("consistent",
          col("n_docs") === col("n_docs_rb") &&
            col("content_fp") === col("fp_rb"))
        .withColumn("rewritten",
          col("shard").isin(touched.map(_.toLong): _*))
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          col("content_fp"), col("consistent"), col("rewritten"))
        .orderBy(col("shard"))
    },
    Some("""WITH neu AS (
           |  SELECT doc_id, source,
           |    cast(len(string_split(CASE WHEN doc_id % 7 = 0
           |      THEN text || ' [rev2]' ELSE text END, ' ')) as bigint) AS n_toks,
           |    sha256(CASE WHEN doc_id % 7 = 0
           |      THEN text || ' [rev2]' ELSE text END) AS sha
           |  FROM documents WHERE doc_id % 10 <> 3
           |  UNION ALL
           |  SELECT doc_id + 1000000 AS doc_id, 'ingest' AS source,
           |    cast(len(string_split('new:' || text, ' ')) as bigint) AS n_toks,
           |    sha256('new:' || text) AS sha
           |  FROM documents WHERE doc_id % 13 = 0
           |), old AS (
           |  SELECT doc_id, sha256(text) AS sha FROM documents
           |), touched AS (
           |  SELECT DISTINCT coalesce(o.doc_id, n.doc_id) % 16 AS shard
           |  FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id
           |  WHERE o.sha IS NULL OR n.sha IS NULL OR o.sha <> n.sha
           |), agg AS (
           |  SELECT doc_id % 16 AS shard, count(*) AS n_docs,
           |    cast(sum(n_toks) as bigint) AS n_tokens,
           |    cast(sum(cast('0x' || substr(sha, 1, 8) as bigint)) as bigint)
           |      AS content_fp
           |  FROM neu GROUP BY 1
           |)
           |SELECT cast(a.shard as bigint) AS shard, a.n_docs, a.n_tokens,
           |  a.content_fp, true AS consistent,
           |  (t.shard IS NOT NULL) AS rewritten
           |FROM agg a LEFT JOIN touched t ON a.shard = t.shard
           |ORDER BY shard""".stripMargin))

  // ---------------------------------------------------------------------
  // Quality-curriculum schedule
  // ---------------------------------------------------------------------

  /** Quality-curriculum schedule — the training-order plan that feeds the
    * highest-quality documents first and defers the noisy tail (the
    * quality analog of [[corpusEpochSchedule]]'s source mixing): every
    * document gets a curriculum phase from its [[qualityLogreg]]
    * keep-probability (phase 0 = top quality band trains first), phases
    * are contiguous in the training order by construction, and the audit
    * reports each phase's volume, token mass, mean quality, and global
    * position span. Phases are QUARTILES of the score distribution (exact
    * percentile cutoffs broadcast back — the [[corpusPplBuckets]] tercile
    * pattern), not fixed thresholds, so every phase is populated whatever
    * the corpus quality profile. Within-phase order is the deterministic
    * [[corpusShuffle]] block-decomposed rank — composition, not a new
    * ordering mechanism — so only the phase BOUNDARIES (a cumulative sum
    * over 4 phase counts) are computed here.
    *
    * Determinism: keep_prob is the logreg query's already-proven 6 dp
    * rounding, lifted to an exact `round(kp*1e6)` bigint; the three
    * cutoffs are one exact interpolated percentile per engine (the
    * quantile_cont parity); the mean is an exact `sum div n` bigint.
    *
    * Scale: ONE map-only scoring pass (the scored frame narrows to two
    * ints per doc and localCheckpoints, so the percentile branch and the
    * phase aggregate don't each re-run the text regexps), one percentile
    * over a bigint per doc (its 3 scalars broadcast), a 4-group
    * aggregate, and a 4-row window — nothing corpus-sized shuffles or
    * sorts.
    */
  private val corpusCurriculum = Q(
    (s, dir) => {
      val scored = TS(s, dir, "documents")
        .transform(qualityZ)
        .withColumn("kp_e6",
          expr("cast(round((1.0 / (1.0 + exp(-z))) * 1e6) as bigint)"))
        // narrow to 2 ints/doc and checkpoint: the percentile branch and
        // the phase aggregate otherwise each re-run the regexp/HOF
        // scoring over the text — one corpus text pass, not two
        .select(col("n_toks").cast("long").as("n_toks_l"), col("kp_e6"))
        .localCheckpoint(true)
      val cut = scored.agg(
        expr("percentile(kp_e6, 0.25)").as("q1"),
        expr("percentile(kp_e6, 0.5)").as("q2"),
        expr("percentile(kp_e6, 0.75)").as("q3"))
      val agg = scored.crossJoin(broadcast(cut))
        .withColumn("phase",
          when(col("kp_e6") > col("q3"), 0L)
            .when(col("kp_e6") > col("q2"), 1L)
            .when(col("kp_e6") > col("q1"), 2L)
            .otherwise(3L))
        .groupBy(col("phase"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks_l")).as("n_tokens"),
          sum(col("kp_e6")).as("kp_sum"))
      val w = Window.orderBy(col("phase"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      agg.withColumn("pos_hi", sum(col("n_docs")).over(w))
        .select(col("phase"), col("n_docs"), col("n_tokens"),
          (col("pos_hi") - col("n_docs") + 1).as("pos_lo"), col("pos_hi"),
          expr("kp_sum div n_docs").as("mean_kp_e6"))
        .orderBy(col("phase"))
    },
    Some(s"""WITH $qualityZSqlCtes, p AS (
           |  SELECT doc_id, cast(n_toks as bigint) AS n_toks_l,
           |    cast(round((1.0 / (1.0 + exp(-z))) * 1e6) as bigint) AS kp_e6
           |  FROM f
           |), cut AS (
           |  SELECT quantile_cont(kp_e6, 0.25) AS q1,
           |         quantile_cont(kp_e6, 0.5) AS q2,
           |         quantile_cont(kp_e6, 0.75) AS q3
           |  FROM p
           |), ph AS (
           |  SELECT CASE WHEN kp_e6 > q3 THEN 0
           |              WHEN kp_e6 > q2 THEN 1
           |              WHEN kp_e6 > q1 THEN 2
           |              ELSE 3 END AS phase,
           |    n_toks_l, kp_e6
           |  FROM p, cut
           |), a AS (
           |  SELECT phase, count(*) AS n_docs,
           |    cast(sum(n_toks_l) as bigint) AS n_tokens,
           |    cast(sum(kp_e6) as bigint) AS kp_sum
           |  FROM ph GROUP BY phase
           |)
           |SELECT cast(phase as bigint) AS phase, n_docs, n_tokens,
           |  cast(sum(n_docs) OVER (ORDER BY phase) - n_docs + 1 as bigint)
           |    AS pos_lo,
           |  cast(sum(n_docs) OVER (ORDER BY phase) as bigint) AS pos_hi,
           |  cast(kp_sum // n_docs as bigint) AS mean_kp_e6
           |FROM a ORDER BY phase""".stripMargin))

  // ---------------------------------------------------------------------
  // Text normalization (crawl cleaning)
  // ---------------------------------------------------------------------

  /** Crawl-text normalization — the cleaning stage between raw ingest and
    * every hash-keyed operator (exact dedup, fingerprints, splits all key
    * on text bytes, so un-normalized case/whitespace variants silently
    * defeat them): lowercase, collapse space runs, trim. The fixture is
    * already canonical, so the query derives the RAW view by
    * deterministically perturbing it (case flips at `doc_id % 3`,
    * space-run injection at `% 5`, edge whitespace at `% 7` — the
    * pipelineDelta generative idiom) and proves the normalizer inverts
    * every perturbation: per source, `n_recovered` must equal `n_docs`
    * and the normalized-text fingerprint must equal the canonical one —
    * either failing would hash-fail the gate.
    *
    * Scale: map-only text transform + one source-keyed rollup; the
    * shuffle carries counts and bigint fingerprints, never text.
    */
  private val textNormalize = Q(
    (s, dir) => {
      val raw = expr(
        """concat(CASE WHEN doc_id % 7 = 0 THEN '  ' ELSE '' END,
          |  CASE WHEN doc_id % 5 = 0 THEN replace(
          |         CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END,
          |         ' ', '   ')
          |       ELSE CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END
          |  END,
          |  CASE WHEN doc_id % 7 = 0 THEN ' ' ELSE '' END)""".stripMargin)
      TS(s, dir, "documents")
        .withColumn("raw", raw)
        .withColumn("norm", trim(lower(regexp_replace(col("raw"), " +", " "))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("raw") =!= col("text"), 1L).otherwise(0L))
            .as("n_perturbed"),
          sum(when(col("norm") === col("text"), 1L).otherwise(0L))
            .as("n_recovered"),
          sum(length(col("raw")) - length(col("norm")))
            .cast("long").as("chars_removed"),
          sum(expr("cast(conv(substring(md5(norm), 1, 8), 16, 10) as bigint)"))
            .as("fp_norm"),
          sum(expr("cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)"))
            .as("fp_canonical"))
        .withColumn("lossless", col("fp_norm") === col("fp_canonical") &&
          col("n_recovered") === col("n_docs"))
        .orderBy(col("source"))
    },
    Some("""WITH r AS (
           |  SELECT doc_id, source, text,
           |    (CASE WHEN doc_id % 7 = 0 THEN '  ' ELSE '' END) ||
           |    (CASE WHEN doc_id % 5 = 0 THEN replace(
           |            CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END,
           |            ' ', '   ')
           |          ELSE CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END
           |     END) ||
           |    (CASE WHEN doc_id % 7 = 0 THEN ' ' ELSE '' END) AS raw
           |  FROM documents
           |), n AS (
           |  SELECT doc_id, source, text, raw,
           |    trim(lower(regexp_replace(raw, ' +', ' ', 'g'))) AS norm
           |  FROM r
           |), a AS (
           |  SELECT source, count(*) AS n_docs,
           |    cast(sum(CASE WHEN raw <> text THEN 1 ELSE 0 END) as bigint)
           |      AS n_perturbed,
           |    cast(sum(CASE WHEN norm = text THEN 1 ELSE 0 END) as bigint)
           |      AS n_recovered,
           |    cast(sum(len(raw) - len(norm)) as bigint) AS chars_removed,
           |    cast(sum(cast('0x' || substr(md5(norm), 1, 8) as bigint)) as bigint)
           |      AS fp_norm,
           |    cast(sum(cast('0x' || substr(md5(text), 1, 8) as bigint)) as bigint)
           |      AS fp_canonical
           |  FROM n GROUP BY source
           |)
           |SELECT source, n_docs, n_perturbed, n_recovered, chars_removed,
           |  fp_norm, fp_canonical,
           |  (fp_norm = fp_canonical AND n_recovered = n_docs) AS lossless
           |FROM a ORDER BY source""".stripMargin))

  // ---------------------------------------------------------------------
  // IVF cell-balance audit
  // ---------------------------------------------------------------------

  /** IVF cell-occupancy balance audit — the serving-health read an ANN
    * deployment runs before trusting its latency envelope: per coarse
    * cell, the vector count, corpus share, and load factor relative to
    * perfect balance (1e6 = exactly N/C). A skewed cell is the IVF
    * failure mode — nprobe/C stops bounding the scored fraction when one
    * cell holds half the corpus — so this is the observability twin of
    * the `ns_sim_ivf_*` search family (same 16-centroid coarse
    * quantizer, same assignment rule).
    *
    * Scale: assignment is the shared map-only broadcast-centroid pass;
    * the only shuffle is a C-group count. At 100 TB this reads the
    * stored cell column off the persisted index instead of re-assigning
    * — the aggregate is identical.
    */
  private val simIvfBalance = Q(
    (s, dir) => {
      val cells = ivfRanked(TS(s, dir, "embeddings")
          .withColumn("nrm", expr("scaled_dot(embedding, embedding)")))
        .where(col("arn") === 1)
        .groupBy(col("cen_id").as("cell"))
        .agg(count(lit(1)).as("n_vecs"))
        // C rows: checkpoint so the 1-row total derives WITHOUT a second
        // corpus assignment pass (the epoch-schedule one-pass guarantee)
        .localCheckpoint(true)
      val total = cells.agg(sum(col("n_vecs")).as("n_total"))
      cells.crossJoin(broadcast(total))
        .select(col("cell"), col("n_vecs"),
          expr("n_vecs * 1000000 div n_total").as("share_e6"),
          expr("n_vecs * 16 * 1000000 div n_total").as("load_e6"))
        .orderBy(col("cell"))
    },
    Some(s"""WITH e AS (
            |  SELECT vec_id, embedding,
            |    ${scaledDotSql("embedding", "embedding")} AS nrm
            |  FROM embeddings
            |), $ivfRankedSqlCtes, cells AS (
            |  SELECT cen_id AS cell, count(*) AS n_vecs
            |  FROM ranked WHERE arn = 1 GROUP BY 1
            |), t AS (SELECT cast(sum(n_vecs) as bigint) AS n_total FROM cells)
            |SELECT cell, n_vecs,
            |  cast((n_vecs * 1000000) // n_total as bigint) AS share_e6,
            |  cast((n_vecs * 16 * 1000000) // n_total as bigint) AS load_e6
            |FROM cells, t ORDER BY cell""".stripMargin))

  // ---------------------------------------------------------------------
  // Line-level boilerplate dedup (remove + rebuild)
  // ---------------------------------------------------------------------

  /** LINE-LEVEL dedup — the RefinedWeb/CCNet cleaning stage that removes
    * every occurrence of a line recurring across ≥ 3 distinct documents
    * (navigation chrome, cookie banners, per-site footers) and
    * reassembles each document from its surviving lines. Distinct from
    * [[dedupRewrite]] (keep-FIRST chunk dedup: one copy survives) and
    * from `ns_text_boilerplate` (detection only): boilerplate lines are
    * dropped from ALL documents, including the first.
    *
    * The fixture corpus has no newlines, so lines derive as fixed 8-token
    * groups, and the boilerplate to remove is INJECTED deterministically
    * (the textNormalize/pipelineDelta generative idiom): a global header
    * line at `doc_id % 5 = 0`, a per-source footer at `% 2 = 0` — both
    * recur far above the df ≥ 3 threshold, so the output proves every
    * injected line was cleared (`injected_survived` must be 0; a miss
    * hash-fails the gate). `organic_removed` counts fixture lines that
    * genuinely recur in ≥ 3 docs (the exact-dup clusters the dedup family
    * targets — line dedup removing them too is the documented CCNet
    * behavior, not an error), and `fp_clean` pins every byte of the
    * rebuilt corpus via the order-independent md5-prefix sum.
    *
    * Scale: the exploded line stream is localCheckpoint'd because it
    * feeds two consumers (df aggregate + flag join) — without it the
    * tokenize+explode runs twice (the dedupContainment lesson). The df
    * aggregate is a line-keyed partial-aggregable shuffle over the
    * DISTINCT (line, doc) stream; the recurring set (df ≥ 3) is
    * boilerplate by definition — orders of magnitude smaller than the
    * line stream — and broadcasts back, so flagging is map-side and the
    * corpus text is never shuffled for the filter. The rebuild is the
    * dedupRewrite in-aggregate ordered reassembly (array_sort over ≤
    * lines-per-doc structs inside the doc agg), then a source rollup
    * shuffles only counters and bigint fingerprints.
    */
  private val dedupLines = Q(
    (s, dir) => {
      val L = 8
      val lines = TS(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_body", ceil(size(col("toks")) / L.toDouble).cast("int"))
        .withColumn("body", expr(
          s"transform(sequence(0, n_body - 1), g -> array_join(slice(toks, g * $L + 1, $L), ' '))"))
        .withColumn("lines", expr(
          """concat(
            |  slice(array('boiler header global promo'), 1,
            |        cast(doc_id % 5 = 0 as int)),
            |  body,
            |  slice(array(concat('boiler footer ', source)), 1,
            |        cast(doc_id % 2 = 0 as int)))""".stripMargin))
        .select(col("doc_id"), col("source"),
          posexplode(col("lines")).as(Seq("pos", "line")))
        .localCheckpoint(true)
      val boiler = lines.select(col("line"), col("doc_id")).distinct()
        .groupBy(col("line")).agg(count(lit(1)).as("nd"))
        .where(col("nd") >= 3)
        .select(col("line"), lit(true).as("is_boiler"))
      val docs = lines
        .join(broadcast(boiler), Seq("line"), "left")
        .withColumn("keep", col("is_boiler").isNull)
        .withColumn("injected", col("line").startsWith("boiler "))
        .groupBy(col("doc_id"), col("source"))
        .agg(
          count(lit(1)).as("n_lines"),
          sum(when(!col("keep"), 1L).otherwise(0L)).as("n_removed"),
          sum(when(col("injected"), 1L).otherwise(0L)).as("n_injected"),
          sum(when(col("injected") && !col("keep"), 1L).otherwise(0L))
            .as("inj_removed"),
          sum(when(!col("injected") && !col("keep"), 1L).otherwise(0L))
            .as("org_removed"),
          sum(when(col("keep"), size(split(col("line"), " ")).cast("long"))
            .otherwise(0L)).as("toks_kept"),
          expr("""md5(array_join(transform(
                 |  array_sort(collect_list(
                 |    CASE WHEN keep THEN struct(pos, line) END)),
                 |  x -> x.line), ' '))""".stripMargin).as("clean_md5"))
      docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_lines")).as("n_lines"),
          sum(col("n_removed")).as("n_removed"),
          sum(col("n_injected") - col("inj_removed")).as("injected_survived"),
          sum(col("org_removed")).as("organic_removed"),
          sum(col("toks_kept")).as("toks_kept"),
          sum(expr("cast(conv(substring(clean_md5, 1, 8), 16, 10) as bigint)"))
            .as("fp_clean"))
        .withColumn("injected_cleared", col("injected_survived") === 0L)
        .orderBy(col("source"))
    },
    Some("""WITH t AS (
           |  SELECT doc_id, source, string_split(text, ' ') AS toks,
           |    cast(ceil(len(string_split(text, ' ')) / 8.0) as int) AS n_body
           |  FROM documents
           |), body AS (
           |  SELECT doc_id, source,
           |    unnest(generate_series(0, n_body - 1)) AS g,
           |    unnest(list_transform(generate_series(0, n_body - 1),
           |      i -> array_to_string(toks[i * 8 + 1 : i * 8 + 8], ' '))) AS line
           |  FROM t
           |), l AS (
           |  SELECT doc_id, source, g + 1 AS pos, line FROM body
           |  UNION ALL
           |  SELECT doc_id, source, 0 AS pos,
           |    'boiler header global promo' AS line
           |  FROM t WHERE doc_id % 5 = 0
           |  UNION ALL
           |  SELECT doc_id, source, n_body + 1 AS pos,
           |    'boiler footer ' || source AS line
           |  FROM t WHERE doc_id % 2 = 0
           |), b AS (
           |  SELECT line FROM (
           |    SELECT line, count(DISTINCT doc_id) AS nd FROM l GROUP BY line)
           |  WHERE nd >= 3
           |), f AS (
           |  SELECT l.doc_id, l.source, l.pos, l.line,
           |    (b.line IS NOT NULL) AS is_boiler,
           |    (l.line LIKE 'boiler %') AS injected
           |  FROM l LEFT JOIN b ON l.line = b.line
           |), d AS (
           |  SELECT doc_id, source, count(*) AS n_lines,
           |    sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS n_removed,
           |    sum(CASE WHEN injected THEN 1 ELSE 0 END) AS n_injected,
           |    sum(CASE WHEN injected AND is_boiler THEN 1 ELSE 0 END)
           |      AS inj_removed,
           |    sum(CASE WHEN NOT injected AND is_boiler THEN 1 ELSE 0 END)
           |      AS org_removed,
           |    sum(CASE WHEN NOT is_boiler
           |        THEN len(string_split(line, ' ')) ELSE 0 END) AS toks_kept,
           |    md5(coalesce(string_agg(CASE WHEN NOT is_boiler THEN line END,
           |      ' ' ORDER BY pos), '')) AS clean_md5
           |  FROM f GROUP BY doc_id, source
           |)
           |SELECT source, count(*) AS n_docs,
           |  cast(sum(n_lines) as bigint) AS n_lines,
           |  cast(sum(n_removed) as bigint) AS n_removed,
           |  cast(sum(n_injected - inj_removed) as bigint) AS injected_survived,
           |  cast(sum(org_removed) as bigint) AS organic_removed,
           |  cast(sum(toks_kept) as bigint) AS toks_kept,
           |  cast(sum(cast('0x' || substr(clean_md5, 1, 8) as bigint)) as bigint)
           |    AS fp_clean,
           |  (sum(n_injected - inj_removed) = 0) AS injected_cleared
           |FROM d GROUP BY source ORDER BY source""".stripMargin))

  // ---------------------------------------------------------------------
  // Johnson-Lindenstrauss random-projection recall + distortion audit
  // ---------------------------------------------------------------------

  /** The 16 x 64 JL sign matrix as a Spark array literal: entry (j, i) is
    * ±1 from the parity of the first hex digit of `md5("jl:j:i")` — the
    * same derivation the DuckDB oracle runs in SQL, so both engines use
    * the identical matrix without shipping data. Computed ONCE driver
    * side (1024 ints, corpus-independent) and baked into the plan as a
    * literal, the PQ-codebook idiom — per-row md5 hashing of matrix keys
    * would be 1024 digests per vector at 100 TB.
    */
  private lazy val jlSignLiteral: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 16).map { j =>
      (1 to 64).map { i =>
        val d = md.digest(s"jl:$j:$i".getBytes("UTF-8"))
        if (((d(0) >> 4) & 0xf) % 2 == 0) "1" else "-1"
      }.mkString("array(", ",", ")")
    }.mkString("array(", ",", ")")
  }

  /** DuckDB dot of the 16-long JL projections `p` of aliases `a`, `b`. */
  private def jlDotSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, 16), k -> $a.p[k] * $b.p[k]))"

  /** Johnson-Lindenstrauss random projection 64 -> 16 dims with a
    * retrieval-quality audit: recall@5 of projected-space search vs
    * exact full-dim search, plus the per-query mean cosine DISTORTION
    * over the exact top-5 pairs (the quantity the JL lemma bounds).
    * Complements [[simMatryoshka]]: truncation only works on
    * MRL-trained embeddings, while a random ±1 projection (Achlioptas'
    * database-friendly variant) compresses ANY embedding table 4x —
    * this audit is the measurement that decides whether the compressed
    * scan is safe to serve. (On the fixture's near-random embeddings the
    * top-5 margin is noise-width, so measured recall is pessimistic —
    * exactly the verdict the audit SHOULD return for unclusterable
    * vectors; the distortion column shows why: ~0.1-0.3 cosine error vs
    * the fixture's near-zero inter-vector cosines.)
    *
    * Determinism: elements quantize to a 2^20 fixed-point grid (exact in
    * double: float mantissa 24 bits x 2^20 stays integral), the sign-dot
    * accumulations are exact bigint sums, each cosine is ONE IEEE
    * division of identical bigints, and the distortion mean is an
    * integer `div` over floor-scaled e6 terms — bit-identical across
    * engines.
    *
    * Shape: the projection is MAP-ONLY against the sign-matrix literal;
    * the two searches are independently rank-pruned broadcast-query
    * passes intersected on (q, c) (the simMatryoshka/sq8 shape —
    * brute-force is the declared audit form, query-sample-bounded; a
    * deployment serves JL vectors through the same IVF/LSH bucketing as
    * full-width ones). The distortion pass touches only queries x 5
    * pairs: the exact-top-5 shortlist broadcasts back to the projected
    * table by id (the pq_rerank idiom), never the reverse.
    */
  private val simJlRecall = Q(
    (s, dir) => {
      val e = TS(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          expr("scaled_dot(embedding, embedding)").as("nrm"),
          expr(s"""transform(sequence(0, 15), j ->
                  |  aggregate(sequence(1, 64), cast(0 as bigint), (acc, i) ->
                  |    acc + element_at(element_at($jlSignLiteral, j + 1), i) *
                  |      cast(floor(cast(element_at(embedding, i) as double)
                  |        * 1048576.0) as bigint)))""".stripMargin).as("p"))
        .withColumn("nrmp",
          expr("aggregate(p, cast(0 as bigint), (a, x) -> a + x * x)"))
        .localCheckpoint(true)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("c_id"))
      val full = broadcast(
          e.where(col("vec_id") < 16).select(col("vec_id").as("q_id"),
            col("embedding").as("q_emb"), col("nrm").as("nq")))
        .join(e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
          col("nrm").as("nc")), col("q_id") =!= col("c_id"))
        .withColumn("cos",
          cosine(expr("scaled_dot(q_emb, c_emb)"), "nq", "nc"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .select(col("q_id"), col("c_id"), col("cos").as("cosf"))
        .localCheckpoint(true)
      val jl = broadcast(
          e.where(col("vec_id") < 16).select(col("vec_id").as("q_id"),
            col("p").as("qp"), col("nrmp").as("nqp")))
        .join(e.select(col("vec_id").as("c_id"), col("p").as("cp"),
          col("nrmp").as("ncp")), col("q_id") =!= col("c_id"))
        .withColumn("cos", cosine(
          expr("aggregate(zip_with(qp, cp, (x, y) -> x * y), cast(0 as bigint), " +
            "(a, x) -> a + x)"), "nqp", "ncp"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .select(col("q_id"), col("c_id"))
      val hits = full.join(jl, Seq("q_id", "c_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
      val dist = e.select(col("vec_id").as("q_id"), col("p").as("qp2"),
          col("nrmp").as("nq2"))
        .join(broadcast(full), Seq("q_id"))
        .join(e.select(col("vec_id").as("c_id"), col("p").as("cp2"),
          col("nrmp").as("nc2")), Seq("c_id"))
        .withColumn("cosj", cosine(
          expr("aggregate(zip_with(qp2, cp2, (x, y) -> x * y), cast(0 as bigint), " +
            "(a, x) -> a + x)"), "nq2", "nc2"))
        .withColumn("d_e6",
          expr("cast(floor(abs(cosf - cosj) * 1000000.0) as bigint)"))
        .groupBy(col("q_id"))
        .agg(sum(col("d_e6")).as("sd"), count(lit(1)).as("n5"))
        .select(col("q_id"), expr("sd div n5").as("distortion_e6"))
      e.where(col("vec_id") < 16).select(col("vec_id").as("q_id"))
        .join(hits, Seq("q_id"), "left")
        .join(dist, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)) / lit(5.0), 6).as("recall_at5"),
          coalesce(col("distortion_e6"), lit(0L)).as("distortion_e6"))
        .orderBy(col("q_id"))
    },
    Some(s"""WITH e AS (
            |  SELECT vec_id, embedding,
            |    ${scaledDotSql("embedding", "embedding")} AS nrm,
            |    list_transform(generate_series(0, 15), j ->
            |      list_sum(list_transform(generate_series(1, 64), i ->
            |        (1 - 2 * (cast('0x' || substr(md5('jl:' || j || ':' || i), 1, 1)
            |           as int) % 2)) *
            |        cast(floor(embedding[i]::double * 1048576.0) as bigint)))) AS p
            |  FROM embeddings
            |), e2 AS (
            |  SELECT vec_id, embedding, nrm, p,
            |    list_sum(list_transform(p, x -> x * x)) AS nrmp
            |  FROM e
            |), pf AS (
            |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
            |    ${cosineSql(scaledDotSql("q.embedding", "c.embedding"), "q.nrm", "c.nrm")} AS cos
            |  FROM e2 q, e2 c WHERE q.vec_id < 16 AND q.vec_id <> c.vec_id
            |), ff AS (
            |  SELECT q_id, c_id, cos AS cosf FROM (
            |    SELECT q_id, c_id, cos,
            |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
            |    FROM pf) WHERE rn <= 5
            |), pj AS (
            |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
            |    ${cosineSql(jlDotSql("q", "c"), "q.nrmp", "c.nrmp")} AS cos
            |  FROM e2 q, e2 c WHERE q.vec_id < 16 AND q.vec_id <> c.vec_id
            |), fj AS (
            |  SELECT q_id, c_id FROM (
            |    SELECT q_id, c_id,
            |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
            |    FROM pj) WHERE rn <= 5
            |), h AS (
            |  SELECT f.q_id, count(*) AS n_hits
            |  FROM ff f JOIN fj t ON f.q_id = t.q_id AND f.c_id = t.c_id
            |  GROUP BY f.q_id
            |), dd AS (
            |  SELECT f.q_id,
            |    cast(floor(abs(f.cosf - ${cosineSql(jlDotSql("a", "b"), "a.nrmp", "b.nrmp")})
            |      * 1000000.0) as bigint) AS d_e6
            |  FROM ff f JOIN e2 a ON a.vec_id = f.q_id
            |            JOIN e2 b ON b.vec_id = f.c_id
            |), d AS (
            |  SELECT q_id, cast(sum(d_e6) // count(*) as bigint) AS distortion_e6
            |  FROM dd GROUP BY q_id
            |)
            |SELECT q.vec_id AS q_id,
            |  cast(coalesce(h.n_hits, 0) as bigint) AS n_hits,
            |  round(coalesce(h.n_hits, 0) / 5.0, 6) AS recall_at5,
            |  cast(coalesce(d.distortion_e6, 0) as bigint) AS distortion_e6
            |FROM embeddings q
            |LEFT JOIN h ON h.q_id = q.vec_id
            |LEFT JOIN d ON d.q_id = q.vec_id
            |WHERE q.vec_id < 16 ORDER BY q_id""".stripMargin))

  // ---------------------------------------------------------------------
  // Label-filtered IVF search (metadata-constrained ANN)
  // ---------------------------------------------------------------------

  /** FILTERED vector search — top-3 same-label neighbors through the IVF
    * index (nprobe = 2), audited against exact filtered search. The
    * metadata predicate (tenant / language / category — here the fixture
    * label) applies to the probed inverted lists BEFORE any distance is
    * scored, so the scored set shrinks by the filter's selectivity — and
    * that interaction is exactly what this audit measures: with ~10
    * labels, each probed cell holds ~1/10th the usual matching
    * candidates, so `n_cand` can fall under k and `shortfall` flags the
    * queries where the index returned fewer than 3 results at all (the
    * filtered-ANN failure mode that forces nprobe up in production; the
    * unfiltered twin `ns_sim_ivf_topk` never underflows).
    *
    * Scale: identical plan skeleton to [[NorthStarQueries]]'s ivfTopk —
    * broadcast-centroid argmax assignment, per-probe cell equi-join with
    * the label predicate pushed into the join condition (Catalyst folds
    * it into the join filter, so non-matching postings never reach the
    * rank window), map-side-pruned top-3; the exact side is the
    * query-sample-bounded broadcast pass with the same predicate. The
    * candidate stream localCheckpoints because three reads derive from
    * it (candidate counts, found counts, the hit intersection).
    */
  private val simIvfFiltered = Q(
    (s, dir) => {
      val e = TS(s, dir, "embeddings")
        .withColumn("nrm", expr("scaled_dot(embedding, embedding)"))
      val ranked = ivfRanked(e)
      val assigned = ranked.where(col("arn") === 1)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
          col("nrm").as("nc"), col("label").as("lc"), col("cen_id").as("cell_c"))
      val probes = ranked.where(col("arn") <= 2 && col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("nq"), col("label").as("lq"), col("cen_id").as("cell"))
      val wTop = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("c_id"))
      val cand = probes.join(assigned,
          col("cell") === col("cell_c") && col("q_id") =!= col("c_id") &&
            col("lq") === col("lc"))
        .withColumn("cos", cosine(expr("scaled_dot(q_emb, c_emb)"), "nq", "nc"))
        .withColumn("rnk", row_number().over(wTop))
        .select(col("q_id"), col("c_id"), col("rnk"))
        .localCheckpoint(true)
      val nCand = cand.groupBy(col("q_id")).agg(count(lit(1)).as("n_cand"))
      val ivfTop = cand.where(col("rnk") <= 3).select(col("q_id"), col("c_id"))
      val nFound = ivfTop.groupBy(col("q_id")).agg(count(lit(1)).as("n_found"))
      val exact = broadcast(
          e.where(col("vec_id") < 16).select(col("vec_id").as("q_id"),
            col("embedding").as("q_emb"), col("nrm").as("nq"),
            col("label").as("lq")))
        .join(e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
          col("nrm").as("nc"), col("label").as("lc")),
          col("q_id") =!= col("c_id") && col("lq") === col("lc"))
        .withColumn("cos", cosine(expr("scaled_dot(q_emb, c_emb)"), "nq", "nc"))
        .withColumn("rnk", row_number().over(wTop))
        .where(col("rnk") <= 3)
        .select(col("q_id"), col("c_id"))
      val hits = exact.join(ivfTop, Seq("q_id", "c_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
      e.where(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("label").cast("int").as("label"))
        .join(nCand, Seq("q_id"), "left")
        .join(nFound, Seq("q_id"), "left")
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), col("label"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          coalesce(col("n_found"), lit(0L)).as("n_found"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)) / lit(3.0), 6).as("recall_at3"),
          (coalesce(col("n_found"), lit(0L)) < 3).as("shortfall"))
        .orderBy(col("q_id"))
    },
    Some(s"""WITH e AS (
            |  SELECT vec_id, embedding, label,
            |    ${scaledDotSql("embedding", "embedding")} AS nrm
            |  FROM embeddings
            |), $ivfRankedSqlCtes, assigned AS (
            |  SELECT vec_id AS c_id, embedding AS c_emb, nrm AS nc, label AS lc,
            |    cen_id AS cell_c
            |  FROM ranked WHERE arn = 1
            |), probes AS (
            |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS nq, label AS lq,
            |    cen_id AS cell
            |  FROM ranked WHERE arn <= 2 AND vec_id < 16
            |), cand AS (
            |  SELECT q.q_id, c.c_id,
            |    row_number() OVER (PARTITION BY q.q_id ORDER BY
            |      ${cosineSql(scaledDotSql("q.q_emb", "c.c_emb"), "q.nq", "c.nc")} DESC,
            |      c.c_id) AS rnk
            |  FROM probes q JOIN assigned c
            |    ON q.cell = c.cell_c AND q.q_id <> c.c_id AND q.lq = c.lc
            |), ncand AS (
            |  SELECT q_id, count(*) AS n_cand FROM cand GROUP BY q_id
            |), itop AS (SELECT q_id, c_id FROM cand WHERE rnk <= 3
            |), nfound AS (
            |  SELECT q_id, count(*) AS n_found FROM itop GROUP BY q_id
            |), ex AS (
            |  SELECT q_id, c_id FROM (
            |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
            |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
            |        ${cosineSql(scaledDotSql("q.embedding", "c.embedding"), "q.nrm", "c.nrm")} DESC,
            |        c.vec_id) AS rnk
            |    FROM e q JOIN e c
            |      ON q.vec_id < 16 AND q.vec_id <> c.vec_id AND q.label = c.label)
            |  WHERE rnk <= 3
            |), h AS (
            |  SELECT x.q_id, count(*) AS n_hits
            |  FROM ex x JOIN itop i ON x.q_id = i.q_id AND x.c_id = i.c_id
            |  GROUP BY x.q_id
            |)
            |SELECT q.vec_id AS q_id, cast(q.label as int) AS label,
            |  cast(coalesce(nc.n_cand, 0) as bigint) AS n_cand,
            |  cast(coalesce(nf.n_found, 0) as bigint) AS n_found,
            |  cast(coalesce(h.n_hits, 0) as bigint) AS n_hits,
            |  round(coalesce(h.n_hits, 0) / 3.0, 6) AS recall_at3,
            |  (coalesce(nf.n_found, 0) < 3) AS shortfall
            |FROM e q
            |LEFT JOIN ncand nc ON nc.q_id = q.vec_id
            |LEFT JOIN nfound nf ON nf.q_id = q.vec_id
            |LEFT JOIN h ON h.q_id = q.vec_id
            |WHERE q.vec_id < 16 ORDER BY q_id""".stripMargin))

  // ---------------------------------------------------------------------
  // Quality-classifier calibration audit (reliability diagram + ECE)
  // ---------------------------------------------------------------------

  /** CALIBRATION audit of the quality classifier — the reliability
    * diagram an ML-ops pass draws before trusting [[qualityLogreg]]'s
    * keep-probabilities as sampling weights (DSIR, curriculum, and the
    * threshold sweep all consume the score AS a probability; an
    * uncalibrated classifier silently skews every one of them): docs
    * bucket by predicted-probability decile, and each bucket compares
    * the mean predicted probability against the EMPIRICAL pass rate of
    * the rule-based gate (`ns_filter_quality_gate`'s exact definition:
    * not blocklisted AND rule-quality >= the corpus p25 floor) — the
    * label the classifier is meant to replace. `gap_e6` per decile is
    * the reliability-diagram deviation; the n-weighted gaps are the ECE
    * terms. All-integer outputs (e6 fixed point, integer div) so the
    * cross-engine hash is exact.
    *
    * Scale: ONE corpus pass computes both scores map-side, then narrows
    * to three 16-byte columns and localCheckpoints — the percentile
    * branch (1 scalar broadcast back) and the decile rollup both read
    * the checkpoint, not the text (the corpusCurriculum lesson). The
    * rollup is <= 10 groups at any corpus size.
    */
  private val qualityCalibration = Q(
    (s, dir) => {
      val scored = TS(s, dir, "documents")
        .transform(qualityZ)
        .withColumn("keep_prob", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
        .withColumn("quality", round(
          size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")).cast("double") * 0.5 +
            least(size(col("toks")).cast("double") / 100, lit(1.0)) * 0.5, 6))
        .withColumn("bad", col("text").rlike("(^| )(dup|slow)( |$)"))
        .select(col("keep_prob"), col("quality"), col("bad"))
        .localCheckpoint(true)
      val thr = scored.agg(
        round(expr("percentile(quality, 0.25)"), 6).as("q25"))
      scored.crossJoin(broadcast(thr))
        .withColumn("pass", !col("bad") && col("quality") >= col("q25"))
        .withColumn("decile", expr("cast(least(floor(keep_prob * 10), 9) as bigint)"))
        .withColumn("pred_e6",
          expr("cast(round(keep_prob * 1000000, 0) as bigint)"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
          sum(col("pred_e6")).as("sp"))
        .select(col("decile"), col("n_docs"), col("n_pass"),
          expr("sp div n_docs").as("mean_pred_e6"),
          expr("(n_pass * 1000000) div n_docs").as("pass_rate_e6"))
        .withColumn("gap_e6", abs(col("mean_pred_e6") - col("pass_rate_e6")))
        .orderBy(col("decile"))
    },
    Some(s"""WITH $qualityZSqlCtes, sc AS (
           |  SELECT
           |    round(1.0 / (1.0 + exp(-z)), 6) AS keep_prob,
           |    round(cast(len(list_distinct(toks)) as double) / len(toks) * 0.5
           |      + least(cast(len(toks) as double) / 100, 1.0) * 0.5, 6) AS quality,
           |    regexp_matches(text, '(^| )(dup|slow)( |$$)') AS bad
           |  FROM f
           |), thr AS (
           |  SELECT round(quantile_cont(quality, 0.25), 6) AS q25 FROM sc
           |), g AS (
           |  SELECT cast(least(floor(keep_prob * 10), 9) as bigint) AS decile,
           |    cast(round(keep_prob * 1000000, 0) as bigint) AS pred_e6,
           |    (NOT bad AND quality >= q25) AS pass
           |  FROM sc, thr
           |), a AS (
           |  SELECT decile, count(*) AS n_docs,
           |    cast(sum(CASE WHEN pass THEN 1 ELSE 0 END) as bigint) AS n_pass,
           |    cast(sum(pred_e6) as bigint) AS sp
           |  FROM g GROUP BY decile
           |)
           |SELECT decile, n_docs, n_pass,
           |  cast(sp // n_docs as bigint) AS mean_pred_e6,
           |  cast((n_pass * 1000000) // n_docs as bigint) AS pass_rate_e6,
           |  cast(abs(sp // n_docs - (n_pass * 1000000) // n_docs) as bigint)
           |    AS gap_e6
           |FROM a ORDER BY decile""".stripMargin))

  /** ISOTONIC CALIBRATION of the quality classifier — the fix the
    * [[qualityCalibration]] reliability diagram motivates: fit the
    * monotone step function (PAV / isotonic regression) mapping
    * predicted-probability deciles to calibrated pass rates, the
    * standard post-hoc calibrator (Zadrozny & Elkan) every score
    * consumer (DSIR weights, curriculum, threshold sweeps) should read
    * instead of the raw head. Computed DECLARATIVELY via the minimax
    * identity — fitted(i) = max_{j<=i} min_{k>=i} weightedMean(j..k) —
    * over the 10-bin decile frame, so no driver-side pooling loop: the
    * interval means come from one triangular self-join of the prefix
    * sums (<= 55 rows), and the min/max fold over grid-sized frames.
    *
    * Determinism: interval means compare through the exact integer key
    * `(P * 1e12) div Q` — distinct rationals with denominators q1, q2
    * differ by >= 1/(q1*q2), so the key orders them EXACTLY while
    * q1*q2 <= 1e12 (per-decile counts to a million docs; larger
    * corpora raise the scale constant) — and both engines floor the
    * same integers. The output is monotone by construction; `lift_e6`
    * (fitted minus raw rate) shows where PAV pooled.
    *
    * Scale: the one corpus pass + <= 10-group rollup of the
    * calibration audit; everything after is grid-sized (55 intervals x
    * 10 bins).
    */
  private val qualityIsotonic = Q(
    (s, dir) => {
      val scored = TS(s, dir, "documents")
        .transform(qualityZ)
        .withColumn("keep_prob", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
        .withColumn("quality", round(
          size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")).cast("double") * 0.5 +
            least(size(col("toks")).cast("double") / 100, lit(1.0)) * 0.5, 6))
        .withColumn("bad", col("text").rlike("(^| )(dup|slow)( |$)"))
        .select(col("keep_prob"), col("quality"), col("bad"))
        .localCheckpoint(true)
      val thr = scored.agg(
        round(expr("percentile(quality, 0.25)"), 6).as("q25"))
      val bins = scored.crossJoin(broadcast(thr))
        .withColumn("pass", !col("bad") && col("quality") >= col("q25"))
        // keep_prob is round(sigmoid, 6): z >= ~13.8 rounds to exactly
        // 1.0 → floor(·*10) = 10, an 11th bin outside the documented
        // 10-bin PAV frame — clamp to decile 9 in BOTH engines.
        .withColumn("decile",
          expr("cast(least(floor(keep_prob * 10), 9) as bigint)"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("nd"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("np"))
        .localCheckpoint(true) // <= 10 rows; four grid consumers
      val wOrd = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pre = bins
        .withColumn("cp", sum(col("np")).over(wOrd))
        .withColumn("cq", sum(col("nd")).over(wOrd))
        .select(col("decile"), col("cp"), col("cq"))
        .localCheckpoint(true) // 10 rows; both sides of the triangle
      val iv = pre.select(col("decile").as("j"), col("cp").as("cpj"),
          col("cq").as("cqj"))
        .join(pre.select(col("decile").as("k"), col("cp").as("cpk"),
          col("cq").as("cqk")), col("j") <= col("k"))
        .join(bins.select(col("decile").as("j"), col("np").as("npj"),
          col("nd").as("ndj")), Seq("j"))
        .select(col("j"), col("k"),
          (col("cpk") - col("cpj") + col("npj")).as("p"),
          (col("cqk") - col("cqj") + col("ndj")).as("q"))
        .withColumn("key", expr("(p * 1000000000000) div q"))
      val idx = bins.select(col("decile").as("i"))
      val fit = idx.join(iv, col("j") <= col("i") && col("k") >= col("i"))
        .groupBy(col("i"), col("j")).agg(min(col("key")).as("mnk"))
        .groupBy(col("i")).agg(max(col("mnk")).as("fit_key"))
      bins.join(fit, col("decile") === col("i"))
        .select(col("decile"), col("nd").as("n_docs"),
          expr("(np * 1000000) div nd").as("pass_rate_e6"),
          expr("fit_key div 1000000").as("iso_e6"))
        .withColumn("lift_e6", col("iso_e6") - col("pass_rate_e6"))
        .orderBy(col("decile"))
    },
    Some(s"""WITH $qualityZSqlCtes, sc AS (
           |  SELECT
           |    round(1.0 / (1.0 + exp(-z)), 6) AS keep_prob,
           |    round(cast(len(list_distinct(toks)) as double) / len(toks) * 0.5
           |      + least(cast(len(toks) as double) / 100, 1.0) * 0.5, 6) AS quality,
           |    regexp_matches(text, '(^| )(dup|slow)( |$$)') AS bad
           |  FROM f
           |), thr AS (
           |  SELECT round(quantile_cont(quality, 0.25), 6) AS q25 FROM sc
           |), bins AS (
           |  SELECT cast(least(floor(keep_prob * 10), 9) as bigint) AS decile,
           |    cast(count(*) as bigint) AS nd,
           |    cast(sum(CASE WHEN NOT bad AND quality >= q25 THEN 1 ELSE 0 END)
           |      as bigint) AS np
           |  FROM sc, thr GROUP BY decile
           |), pre AS (
           |  SELECT decile, np, nd,
           |    cast(sum(np) OVER (ORDER BY decile) as bigint) AS cp,
           |    cast(sum(nd) OVER (ORDER BY decile) as bigint) AS cq
           |  FROM bins
           |), iv AS (
           |  SELECT a.decile AS j, b.decile AS k,
           |    b.cp - a.cp + a.np AS p, b.cq - a.cq + a.nd AS q,
           |    ((b.cp - a.cp + a.np) * 1000000000000) // (b.cq - a.cq + a.nd)
           |      AS key
           |  FROM pre a JOIN pre b ON a.decile <= b.decile
           |), fit AS (
           |  SELECT i, cast(max(mnk) as bigint) AS fit_key FROM (
           |    SELECT bi.decile AS i, iv.j, min(iv.key) AS mnk
           |    FROM bins bi JOIN iv ON iv.j <= bi.decile AND iv.k >= bi.decile
           |    GROUP BY bi.decile, iv.j)
           |  GROUP BY i
           |)
           |SELECT b.decile, b.nd AS n_docs,
           |  (b.np * 1000000) // b.nd AS pass_rate_e6,
           |  cast(f.fit_key // 1000000 as bigint) AS iso_e6,
           |  cast(f.fit_key // 1000000 - (b.np * 1000000) // b.nd as bigint)
           |    AS lift_e6
           |FROM bins b JOIN fit f ON f.i = b.decile
           |ORDER BY b.decile""".stripMargin))

  // ---------------------------------------------------------------------
  // SFT loss-mask accounting (chat-turn packing prep)
  // ---------------------------------------------------------------------

  /** SFT LOSS-MASK accounting — the pre-packing read an instruction-
    * tuning pipeline runs before committing to a context limit: each
    * document is treated as a conversation of alternating 32-token
    * turns (even turn index = user, odd = assistant — the fixture's
    * deterministic stand-in for a chat template), user turns are
    * loss-MASKED (only assistant tokens train), and the tail past a
    * 48-token context limit truncates (the limit sits at ~1.5 turns so
    * the truncation branch actually fires on fixture-sized docs). Per source: conversation and
    * token volumes by role, the TRAINABLE fraction of the kept window
    * (the number that decides whether the mix is worth its compute),
    * truncation loss split by role (lost assistant tokens are lost
    * supervision; lost user tokens are just lost context), and two
    * data-quality flags — conversations ending on a user turn (no
    * supervision target for the last exchange) and conversations that
    * fit the limit whole.
    *
    * Scale: the turn explode is a map-only generator (~n/32 rows per
    * doc) absorbed by the per-source partial aggregate map-side — the
    * `ns_corpus_ctx_profile` plan class; doc-level facts (ends-on-user,
    * fits-whole, doc count) ride the i=0 turn row so there is NO
    * doc-keyed shuffle at all, just the one source-group aggregate.
    * Every output is an exact integer (e6 fractions via integer div).
    */
  private val corpusSftMasks = Q(
    (s, dir) => {
      val T = 32 // tokens per turn
      val C = 48 // context limit (~1.5 turns: truncation must bite at fixture scale)
      TS(s, dir, "documents")
        .select(col("source"),
          size(split(col("text"), " ")).as("n"))
        .withColumn("n_turns", expr(s"cast(ceil(n / $T.0) as int)"))
        .select(col("source"), col("n"), col("n_turns"),
          posexplode(expr("sequence(0, n_turns - 1)")).as(Seq("i", "ti")))
        .withColumn("t_len", least(lit(T), col("n") - col("ti") * T))
        .withColumn("kept",
          greatest(lit(0), least(col("ti") * T + col("t_len"), lit(C)) - col("ti") * T))
        .withColumn("is_user", col("ti") % 2 === 0)
        .groupBy(col("source"))
        .agg(
          sum(when(col("ti") === 0, 1L).otherwise(0L)).as("n_convs"),
          sum(when(col("ti") === 0 && col("n_turns") % 2 === 1, 1L)
            .otherwise(0L)).as("n_end_on_user"),
          sum(when(col("ti") === 0 && col("n") <= C, 1L).otherwise(0L))
            .as("n_fit_whole"),
          sum(when(col("is_user"), col("t_len").cast("long")).otherwise(0L))
            .as("user_toks"),
          sum(when(!col("is_user"), col("t_len").cast("long")).otherwise(0L))
            .as("asst_toks"),
          sum(when(col("is_user"), col("kept").cast("long")).otherwise(0L))
            .as("masked_kept"),
          sum(when(!col("is_user"), col("kept").cast("long")).otherwise(0L))
            .as("trainable_kept"))
        .withColumn("trunc_user", col("user_toks") - col("masked_kept"))
        .withColumn("trunc_asst", col("asst_toks") - col("trainable_kept"))
        .withColumn("trainable_frac_e6",
          expr("trainable_kept * 1000000 div (trainable_kept + masked_kept)"))
        .orderBy(col("source"))
    },
    Some("""WITH d AS (
           |  SELECT source, len(string_split(text, ' ')) AS n,
           |    cast(ceil(len(string_split(text, ' ')) / 32.0) as int) AS n_turns
           |  FROM documents
           |), t AS (
           |  SELECT source, n, n_turns,
           |    unnest(generate_series(0, n_turns - 1)) AS ti
           |  FROM d
           |), k AS (
           |  SELECT source, n, n_turns, ti,
           |    least(32, n - ti * 32) AS t_len,
           |    greatest(0, least(ti * 32 + least(32, n - ti * 32), 48) - ti * 32)
           |      AS kept,
           |    (ti % 2 = 0) AS is_user
           |  FROM t
           |), a AS (
           |  SELECT source,
           |    cast(sum(CASE WHEN ti = 0 THEN 1 ELSE 0 END) as bigint) AS n_convs,
           |    cast(sum(CASE WHEN ti = 0 AND n_turns % 2 = 1 THEN 1 ELSE 0 END)
           |      as bigint) AS n_end_on_user,
           |    cast(sum(CASE WHEN ti = 0 AND n <= 48 THEN 1 ELSE 0 END) as bigint)
           |      AS n_fit_whole,
           |    cast(sum(CASE WHEN is_user THEN t_len ELSE 0 END) as bigint)
           |      AS user_toks,
           |    cast(sum(CASE WHEN NOT is_user THEN t_len ELSE 0 END) as bigint)
           |      AS asst_toks,
           |    cast(sum(CASE WHEN is_user THEN kept ELSE 0 END) as bigint)
           |      AS masked_kept,
           |    cast(sum(CASE WHEN NOT is_user THEN kept ELSE 0 END) as bigint)
           |      AS trainable_kept
           |  FROM k GROUP BY source
           |)
           |SELECT source, n_convs, n_end_on_user, n_fit_whole, user_toks,
           |  asst_toks, masked_kept, trainable_kept,
           |  cast(user_toks - masked_kept as bigint) AS trunc_user,
           |  cast(asst_toks - trainable_kept as bigint) AS trunc_asst,
           |  cast(trainable_kept * 1000000 // (trainable_kept + masked_kept)
           |    as bigint) AS trainable_frac_e6
           |FROM a ORDER BY source""".stripMargin))

  // ---------------------------------------------------------------------
  // Embedding snapshot drift (per-dimension mean shift)
  // ---------------------------------------------------------------------

  /** EMBEDDING drift detection — the vector-space twin of the token-level
    * `ns_pipeline_drift`: when the embedding model (or the corpus it
    * encodes) changes between crawl snapshots, per-dimension means move,
    * and a serving stack that mixes snapshot generations in one index
    * silently degrades. Snapshots derive by vec_id parity (the
    * pipelineDelta generative idiom) and snapshot B is deterministically
    * perturbed: dims 0-3 shift by 0.15·(d+1) on the 2^20 fixed-point
    * grid — far above the fixture's ~0.011 organic mean-difference noise
    * (elements ~N(0, 0.125), ~250 vecs/snapshot) — so exactly those four
    * dims must flag `drifted` and the gate hash pins it.
    *
    * Determinism: NO division anywhere — the shift comparison is
    * cross-multiplied (`|sb·n_a − sa·n_b| >= thresh·n_a·n_b`, all exact
    * bigints; Spark's `div` truncates while DuckDB's `//` floors, so
    * integer mean division would diverge on negative sums); the one
    * human-readable float column derives from the same bigints with an
    * identical op order and a terminal round.
    *
    * Scale: one map-only posexplode into a 64-group aggregate — the
    * dim-keyed shuffle carries partial sums, never vectors; the
    * embedCovariance plan family one degree smaller.
    */
  private val embedDrift = Q(
    (s, dir) => {
      TS(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d0", "x")))
        .withColumn("q", expr("cast(floor(cast(x as double) * 1048576.0) as bigint)"))
        .withColumn("snap_b", col("vec_id") % 2 === 1)
        .withColumn("qv", when(col("snap_b") && col("d0") < 4,
          col("q") + (col("d0") + 1).cast("long") * 157286L).otherwise(col("q")))
        .groupBy(col("d0").cast("long").as("dim"))
        .agg(
          sum(when(!col("snap_b"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("snap_b"), 1L).otherwise(0L)).as("n_b"),
          sum(when(!col("snap_b"), col("qv")).otherwise(0L)).as("sum_a_q"),
          sum(when(col("snap_b"), col("qv")).otherwise(0L)).as("sum_b_q"))
        .withColumn("shift_num",
          col("sum_b_q") * col("n_a") - col("sum_a_q") * col("n_b"))
        .withColumn("drifted",
          abs(col("shift_num")) >= lit(100000L) * col("n_a") * col("n_b"))
        // + 0.0 normalizes IEEE -0.0 (a tiny negative drift rounding to
        // zero) to +0.0 so both engines hash the same bytes
        .withColumn("shift_r", round(
          col("shift_num").cast("double") / col("n_a").cast("double")
            / col("n_b").cast("double") / lit(1048576.0), 4) + lit(0.0))
        .select(col("dim"), col("n_a"), col("n_b"), col("sum_a_q"),
          col("sum_b_q"), col("shift_num"), col("shift_r"), col("drifted"))
        .orderBy(col("dim"))
    },
    Some("""WITH x AS (
           |  SELECT vec_id,
           |    unnest(generate_series(1, len(embedding))) AS dim1,
           |    unnest(embedding) AS x
           |  FROM embeddings
           |), q AS (
           |  SELECT cast(dim1 - 1 as bigint) AS dim,
           |    (vec_id % 2 = 1) AS snap_b,
           |    cast(floor(x::double * 1048576.0) as bigint)
           |      + CASE WHEN vec_id % 2 = 1 AND dim1 - 1 < 4
           |             THEN cast(dim1 as bigint) * 157286 ELSE 0 END AS qv
           |  FROM x
           |), a AS (
           |  SELECT dim,
           |    cast(sum(CASE WHEN NOT snap_b THEN 1 ELSE 0 END) as bigint) AS n_a,
           |    cast(sum(CASE WHEN snap_b THEN 1 ELSE 0 END) as bigint) AS n_b,
           |    cast(sum(CASE WHEN NOT snap_b THEN qv ELSE 0 END) as bigint)
           |      AS sum_a_q,
           |    cast(sum(CASE WHEN snap_b THEN qv ELSE 0 END) as bigint) AS sum_b_q
           |  FROM q GROUP BY dim
           |)
           |SELECT dim, n_a, n_b, sum_a_q, sum_b_q,
           |  cast(sum_b_q * n_a - sum_a_q * n_b as bigint) AS shift_num,
           |  round(cast(sum_b_q * n_a - sum_a_q * n_b as double)
           |    / cast(n_a as double) / cast(n_b as double) / 1048576.0, 4) + 0.0
           |    AS shift_r,
           |  (abs(sum_b_q * n_a - sum_a_q * n_b) >= 100000 * n_a * n_b)
           |    AS drifted
           |FROM a ORDER BY dim""".stripMargin))

  // ---------------------------------------------------------------------
  // Reshard movement audit (mod vs rendezvous hashing)
  // ---------------------------------------------------------------------

  /** RESHARD planning audit — the read that decides HOW to grow the
    * shard store from 16 to 24 shards before any byte moves: under
    * `doc_id % S` assignment (what [[corpusUpsert]]'s store uses)
    * growing S reassigns every document whose residue changes — exactly
    * 2/3 of the corpus at 16→24 — while rendezvous (highest-random-
    * weight) hashing moves only the docs whose argmax lands on a NEW
    * shard — 8/24 = 1/3 in expectation, and never between two old
    * shards. The audit computes both strategies' moved volume and the
    * new store's occupancy balance, so the "rewrite 2/3 of 100 TB vs
    * 1/3" decision comes out of the engine itself.
    *
    * Determinism: rendezvous weights are 60-bit md5 prefixes of
    * `doc:shard` (tie probability per doc ~2^-61, and both engines hash
    * identical strings); every output is an exact integer.
    *
    * Scale: ONE ×24 weight explode per doc, absorbed map-side by the
    * partial `max_by` aggregate (the old-16 argmax derives from the
    * same stream via a conditional max_by — no second explode); the
    * doc-keyed agg output is 3 ints per doc; strategies then unpivot
    * via a 2-struct inline into a (strategy, new-shard)-keyed count (48
    * groups) and a 2-group rollup. No text, no vectors, no window.
    */
  private val corpusReshard = Q(
    (s, dir) => {
      val S = 16
      val S2 = 24
      val w = s"cast(conv(substring(md5(concat(cast(doc_id as string), ':', " +
        s"cast(j as string))), 1, 15), 16, 10) as bigint)"
      val docs = TS(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(expr(s"transform(sequence(0, ${S2 - 1}), j -> $w)"))
            .as(Seq("j", "wt")))
        .groupBy(col("doc_id"))
        .agg(
          expr(s"max_by(CASE WHEN j < $S THEN j END, CASE WHEN j < $S THEN wt END)")
            .as("rdv_old"),
          expr("max_by(j, wt)").as("rdv_new"))
        .select(col("doc_id"),
          expr(s"""inline(array(
                  |  named_struct('strategy', 'mod',
                  |    'old_shard', cast(doc_id % $S as int),
                  |    'new_shard', cast(doc_id % $S2 as int)),
                  |  named_struct('strategy', 'rendezvous',
                  |    'old_shard', rdv_old, 'new_shard', rdv_new)))""".stripMargin))
      val byShard = docs.groupBy(col("strategy"), col("new_shard"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("old_shard") =!= col("new_shard"), 1L).otherwise(0L))
            .as("n_moved"))
      byShard.groupBy(col("strategy"))
        .agg(sum(col("n")).as("n_docs"),
          sum(col("n_moved")).as("n_moved"),
          max(col("n")).as("max_shard"),
          min(col("n")).as("min_shard"))
        .select(col("strategy"), col("n_docs"), col("n_moved"),
          expr("n_moved * 1000000 div n_docs").as("moved_frac_e6"),
          col("max_shard"), col("min_shard"),
          expr(s"max_shard * $S2 * 1000000 div n_docs").as("load_max_e6"))
        .orderBy(col("strategy"))
    },
    Some(s"""WITH x AS (
            |  SELECT doc_id, unnest(generate_series(0, 23)) AS j FROM documents
            |), wts AS (
            |  SELECT doc_id, j,
            |    cast('0x' || substr(md5(cast(doc_id as varchar) || ':' ||
            |      cast(j as varchar)), 1, 15) as bigint) AS wt
            |  FROM x
            |), rdv AS (
            |  SELECT doc_id,
            |    arg_max(CASE WHEN j < 16 THEN j END,
            |            CASE WHEN j < 16 THEN wt END) AS rdv_old,
            |    arg_max(j, wt) AS rdv_new
            |  FROM wts GROUP BY doc_id
            |), longf AS (
            |  SELECT 'mod' AS strategy, cast(doc_id % 16 as int) AS old_shard,
            |    cast(doc_id % 24 as int) AS new_shard
            |  FROM rdv
            |  UNION ALL
            |  SELECT 'rendezvous' AS strategy, rdv_old AS old_shard,
            |    rdv_new AS new_shard
            |  FROM rdv
            |), bs AS (
            |  SELECT strategy, new_shard, count(*) AS n,
            |    cast(sum(CASE WHEN old_shard <> new_shard THEN 1 ELSE 0 END)
            |      as bigint) AS n_moved
            |  FROM longf GROUP BY strategy, new_shard
            |)
            |SELECT strategy, cast(sum(n) as bigint) AS n_docs,
            |  cast(sum(n_moved) as bigint) AS n_moved,
            |  cast(sum(n_moved) * 1000000 // sum(n) as bigint) AS moved_frac_e6,
            |  cast(max(n) as bigint) AS max_shard,
            |  cast(min(n) as bigint) AS min_shard,
            |  cast(max(n) * 24 * 1000000 // sum(n) as bigint) AS load_max_e6
            |FROM bs GROUP BY strategy ORDER BY strategy""".stripMargin))

  // ---------------------------------------------------------------------
  // Per-shard bloom filters for point-lookup pruning
  // ---------------------------------------------------------------------

  /** PER-SHARD bloom pruning — the read-path optimization the shard
    * store ([[corpusUpsert]]/`ns_corpus_shard_manifest`) needs for
    * content-hash point lookups: the store shards by `doc_id`, so a
    * "is this content hash anywhere?" probe is uncorrelated with the
    * shard key and naively touches ALL S shards; a per-shard bloom over
    * the content hashes answers most shards with zero I/O. All S blooms
    * build in ONE corpus pass (an `Array[BloomFilter]` treeAggregate —
    * the sketches are mergeable, so per-partition arrays combine
    * treewise; driver state is S x bloom bytes, corpus-independent) and
    * broadcast to the probe evaluation. Bloom capacity sizes to the
    * actual per-shard count so the nominal fpp holds under replication.
    *
    * The probe set is half present hashes (their true shard known from
    * the store) and half novel ones. Engine-specific bloom counters
    * stay INSIDE bounded booleans (the `ns_dedup_bloom` oracle idiom):
    * `no_false_negatives` (every present probe's true shard answers
    * yes — a bloom guarantee, so `false` here means the build is
    * broken), `pruning_effective` (strictly fewer than S x n shard
    * touches — the point of the structure), and `touched_bounded`
    * (touches within the fpp envelope + slack). The two UDFs are the
    * sketch-probe surface, the dedupBloom precedent — no builtin
    * expresses bloom membership.
    */
  private val corpusShardBloom = Q(
    (s, dir) => {
      import org.apache.spark.util.sketch.BloomFilter
      val S = 16
      val store = TS(s, dir, "documents")
        .select(col("doc_id"), sha2(col("text"), 256).as("h"),
          pmod(col("doc_id"), lit(S)).cast("int").as("shard"))
        .localCheckpoint(true)
      val perShard = math.max(1000L, store.count() / S + 1L)
      val blooms = store.select(col("h"), col("shard")).rdd.treeAggregate(
          Array.fill(S)(BloomFilter.create(perShard, 0.03)))(
        (acc, r) => { acc(r.getInt(1)).putString(r.getString(0)); acc },
        (a, b) => { a.indices.foreach(i => a(i).mergeInPlace(b(i))); a })
      val bc = s.sparkContext.broadcast(blooms)
      val touchedCount = udf((h: String) =>
        (0 until S).count(i => bc.value(i).mightContainString(h)).toLong)
      val touchesTrue = udf((h: String, sh: Int) =>
        bc.value(sh).mightContainString(h))
      val probes = store.where(pmod(col("doc_id"), lit(17)) === 0)
        .select(col("h"), col("shard"), lit(true).as("present"))
        .unionByName(store.where(pmod(col("doc_id"), lit(17)) === 0)
          .select(sha2(concat(lit("novel:"), col("h")), 256).as("h"),
            lit(-1).as("shard"), lit(false).as("present")))
      probes
        .withColumn("n_touched", touchedCount(col("h")))
        .withColumn("hit_true", when(col("present"),
          touchesTrue(col("h"), col("shard"))).otherwise(lit(true)))
        .groupBy(col("present"))
        .agg(count(lit(1)).as("n_probes"),
          expr("bool_and(hit_true)").as("no_false_negatives"),
          (sum(col("n_touched")) < count(lit(1)) * S).as("pruning_effective"),
          (sum(col("n_touched")).cast("double") <=
            when(col("present"), lit(4.0)).otherwise(lit(0.15 * S))
              * count(lit(1)) + lit(1.0)).as("touched_bounded"))
        .orderBy(col("present"))
    },
    Some("""WITH d AS (
           |  SELECT doc_id, sha256(text) AS h FROM documents
           |), p AS (
           |  SELECT h, true AS present FROM d WHERE doc_id % 17 = 0
           |  UNION ALL
           |  SELECT sha256('novel:' || h) AS h, false AS present
           |  FROM d WHERE doc_id % 17 = 0
           |)
           |SELECT present, count(*) AS n_probes,
           |  true AS no_false_negatives,
           |  true AS pruning_effective,
           |  true AS touched_bounded
           |FROM p GROUP BY present ORDER BY present""".stripMargin))

  // ---------------------------------------------------------------------
  // Ranker evaluation: nDCG@10 + MRR (offline eval harness)
  // ---------------------------------------------------------------------

  /** RANKER evaluation harness — the offline eval every selection policy
    * needs before it reorders a corpus: which cheap ranker better orders
    * documents by true quality? Candidate rankers are the
    * [[qualityLogreg]] keep-probability and the naive length baseline
    * (more tokens = better); the graded gold is the rule-quality score
    * (`ns_filter_quality_gate`'s distinct-fraction/length blend). Per
    * source: nDCG@10 and MRR of each ranker — the standard
    * rank-quality pair (graded top-of-list quality + where the single
    * best doc lands). On the fixture the LENGTH baseline wins nDCG
    * (~0.999 vs ~0.96) because the rule gold is itself half
    * length-driven — exactly the gold-metric-correlation bias this
    * harness exists to surface before anyone trusts an offline eval.
    *
    * Determinism: DCG is order-dependent float summation in its naive
    * form, so each position's term is floored to an exact bigint
    * (`floor(gain_e6 / log2(pos+1))` — one log2 and one division per
    * term, identical in both engines) and the sum is an
    * order-independent integer; nDCG/MRR are integer `div` of
    * non-negative bigints.
    *
    * Scale: one map-only scoring pass narrowed to 4 ints/doc and
    * checkpointed; the three rank windows share ONE source-keyed
    * exchange (identical partitioning); all metrics fold in a single
    * source-group aggregate. Per-source sorts are the honest cost of
    * exact ranking eval — at 100 TB this runs over an eval slice, and
    * the plan is unchanged.
    */
  private val qualityRankerNdcg = Q(
    (s, dir) => {
      val scored = TS(s, dir, "documents")
        .transform(qualityZ)
        .withColumn("keep_prob", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
        .withColumn("g_e6", expr(
          """cast(round((cast(size(array_distinct(toks)) as double)
            |  / size(toks) * 0.5
            |  + least(cast(size(toks) as double) / 100, 1.0) * 0.5) * 1000000, 0)
            |as bigint)""".stripMargin))
        .select(col("doc_id"), col("source"), col("n_toks").cast("long").as("nt"),
          col("keep_prob"), col("g_e6"))
        .localCheckpoint(true)
      val wL = Window.partitionBy(col("source"))
        .orderBy(col("keep_prob").desc, col("doc_id"))
      val wN = Window.partitionBy(col("source"))
        .orderBy(col("nt").desc, col("doc_id"))
      val wG = Window.partitionBy(col("source"))
        .orderBy(col("g_e6").desc, col("doc_id"))
      def dcgTerm(pos: String) =
        expr(s"cast(floor(g_e6 / log2($pos + 1)) as bigint)")
      scored
        .withColumn("pos_l", row_number().over(wL))
        .withColumn("pos_n", row_number().over(wN))
        .withColumn("pos_g", row_number().over(wG))
        .groupBy(col("source"))
        .agg(
          sum(when(col("pos_l") <= 10, dcgTerm("pos_l")).otherwise(0L)).as("dcg_l"),
          sum(when(col("pos_n") <= 10, dcgTerm("pos_n")).otherwise(0L)).as("dcg_n"),
          sum(when(col("pos_g") <= 10, dcgTerm("pos_g")).otherwise(0L)).as("idcg"),
          min(when(col("pos_g") === 1, col("pos_l"))).as("top_pos_l"),
          min(when(col("pos_g") === 1, col("pos_n"))).as("top_pos_n"))
        .select(col("source"),
          expr("dcg_l * 1000000 div idcg").as("ndcg_logreg_e6"),
          expr("dcg_n * 1000000 div idcg").as("ndcg_length_e6"),
          expr("1000000 div top_pos_l").as("mrr_logreg_e6"),
          expr("1000000 div top_pos_n").as("mrr_length_e6"))
        .orderBy(col("source"))
    },
    Some(s"""WITH $qualityZSqlCtes, sc AS (
           |  SELECT doc_id, source, cast(n_toks as bigint) AS nt,
           |    round(1.0 / (1.0 + exp(-z)), 6) AS keep_prob,
           |    cast(round((cast(len(list_distinct(toks)) as double) / len(toks) * 0.5
           |      + least(cast(len(toks) as double) / 100, 1.0) * 0.5) * 1000000, 0)
           |      as bigint) AS g_e6
           |  FROM f
           |), r AS (
           |  SELECT source, g_e6,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY keep_prob DESC, doc_id) AS pos_l,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY nt DESC, doc_id) AS pos_n,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY g_e6 DESC, doc_id) AS pos_g
           |  FROM sc
           |), a AS (
           |  SELECT source,
           |    cast(sum(CASE WHEN pos_l <= 10
           |      THEN cast(floor(g_e6 / log2(pos_l + 1)) as bigint) ELSE 0 END)
           |      as bigint) AS dcg_l,
           |    cast(sum(CASE WHEN pos_n <= 10
           |      THEN cast(floor(g_e6 / log2(pos_n + 1)) as bigint) ELSE 0 END)
           |      as bigint) AS dcg_n,
           |    cast(sum(CASE WHEN pos_g <= 10
           |      THEN cast(floor(g_e6 / log2(pos_g + 1)) as bigint) ELSE 0 END)
           |      as bigint) AS idcg,
           |    min(CASE WHEN pos_g = 1 THEN pos_l END) AS top_pos_l,
           |    min(CASE WHEN pos_g = 1 THEN pos_n END) AS top_pos_n
           |  FROM r GROUP BY source
           |)
           |SELECT source,
           |  cast(dcg_l * 1000000 // idcg as bigint) AS ndcg_logreg_e6,
           |  cast(dcg_n * 1000000 // idcg as bigint) AS ndcg_length_e6,
           |  cast(1000000 // top_pos_l as bigint) AS mrr_logreg_e6,
           |  cast(1000000 // top_pos_n as bigint) AS mrr_length_e6
           |FROM a ORDER BY source""".stripMargin))

  // ---------------------------------------------------------------------
  // Per-source KL divergence (distributional outlier sources)
  // ---------------------------------------------------------------------

  /** Per-source DISTRIBUTIONAL triage — KL(source ‖ corpus) over the
    * token distribution with add-1 smoothing: which crawl source is
    * statistically unlike the rest (spam farm, wrong-language feed,
    * template mill)? Complements `ns_pipeline_drift` (same corpus
    * across TIME) with the same-snapshot across-SOURCE slice — the
    * read that decides which source gets a human look before the next
    * mix. KL is computed over the FULL vocabulary grid (observed pairs
    * from the corpus aggregate, zeros from the vocab × source
    * expansion), since the missing-term mass is exactly what makes a
    * narrow source diverge.
    *
    * Determinism: the DSIR one-ln pattern — each grid cell's log term
    * is ONE `ln` of a ratio of exact integers, floored to 1e6 fixed
    * point; contributions sum as exact bigints and the final
    * normalization is `floor` of a single double division (floor, not
    * integer div, so both engines agree for any sign).
    *
    * Scale: ONE corpus tokenize+count; everything after runs on the
    * (source, term) aggregate, which localCheckpoints for its four
    * consumers (term marginals, source totals, the global scalar, the
    * grid join). The grid is vocab × sources — the `ns_pipeline_drift`
    * work class — and the S-row source-totals side broadcasts.
    */
  private val profileSourceKl = Q(
    (s, dir) => {
      val st = TS(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("t"))
        .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c_st"))
        .localCheckpoint(true)
      val termTot = st.groupBy(col("t")).agg(sum(col("c_st")).as("c_t"))
      val srcTot = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"),
        count(lit(1)).as("n_terms_used"))
      val glob = termTot.agg(sum(col("c_t")).as("n"),
        count(lit(1)).as("v"))
      val grid = termTot.crossJoin(broadcast(srcTot.select(col("source"), col("n_s"))))
        .join(st, Seq("source", "t"), "left")
        .crossJoin(broadcast(glob))
        .withColumn("c", coalesce(col("c_st"), lit(0L)))
        .withColumn("ln_fp", expr(
          """cast(floor(ln(cast((c + 1) * (n + v) as double)
            |  / cast((n_s + v) * (c_t + 1) as double)) * 1e6) as bigint)""".stripMargin))
        .groupBy(col("source"))
        .agg(sum((col("c") + 1L) * col("ln_fp")).as("kl_sum_fp"),
          max(col("n_s") + col("v")).as("denom"))
      grid.join(broadcast(srcTot), Seq("source"))
        .select(col("source"), col("n_s").as("n_toks"), col("n_terms_used"),
          expr("cast(floor(cast(kl_sum_fp as double) / cast(denom as double)) as bigint)")
            .as("kl_e6"))
        .orderBy(col("kl_e6").desc, col("source"))
    },
    Some("""WITH st AS (
           |  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
           |), stc AS (
           |  SELECT source, t, count(*) AS c_st FROM st GROUP BY source, t
           |), tt AS (
           |  SELECT t, cast(sum(c_st) as bigint) AS c_t FROM stc GROUP BY t
           |), sr AS (
           |  SELECT source, cast(sum(c_st) as bigint) AS n_s,
           |    count(*) AS n_terms_used
           |  FROM stc GROUP BY source
           |), g AS (
           |  SELECT cast(sum(c_t) as bigint) AS n, count(*) AS v FROM tt
           |), grid AS (
           |  SELECT sr.source, tt.t, tt.c_t, sr.n_s, g.n, g.v,
           |    coalesce(stc.c_st, 0) AS c
           |  FROM tt CROSS JOIN sr CROSS JOIN g
           |  LEFT JOIN stc ON stc.source = sr.source AND stc.t = tt.t
           |), kl AS (
           |  SELECT source,
           |    cast(sum((c + 1) *
           |      cast(floor(ln(cast((c + 1) * (n + v) as double)
           |        / cast((n_s + v) * (c_t + 1) as double)) * 1e6) as bigint))
           |      as bigint) AS kl_sum_fp,
           |    max(n_s + v) AS denom
           |  FROM grid GROUP BY source
           |)
           |SELECT kl.source, sr.n_s AS n_toks, sr.n_terms_used,
           |  cast(floor(cast(kl_sum_fp as double) / cast(denom as double))
           |    as bigint) AS kl_e6
           |FROM kl JOIN sr USING (source)
           |ORDER BY kl_e6 DESC, source""".stripMargin))

  // ---------------------------------------------------------------------
  // Behavioral trajectory assembly (events -> training sequences)
  // ---------------------------------------------------------------------

  /** TRAJECTORY assembly — the events-to-training-sequences stage an
    * agent-training pipeline runs over behavioral logs: sessionize each
    * user's event stream (25-hour gap — daily-rhythm trajectories; the
    * fixture's inter-event gaps average ~8 h with a p90 of ~25 h, so
    * the `ts_sessionization` 30-min rule would produce only singletons
    * and a week-long gap would never split — 25 h yields ~9-event
    * sessions where BOTH segmentation and the cap fire), order each
    * session's events, serialize the action sequence, and truncate at
    * a 16-action context cap. Per session: raw
    * and kept event counts, wall duration, the md5 pinning every byte
    * of the (truncated) serialized trajectory, and the final kept
    * action — the "does the trajectory end on a terminal action"
    * data-quality read, the event-log analog of [[corpusSftMasks]]'
    * end-on-user flag.
    *
    * Determinism: event order is (ts, event_id) — unique, so the
    * in-aggregate `array_sort` rebuild and the oracle's ordered
    * string_agg serialize identically; duration floors the epoch-second
    * difference explicitly (Spark's double->long cast truncates while
    * DuckDB's rounds — `floor` agrees everywhere).
    *
    * Scale: ONE user-keyed exchange for the gap/cumsum window (explicit
    * ROWS frame), then the (user, session)-keyed aggregate whose
    * ordered reassembly runs INSIDE the aggregate (dedupRewrite idiom —
    * no per-doc driver state, no second rank window); the serialized
    * payload is capped at 16 action tokens per session.
    */
  private val corpusTrajectories = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, dir, "events")
        .withColumn("gap_s",
          col("ts").cast("double") - lag(col("ts"), 1).over(w).cast("double"))
        .withColumn("brk",
          when(col("gap_s").isNull || col("gap_s") > 90000, 1L).otherwise(0L))
        .withColumn("session_idx", sum(col("brk")).over(wRun))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("t0"), max(col("ts")).as("t1"),
          expr("array_sort(collect_list(struct(ts, event_id, event_type)))")
            .as("evs"))
        .select(col("user_id"), col("session_idx"), col("n_events"),
          expr("cast(floor(cast(t1 as double) - cast(t0 as double)) as bigint)")
            .as("duration_s"),
          least(col("n_events"), lit(16L)).as("n_kept"),
          expr("md5(array_join(transform(slice(evs, 1, 16), x -> x.event_type), ' '))")
            .as("traj_md5"),
          expr("element_at(evs, cast(least(n_events, 16) as int)).event_type")
            .as("last_kept_type"))
        .orderBy(col("user_id"), col("session_idx"))
    },
    Some("""WITH f AS (
           |  SELECT user_id, ts, event_id, event_type,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |              OR epoch(ts) - epoch(lag(ts) OVER w) > 90000
           |         THEN 1 ELSE 0 END AS brk
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           |), se AS (
           |  SELECT *, sum(brk) OVER (PARTITION BY user_id
           |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
           |  FROM f
           |), p AS (
           |  SELECT *, row_number() OVER (PARTITION BY user_id, session_idx
           |    ORDER BY ts, event_id) AS pos
           |  FROM se
           |)
           |SELECT user_id, cast(session_idx as bigint) AS session_idx,
           |  count(*) AS n_events,
           |  cast(floor(epoch(max(ts)) - epoch(min(ts))) as bigint) AS duration_s,
           |  cast(least(count(*), 16) as bigint) AS n_kept,
           |  md5(string_agg(CASE WHEN pos <= 16 THEN event_type END, ' '
           |    ORDER BY ts, event_id)) AS traj_md5,
           |  arg_max(CASE WHEN pos <= 16 THEN event_type END,
           |          CASE WHEN pos <= 16 THEN pos END) AS last_kept_type
           |FROM p GROUP BY user_id, session_idx
           |ORDER BY user_id, session_idx""".stripMargin))

  // ---------------------------------------------------------------------
  // Streaming line-boilerplate gate (stateful cross-batch df counts)
  // ---------------------------------------------------------------------

  /** STREAMING twin of [[dedupLines]], driver-gated through a REAL
    * two-micro-batch replay: the corpus lands as two parquet files
    * (doc-parity split), streams through [[graft.streaming
    * .DocumentStreams.lineBoilerplateGate]] with `AvailableNow` +
    * `maxFilesPerTrigger = 1`, and the per-line cumulative distinct-doc
    * counts carry ACROSS the batch boundary in flatMapGroupsWithState
    * state — a line that reaches df ≥ 3 only once batch 2 arrives drops
    * batch-2 occurrences while its batch-1 occurrences were already
    * emitted as kept. That is the honest streaming semantic (no
    * retraction; production closes the gap with the periodic batch
    * rewrite), and because verdicts are batch-atomic and the file order
    * deterministic, DuckDB can oracle it exactly with a two-phase df
    * formulation. The kept-stream fingerprint is position-free
    * (doc_id : line md5-prefix sum) so it is invariant to explode
    * ordering while still pinning every kept occurrence with
    * multiplicity.
    *
    * Scale: the gate's state is one long per distinct line; each
    * micro-batch shuffles once on the line key (the FMGWS exchange);
    * the post-hoc rollup here is gate plumbing, not the serving path.
    */
  private val dedupLinesStream = Q.scratch("linestream")(
    (s, dir, base) => {
      val docs = T(s, dir, "documents")
      Replay.land(s"$base/in", Seq(0, 1).map(p =>
        s"batch$p" -> docs.where(col("doc_id") % 2 === p)))
      Replay.drain(graft.streaming.DocumentStreams.lineBoilerplateGate(
          Replay.stream(s, s"$base/in", graft.Tables.schemas("documents"))),
        s"$base/out", s"$base/cp")
      s.read.parquet(s"$base/out")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("dropped") && col("line").startsWith("boiler "), 1L)
            .otherwise(0L)).as("inj_dropped"),
          sum(when(!col("dropped"), expr(
            """cast(conv(substring(md5(concat(cast(doc_id as string), ':', line)),
              |  1, 8), 16, 10) as bigint)""".stripMargin))
            .otherwise(0L)).as("fp_kept"))
        .orderBy(col("source"))
    },
    Some("""WITH t AS (
           |  SELECT doc_id, source, string_split(text, ' ') AS toks,
           |    cast(ceil(len(string_split(text, ' ')) / 8.0) as int) AS n_body
           |  FROM documents
           |), body AS (
           |  SELECT doc_id, source,
           |    unnest(list_transform(generate_series(0, n_body - 1),
           |      i -> array_to_string(toks[i * 8 + 1 : i * 8 + 8], ' '))) AS line
           |  FROM t
           |), l AS (
           |  SELECT doc_id, source, line FROM body
           |  UNION ALL
           |  SELECT doc_id, source, 'boiler header global promo' AS line
           |  FROM t WHERE doc_id % 5 = 0
           |  UNION ALL
           |  SELECT doc_id, source, 'boiler footer ' || source AS line
           |  FROM t WHERE doc_id % 2 = 0
           |), lb AS (
           |  SELECT doc_id, source, line, doc_id % 2 AS b FROM l
           |), dfb AS (
           |  SELECT line, b, count(DISTINCT doc_id) AS d FROM lb GROUP BY line, b
           |), tot AS (
           |  SELECT line,
           |    coalesce(max(CASE WHEN b = 0 THEN d END), 0) AS d0,
           |    coalesce(max(CASE WHEN b = 1 THEN d END), 0) AS d1
           |  FROM dfb GROUP BY line
           |), v AS (
           |  SELECT lb.doc_id, lb.source, lb.line,
           |    CASE WHEN lb.b = 0 THEN t.d0 >= 3
           |         ELSE t.d0 + t.d1 >= 3 END AS dropped
           |  FROM lb JOIN tot t USING (line)
           |)
           |SELECT source, count(*) AS n_lines,
           |  cast(sum(CASE WHEN dropped THEN 1 ELSE 0 END) as bigint) AS n_dropped,
           |  cast(sum(CASE WHEN dropped AND line LIKE 'boiler %' THEN 1 ELSE 0 END)
           |    as bigint) AS inj_dropped,
           |  cast(sum(CASE WHEN NOT dropped THEN
           |    cast('0x' || substr(md5(cast(doc_id as varchar) || ':' || line), 1, 8)
           |      as bigint) ELSE 0 END) as bigint) AS fp_kept
           |FROM v GROUP BY source ORDER BY source""".stripMargin))

  // ---------------------------------------------------------------------
  // Skyline (Pareto-frontier) document selection
  // ---------------------------------------------------------------------

  /** SKYLINE selection — the Pareto frontier of the corpus over three
    * maximized criteria (rule-quality score, token volume, distinct-
    * token ratio): the multi-criteria "best documents" read when no
    * single scalar ranking is trusted (every skyline doc is optimal
    * under SOME monotone preference — the selection-committee framing).
    * A relational operator Spark lacks natively; the shape here is the
    * standard two-phase distributed skyline (cf. the EDBT 2023 Spark
    * skyline integration, PAPERS.md): an exact skyline of a
    * DETERMINISTIC sample broadcasts as the pruning set — any corpus
    * point dominated by a sample-skyline point cannot be in the global
    * skyline — and the exact dominance test runs only on the surviving
    * candidates.
    *
    * Scale: criteria are one map-only pass; phase 1 (sample skyline)
    * and phase 3 (exact on survivors) are dominance anti-joins over
    * BOUNDED sets (the sample rate is the knob — at 100 TB it tightens
    * so the broadcast prune set stays small, and a good sample prunes
    * all but ~skyline-sized survivors); phase 2 is a map-side
    * broadcast anti probe over the corpus, never a corpus self-join.
    * All criteria are exact integers, so dominance is bit-identical
    * across engines; ties (identical triples) are mutually
    * non-dominating and both survive, keeping the set deterministic.
    */
  private val qualitySkyline = Q(
    (s, dir) => {
      val crit = TS(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"),
          expr("""cast(round((cast(size(array_distinct(toks)) as double)
                 |  / size(toks) * 0.5
                 |  + least(cast(size(toks) as double) / 100, 1.0) * 0.5)
                 |  * 1000000, 0) as bigint)""".stripMargin).as("q"),
          size(col("toks")).cast("long").as("t"),
          expr("""cast(round(cast(size(array_distinct(toks)) as double)
                 |  / size(toks) * 1000000, 0) as bigint)""".stripMargin).as("d"))
        .localCheckpoint(true)
      def dominates(b: String, a: String) =
        expr(s"""${b}.q >= ${a}.q AND ${b}.t >= ${a}.t AND ${b}.d >= ${a}.d
                |AND (${b}.q > ${a}.q OR ${b}.t > ${a}.t OR ${b}.d > ${a}.d)"""
          .stripMargin)
      val sample = crit.where(col("doc_id") % 13 === 0)
      val sampleSky = sample.as("a")
        .join(broadcast(sample.as("b")), dominates("b", "a"), "left_anti")
      val survivors = crit.as("a")
        .join(broadcast(sampleSky.as("b")), dominates("b", "a"), "left_anti")
        .localCheckpoint(true)
      survivors.as("a")
        .join(broadcast(survivors.as("b")), dominates("b", "a"), "left_anti")
        .select(col("doc_id"), col("q").as("quality_e6"), col("t").as("n_toks"),
          col("d").as("distinct_e6"))
        .orderBy(col("quality_e6").desc, col("doc_id"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id,
           |    cast(round((cast(len(list_distinct(string_split(text, ' '))) as double)
           |      / len(string_split(text, ' ')) * 0.5
           |      + least(cast(len(string_split(text, ' ')) as double) / 100, 1.0)
           |        * 0.5) * 1000000, 0) as bigint) AS q,
           |    cast(len(string_split(text, ' ')) as bigint) AS t,
           |    cast(round(cast(len(list_distinct(string_split(text, ' '))) as double)
           |      / len(string_split(text, ' ')) * 1000000, 0) as bigint) AS d
           |  FROM documents
           |)
           |SELECT a.doc_id, a.q AS quality_e6, a.t AS n_toks, a.d AS distinct_e6
           |FROM c a
           |WHERE NOT EXISTS (
           |  SELECT 1 FROM c b
           |  WHERE b.q >= a.q AND b.t >= a.t AND b.d >= a.d
           |    AND (b.q > a.q OR b.t > a.t OR b.d > a.d))
           |ORDER BY quality_e6 DESC, doc_id""".stripMargin))

  // ---------------------------------------------------------------------
  // k-NN graph triangle census (clustering-coefficient health audit)
  // ---------------------------------------------------------------------

  /** TRIANGLE census over the mutual k-NN graph — the graph-health read
    * before trusting graph-based ANN (`ns_sim_knn_2hop` expands through
    * this graph; a near-zero clustering coefficient means 2-hop
    * expansion wanders instead of staying in the query's neighborhood,
    * and graph-clustering methods degrade the same way). Counts the
    * mutual-edge graph's wedges and triangles and reports the global
    * clustering coefficient `3·triangles / wedges` — the standard
    * transitivity measure — plus the raw census so the trend is
    * watchable across index rebuilds.
    *
    * Scale: the edge list is [[NorthStarQueries.knnEdges]], the shared
    * bucket-equi k=3 construction (O(N·k), never all-pairs),
    * checkpointed for both sides of the mutual-edge semi-join; every
    * downstream join is on the DEGREE-BOUNDED mutual edge list (deg <=
    * k, so wedges <= N·k² and the closure semi-join probes <= that) —
    * triangle counting stays linear-ish in vectors for fixed k. All counts exact integers; the
    * coefficient is an integer div of non-negatives.
    */
  private val embedKnnTriangles = Q(
    (s, dir) => {
      // two consumers: both sides of the mutual-edge semi-join
      val edges = knnEdges(bucketed(s, dir)).select(col("a_id"), col("b_id"))
        .localCheckpoint(true)
      // canonical (u < v) mutual edges: both directions picked each other;
      // four consumers: both adjacency directions, the edge count and the
      // closure probe
      val mutual = edges
        .join(edges.select(col("b_id").as("a_id"), col("a_id").as("b_id")),
          Seq("a_id", "b_id"), "left_semi")
        .where(col("a_id") < col("b_id"))
        .select(col("a_id").as("u"), col("b_id").as("v"))
        .localCheckpoint(true)
      // adjacency (both directions) for wedge building
      val adj = mutual.unionByName(
        mutual.select(col("v").as("u"), col("u").as("v")))
      // wedges centered at m: (x - m - y), x < y to count each once;
      // checkpointed for its two consumers (census + closure probe)
      val wedges = adj.select(col("u").as("m"), col("v").as("x"))
        .join(adj.select(col("u").as("m"), col("v").as("y")), Seq("m"))
        .where(col("x") < col("y"))
        .localCheckpoint(true)
      val nodesDf = adj.select(col("u")).distinct()
        .agg(count(lit(1)).as("n_nodes"))
      val edgesDf = mutual.agg(count(lit(1)).as("n_mutual_edges"))
      val wedgesDf = wedges.agg(count(lit(1)).as("n_wedges"))
      // closed wedges: each triangle closes the wedge at EACH of its 3
      // centers, so n_triangles = closed/3 and the transitivity ratio
      // is closed/wedges directly (NOT 3·triangles/wedges again)
      val triDf = wedges
        .join(mutual.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"),
          "left_semi")
        .agg(count(lit(1)).as("n_closed"))
      nodesDf.crossJoin(broadcast(edgesDf))
        .crossJoin(broadcast(wedgesDf))
        .crossJoin(broadcast(triDf))
        .select(col("n_nodes"), col("n_mutual_edges"), col("n_wedges"),
          expr("n_closed div 3").as("n_triangles"),
          expr("""CASE WHEN n_wedges > 0
                 |THEN n_closed * 1000000 div n_wedges
                 |ELSE cast(0 as bigint) END""".stripMargin).as("global_cc_e6"))
    },
    Some(s"""WITH $bucketedSqlCte, $knnSqlCte, mu AS (
            |  SELECT k.a_id AS u, k.b_id AS v FROM knn k
            |  WHERE k.a_id < k.b_id
            |    AND EXISTS (SELECT 1 FROM knn r WHERE r.a_id = k.b_id AND r.b_id = k.a_id)
            |), adj AS (
            |  SELECT u, v FROM mu UNION ALL SELECT v AS u, u AS v FROM mu
            |), wd AS (
            |  SELECT a1.u AS m, a1.v AS x, a2.v AS y
            |  FROM adj a1 JOIN adj a2 ON a1.u = a2.u AND a1.v < a2.v
            |), tri AS (
            |  SELECT * FROM wd
            |  WHERE EXISTS (SELECT 1 FROM mu WHERE mu.u = wd.x AND mu.v = wd.y)
            |)
            |SELECT (SELECT count(DISTINCT u) FROM adj) AS n_nodes,
            |  (SELECT count(*) FROM mu) AS n_mutual_edges,
            |  (SELECT count(*) FROM wd) AS n_wedges,
            |  cast((SELECT count(*) FROM tri) // 3 as bigint) AS n_triangles,
            |  CASE WHEN (SELECT count(*) FROM wd) > 0
            |       THEN cast((SELECT count(*) FROM tri) * 1000000
            |              // (SELECT count(*) FROM wd) as bigint)
            |       ELSE 0 END AS global_cc_e6""".stripMargin))

  // ---------------------------------------------------------------------
  // Preference-pair assembly (DPO/RLHF prep)
  // ---------------------------------------------------------------------

  /** PREFERENCE-PAIR assembly — the DPO/RLHF prep stage that turns a
    * scored corpus into (chosen, rejected) training pairs: within each
    * prompt bucket (the `(source, lang)` group stands in for a shared
    * prompt), the highest-scoring document is paired against the
    * lowest-scoring one, and the pair is kept only when the score margin
    * clears 0.1 — a margin-gated pair is the unit a preference-training
    * run actually consumes, and the margin floor is what keeps
    * near-tie noise pairs out of the loss.
    *
    * Determinism: scores are the rule-quality formula rounded to 6 dp
    * then fixed-pointed to e6 bigints; ties break by doc_id through the
    * UNIQUE bigint compare key `score_e6 * 2^40 - doc_id` (max key =
    * highest score then lowest id = chosen; min key = lowest score then
    * highest id = rejected), so the pair is total-order determined even
    * under distributed merge. A single-bigint key (vs a struct) keeps
    * the aggregate a HashAggregate — a struct ordering demotes Spark to
    * SortAggregate, which sorts every partition's corpus rows. Packing
    * assumes doc_id < 2^40 (the fixture contract; a larger id space
    * widens the base, not the plan).
    *
    * Scale: ONE corpus pass computes the score map-side and ONE
    * group-keyed aggregate (map-side partials, 4 longs per group)
    * produces both extremes via max_by/min_by — no corpus-wide window,
    * no self-join, shuffle rows = |source x lang|. At 100 TB with real
    * prompt ids the same plan holds: the aggregate carries O(groups),
    * never O(docs).
    */
  private val corpusPrefPairs = Q(
    (s, dir) => {
      val scored = TS(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("score", round(
          size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")).cast("double") * 0.5 +
            least(size(col("toks")).cast("double") / 100, lit(1.0)) * 0.5, 6))
        .select(col("source"), col("lang"), col("doc_id"),
          expr("cast(round(score * 1000000, 0) as bigint)").as("score_e6"))
        .withColumn("okey",
          expr("score_e6 * cast(1099511627776 as bigint) - doc_id"))
      scored
        .groupBy(col("source"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          expr("max_by(doc_id, okey)").as("chosen_id"),
          max(col("score_e6")).as("chosen_e6"),
          expr("min_by(doc_id, okey)").as("rejected_id"),
          min(col("score_e6")).as("rejected_e6"))
        .where(col("n_docs") >= 2 &&
          col("chosen_e6") - col("rejected_e6") >= 100000)
        .select(col("source"), col("lang"), col("n_docs"), col("chosen_id"),
          col("rejected_id"), col("chosen_e6"), col("rejected_e6"),
          (col("chosen_e6") - col("rejected_e6")).as("margin_e6"))
        .orderBy(col("source"), col("lang"))
    },
    Some("""WITH f AS (
           |  SELECT source, lang, doc_id, string_split(text, ' ') AS toks
           |  FROM documents
           |), sc AS (
           |  SELECT source, lang, doc_id,
           |    cast(round(round(
           |      cast(len(list_distinct(toks)) as double) / len(toks) * 0.5
           |        + least(cast(len(toks) as double) / 100, 1.0) * 0.5, 6)
           |      * 1000000, 0) as bigint) AS score_e6
           |  FROM f
           |), r AS (
           |  SELECT source, lang, doc_id, score_e6,
           |    row_number() OVER (PARTITION BY source, lang
           |      ORDER BY score_e6 DESC, doc_id) AS rb,
           |    row_number() OVER (PARTITION BY source, lang
           |      ORDER BY score_e6 ASC, doc_id DESC) AS rw,
           |    count(*) OVER (PARTITION BY source, lang) AS n_docs
           |  FROM sc
           |), b AS (
           |  SELECT source, lang, n_docs, doc_id AS chosen_id,
           |    score_e6 AS chosen_e6 FROM r WHERE rb = 1
           |), w AS (
           |  SELECT source, lang, doc_id AS rejected_id,
           |    score_e6 AS rejected_e6 FROM r WHERE rw = 1
           |)
           |SELECT b.source, b.lang, b.n_docs, b.chosen_id, w.rejected_id,
           |  b.chosen_e6, w.rejected_e6,
           |  b.chosen_e6 - w.rejected_e6 AS margin_e6
           |FROM b JOIN w ON b.source = w.source AND b.lang = w.lang
           |WHERE b.n_docs >= 2 AND b.chosen_e6 - w.rejected_e6 >= 100000
           |ORDER BY b.source, b.lang""".stripMargin))

  // ---------------------------------------------------------------------
  // Group-relative advantages (GRPO prep)
  // ---------------------------------------------------------------------

  /** GROUP-RELATIVE ADVANTAGES — the GRPO data-prep companion to
    * [[corpusPrefPairs]]' DPO pairs: responses grouped per prompt (the
    * (source, lang) grouping idiom, rewards = the same quality score),
    * each response's advantage is its reward standardized WITHIN the
    * group, `(r − mean) / std` — the group-relative signal GRPO trains
    * on instead of a learned value baseline. Degenerate groups
    * (singletons, or zero reward variance — nothing to learn from)
    * are dropped, which is exactly the filtering step the method
    * prescribes.
    *
    * Determinism: rewards are exact e3 integers; the centered value
    * `c = r·n − Σr` and the group's `Σc²` are exact bigints (e3 scale
    * keeps Σc² under 2^53 at any group size the fixture reaches), and
    * the advantage is ONE identically-written float expression
    * `floor(c·1e6·sqrt(n)/sqrt(Σc²))` in both engines (IEEE sqrt/mul/
    * div on identical doubles — the proven round-once pattern).
    *
    * Scale: one map-side score pass, one group aggregate (mean/Σc²
    * via sum/count — partial-aggregable), one group-keyed join back;
    * no windows at all.
    */
  private val corpusGrpoGroups = Q(
    (s, dir) => {
      val scored = TS(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("score", round(
          size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")).cast("double") * 0.5 +
            least(size(col("toks")).cast("double") / 100, lit(1.0)) * 0.5, 6))
        .select(col("source"), col("lang"), col("doc_id"),
          expr("cast(round(score * 1000, 0) as bigint)").as("reward_e3"))
      val g = scored.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("reward_e3")).as("sr"))
      val centered = scored.join(g, Seq("source", "lang"))
        .withColumn("c", col("reward_e3") * col("n") - col("sr"))
      val sc2 = centered.groupBy(col("source"), col("lang"))
        .agg(sum(col("c") * col("c")).as("sc2"))
      centered.join(sc2, Seq("source", "lang"))
        .where(col("n") >= 2 && col("sc2") > 0)
        .select(col("source"), col("lang"), col("doc_id"),
          col("reward_e3"), col("n").as("n_group"),
          expr("cast(floor(cast(c as double) * 1000000.0 " +
            "* sqrt(cast(n as double)) / sqrt(cast(sc2 as double))) as bigint)")
            .as("adv_e6"))
        .orderBy(col("source"), col("lang"), col("doc_id"))
    },
    Some("""WITH f AS (
           |  SELECT source, lang, doc_id, string_split(text, ' ') AS toks
           |  FROM documents
           |), sc AS (
           |  SELECT source, lang, doc_id,
           |    cast(round(round(
           |      cast(len(list_distinct(toks)) as double) / len(toks) * 0.5
           |        + least(cast(len(toks) as double) / 100, 1.0) * 0.5, 6)
           |      * 1000, 0) as bigint) AS reward_e3
           |  FROM f
           |), g AS (
           |  SELECT source, lang, cast(count(*) as bigint) AS n,
           |    cast(sum(reward_e3) as bigint) AS sr
           |  FROM sc GROUP BY source, lang
           |), cent AS (
           |  SELECT sc.source, sc.lang, sc.doc_id, sc.reward_e3, g.n,
           |    sc.reward_e3 * g.n - g.sr AS c
           |  FROM sc JOIN g USING (source, lang)
           |), s2 AS (
           |  SELECT source, lang, cast(sum(c * c) as bigint) AS sc2
           |  FROM cent GROUP BY source, lang
           |)
           |SELECT ct.source, ct.lang, ct.doc_id, ct.reward_e3,
           |  ct.n AS n_group,
           |  cast(floor(cast(ct.c as double) * 1000000.0
           |    * sqrt(cast(ct.n as double)) / sqrt(cast(s2.sc2 as double)))
           |    as bigint) AS adv_e6
           |FROM cent ct JOIN s2 USING (source, lang)
           |WHERE ct.n >= 2 AND s2.sc2 > 0
           |ORDER BY ct.source, ct.lang, ct.doc_id""".stripMargin))

  /** WEIGHTED SAMPLE WITHOUT REPLACEMENT — the Efraimidis-Spirakis /
    * Gumbel-top-k primitive every data-mixing stage needs when
    * "sample proportional to weight" must be reproducible and
    * single-pass: each document draws its seeded uniform u from a
    * salted md5 (the sampleHash idiom, 52 mantissa-exact bits), gets
    * the Gumbel key `ln(w) − ln(−ln(u))`, and the top-k keys ARE an
    * exact weight-proportional sample without replacement — no
    * rejection loop, no sequential state, trivially distributed. Here
    * w = token count (longer documents proportionally likelier), k=50.
    *
    * Determinism: u is a pure function of doc_id (re-crawls resample
    * identically); the key is ONE identically-written float expression
    * floored once to e6 in both engines (the round-once contract);
    * ties break on doc_id.
    *
    * Scale: one map-only pass + TakeOrderedAndProject per-partition
    * heaps — no shuffle beyond the k-row final; the rank window orders
    * 50 rows.
    */
  private val sampleGumbelTopk = Q(
    (s, dir) => {
      val top = TS(s, dir, "documents")
        .withColumn("w", size(split(col("text"), " ")).cast("long"))
        .withColumn("u", expr(
          "(cast(conv(substring(md5(concat('gum:', cast(doc_id as string))), " +
            "1, 13), 16, 10) as double) + 1.0) / 4503599627370498.0"))
        .withColumn("key_e6", expr(
          "cast(floor((ln(cast(w as double)) - ln(-ln(u))) * 1000000) as bigint)"))
        .select(col("doc_id").cast("long").as("doc_id"), col("w"),
          col("key_e6"))
        .orderBy(col("key_e6").desc, col("doc_id"))
        .limit(50)
      top.withColumn("rnk", row_number().over(
          Window.orderBy(col("key_e6").desc, col("doc_id"))).cast("long"))
        .select(col("rnk"), col("doc_id"), col("w").as("weight_tokens"),
          col("key_e6"))
        .orderBy(col("rnk"))
    },
    Some("""WITH d AS (
           |  SELECT cast(doc_id as bigint) AS doc_id,
           |    cast(len(string_split(text, ' ')) as bigint) AS w,
           |    (cast(cast('0x' || substr(md5('gum:' || cast(doc_id as varchar)),
           |      1, 13) as bigint) as double) + 1.0) / 4503599627370498.0 AS u
           |  FROM documents
           |), k AS (
           |  SELECT doc_id, w,
           |    cast(floor((ln(cast(w as double)) - ln(-ln(u))) * 1000000)
           |      as bigint) AS key_e6
           |  FROM d
           |), r AS (
           |  SELECT doc_id, w, key_e6,
           |    cast(row_number() OVER (ORDER BY key_e6 DESC, doc_id)
           |      as bigint) AS rnk
           |  FROM k
           |)
           |SELECT rnk, doc_id, w AS weight_tokens, key_e6
           |FROM r WHERE rnk <= 50 ORDER BY rnk""".stripMargin))

  /** DEDUP METHOD AGREEMENT — the meta-audit an ops team runs before
    * trusting ONE near-dup detector: MinHash-LSH (band-bucket
    * candidates verified at exact shingle Jaccard >= 0.5) and SimHash
    * (banded candidates verified at Hamming <= 3) flag overlapping but
    * NOT identical pair sets, and the disagreement is where dedup
    * policy silently diverges. One row: each method's flagged-pair
    * count, the intersection, the set-Jaccard agreement, and the
    * DISAGREEMENT DIAGNOSIS — simhash-only pairs carry their mean
    * exact Jaccard (how far under the minhash bar they sit: simhash's
    * cosine-like geometry admits pairs set-similarity rejects), and
    * minhash-only pairs their mean Hamming (how far over the simhash
    * bar).
    *
    * Determinism: both pipelines are the proven exact plans (the
    * minhash band/signature CTEs and `ns_dedup_simhash64`'s 64-bit
    * two-word signature + 4x16-bit-band plan, reused verbatim);
    * Jaccard and Hamming are exact integers; means are exact integer
    * division with degenerate-count guards.
    *
    * Scale: both candidate generators are band-keyed equi-joins (never
    * all-pairs); the verify joins carry only candidates against the
    * checkpointed shingle/signature tables; the agreement rollup is a
    * single row off a pair-keyed full-outer join of two
    * candidate-sized sides. The simhash side runs at the PRODUCTION
    * 64-bit width: the r17 audit ran it at 32 bits and CAUGHT that
    * width's vocabulary collisions live (380,123 candidate pairs at
    * mean exact Jaccard 0.0014, ~quadratic bucket-occupancy growth —
    * the finding that motivated `ns_dedup_simhash64`), but the
    * 8-bit-band bucket join that exposes the pathology is itself the
    * pathology, so the audit would not survive a 100x corpus at that
    * width. The narrow-width comparison is retained as the BOUNDED
    * diagnostic `n_32bit_would_flag`: of the union pairs either
    * production method flags, how many the signature TRUNCATED to its
    * low 32 bits would also verify at Hamming <= 3 — union-pair-sized
    * arithmetic, no 32-bit bucket join anywhere.
    */
  private val dedupAgreement = Q(
    (s, dir) => {
      // --- MinHash-LSH flagged pairs (banded candidates + exact verify)
      val bands = NorthStarQueries.minhashBands(s, dir)
        .localCheckpoint(true) // both sides of the candidate self-join
      val hs = TS(s, dir, "documents")
        .select(col("doc_id"), expr(
          s"array_distinct(${NorthStarQueries.hashedShinglesExpr})").as("hs"))
        .localCheckpoint(true) // exact-Jaccard verify, both pair sides
      val mcand = bands.select(col("doc_id").as("a"), col("band"), col("bkey"))
        .join(bands.select(col("doc_id").as("b"), col("band"), col("bkey")),
          Seq("band", "bkey"))
        .where(col("a") < col("b"))
        .select(col("a"), col("b")).distinct()
      def withJacc(pairs: DataFrame) = pairs
        .join(hs.select(col("doc_id").as("a"), col("hs").as("ha")), Seq("a"))
        .join(hs.select(col("doc_id").as("b"), col("hs").as("hb")), Seq("b"))
        .withColumn("inter",
          size(array_intersect(col("ha"), col("hb"))).cast("long"))
        .withColumn("jacc_e6", expr(
          "inter * 1000000 div (size(ha) + size(hb) - inter)"))
        .drop("ha", "hb", "inter")
      val mver = withJacc(mcand).where(col("jacc_e6") >= 500000)
      // --- SimHash flagged pairs at the PRODUCTION 64-bit width
      // (ns_dedup_simhash64's plan verbatim: one sha256 per token, 64
      // parity lanes folded in one pass, two-word signature, 4x16-bit
      // bands — bucket occupancy vocab/65536, not vocab/256)
      val bitsums =
        "aggregate(transform(split(text, ' '), t -> sha2(t, 256)), " +
          "array_repeat(0, 64), (acc, h) -> zip_with(acc, " +
          "transform(sequence(1, 64), j -> IF(ascii(substring(h, j, 1)) % 2 = 1, 1, -1)), " +
          "(a, b) -> a + b))"
      def word(lo: Int) = (0 until 32)
        .map(j => s"(CASE WHEN element_at(bs, ${lo + j + 1}) >= 0 " +
          s"THEN cast(${1L << j} as bigint) ELSE cast(0 as bigint) END)")
        .mkString(" + ")
      val sigs = TS(s, dir, "documents")
        .select(col("doc_id"), expr(bitsums).as("bs"))
        .select(col("doc_id"), expr(word(0)).as("sh_lo"),
          expr(word(32)).as("sh_hi"))
        .localCheckpoint(true) // band explode + both m-side hamming joins
      val sbands = sigs
        .select(col("doc_id"), col("sh_lo"), col("sh_hi"),
          explode(expr("sequence(0, 3)")).as("k"))
        .withColumn("bv", expr(
          "IF(k < 2, shiftright(sh_lo, 16 * k), shiftright(sh_hi, 16 * (k - 2))) & 65535"))
      val sver = sbands
        .select(col("doc_id").as("a"), col("sh_lo").as("la"),
          col("sh_hi").as("ua"), col("k"), col("bv"))
        .join(sbands.select(col("doc_id").as("b"), col("sh_lo").as("lb"),
          col("sh_hi").as("ub"), col("k").as("kb"), col("bv").as("bvb")),
          col("k") === col("kb") && col("bv") === col("bvb") &&
            col("a") < col("b"))
        .select(col("a"), col("b"), col("la"), col("ua"), col("lb"), col("ub"))
        .distinct()
        .withColumn("hamming",
          expr("cast(bit_count(la ^ lb) + bit_count(ua ^ ub) as bigint)"))
        // the bounded narrow-width diagnostic: the signature truncated
        // to its low word — carried per pair, never bucket-joined
        .withColumn("hamming32", expr("cast(bit_count(la ^ lb) as bigint)"))
        .where(col("hamming") <= 3)
      // --- agreement rollup with the disagreement diagnosis: each
      // method's pairs also carry the OTHER method's metric
      val m2 = mver
        .join(sigs.select(col("doc_id").as("a"), col("sh_lo").as("mla"),
          col("sh_hi").as("mua")), Seq("a"))
        .join(sigs.select(col("doc_id").as("b"), col("sh_lo").as("mlb"),
          col("sh_hi").as("mub")), Seq("b"))
        .withColumn("m_hamming",
          expr("cast(bit_count(mla ^ mlb) + bit_count(mua ^ mub) as bigint)"))
        .withColumn("m_hamming32", expr("cast(bit_count(mla ^ mlb) as bigint)"))
        .select(col("a"), col("b"), col("jacc_e6"), col("m_hamming"),
          col("m_hamming32"), lit(1L).as("in_m"))
      val s2 = withJacc(sver.select(col("a"), col("b"), col("hamming"),
          col("hamming32")))
        .withColumnRenamed("jacc_e6", "s_jacc_e6")
        .withColumn("in_s", lit(1L))
        .select(col("a"), col("b"), col("s_jacc_e6"), col("hamming"),
          col("hamming32"), col("in_s"))
      m2.join(s2, Seq("a", "b"), "full_outer")
        .agg(
          sum(coalesce(col("in_m"), lit(0L))).as("n_minhash"),
          sum(coalesce(col("in_s"), lit(0L))).as("n_simhash"),
          sum(when(col("in_m").isNotNull && col("in_s").isNotNull, 1L)
            .otherwise(0L)).as("n_both"),
          sum(when(col("in_m").isNotNull && col("in_s").isNull, 1L)
            .otherwise(0L)).as("n_minhash_only"),
          sum(when(col("in_m").isNull && col("in_s").isNotNull, 1L)
            .otherwise(0L)).as("n_simhash_only"),
          count(lit(1)).as("n_union"),
          sum(when(col("in_m").isNull, col("s_jacc_e6"))).as("sj"),
          sum(when(col("in_s").isNull, col("m_hamming"))).as("sm"),
          sum(when(coalesce(col("m_hamming32"), col("hamming32")) <= 3, 1L)
            .otherwise(0L)).as("n32"))
        .withColumn("agreement_e6", expr("n_both * 1000000 div n_union"))
        .select(col("n_minhash"), col("n_simhash"), col("n_both"),
          col("n_minhash_only"), col("n_simhash_only"), col("agreement_e6"),
          expr("CASE WHEN n_simhash_only > 0 THEN sj div n_simhash_only " +
            "ELSE 0 END").as("s_only_mean_jacc_e6"),
          expr("CASE WHEN n_minhash_only > 0 THEN sm div n_minhash_only " +
            "ELSE 0 END").as("m_only_mean_hamming"),
          col("n32").as("n_32bit_would_flag"))
    },
    Some {
      def word(lo: Int) = (0 until 32)
        .map(j => s"(CASE WHEN s[${lo + j + 1}] >= 0 " +
          s"THEN cast(${1L << j} as bigint) ELSE cast(0 as bigint) END)")
        .mkString(" + ")
      s"""WITH ${NorthStarQueries.minhashBandsSqlCtes}, shl AS (
         |  SELECT doc_id, list_distinct(${NorthStarQueries.hashedShinglesSql}) AS hs
         |  FROM documents
         |), mcand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
         |), stoks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
         |), shx AS (
         |  SELECT doc_id, sha256(t) AS hx FROM stoks
         |), sjs AS (
         |  SELECT unnest(generate_series(0, 63)) AS j
         |), slanes AS (
         |  SELECT doc_id, j,
         |    sum(CASE WHEN ascii(substr(hx, j + 1, 1)) % 2 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM shx, sjs GROUP BY doc_id, j
         |), ssums AS (
         |  SELECT doc_id, list(v ORDER BY j) AS s FROM slanes GROUP BY doc_id
         |), simt AS (
         |  SELECT doc_id, ${word(0)} AS sh_lo, ${word(32)} AS sh_hi FROM ssums
         |), mver0 AS (
         |  SELECT c.a, c.b,
         |    (len(list_intersect(ha.hs, hb.hs)) * 1000000)
         |      // (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)))
         |      AS jacc_e6
         |  FROM mcand c JOIN shl ha ON ha.doc_id = c.a
         |    JOIN shl hb ON hb.doc_id = c.b
         |), mver AS (
         |  SELECT m.a, m.b, m.jacc_e6,
         |    cast(bit_count(xor(sa.sh_lo, sb.sh_lo))
         |      + bit_count(xor(sa.sh_hi, sb.sh_hi)) as bigint) AS m_hamming,
         |    cast(bit_count(xor(sa.sh_lo, sb.sh_lo)) as bigint) AS m_hamming32
         |  FROM mver0 m JOIN simt sa ON sa.doc_id = m.a
         |    JOIN simt sb ON sb.doc_id = m.b
         |  WHERE m.jacc_e6 >= 500000
         |), sb AS (
         |  SELECT doc_id, sh_lo, sh_hi, k,
         |    (CASE WHEN k < 2 THEN sh_lo >> (16 * k)
         |          ELSE sh_hi >> (16 * (k - 2)) END) & 65535 AS bv
         |  FROM simt, (SELECT unnest(generate_series(0, 3)) AS k)
         |), sver0 AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |    x.sh_lo AS la, x.sh_hi AS ua, y.sh_lo AS lb, y.sh_hi AS ub
         |  FROM sb x JOIN sb y
         |    ON x.k = y.k AND x.bv = y.bv AND x.doc_id < y.doc_id
         |), sver AS (
         |  SELECT a, b,
         |    cast(bit_count(xor(la, lb)) + bit_count(xor(ua, ub)) as bigint)
         |      AS hamming,
         |    cast(bit_count(xor(la, lb)) as bigint) AS hamming32,
         |    (len(list_intersect(ha.hs, hb.hs)) * 1000000)
         |      // (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)))
         |      AS s_jacc_e6
         |  FROM sver0 JOIN shl ha ON ha.doc_id = sver0.a
         |    JOIN shl hb ON hb.doc_id = sver0.b
         |  WHERE bit_count(xor(la, lb)) + bit_count(xor(ua, ub)) <= 3
         |), u AS (
         |  SELECT coalesce(m.a, s.a) AS a, coalesce(m.b, s.b) AS b,
         |    m.jacc_e6, m.m_hamming, s.hamming, s.s_jacc_e6,
         |    coalesce(m.m_hamming32, s.hamming32) AS h32,
         |    (m.a IS NOT NULL) AS in_m, (s.a IS NOT NULL) AS in_s
         |  FROM mver m FULL OUTER JOIN sver s ON m.a = s.a AND m.b = s.b
         |), agg AS (
         |  SELECT cast(sum(CASE WHEN in_m THEN 1 ELSE 0 END) as bigint) AS n_minhash,
         |    cast(sum(CASE WHEN in_s THEN 1 ELSE 0 END) as bigint) AS n_simhash,
         |    cast(sum(CASE WHEN in_m AND in_s THEN 1 ELSE 0 END) as bigint) AS n_both,
         |    cast(sum(CASE WHEN in_m AND NOT in_s THEN 1 ELSE 0 END) as bigint)
         |      AS n_minhash_only,
         |    cast(sum(CASE WHEN NOT in_m AND in_s THEN 1 ELSE 0 END) as bigint)
         |      AS n_simhash_only,
         |    cast(count(*) as bigint) AS n_union,
         |    cast(sum(CASE WHEN NOT in_m THEN s_jacc_e6 END) as bigint) AS sj,
         |    cast(sum(CASE WHEN NOT in_s THEN m_hamming END) as bigint) AS sm,
         |    cast(sum(CASE WHEN h32 <= 3 THEN 1 ELSE 0 END) as bigint) AS n32
         |  FROM u
         |)
         |SELECT n_minhash, n_simhash, n_both, n_minhash_only, n_simhash_only,
         |  (n_both * 1000000) // n_union AS agreement_e6,
         |  CASE WHEN n_simhash_only > 0 THEN sj // n_simhash_only
         |    ELSE 0 END AS s_only_mean_jacc_e6,
         |  CASE WHEN n_minhash_only > 0 THEN sm // n_minhash_only
         |    ELSE 0 END AS m_only_mean_hamming,
         |  n32 AS n_32bit_would_flag
         |FROM agg""".stripMargin
    })

  /** B-BIT MINHASH estimator audit (Li & Koenig) — the storage knob on
    * the minhash signature nobody prices before turning: keeping only
    * the lowest b bits of each of the 8 signature values shrinks the
    * sketch 31/b-fold but inflates collisions, and the corrected
    * estimator J_b = (match_frac - 2^-b) / (1 - 2^-b) trades variance
    * for the space. Over the SAME band-bucket candidate pairs the
    * production LSH emits, for b in {1, 2, 4, 8, 16, 31} (31 = the
    * full-width baseline — signature values live in [0, 2^31-1)):
    * mean |estimate - exact Jaccard| and the false-accept /
    * false-reject counts at the production 0.5 threshold. All exact
    * integers (match counts, the e6-scaled estimator as one `div`,
    * `greatest(..., 0)` clamps the negative tail BEFORE the division
    * so signed-div semantics never differ cross-engine).
    *
    * Scale: candidates band-keyed (never all-pairs); the signature
    * attach is two doc-keyed joins against the checkpointed 8-column
    * signature table; all six b-widths fold from ONE inline pass over
    * the candidate rows — adding widths costs nothing corpus-sized.
    */
  private val dedupBbitMinhash = Q(
    (s, dir) => {
      val bs = Seq(1, 2, 4, 8, 16, 31)
      val sigs = NorthStarQueries.minhashSigs(s, dir)
        .localCheckpoint(true) // both sides of the pair attach
      val bands = NorthStarQueries.minhashBands(s, dir)
        .localCheckpoint(true)
      val hs = TS(s, dir, "documents")
        .select(col("doc_id"), expr(
          s"array_distinct(${NorthStarQueries.hashedShinglesExpr})").as("hs"))
        .localCheckpoint(true)
      val cand = bands.select(col("doc_id").as("a"), col("band"), col("bkey"))
        .join(bands.select(col("doc_id").as("b"), col("band"), col("bkey")),
          Seq("band", "bkey"))
        .where(col("a") < col("b"))
        .select(col("a"), col("b")).distinct()
      val withJ = cand
        .join(hs.select(col("doc_id").as("a"), col("hs").as("ha")), Seq("a"))
        .join(hs.select(col("doc_id").as("b"), col("hs").as("hb")), Seq("b"))
        .withColumn("inter",
          size(array_intersect(col("ha"), col("hb"))).cast("long"))
        .withColumn("jacc_e6", expr(
          "inter * 1000000 div (size(ha) + size(hb) - inter)"))
        .drop("ha", "hb", "inter")
      val aSig = (0 until 8).map(i => col(s"s$i").as(s"sa$i"))
      val bSig = (0 until 8).map(i => col(s"s$i").as(s"sb$i"))
      val withSig = withJ
        .join(sigs.select((col("doc_id").as("a") +: aSig): _*), Seq("a"))
        .join(sigs.select((col("doc_id").as("b") +: bSig): _*), Seq("b"))
      val structs = bs.map { b =>
        val pow = 1L << b
        val m = (0 until 8)
          .map(i => s"(CASE WHEN sa$i % $pow = sb$i % $pow THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"struct(cast($b as bigint) as b, cast($m as bigint) as m)"
      }.mkString("inline(array(", ", ", "))")
      withSig
        .select(col("jacc_e6"), expr(structs))
        .withColumn("est_e6", expr(
          "greatest(m * shiftleft(1L, cast(b as int)) - 8, 0L) * 1000000 " +
            "div (8 * (shiftleft(1L, cast(b as int)) - 1))"))
        .groupBy(col("b"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(abs(est_e6 - jacc_e6)) div count(1)").as("mean_abs_err_e6"),
          sum(when(col("est_e6") >= 500000 && col("jacc_e6") < 500000, 1L)
            .otherwise(0L)).as("n_false_accept"),
          sum(when(col("est_e6") < 500000 && col("jacc_e6") >= 500000, 1L)
            .otherwise(0L)).as("n_false_reject"))
        .orderBy(col("b"))
    },
    Some {
      val bRows = Seq(1, 2, 4, 8, 16, 31).map { b =>
        val pow = 1L << b
        val m = (0 until 8)
          .map(i => s"(CASE WHEN x.s$i % $pow = y.s$i % $pow THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"SELECT p.a, p.b AS bdoc, p.jacc_e6, cast($b as bigint) AS b, " +
          s"cast($m as bigint) AS m FROM pj p " +
          "JOIN sig x ON x.doc_id = p.a JOIN sig y ON y.doc_id = p.b"
      }.mkString("\n  UNION ALL ")
      s"""WITH ${NorthStarQueries.minhashBandsSqlCtes}, shl AS (
         |  SELECT doc_id, list_distinct(${NorthStarQueries.hashedShinglesSql}) AS hs
         |  FROM documents
         |), cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
         |), pj AS (
         |  SELECT c.a, c.b,
         |    (len(list_intersect(ha.hs, hb.hs)) * 1000000)
         |      // (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)))
         |      AS jacc_e6
         |  FROM cand c JOIN shl ha ON ha.doc_id = c.a
         |    JOIN shl hb ON hb.doc_id = c.b
         |), bb AS (
         |  $bRows
         |), est AS (
         |  SELECT b, jacc_e6,
         |    (greatest(m * (1::bigint << b) - 8, 0) * 1000000)
         |      // (8 * ((1::bigint << b) - 1)) AS est_e6
         |  FROM bb
         |)
         |SELECT b, cast(count(*) as bigint) AS n_pairs,
         |  cast(sum(abs(est_e6 - jacc_e6)) // count(*) as bigint)
         |    AS mean_abs_err_e6,
         |  cast(sum(CASE WHEN est_e6 >= 500000 AND jacc_e6 < 500000
         |    THEN 1 ELSE 0 END) as bigint) AS n_false_accept,
         |  cast(sum(CASE WHEN est_e6 < 500000 AND jacc_e6 >= 500000
         |    THEN 1 ELSE 0 END) as bigint) AS n_false_reject
         |FROM est GROUP BY b ORDER BY b""".stripMargin
    })

  /** DEDUP METHOD AGREEMENT, set-similarity vs SEMANTIC — the
    * [[dedupAgreement]] frame generalized to the read that prices
    * semantic dedup before enabling it: MinHash-LSH (band-bucket
    * candidates, exact shingle Jaccard >= 0.5) against SemDeDup
    * (within-k-means-cluster exact cosine > 0.4 — `ns_dedup_semantic`'s
    * plan verbatim), over the shared doc_id/vec_id id space (minhash
    * pairs restrict to ids that HAVE embeddings — the inner join). The
    * disagreement diagnosis: semantic-only pairs carry their mean exact
    * Jaccard (how far under the set-similarity bar cosine-similar pairs
    * sit — paraphrases, templates with different tokens), minhash-only
    * pairs their mean exact cosine (near-identical token sets the
    * embedding geometry separates), PLUS `n_minhash_cross_cluster` —
    * set-identical pairs whose embeddings landed in DIFFERENT k-means
    * cells, the pairs SemDeDup's blocking can never flag at any
    * threshold. That count is the method's recall ceiling, measured.
    *
    * Determinism: both pipelines are proven exact plans (minhash CTEs;
    * the kmeans unrolled-rounds oracle + scaled_dot cosine, whose
    * double division/comparison is the bit-identical idiom
    * `ns_dedup_semantic` established); reported cosines are
    * floor(cos * 1e6) exact integers; means are integer division with
    * degenerate-count guards.
    *
    * Scale: minhash candidates band-keyed, semantic candidates
    * cluster-keyed (sum-of-cluster-sizes² work, k ∝ N in production) —
    * never all-pairs on either side; the verify joins carry candidates
    * against checkpointed shingle/embedding tables; the rollup is one
    * row off a pair-keyed full-outer join.
    *
    * This is the body with the cluster assignment injected. The gate
    * query below binds [[NorthStarQueries.kmeansAssignKprop]] — the
    * PRODUCTION k ∝ N configuration (k = max(8, N/250), distinct-vector
    * seeds) — so the audit's SemDeDup side keeps per-cluster pair work
    * linear as the corpus grows; the r18 fixed-k binding made it
    * ~quadratic under replication (4.2x at the 10x tier) and survives
    * only in the `ns_dedup_semantic` fixture-contract row.
    */
  private[graft] def agreementSemanticStats(s: SparkSession, dir: String,
      asg: DataFrame): DataFrame = {
      // embedding facts: k-means cell + norm (the SemDeDup frame)
      val emb = TS(s, dir, "embeddings")
        .withColumn("nrm", expr("scaled_dot(embedding, embedding)"))
        .join(asg, Seq("vec_id"))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cl"))
        .localCheckpoint(true) // cluster pair join both sides + 2 m-side attaches
      // MinHash-LSH flagged pairs (the dedupAgreement plan verbatim)
      val bands = NorthStarQueries.minhashBands(s, dir)
        .localCheckpoint(true) // both sides of the candidate self-join
      val hs = TS(s, dir, "documents")
        .select(col("doc_id"), expr(
          s"array_distinct(${NorthStarQueries.hashedShinglesExpr})").as("hs"))
        .localCheckpoint(true) // jaccard verify + semantic-pair attach
      val mcand = bands.select(col("doc_id").as("a"), col("band"), col("bkey"))
        .join(bands.select(col("doc_id").as("b"), col("band"), col("bkey")),
          Seq("band", "bkey"))
        .where(col("a") < col("b"))
        .select(col("a"), col("b")).distinct()
      def withJacc(pairs: DataFrame) = pairs
        .join(hs.select(col("doc_id").as("a"), col("hs").as("ha")), Seq("a"))
        .join(hs.select(col("doc_id").as("b"), col("hs").as("hb")), Seq("b"))
        .withColumn("inter",
          size(array_intersect(col("ha"), col("hb"))).cast("long"))
        .withColumn("jacc_e6", expr(
          "inter * 1000000 div (size(ha) + size(hb) - inter)"))
        .drop("ha", "hb", "inter")
      val mver = withJacc(mcand).where(col("jacc_e6") >= 500000)
        // restrict to the embedded id space + attach both cells/cosine
        .join(emb.select(col("vec_id").as("a"), col("embedding").as("mea"),
          col("nrm").as("mna"), col("cl").as("mca")), Seq("a"))
        .join(emb.select(col("vec_id").as("b"), col("embedding").as("meb"),
          col("nrm").as("mnb"), col("cl").as("mcb")), Seq("b"))
        .withColumn("m_cos_e6",
          floor(cosine(expr("scaled_dot(mea, meb)"), "mna", "mnb") * 1000000).cast("bigint"))
        .withColumn("cross_cl", col("mca") =!= col("mcb"))
        .select(col("a"), col("b"), col("jacc_e6"), col("m_cos_e6"),
          col("cross_cl"), lit(1L).as("in_m"))
      // SemDeDup flagged pairs: within-cluster exact cosine > 0.4
      val ea = emb.select(col("vec_id").as("a"), col("embedding").as("sea"),
        col("nrm").as("sna"), col("cl"))
      val eb = emb.select(col("vec_id").as("b"), col("embedding").as("seb"),
        col("nrm").as("snb"), col("cl").as("cl_b"))
      val sver = ea.join(eb, col("cl") === col("cl_b") && col("a") < col("b"))
        .withColumn("s_cos", cosine(expr("scaled_dot(sea, seb)"), "sna", "snb"))
        .where(col("s_cos") > 0.4)
        .withColumn("s_cos_e6", floor(col("s_cos") * 1000000).cast("bigint"))
        .select(col("a"), col("b"), col("s_cos_e6"))
      val s2 = withJacc(sver)
        .withColumnRenamed("jacc_e6", "s_jacc_e6")
        .withColumn("in_s", lit(1L))
        .select(col("a"), col("b"), col("s_jacc_e6"), col("s_cos_e6"),
          col("in_s"))
      mver.join(s2, Seq("a", "b"), "full_outer")
        .agg(
          sum(coalesce(col("in_m"), lit(0L))).as("n_minhash"),
          sum(coalesce(col("in_s"), lit(0L))).as("n_semantic"),
          sum(when(col("in_m").isNotNull && col("in_s").isNotNull, 1L)
            .otherwise(0L)).as("n_both"),
          sum(when(col("in_m").isNotNull && col("in_s").isNull, 1L)
            .otherwise(0L)).as("n_minhash_only"),
          sum(when(col("in_m").isNull && col("in_s").isNotNull, 1L)
            .otherwise(0L)).as("n_semantic_only"),
          count(lit(1)).as("n_union"),
          sum(when(col("in_m").isNull, col("s_jacc_e6"))).as("sj"),
          sum(when(col("in_s").isNull, col("m_cos_e6"))).as("sc"),
          sum(when(coalesce(col("cross_cl"), lit(false)), 1L)
            .otherwise(0L)).as("n_cross"))
        .select(col("n_minhash"), col("n_semantic"), col("n_both"),
          col("n_minhash_only"), col("n_semantic_only"),
          expr("CASE WHEN n_union > 0 THEN n_both * 1000000 div n_union " +
            "ELSE 0 END").as("agreement_e6"),
          expr("CASE WHEN n_semantic_only > 0 THEN sj div n_semantic_only " +
            "ELSE 0 END").as("s_only_mean_jacc_e6"),
          expr("CASE WHEN n_minhash_only > 0 THEN sc div n_minhash_only " +
            "ELSE 0 END").as("m_only_mean_cos_e6"),
          col("n_cross").as("n_minhash_cross_cluster"))
  }

  private val dedupAgreementSemantic = Q(
    (s, dir) => agreementSemanticStats(s, dir,
      NorthStarQueries.kmeansAssignKprop(s, dir)
        .select(col("vec_id"), col("cl"))),
    Some {
      val kctes = NorthStarQueries.kmeansKpropOracleCtes
      s"""WITH ${NorthStarQueries.minhashBandsSqlCtes}, shl AS (
         |  SELECT doc_id, list_distinct(${NorthStarQueries.hashedShinglesSql}) AS hs
         |  FROM documents
         |), $kctes, en AS (
         |  SELECT e.vec_id, e.embedding, a1.cl,
         |    ${scaledDotSql("e.embedding", "e.embedding")} AS nrm
         |  FROM embeddings e JOIN a1 ON e.vec_id = a1.vec_id
         |), mcand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
         |), mver0 AS (
         |  SELECT c.a, c.b,
         |    (len(list_intersect(ha.hs, hb.hs)) * 1000000)
         |      // (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)))
         |      AS jacc_e6
         |  FROM mcand c JOIN shl ha ON ha.doc_id = c.a
         |    JOIN shl hb ON hb.doc_id = c.b
         |), mver AS (
         |  SELECT m.a, m.b, m.jacc_e6,
         |    cast(floor(
         |      ${cosineSql(scaledDotSql("ea.embedding", "eb.embedding"), "ea.nrm", "eb.nrm")}
         |      * 1000000) as bigint) AS m_cos_e6,
         |    (ea.cl <> eb.cl) AS cross_cl
         |  FROM mver0 m JOIN en ea ON ea.vec_id = m.a
         |    JOIN en eb ON eb.vec_id = m.b
         |  WHERE m.jacc_e6 >= 500000
         |), sim AS (
         |  SELECT a, b, cast(floor(s_cos * 1000000) as bigint) AS s_cos_e6
         |  FROM (
         |    SELECT x.vec_id AS a, y.vec_id AS b,
         |      ${cosineSql(scaledDotSql("x.embedding", "y.embedding"), "x.nrm", "y.nrm")} AS s_cos
         |    FROM en x JOIN en y ON x.cl = y.cl AND x.vec_id < y.vec_id)
         |  WHERE s_cos > 0.4
         |), sver AS (
         |  SELECT sim.a, sim.b, sim.s_cos_e6,
         |    (len(list_intersect(ha.hs, hb.hs)) * 1000000)
         |      // (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)))
         |      AS s_jacc_e6
         |  FROM sim JOIN shl ha ON ha.doc_id = sim.a
         |    JOIN shl hb ON hb.doc_id = sim.b
         |), u AS (
         |  SELECT coalesce(m.a, s.a) AS a, coalesce(m.b, s.b) AS b,
         |    m.jacc_e6, m.m_cos_e6, m.cross_cl, s.s_jacc_e6, s.s_cos_e6,
         |    (m.a IS NOT NULL) AS in_m, (s.a IS NOT NULL) AS in_s
         |  FROM mver m FULL OUTER JOIN sver s ON m.a = s.a AND m.b = s.b
         |), agg AS (
         |  SELECT cast(sum(CASE WHEN in_m THEN 1 ELSE 0 END) as bigint) AS n_minhash,
         |    cast(sum(CASE WHEN in_s THEN 1 ELSE 0 END) as bigint) AS n_semantic,
         |    cast(sum(CASE WHEN in_m AND in_s THEN 1 ELSE 0 END) as bigint) AS n_both,
         |    cast(sum(CASE WHEN in_m AND NOT in_s THEN 1 ELSE 0 END) as bigint)
         |      AS n_minhash_only,
         |    cast(sum(CASE WHEN NOT in_m AND in_s THEN 1 ELSE 0 END) as bigint)
         |      AS n_semantic_only,
         |    cast(count(*) as bigint) AS n_union,
         |    cast(sum(CASE WHEN NOT in_m THEN s_jacc_e6 END) as bigint) AS sj,
         |    cast(sum(CASE WHEN NOT in_s THEN m_cos_e6 END) as bigint) AS sc,
         |    cast(sum(CASE WHEN coalesce(cross_cl, false) THEN 1 ELSE 0 END)
         |      as bigint) AS n_cross
         |  FROM u
         |)
         |SELECT n_minhash, n_semantic, n_both, n_minhash_only, n_semantic_only,
         |  CASE WHEN n_union > 0 THEN (n_both * 1000000) // n_union
         |    ELSE 0 END AS agreement_e6,
         |  CASE WHEN n_semantic_only > 0 THEN sj // n_semantic_only
         |    ELSE 0 END AS s_only_mean_jacc_e6,
         |  CASE WHEN n_minhash_only > 0 THEN sc // n_minhash_only
         |    ELSE 0 END AS m_only_mean_cos_e6,
         |  n_cross AS n_minhash_cross_cluster
         |FROM agg""".stripMargin
    })

  /** COMPRESSIBILITY quality signal — the deflate-ratio filter the
    * published curation stacks use as a cheap repetition detector
    * (highly compressible text is boilerplate/templated; incompressible
    * text at the other extreme is often binary junk): every document is
    * zlib-deflated partition-side (`java.util.zip.Deflater`, fixed
    * level — the narrow mapPartitions codec shape the multimodal family
    * declared) and per source the ratio distribution is summarized.
    * Deflate output is environment-specific, so the gate uses the
    * BOUND-BOOLEAN oracle contract the approx-sketch family
    * established: the oracle checks the exact columns (doc counts,
    * diversity stats) numerically and the deflate-derived columns as
    * bounded invariants — every ratio within (0.1, 1.2] for fixture-
    * sized docs, and the LOW-diversity half of each source (split at
    * the source's exact median distinct-token ratio) must compress
    * strictly better than the high-diversity half — the monotonicity
    * that makes the signal a usable filter.
    *
    * Scale: one mapPartitions pass (deflate + token stats per row, no
    * text shuffle — 4 longs per doc leave the map side), one source
    * median (exact 2x-scaled integer, the MAD idiom), one conditional
    * rollup per source.
    */
  private val textCompressibility = Q(
    (s, dir) => {
      import s.implicits._
      val per = TS(s, dir, "documents")
        .select(col("source"), col("text"))
        .as[(String, String)]
        .mapPartitions { it =>
          it.map { case (src, text) =>
            val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val d = new java.util.zip.Deflater(6)
            d.setInput(raw)
            d.finish()
            // Fixed scratch chunk, accumulate lengths: deflate can
            // EXPAND high-entropy input past raw.length + header, and a
            // full one-shot buffer makes deflate() return 0 forever —
            // the chunk loop is bounded for any input size.
            val chunk = new Array[Byte](8192)
            var n = 0L
            while (!d.finished()) n += d.deflate(chunk)
            d.end()
            val toks = text.split(" ")
            (src, raw.length.toLong, n,
              toks.distinct.length.toLong, toks.length.toLong)
          }
        }
        .toDF("source", "raw_b", "comp_b", "n_distinct", "n_toks")
        .withColumn("ratio_e3", expr("comp_b * 1000 div raw_b"))
        .withColumn("div_e6", expr("n_distinct * 1000000 div n_toks"))
        .localCheckpoint(true) // median + rollup consumers; deflate once
      val med = per.groupBy(col("source"))
        .agg(expr("cast(round(2 * percentile(div_e6, 0.5), 0) as bigint)")
          .as("med2"))
      per.join(broadcast(med), Seq("source"))
        .withColumn("lowdiv", lit(2) * col("div_e6") < col("med2"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          expr("sum(div_e6) div count(1)").as("mean_div_e6"),
          sum(when(col("ratio_e3") > 100 && col("ratio_e3") <= 1200, 1L)
            .otherwise(0L)).as("n_bounded"),
          sum(when(col("lowdiv"), col("ratio_e3"))).as("sr_low"),
          sum(when(col("lowdiv"), 1L).otherwise(0L)).as("n_low"),
          sum(when(!col("lowdiv"), col("ratio_e3"))).as("sr_high"),
          sum(when(!col("lowdiv"), 1L).otherwise(0L)).as("n_high"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("mean_div_e6"),
          (col("n_bounded") === col("n_docs")).as("all_ratios_bounded"),
          // exact cross-multiplied mean compare: lowdiv mean < highdiv;
          // a degenerate split (all docs at the median) passes trivially
          when(col("n_low") === 0 || col("n_high") === 0, lit(true))
            .otherwise(col("sr_low") * col("n_high") <
              col("sr_high") * col("n_low"))
            .as("repetitive_compresses_better"))
        .orderBy(col("source"))
    },
    Some("""WITH f AS (
           |  SELECT source, string_split(text, ' ') AS toks FROM documents
           |)
           |SELECT source, cast(count(*) as bigint) AS n_docs,
           |  cast(sum(len(toks)) as bigint) AS n_tokens,
           |  cast(sum(len(list_distinct(toks)) * 1000000 // len(toks))
           |    // count(*) as bigint) AS mean_div_e6,
           |  true AS all_ratios_bounded,
           |  true AS repetitive_compresses_better
           |FROM f GROUP BY source ORDER BY source""".stripMargin))

  /** UNICODE NFC NORMALIZATION audit — the canonical-form pass a
    * multilingual corpus runs before any hashing or dedup (the SAME
    * text arrives both precomposed and decomposed from different
    * sources, and every byte-level identity downstream silently treats
    * them as different documents): per source, how many documents NFC
    * actually changes and the code-point volume before/after. The
    * fixture plants both forms deterministically (doc_id % 3 == 0:
    * every 'a' gains a COMBINING ACUTE — the decomposed form NFC
    * collapses; % 3 == 1: every 'e' becomes PRECOMPOSED U+00E9 —
    * already canonical, NFC must NOT touch it; else untouched), so the
    * audit's selectivity is itself under test: only the decomposed
    * branch may count as changed.
    *
    * Determinism: `java.text.Normalizer` NFC and DuckDB's
    * `nfc_normalize` implement the same Unicode canonical composition;
    * lengths are code-point counts in both engines; the injection is
    * the same all-occurrence replace.
    *
    * Scale: one narrow mapPartitions pass (normalize per row — text
    * never shuffles, 3 longs per doc leave the map side) into a
    * per-source rollup.
    */
  private val textNfcAudit = Q(
    (s, dir) => {
      import s.implicits._
      TS(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("text"))
        .as[(String, Long, String)]
        .mapPartitions { it =>
          it.map { case (src, id, text) =>
            val injected = (id % 3) match {
              // explicit escapes: branch 0 MUST be the decomposed
              // a + COMBINING ACUTE (U+0301), branch 1 the precomposed
              // U+00E9 — a raw source literal could silently be either
              case 0 => text.replace("a", "a\u0301")
              case 1 => text.replace("e", "\u00e9")
              case _ => text
            }
            val nfc = java.text.Normalizer.normalize(injected,
              java.text.Normalizer.Form.NFC)
            (src,
              injected.codePointCount(0, injected.length).toLong,
              nfc.codePointCount(0, nfc.length).toLong,
              if (nfc != injected) 1L else 0L)
          }
        }
        .toDF("source", "cp_before", "cp_after", "changed")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("cp_before")).as("sum_cp_before"),
          sum(col("cp_after")).as("sum_cp_after"),
          sum(col("changed")).as("n_changed"))
        .orderBy(col("source"))
    },
    Some("""WITH f AS (
           |  SELECT source,
           |    CASE WHEN doc_id % 3 = 0 THEN replace(text, 'a', 'a' || chr(769))
           |         WHEN doc_id % 3 = 1 THEN replace(text, 'e', chr(233))
           |         ELSE text END AS t
           |  FROM documents
           |), n AS (
           |  SELECT source, t, nfc_normalize(t) AS nt FROM f
           |)
           |SELECT source, cast(count(*) as bigint) AS n_docs,
           |  cast(sum(length(t)) as bigint) AS sum_cp_before,
           |  cast(sum(length(nt)) as bigint) AS sum_cp_after,
           |  cast(sum(CASE WHEN nt <> t THEN 1 ELSE 0 END) as bigint)
           |    AS n_changed
           |FROM n GROUP BY source ORDER BY source""".stripMargin))

  /** ROBUST (MAD) ANOMALY DETECTION over hourly event volumes — the
    * robust-statistics twin of `ts_anomaly_zscore`: mean/std break when
    * the contamination IS what you're hunting (a traffic spike inflates
    * the std that is supposed to flag it), so ops monitors use the
    * median and the Median Absolute Deviation instead (breakdown point
    * 50%): per event type, hours whose modified z-score
    * `(c − median) / (1.4826·MAD)` clears 3.5 are anomalous — the
    * Iglewicz-Hoberg rule.
    *
    * Determinism: medians of integers interpolate at .5 only, so
    * `round(2·percentile(c, .5))` is an EXACT integer (med2, 2x scale)
    * and the deviation median is exact at 4x (mad4); the z-score is one
    * identically-written float expression over those exact ints,
    * floored once to e3. Zero-MAD types (constant volume) report zero
    * flags rather than dividing by zero.
    *
    * Scale: events collapse to the calendar-bounded (type, hour) count
    * frame FIRST (one partial-aggregable pass); both percentile
    * aggregates and the flag rollup run over hours-per-type rows — the
    * ts_cusum class.
    */
  private val tsAnomalyMad = Q(
    (s, dir) => {
      val hc = T(s, dir, "events")
        .groupBy(col("event_type"),
          expr("date_trunc('hour', ts)").as("hr"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // median, MAD, and flag consumers
      val med = hc.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          expr("cast(round(2 * percentile(c, 0.5), 0) as bigint)").as("med2"))
      val dev = hc.join(broadcast(med), Seq("event_type"))
        .withColumn("dev2", abs(lit(2) * col("c") - col("med2")))
      val mad = dev.groupBy(col("event_type"))
        .agg(expr("cast(round(2 * percentile(dev2, 0.5), 0) as bigint)")
          .as("mad4"))
      dev.join(broadcast(mad), Seq("event_type"))
        .withColumn("absz_e3", expr(
          "CASE WHEN mad4 > 0 THEN cast(floor(cast(2 * dev2 as double) " +
            "* 1000.0 / (1.4826 * cast(mad4 as double))) as bigint) " +
            "ELSE 0 END"))
        .groupBy(col("event_type"))
        .agg(first(col("n_hours")).as("n_hours"),
          first(col("med2")).as("med2"), first(col("mad4")).as("mad4"),
          sum(when(col("absz_e3") >= 3500, 1L).otherwise(0L)).as("n_flagged"),
          max(col("absz_e3")).as("max_absz_e3"))
        .orderBy(col("event_type"))
    },
    Some("""WITH hc AS (
           |  SELECT event_type, date_trunc('hour', ts) AS hr,
           |    cast(count(*) as bigint) AS c
           |  FROM events GROUP BY event_type, date_trunc('hour', ts)
           |), med AS (
           |  SELECT event_type, cast(count(*) as bigint) AS n_hours,
           |    cast(round(2 * quantile_cont(c, 0.5), 0) as bigint) AS med2
           |  FROM hc GROUP BY event_type
           |), dev AS (
           |  SELECT hc.event_type, hc.c, med.n_hours, med.med2,
           |    abs(2 * hc.c - med.med2) AS dev2
           |  FROM hc JOIN med USING (event_type)
           |), mad AS (
           |  SELECT event_type,
           |    cast(round(2 * quantile_cont(dev2, 0.5), 0) as bigint) AS mad4
           |  FROM dev GROUP BY event_type
           |), z AS (
           |  SELECT dev.event_type, dev.n_hours, dev.med2, mad.mad4,
           |    CASE WHEN mad.mad4 > 0 THEN cast(floor(cast(2 * dev.dev2 as double)
           |      * 1000.0 / (1.4826 * cast(mad.mad4 as double))) as bigint)
           |      ELSE 0 END AS absz_e3
           |  FROM dev JOIN mad USING (event_type)
           |)
           |SELECT event_type, cast(max(n_hours) as bigint) AS n_hours,
           |  cast(max(med2) as bigint) AS med2,
           |  cast(max(mad4) as bigint) AS mad4,
           |  cast(sum(CASE WHEN absz_e3 >= 3500 THEN 1 ELSE 0 END) as bigint)
           |    AS n_flagged,
           |  cast(max(absz_e3) as bigint) AS max_absz_e3
           |FROM z GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** BEST-OF-N SCALING CURVE — the rejection-sampling read RLHF
    * pipelines run before picking a sampling budget: within each
    * prompt group ((source, lang), the [[corpusGrpoGroups]] idiom,
    * rewards = the same exact e3 quality score), how much does the
    * BEST reward improve as the candidate pool grows? Four NESTED
    * deterministic subsamples per group — members with
    * `doc_id % m == 0` for m in {8, 4, 2, 1}, so each tier is a
    * superset of the previous (expected sizes n/8 .. n) — give the
    * curve its n axis without any randomness; per (group, tier):
    * pool size, best reward, the argmax id (exact
    * `max(struct(reward, -doc_id))` tie key), and the lift of the
    * best over the FULL group's exact mean (e3·n-scaled bigint, no
    * division). A flat curve says sampling more buys nothing for that
    * prompt family; a steep one says the budget is still paying.
    *
    * Determinism: rewards are exact e3 integers; argmax ties break to
    * the LOWEST doc_id through the packed struct; lift is exact bigint
    * cross-multiplication (`best·n − Σr`).
    *
    * Scale: ONE map-side score pass into ONE group aggregate — the
    * four tiers are conditional max/count aggregates in the same
    * partial-aggregable pass (no windows, no self-joins, no per-tier
    * scans); output is groups x 4 rows.
    */
  private val corpusBestOfN = Q(
    (s, dir) => {
      val scored = TS(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("score", round(
          size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")).cast("double") * 0.5 +
            least(size(col("toks")).cast("double") / 100, lit(1.0)) * 0.5, 6))
        .select(col("source"), col("lang"), col("doc_id"),
          expr("cast(round(score * 1000, 0) as bigint)").as("r"))
      def tier(m: Int) = Seq(
        count(when(col("doc_id") % m === 0, 1)).as(s"n_$m"),
        max(when(col("doc_id") % m === 0,
          struct(col("r"), (-col("doc_id")).as("nid")))).as(s"b_$m"))
      val aggs = Seq(sum(col("r")).as("sr")) ++
        tier(8) ++ tier(4) ++ tier(2) ++ tier(1)
      val g = scored.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"), aggs: _*)
      val tiers = Seq(8, 4, 2, 1).map { m =>
        g.where(col(s"n_$m") > 0)
          .select(col("source"), col("lang"), col("n").as("n_group"),
            lit(m.toLong).as("modulus"), col(s"n_$m").as("n_pool"),
            col(s"b_$m")("r").as("best_e3"),
            (-col(s"b_$m")("nid")).as("best_id"),
            (col(s"b_$m")("r") * col("n") - col("sr")).as("lift_e3n"))
      }
      tiers.reduce(_ unionAll _)
        .orderBy(col("source"), col("lang"), col("modulus").desc)
    },
    Some("""WITH f AS (
           |  SELECT source, lang, doc_id, string_split(text, ' ') AS toks
           |  FROM documents
           |), sc AS (
           |  SELECT source, lang, doc_id,
           |    cast(round(round(
           |      cast(len(list_distinct(toks)) as double) / len(toks) * 0.5
           |        + least(cast(len(toks) as double) / 100, 1.0) * 0.5, 6)
           |      * 1000, 0) as bigint) AS r
           |  FROM f
           |), g AS (
           |  SELECT source, lang, cast(count(*) as bigint) AS n,
           |    cast(sum(r) as bigint) AS sr,
           |    cast(count(*) FILTER (WHERE doc_id % 8 = 0) as bigint) AS n_8,
           |    max(CASE WHEN doc_id % 8 = 0
           |      THEN struct_pack(r := r, nid := -doc_id) END) AS b_8,
           |    cast(count(*) FILTER (WHERE doc_id % 4 = 0) as bigint) AS n_4,
           |    max(CASE WHEN doc_id % 4 = 0
           |      THEN struct_pack(r := r, nid := -doc_id) END) AS b_4,
           |    cast(count(*) FILTER (WHERE doc_id % 2 = 0) as bigint) AS n_2,
           |    max(CASE WHEN doc_id % 2 = 0
           |      THEN struct_pack(r := r, nid := -doc_id) END) AS b_2,
           |    cast(count(*) as bigint) AS n_1,
           |    max(struct_pack(r := r, nid := -doc_id)) AS b_1
           |  FROM sc GROUP BY source, lang
           |), t AS (
           |  SELECT source, lang, n AS n_group, 8 AS modulus, n_8 AS n_pool,
           |    b_8 AS b, sr, n FROM g WHERE n_8 > 0
           |  UNION ALL SELECT source, lang, n, 4, n_4, b_4, sr, n
           |    FROM g WHERE n_4 > 0
           |  UNION ALL SELECT source, lang, n, 2, n_2, b_2, sr, n
           |    FROM g WHERE n_2 > 0
           |  UNION ALL SELECT source, lang, n, 1, n_1, b_1, sr, n FROM g
           |)
           |SELECT source, lang, n_group, cast(modulus as bigint) AS modulus,
           |  n_pool, cast(b.r as bigint) AS best_e3,
           |  cast(-b.nid as bigint) AS best_id,
           |  cast(b.r * n - sr as bigint) AS lift_e3n
           |FROM t ORDER BY source, lang, modulus DESC""".stripMargin))

  // ---------------------------------------------------------------------
  // Referential-integrity audit (documents <-> embeddings)
  // ---------------------------------------------------------------------

  /** REFERENTIAL-INTEGRITY audit between the document store and its
    * embedding index — the consistency check a pipeline runs after any
    * partial re-embed or shard repair, because every ANN / semantic-dedup
    * operator silently degrades when the two drift: key counts on each
    * side, matched keys, orphans in each direction (docs never embedded;
    * embeddings whose doc was deleted), duplicate keys per side, and the
    * e6 coverage ratio.
    *
    * Scale: each side collapses to (key, multiplicity) with map-side
    * partial aggregation BEFORE the join, so the full-outer join carries
    * one row per DISTINCT key — the only safe shape when either side can
    * hold duplicate keys (a raw full-outer would multiply). One keyed
    * shuffle per side plus the single-row rollup; no driver state.
    */
  private val pipelineIntegrity = Q(
    (s, dir) => {
      val d = T(s, dir, "documents")
        .groupBy(col("doc_id").as("id")).agg(count(lit(1)).as("dc"))
      val e = T(s, dir, "embeddings")
        .groupBy(col("vec_id").as("id")).agg(count(lit(1)).as("ec"))
      d.join(e, Seq("id"), "full_outer")
        .agg(
          sum(when(col("dc").isNotNull, 1L).otherwise(0L)).as("n_doc_keys"),
          sum(when(col("ec").isNotNull, 1L).otherwise(0L)).as("n_vec_keys"),
          sum(when(col("dc").isNotNull && col("ec").isNotNull, 1L)
            .otherwise(0L)).as("n_matched"),
          sum(when(col("dc").isNotNull && col("ec").isNull, 1L)
            .otherwise(0L)).as("n_doc_orphans"),
          sum(when(col("dc").isNull && col("ec").isNotNull, 1L)
            .otherwise(0L)).as("n_vec_orphans"),
          sum(when(col("dc") > 1L, 1L).otherwise(0L)).as("n_doc_dup_keys"),
          sum(when(col("ec") > 1L, 1L).otherwise(0L)).as("n_vec_dup_keys"))
        .withColumn("coverage_e6",
          expr("(n_matched * 1000000) div n_doc_keys"))
    },
    Some("""WITH d AS (
           |  SELECT doc_id AS id, count(*) AS dc FROM documents GROUP BY 1
           |), e AS (
           |  SELECT vec_id AS id, count(*) AS ec FROM embeddings GROUP BY 1
           |), j AS (
           |  SELECT dc, ec FROM d FULL OUTER JOIN e ON d.id = e.id
           |)
           |SELECT
           |  cast(sum(CASE WHEN dc IS NOT NULL THEN 1 ELSE 0 END) as bigint)
           |    AS n_doc_keys,
           |  cast(sum(CASE WHEN ec IS NOT NULL THEN 1 ELSE 0 END) as bigint)
           |    AS n_vec_keys,
           |  cast(sum(CASE WHEN dc IS NOT NULL AND ec IS NOT NULL
           |    THEN 1 ELSE 0 END) as bigint) AS n_matched,
           |  cast(sum(CASE WHEN dc IS NOT NULL AND ec IS NULL
           |    THEN 1 ELSE 0 END) as bigint) AS n_doc_orphans,
           |  cast(sum(CASE WHEN dc IS NULL AND ec IS NOT NULL
           |    THEN 1 ELSE 0 END) as bigint) AS n_vec_orphans,
           |  cast(sum(CASE WHEN dc > 1 THEN 1 ELSE 0 END) as bigint)
           |    AS n_doc_dup_keys,
           |  cast(sum(CASE WHEN ec > 1 THEN 1 ELSE 0 END) as bigint)
           |    AS n_vec_dup_keys,
           |  cast((sum(CASE WHEN dc IS NOT NULL AND ec IS NOT NULL
           |      THEN 1 ELSE 0 END) * 1000000)
           |    // sum(CASE WHEN dc IS NOT NULL THEN 1 ELSE 0 END) as bigint)
           |    AS coverage_e6
           |FROM j""".stripMargin))

  // ---------------------------------------------------------------------
  // Heavy hitters: Misra-Gries sketch pass + exact verify pass
  // ---------------------------------------------------------------------

  /** HEAVY-HITTER census — every term whose corpus frequency exceeds
    * n/33 (Misra-Gries width 32), found WITHOUT a full-vocabulary
    * shuffle: pass 1 runs a per-partition Misra-Gries summary
    * ([[graft.operators.HeavyHitters.mgPartition]]) whose union is a
    * guaranteed SUPERSET of the true heavies (<= 32 x partitions
    * candidates); pass 2 recounts only the candidates exactly (broadcast
    * semi-join prunes the corpus map-side) and applies the exact
    * threshold. The sketch content depends on partition order but the
    * FINAL output does not — spurious candidates fail the exact
    * threshold, true heavies can never be missed (see the operator's
    * scaladoc for the proof sketch) — so the result is deterministic
    * and oracled against DuckDB's exact full count.
    *
    * Scale: this is the 100 TB shape for frequent-term mining — the
    * full-cardinality explode->groupBy that `ns_text_top_terms` uses is
    * fine when the vocabulary fits a shuffle, but a web-scale token
    * stream shuffles billions of distinct keys; here the shuffled rows
    * are <= 32 per partition (pass 1) and |candidates| (pass 2), and the
    * corpus-total scalar rides a map-side sum of token counts, not a
    * third explode.
    */
  private val sketchHeavyHitters = Q(
    (s, dir) => {
      import s.implicits._
      val K = 32
      val toks = TS(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
      val cand = toks.as[String]
        .mapPartitions(graft.operators.HeavyHitters.mgPartition(K))
        .toDF("tok", "c")
        .groupBy(col("tok")).agg(sum(col("c")).as("c_lower"))
        .select(col("tok"))
      val total = TS(s, dir, "documents")
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_total"))
      toks.join(broadcast(cand), Seq("tok"), "left_semi")
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .where(col("n") * (K + 1) > col("n_total"))
        .select(col("tok"), col("n"), col("n_total"),
          expr("(n * 1000000) div n_total").as("freq_e6"))
        .orderBy(col("n").desc, col("tok"))
    },
    Some("""WITH e AS (
           |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
           |), t AS (
           |  SELECT count(*) AS n_total FROM e
           |), c AS (
           |  SELECT tok, count(*) AS n FROM e GROUP BY tok
           |)
           |SELECT c.tok, c.n, t.n_total,
           |  cast((c.n * 1000000) // t.n_total as bigint) AS freq_e6
           |FROM c, t WHERE c.n * 33 > t.n_total
           |ORDER BY c.n DESC, c.tok""".stripMargin))

  /** STREAMING heavy-hitter census — the batch [[sketchHeavyHitters]]
    * as a live monitor (see
    * [[graft.streaming.DocumentStreams.heavyHittersMonitor]]): the
    * corpus streams in two micro-batch files, per-shard Misra-Gries
    * counter maps carry across batches in flatMapGroupsWithState, and
    * the final emissions' candidate union is exactly recounted
    * batch-side under the same threshold. The superset guarantee makes
    * the thresholded answer split- AND order-invariant by
    * construction, so the oracle is the batch query's SQL verbatim —
    * no ingestion-order contract needed at all (unlike the CUSUM
    * monitor, whose statistic is order-dependent).
    *
    * Scale: term traffic shards by hash (8 ways here — no single
    * reducer), state is <= k counters per shard forever, emissions are
    * <= k rows per shard per batch; the exact recount is the batch
    * op's candidate-semi-join pass.
    */
  private val sketchHhStream = Q.scratch("hhstream")(
    (s, dir, base) => {
      val K = 32
      val docs = TS(s, dir, "documents")
      Replay.land(s"$base/in", Seq(0, 1).map(p =>
        s"batch$p" -> docs.where(pmod(col("doc_id"), lit(2)) === p)))
      Replay.drain(graft.streaming.DocumentStreams.heavyHittersMonitor(
          Replay.stream(s, s"$base/in", graft.Tables.schemas("documents")), K),
        s"$base/out", s"$base/cp")
      val emitted = s.read.parquet(s"$base/out")
      val lastSeq = emitted.groupBy(col("shard")).agg(max(col("seq")).as("mseq"))
      val cand = emitted.join(lastSeq, Seq("shard"))
        .where(col("seq") === col("mseq"))
        .select(col("tok")).distinct() // <= shards x k candidate terms
      val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
      val total = docs
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_total"))
      toks.join(broadcast(cand), Seq("tok"), "left_semi")
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .where(col("n") * (K + 1) > col("n_total"))
        .select(col("tok"), col("n"), col("n_total"),
          expr("(n * 1000000) div n_total").as("freq_e6"))
        .orderBy(col("n").desc, col("tok"))
    },
    sketchHeavyHitters.oracle)

  // ---------------------------------------------------------------------
  // k-anonymity audit over quasi-identifier metadata
  // ---------------------------------------------------------------------

  /** K-ANONYMITY audit — the privacy-side companion to
    * `ns_text_pii_redact`: documents group into equivalence classes by
    * the quasi-identifier tuple (lang, source, length-centile bucket) —
    * the metadata an adversary could join against an external dataset —
    * and the audit reports the equivalence-class size histogram, flagging
    * classes smaller than k=5 (a doc in a size-1 class is uniquely
    * re-identifiable from its metadata alone) and each size's share of
    * the corpus in e6 fixed point.
    *
    * Scale: two strictly-shrinking aggregates — docs -> classes (keyed by
    * the QI tuple, map-side partials) -> size histogram (at most
    * max-class-size groups) — plus one broadcast scalar for the share
    * denominator. No windows, no joins on the corpus.
    */
  private val profileKanon = Q(
    (s, dir) => {
      val classes = TS(s, dir, "documents")
        .select(col("lang"), col("source"),
          expr("n_chars div 100").as("len_bucket"))
        .groupBy(col("lang"), col("source"), col("len_bucket"))
        .agg(count(lit(1)).as("class_size"))
      val total = T(s, dir, "documents").agg(count(lit(1)).as("n_total"))
      classes.groupBy(col("class_size"))
        .agg(count(lit(1)).as("n_classes"))
        .withColumn("n_docs", col("class_size") * col("n_classes"))
        .crossJoin(broadcast(total))
        .select(col("class_size"), col("n_classes"), col("n_docs"),
          expr("(n_docs * 1000000) div n_total").as("docs_share_e6"),
          (col("class_size") < 5).as("at_risk"))
        .orderBy(col("class_size"))
    },
    Some("""WITH c AS (
           |  SELECT lang, source, n_chars // 100 AS len_bucket,
           |    count(*) AS class_size
           |  FROM documents GROUP BY 1, 2, 3
           |), h AS (
           |  SELECT class_size, count(*) AS n_classes,
           |    cast(class_size * count(*) as bigint) AS n_docs
           |  FROM c GROUP BY 1
           |), t AS (
           |  SELECT count(*) AS n_total FROM documents
           |)
           |SELECT class_size, n_classes, n_docs,
           |  cast((n_docs * 1000000) // t.n_total as bigint) AS docs_share_e6,
           |  (class_size < 5) AS at_risk
           |FROM h, t ORDER BY class_size""".stripMargin))

  // ---------------------------------------------------------------------
  // Tokenizer fertility per language
  // ---------------------------------------------------------------------

  /** TOKENIZER-FERTILITY audit by language — the multilingual-equity
    * read a tokenizer rollout runs before fixing a context budget:
    * per language, subwords-per-word fertility (the `ceil(len/4)`
    * subword estimate `ns_text_token_counts` uses per document,
    * aggregated to the language level), characters per subword, and the
    * PARITY GAP — each language's fertility relative to the corpus-best
    * language in e6 fixed point (a language at +40% fertility pays 40%
    * more context budget for the same content; that asymmetry decides
    * per-language sampling weights).
    *
    * Determinism: all counts are exact bigints; the only divisions are
    * terminal integer `div`s.
    *
    * Scale: the per-doc word/subword/char totals fold map-side inside
    * one corpus pass (higher-order `aggregate`, no explode), the
    * language rollup shuffles |langs| rows, and the best-fertility
    * scalar broadcasts back. Three shuffle rows per language total.
    */
  private val textFertility = Q(
    (s, dir) => {
      val byLang = TS(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .select(col("lang"),
          size(col("toks")).cast("long").as("w"),
          expr("aggregate(toks, cast(0 as bigint), " +
            "(acc, t) -> acc + cast(ceil(length(t) / 4.0) as bigint))").as("sw"),
          expr("aggregate(toks, cast(0 as bigint), " +
            "(acc, t) -> acc + length(t))").as("ch"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
          sum(col("sw")).as("n_subwords"), sum(col("ch")).as("n_chars_sum"))
        .withColumn("fertility_e6",
          expr("(n_subwords * 1000000) div n_words"))
        .withColumn("chars_per_subword_e6",
          expr("(n_chars_sum * 1000000) div n_subwords"))
      val best = byLang.agg(min(col("fertility_e6")).as("best_fert"))
      byLang.crossJoin(broadcast(best))
        .withColumn("parity_gap_e6",
          expr("((fertility_e6 * 1000000) div best_fert) - 1000000"))
        .drop("best_fert")
        .orderBy(col("lang"))
    },
    Some("""WITH f AS (
           |  SELECT lang, string_split(text, ' ') AS toks FROM documents
           |), d AS (
           |  SELECT lang, cast(len(toks) as bigint) AS w,
           |    cast(list_sum(list_transform(toks,
           |      t -> cast(ceil(length(t) / 4.0) as bigint))) as bigint) AS sw,
           |    cast(list_sum(list_transform(toks, t -> length(t))) as bigint)
           |      AS ch
           |  FROM f
           |), l AS (
           |  SELECT lang, count(*) AS n_docs,
           |    cast(sum(w) as bigint) AS n_words,
           |    cast(sum(sw) as bigint) AS n_subwords,
           |    cast(sum(ch) as bigint) AS n_chars_sum
           |  FROM d GROUP BY lang
           |), b AS (
           |  SELECT min((n_subwords * 1000000) // n_words) AS best_fert FROM l
           |)
           |SELECT lang, n_docs, n_words, n_subwords, n_chars_sum,
           |  cast((n_subwords * 1000000) // n_words as bigint) AS fertility_e6,
           |  cast((n_chars_sum * 1000000) // n_subwords as bigint)
           |    AS chars_per_subword_e6,
           |  cast((((n_subwords * 1000000) // n_words) * 1000000) // b.best_fert
           |    - 1000000 as bigint) AS parity_gap_e6
           |FROM l, b ORDER BY lang""".stripMargin))

  // ---------------------------------------------------------------------
  // Semantic decontamination (embedding-space eval contamination)
  // ---------------------------------------------------------------------

  /** SEMANTIC decontamination audit — the embedding-space companion to
    * `ns_decontaminate`'s n-gram matching: paraphrased or lightly-edited
    * eval material shares no 8-gram with its source but sits at
    * cosine ~1 in embedding space, so a pipeline also screens eval
    * items against the corpus by nearest-neighbor similarity. The
    * 16-item eval set is half clean (raw held-out vectors 0..7, outside
    * the corpus) and half DERIVED (vectors 32..39 perturbed per-dim by
    * a deterministic ±0.02 md5-parity sign — the fixture's stand-in for
    * a paraphrase, cos ~0.999 to its source, which IS in the corpus);
    * the audit must flag exactly the derived half and name each item's
    * nearest corpus neighbor.
    *
    * Determinism: cosines derive from exact scaled-dot bigints through
    * identical IEEE double ops in both engines; the nearest-neighbor
    * argmax uses the packed bigint key `floor(cos*1e6) * 2^40 - c_id`
    * (unique per pair — c_id tiebreak) so `max_by` needs no window and
    * no struct ordering.
    *
    * Scale: the broadcast-query pass (`ns_sim_cosine_topk`'s class) —
    * 16 eval rows broadcast against one corpus scan, cosine map-side,
    * ONE 16-group aggregate with map-side partials (count + max + the
    * packed-key max_by). No corpus-keyed window, no self-join; at
    * billion-doc scale this is exactly the screening pass an eval
    * release runs, with the IVF index as the drop-in candidate pruner.
    */
  private val decontaminateSemantic = Q(
    (s, dir) => {
      val e = TS(s, dir, "embeddings")
      val corpus = e.where(col("vec_id") >= 32)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
          expr("scaled_dot(embedding, embedding)").as("nc"))
      val clean = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("eval_id"), col("embedding").as("q_emb"))
      val derived = e.where(col("vec_id").between(32, 39))
        .select((col("vec_id") - 24).as("eval_id"),
          expr("transform(embedding, (x, i) -> cast(x + cast(case when " +
            "substring(md5(concat('pv:', cast(vec_id as string), ':', " +
            "cast(i as string))), 1, 1) < '8' then 0.02 else -0.02 end " +
            "as float) as float))").as("q_emb"))
      val q = clean.unionByName(derived)
        .withColumn("nq", expr("scaled_dot(q_emb, q_emb)"))
      corpus.join(broadcast(q), lit(true))
        .withColumn("cos", cosine(expr("scaled_dot(q_emb, c_emb)"), "nq", "nc"))
        .withColumn("pack",
          expr("cast(floor(cos * 1000000) as bigint) " +
            "* cast(1099511627776 as bigint) - c_id"))
        .groupBy(col("eval_id"))
        .agg(
          sum(when(col("cos") >= 0.95, 1L).otherwise(0L)).as("n_above_95"),
          round(max(col("cos")), 6).as("max_cos"),
          expr("max_by(c_id, pack)").as("nearest_id"))
        .withColumn("contaminated", col("n_above_95") > 0)
        .orderBy(col("eval_id"))
    },
    Some(s"""WITH e AS (
            |  SELECT vec_id, embedding,
            |    ${scaledDotSql("embedding", "embedding")} AS nrm
            |  FROM embeddings
            |), c AS (
            |  SELECT vec_id AS c_id, embedding AS c_emb, nrm AS nc
            |  FROM e WHERE vec_id >= 32
            |), cl AS (
            |  SELECT vec_id AS eval_id, embedding AS q_emb
            |  FROM embeddings WHERE vec_id < 8
            |), dv AS (
            |  SELECT vec_id - 24 AS eval_id,
            |    list_transform(generate_series(1, 64), i ->
            |      cast(embedding[i] + cast(CASE WHEN
            |        substr(md5('pv:' || cast(vec_id as varchar) || ':' ||
            |          cast(i - 1 as varchar)), 1, 1) < '8'
            |        THEN 0.02 ELSE -0.02 END as float) as float)) AS q_emb
            |  FROM embeddings WHERE vec_id BETWEEN 32 AND 39
            |), q AS (
            |  SELECT eval_id, q_emb,
            |    ${scaledDotSql("q_emb", "q_emb")} AS nq
            |  FROM (SELECT * FROM cl UNION ALL SELECT * FROM dv)
            |), p AS (
            |  SELECT q.eval_id, c.c_id,
            |    ${cosineSql(scaledDotSql("q.q_emb", "c.c_emb"), "q.nq", "c.nc")}
            |      AS cos
            |  FROM q, c
            |), k AS (
            |  SELECT eval_id, c_id, cos,
            |    cast(floor(cos * 1000000) as bigint) * 1099511627776 - c_id
            |      AS pack
            |  FROM p
            |)
            |SELECT eval_id,
            |  cast(sum(CASE WHEN cos >= 0.95 THEN 1 ELSE 0 END) as bigint)
            |    AS n_above_95,
            |  round(max(cos), 6) AS max_cos,
            |  arg_max(c_id, pack) AS nearest_id,
            |  (sum(CASE WHEN cos >= 0.95 THEN 1 ELSE 0 END) > 0)
            |    AS contaminated
            |FROM k GROUP BY eval_id ORDER BY eval_id""".stripMargin))

  // ---------------------------------------------------------------------
  // Cluster-balanced sampling (semantic topic balancing)
  // ---------------------------------------------------------------------

  /** CLUSTER-BALANCED sampling — the semantic companion to
    * `ns_sample_domain_cap`: instead of capping by metadata domain, the
    * corpus is capped per EMBEDDING cluster (the IVF cells of
    * `ns_sim_ivf_topk`'s 16-centroid layout), the DataComp-style topic
    * rebalance that stops one over-crawled topic from dominating the
    * mix even when it spans many domains. Each cell keeps its 24
    * hash-first vectors (deterministic md5 order — a reproducible
    * uniform subsample, not a quality rank); the output is the per-cell
    * before/after census with a kept-membership fingerprint (sum of the
    * kept rows' hash keys) so the oracle pins exactly WHICH vectors
    * survived, not just how many.
    *
    * Scale: assignment is the shared broadcast-centroid pass; the
    * per-cell cap is a rank-only window (WindowGroupLimit prunes to the
    * top 24 per cell map-side before the exchange — the domain-cap
    * claim, spec-asserted there); the census is a C-group aggregate.
    */
  private val sampleClusterBalance = Q(
    (s, dir) => {
      val CAP = 24
      val assigned = ivfRanked(TS(s, dir, "embeddings")
          .withColumn("nrm", expr("scaled_dot(embedding, embedding)")))
        .where(col("arn") === 1)
        .select(col("vec_id"), col("cen_id").as("cell"))
        .withColumn("hkey", expr(
          "cast(conv(substring(md5(concat('cb:', cast(vec_id as string))), " +
            "1, 8), 16, 10) as bigint)"))
      val wCap = Window.partitionBy(col("cell"))
        .orderBy(col("hkey"), col("vec_id"))
      assigned
        .withColumn("rn", row_number().over(wCap))
        .withColumn("kept", col("rn") <= CAP)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_before"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), col("hkey")).otherwise(0L)).as("kept_fp"))
        .withColumn("truncated", col("n_before") > CAP)
        .orderBy(col("cell"))
    },
    Some(s"""WITH e AS (
            |  SELECT vec_id, embedding,
            |    ${scaledDotSql("embedding", "embedding")} AS nrm
            |  FROM embeddings
            |), $ivfRankedSqlCtes, a AS (
            |  SELECT vec_id, cen_id AS cell,
            |    cast('0x' || substr(md5('cb:' || cast(vec_id as varchar)), 1, 8)
            |      as bigint) AS hkey
            |  FROM ranked WHERE arn = 1
            |), r AS (
            |  SELECT cell, hkey,
            |    row_number() OVER (PARTITION BY cell ORDER BY hkey, vec_id) AS rn
            |  FROM a
            |)
            |SELECT cell, count(*) AS n_before,
            |  cast(sum(CASE WHEN rn <= 24 THEN 1 ELSE 0 END) as bigint)
            |    AS n_kept,
            |  cast(sum(CASE WHEN rn <= 24 THEN hkey ELSE 0 END) as bigint)
            |    AS kept_fp,
            |  (count(*) > 24) AS truncated
            |FROM r GROUP BY cell ORDER BY cell""".stripMargin))

  // ---------------------------------------------------------------------
  // Memorization-exposure scoring (cross-doc verbatim-span census)
  // ---------------------------------------------------------------------

  /** MEMORIZATION-EXPOSURE score — the per-document read behind
    * "deduplicating training data mitigates memorization": a document
    * whose 8-gram spans recur verbatim across other documents is the
    * one a model is most likely to regurgitate, and the exposure
    * fraction (shared distinct 8-grams / total distinct 8-grams) ranks
    * documents for span-level dedup ahead of doc-level near-dup
    * signals (a doc can be 30% verbatim-shared yet Jaccard-distant).
    * Reports the top-40 most-exposed docs with their shared-span
    * volumes and worst span df.
    *
    * Scale: one tokenize pass explodes 8-gram shingles into the
    * (doc, gram) DISTINCT collapse (checkpointed — the df aggregate and
    * the doc rollup both read it); gram df is a vocabulary-keyed
    * aggregate; the df joins back gram-keyed (SMJ at vocab scale) and
    * the doc rollup is a second shrinking aggregate. The final top-40
    * is a rank cut with a unique tiebreak, not a global sort of the
    * corpus.
    */
  private val textMemorization = Q(
    (s, dir) => {
      val grams = TS(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, greatest(size(toks) - 7, 1)), " +
            "i -> concat_ws(' ', slice(toks, i, 8)))")).as("gram"))
        .distinct()
      // r22 (guide §2.4, VERDICT item 7 — replaces the r21 df>=2
      // join-back whose all-duplicated 10x tier regressed 1.16x):
      // every (doc, gram) row needs its own gram's df, so the df
      // aggregate + gram-keyed join-back + separate per-doc totals pass
      // collapse into ONE entire-frame window count riding a gram-keyed
      // exchange, followed by the single doc rollup. max(df) over ALL
      // of a doc's grams is the r20 semantics verbatim (>= 1 always);
      // n_grams rides the same rollup. No assumption about the df
      // distribution — wins at both the mostly-unique and the
      // all-duplicated extremes. Single consumer, so the r21
      // checkpoint is obsolete.
      val wDf = Window.partitionBy(col("gram"))
      grams
        .withColumn("df", count(lit(1)).over(wDf))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"),
          sum(when(col("df") >= 3, 1L).otherwise(0L)).as("n_shared3"),
          max(col("df")).as("max_df"))
        .withColumn("exposure_e6", expr("(n_shared * 1000000) div n_grams"))
        .orderBy(col("exposure_e6").desc, col("doc_id"))
        .limit(40)
    },
    Some("""WITH t AS (
           |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
           |), g AS (
           |  SELECT DISTINCT doc_id,
           |    list_aggregate(toks[i:i+7], 'string_agg', ' ') AS gram
           |  FROM t, unnest(range(1, greatest(len(toks) - 6, 2))) AS u(i)
           |), d AS (
           |  SELECT gram, count(*) AS df FROM g GROUP BY gram
           |), a AS (
           |  SELECT g.doc_id, count(*) AS n_grams,
           |    cast(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) as bigint)
           |      AS n_shared,
           |    cast(sum(CASE WHEN d.df >= 3 THEN 1 ELSE 0 END) as bigint)
           |      AS n_shared3,
           |    max(d.df) AS max_df
           |  FROM g JOIN d USING (gram) GROUP BY g.doc_id
           |)
           |SELECT doc_id, n_grams, n_shared, n_shared3, max_df,
           |  cast((n_shared * 1000000) // n_grams as bigint) AS exposure_e6
           |FROM a ORDER BY exposure_e6 DESC, doc_id LIMIT 40""".stripMargin))

  // ---------------------------------------------------------------------
  // Per-source length-concentration (Gini) profile
  // ---------------------------------------------------------------------

  /** LENGTH-CONCENTRATION profile — per-source Gini coefficient of the
    * document-length distribution: a source whose token mass
    * concentrates in a few huge documents (high Gini) behaves very
    * differently under context packing, per-doc sampling, and dedup
    * than one with uniform lengths at the same mean — this is the
    * inequality read `ns_profile_documents`' moments miss.
    *
    * Determinism: the exact rank formulation
    * `G = (2*sum(rank*x) - (n+1)*sum(x)) / (n*sum(x))` over
    * `row_number` ranks (doc_id tiebreak — ties in length get distinct
    * ranks, which the formula absorbs) in e6 integer fixed point.
    *
    * Scale: ONE source-keyed exchange serves both the rank window and
    * the rollup aggregate (identical partitioning — the ranker-ndcg
    * plan class); per-source sort volume is the only corpus-sized
    * work. The rank-weighted sum peaks at n_docs * sum_chars per
    * source — bigint holds to ~3e18, past which the accumulator
    * widens to decimal(38,0) with the same formula.
    */
  private val profileGini = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      TS(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("rk", row_number().over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("rk") * col("n_chars")).as("s_rx"))
        .select(col("source"), col("n_docs"), col("sum_chars"),
          expr("((2 * s_rx - (n_docs + 1) * sum_chars) * 1000000) " +
            "div (n_docs * sum_chars)").as("gini_e6"))
        .orderBy(col("source"))
    },
    Some("""WITH r AS (
           |  SELECT source, n_chars,
           |    row_number() OVER (PARTITION BY source
           |                       ORDER BY n_chars, doc_id) AS rk
           |  FROM documents
           |), a AS (
           |  SELECT source, count(*) AS n_docs,
           |    cast(sum(n_chars) as bigint) AS sum_chars,
           |    cast(sum(rk * n_chars) as bigint) AS s_rx
           |  FROM r GROUP BY source
           |)
           |SELECT source, n_docs, sum_chars,
           |  cast(((2 * s_rx - (n_docs + 1) * sum_chars) * 1000000)
           |    // (n_docs * sum_chars) as bigint) AS gini_e6
           |FROM a ORDER BY source""".stripMargin))

  // ---------------------------------------------------------------------
  // Streaming trajectory assembly (stateful cross-batch sessionizer)
  // ---------------------------------------------------------------------

  /** STREAMING twin of [[corpusTrajectories]], driver-gated through a
    * real two-micro-batch replay: events land as two TIME-split parquet
    * files (cut at the median timestamp — the log-shipping arrival
    * order, so each user's events arrive in event-time order across
    * batches) and stream through [[graft.streaming.EventStreams
    * .trajectoryGate]], whose per-user open-session state carries
    * across the batch boundary — a session straddling the cut
    * assembles exactly once, with the same count / floor-second
    * duration / capped-payload md5 the batch query computes. A
    * session only closes when a LATER event proves the 25-hour gap,
    * so each user's final session stays in state un-emitted: the
    * honest streaming output is "every session except each user's
    * last", which DuckDB oracles exactly (the batch formulation
    * filtered to `session_idx < max(session_idx) per user`) and which
    * is invariant to where the stream was cut.
    *
    * Scale: state is O(1) per user (count, two timestamps, <= 16
    * action types — never an event buffer); each micro-batch shuffles
    * once on user_id into the FMGWS exchange. The median-cut scalar is
    * a 1-value driver pull for fixture plumbing, not the serving path.
    */
  private val corpusTrajectoriesStream = Q.scratch("trajstream")(
    (s, dir, base) => {
      val ev = T(s, dir, "events")
      val cut = ev.agg(expr("percentile(cast(ts as double), 0.5)"))
        .first().getDouble(0)
      Replay.land(s"$base/in", Seq(
        "batch0" -> ev.where(col("ts").cast("double") <= cut),
        "batch1" -> ev.where(col("ts").cast("double") > cut)))
      Replay.drain(graft.streaming.EventStreams.trajectoryGate(
          Replay.stream(s, s"$base/in", ev.schema)),
        s"$base/out", s"$base/cp")
      s.read.parquet(s"$base/out")
        .orderBy(col("user_id"), col("session_idx"))
    },
    Some("""WITH f AS (
           |  SELECT user_id, ts, event_id, event_type,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |              OR epoch(ts) - epoch(lag(ts) OVER w) > 90000
           |         THEN 1 ELSE 0 END AS brk
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           |), se AS (
           |  SELECT *, sum(brk) OVER (PARTITION BY user_id
           |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
           |  FROM f
           |), p AS (
           |  SELECT *, row_number() OVER (PARTITION BY user_id, session_idx
           |    ORDER BY ts, event_id) AS pos
           |  FROM se
           |), a AS (
           |  SELECT user_id, cast(session_idx as bigint) AS session_idx,
           |    count(*) AS n_events,
           |    cast(floor(epoch(max(ts)) - epoch(min(ts))) as bigint)
           |      AS duration_s,
           |    cast(least(count(*), 16) as bigint) AS n_kept,
           |    md5(string_agg(CASE WHEN pos <= 16 THEN event_type END, ' '
           |      ORDER BY ts, event_id)) AS traj_md5,
           |    arg_max(CASE WHEN pos <= 16 THEN event_type END,
           |            CASE WHEN pos <= 16 THEN pos END) AS last_kept_type
           |  FROM p GROUP BY user_id, session_idx
           |), m AS (
           |  SELECT user_id, max(session_idx) AS mx FROM a GROUP BY user_id
           |)
           |SELECT a.user_id, a.session_idx, a.n_events, a.duration_s,
           |  a.n_kept, a.traj_md5, a.last_kept_type
           |FROM a JOIN m USING (user_id) WHERE a.session_idx < m.mx
           |ORDER BY user_id, session_idx""".stripMargin))

  // ---------------------------------------------------------------------
  // Quarantine routing (reason-coded validator gate)
  // ---------------------------------------------------------------------

  /** QUARANTINE routing — the validator stage between ingest and the
    * clean store: every document runs ALL five validators in one pass
    * (too-short, repetitive, high-digit, blocklisted, low-quality — the
    * gate formulas the quality family already oracles), failing docs
    * route to quarantine under their FIRST failing reason (fixed
    * priority: structural defects outrank the soft classifier so
    * triage buckets stay stable when the classifier is retrained),
    * and the audit reports per reason both the routed volume and the
    * total firing volume (n_failing >= n_routed — the overlap is what
    * tells an operator which validators are redundant). A `pass` row
    * carries the clean-store volume so the rows partition the corpus.
    *
    * Scale: ONE corpus pass computes all five booleans map-side into a
    * single-row conditional-sum aggregate; the per-reason rows unpivot
    * from that one row via a literal stack — O(1) work after the scan,
    * no second pass, no joins.
    */
  private val pipelineQuarantine = Q(
    (s, dir) => {
      val one = TS(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n", size(col("toks")).cast("double"))
        .withColumn("r_short", col("n") < 20)
        .withColumn("r_rep",
          size(array_distinct(col("toks"))).cast("double") / col("n") < 0.45)
        .withColumn("r_digit",
          (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
            .cast("double") / length(col("text")).cast("double") > 0.05)
        .withColumn("r_block", col("text").rlike("(^| )dup dup( |$)"))
        .withColumn("r_lowq", round(
          size(array_distinct(col("toks"))).cast("double") / col("n") * 0.5 +
            least(col("n") / 100, lit(1.0)) * 0.5, 6) < 0.5)
        .withColumn("routed",
          when(col("r_short"), "1_too_short")
            .when(col("r_rep"), "2_repetitive")
            .when(col("r_digit"), "3_high_digit")
            .when(col("r_block"), "4_blocklisted")
            .when(col("r_lowq"), "5_low_quality")
            .otherwise("6_pass"))
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(col("r_short"), 1L).otherwise(0L)).as("f_short"),
          sum(when(col("r_rep"), 1L).otherwise(0L)).as("f_rep"),
          sum(when(col("r_digit"), 1L).otherwise(0L)).as("f_digit"),
          sum(when(col("r_block"), 1L).otherwise(0L)).as("f_block"),
          sum(when(col("r_lowq"), 1L).otherwise(0L)).as("f_lowq"),
          sum(when(col("routed") === "1_too_short", 1L).otherwise(0L)).as("q_short"),
          sum(when(col("routed") === "2_repetitive", 1L).otherwise(0L)).as("q_rep"),
          sum(when(col("routed") === "3_high_digit", 1L).otherwise(0L)).as("q_digit"),
          sum(when(col("routed") === "4_blocklisted", 1L).otherwise(0L)).as("q_block"),
          sum(when(col("routed") === "5_low_quality", 1L).otherwise(0L)).as("q_lowq"),
          sum(when(col("routed") === "6_pass", 1L).otherwise(0L)).as("q_pass"))
      one.select(expr(
        """stack(6,
          |  '1_too_short',    f_short, q_short,
          |  '2_repetitive',   f_rep,   q_rep,
          |  '3_high_digit',   f_digit, q_digit,
          |  '4_blocklisted',  f_block, q_block,
          |  '5_low_quality',  f_lowq,  q_lowq,
          |  '6_pass',         cast(0 as bigint), q_pass
          |) as (reason, n_failing, n_routed)""".stripMargin),
        col("n_total"))
        .select(col("reason"), col("n_failing"), col("n_routed"),
          expr("(n_routed * 1000000) div n_total").as("routed_share_e6"))
        .orderBy(col("reason"))
    },
    Some("""WITH f AS (
           |  SELECT text, string_split(text, ' ') AS toks,
           |    cast(len(string_split(text, ' ')) as double) AS n
           |  FROM documents
           |), v AS (
           |  SELECT
           |    (n < 20) AS r_short,
           |    (cast(len(list_distinct(toks)) as double) / n < 0.45) AS r_rep,
           |    (cast(len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
           |      as double) / len(text) > 0.05) AS r_digit,
           |    regexp_matches(text, '(^| )dup dup( |$)') AS r_block,
           |    (round(cast(len(list_distinct(toks)) as double) / n * 0.5
           |      + least(n / 100, 1.0) * 0.5, 6) < 0.5) AS r_lowq
           |  FROM f
           |), r AS (
           |  SELECT *, CASE WHEN r_short THEN '1_too_short'
           |    WHEN r_rep THEN '2_repetitive'
           |    WHEN r_digit THEN '3_high_digit'
           |    WHEN r_block THEN '4_blocklisted'
           |    WHEN r_lowq THEN '5_low_quality'
           |    ELSE '6_pass' END AS routed
           |  FROM v
           |), a AS (
           |  SELECT count(*) AS n_total,
           |    cast(sum(CASE WHEN r_short THEN 1 ELSE 0 END) as bigint) AS f_short,
           |    cast(sum(CASE WHEN r_rep THEN 1 ELSE 0 END) as bigint) AS f_rep,
           |    cast(sum(CASE WHEN r_digit THEN 1 ELSE 0 END) as bigint) AS f_digit,
           |    cast(sum(CASE WHEN r_block THEN 1 ELSE 0 END) as bigint) AS f_block,
           |    cast(sum(CASE WHEN r_lowq THEN 1 ELSE 0 END) as bigint) AS f_lowq,
           |    cast(sum(CASE WHEN routed = '1_too_short' THEN 1 ELSE 0 END) as bigint) AS q_short,
           |    cast(sum(CASE WHEN routed = '2_repetitive' THEN 1 ELSE 0 END) as bigint) AS q_rep,
           |    cast(sum(CASE WHEN routed = '3_high_digit' THEN 1 ELSE 0 END) as bigint) AS q_digit,
           |    cast(sum(CASE WHEN routed = '4_blocklisted' THEN 1 ELSE 0 END) as bigint) AS q_block,
           |    cast(sum(CASE WHEN routed = '5_low_quality' THEN 1 ELSE 0 END) as bigint) AS q_lowq,
           |    cast(sum(CASE WHEN routed = '6_pass' THEN 1 ELSE 0 END) as bigint) AS q_pass
           |  FROM r
           |), u AS (
           |  SELECT '1_too_short' AS reason, f_short AS n_failing, q_short AS n_routed, n_total FROM a
           |  UNION ALL SELECT '2_repetitive', f_rep, q_rep, n_total FROM a
           |  UNION ALL SELECT '3_high_digit', f_digit, q_digit, n_total FROM a
           |  UNION ALL SELECT '4_blocklisted', f_block, q_block, n_total FROM a
           |  UNION ALL SELECT '5_low_quality', f_lowq, q_lowq, n_total FROM a
           |  UNION ALL SELECT '6_pass', cast(0 as bigint), q_pass, n_total FROM a
           |)
           |SELECT reason, n_failing, n_routed,
           |  cast((n_routed * 1000000) // n_total as bigint) AS routed_share_e6
           |FROM u ORDER BY reason""".stripMargin))

  // ---------------------------------------------------------------------
  // Length-binned batching audit (padding-waste accounting)
  // ---------------------------------------------------------------------

  /** LENGTH-BINNED batching audit — the dataloader-design read before
    * fixing a batching strategy: batches of 8 padded to their longest
    * member waste `8*max - sum` tokens, and grouping documents into
    * power-of-two length buckets first (bucketed batching) cuts that
    * waste versus uniform random batching. The audit computes both
    * strategies' padding from the SAME deterministic hash order and
    * reports the per-bucket and uniform-baseline waste so the trainer
    * can price the tradeoff (bucketing reduces pad FLOPs but narrows
    * in-batch length diversity).
    *
    * Determinism: order inside every batching domain is the md5 hash
    * key (reproducible shuffle); buckets are integer CASE thresholds
    * (no float log2 at the boundary).
    *
    * Scale: batches form inside (bucket, hash-block) / (hash-block)
    * domains — the corpusShuffle block decomposition, so no window ever
    * sees more than one block of one bucket (B=32 blocks → every rank
    * window is block-parallel, no single-reducer corpus sort); both
    * strategies fold to <= |buckets|+1 rows in one aggregate each.
    */
  private val corpusLengthBinning = Q(
    (s, dir) => {
      val B = 32
      val base = TS(s, dir, "documents")
        .withColumn("len", size(split(col("text"), " ")).cast("long"))
        .withColumn("bucket",
          when(col("len") <= 16, 16L).when(col("len") <= 32, 32L)
            .when(col("len") <= 64, 64L).otherwise(128L))
        .withColumn("hkey", expr(
          "cast(conv(substring(md5(concat('lb:', cast(doc_id as string))), " +
            "1, 8), 16, 10) as bigint)"))
        .withColumn("blk", pmod(col("hkey"), lit(B.toLong)))
        .localCheckpoint(true)
      def waste(partition: Seq[String], label: String) = {
        val w = Window.partitionBy(partition.map(col): _*)
          .orderBy(col("hkey"), col("doc_id"))
        base
          .withColumn("rn", row_number().over(w))
          .withColumn("batch", expr("(rn - 1) div 8"))
          .groupBy((partition.map(col) :+ col("batch")): _*)
          .agg(count(lit(1)).as("bsz"), max(col("len")).as("bmax"),
            sum(col("len")).as("btok"))
          .groupBy(if (label == "bucketed") col("bucket") else lit(0L).as("bucket"))
          .agg(count(lit(1)).as("n_batches"), sum(col("bsz")).as("n_docs"),
            sum(col("btok")).as("sum_tokens"),
            sum(col("bsz") * col("bmax") - col("btok")).as("pad_tokens"))
          .withColumn("strategy", lit(label))
      }
      waste(Seq("bucket", "blk"), "bucketed")
        .unionByName(waste(Seq("blk"), "uniform"))
        .select(col("strategy"), col("bucket"), col("n_docs"), col("n_batches"),
          col("sum_tokens"), col("pad_tokens"),
          expr("(pad_tokens * 1000000) div (sum_tokens + pad_tokens)")
            .as("pad_share_e6"))
        .orderBy(col("strategy"), col("bucket"))
    },
    Some("""WITH f AS (
           |  SELECT doc_id, cast(len(string_split(text, ' ')) as bigint) AS len,
           |    CASE WHEN len(string_split(text, ' ')) <= 16 THEN 16
           |         WHEN len(string_split(text, ' ')) <= 32 THEN 32
           |         WHEN len(string_split(text, ' ')) <= 64 THEN 64
           |         ELSE 128 END AS bucket,
           |    cast('0x' || substr(md5('lb:' || cast(doc_id as varchar)), 1, 8)
           |      as bigint) AS hkey
           |  FROM documents
           |), g AS (
           |  SELECT *, hkey % 32 AS blk FROM f
           |), rb AS (
           |  SELECT bucket, blk, len,
           |    (row_number() OVER (PARTITION BY bucket, blk
           |      ORDER BY hkey, doc_id) - 1) // 8 AS batch
           |  FROM g
           |), bb AS (
           |  SELECT bucket, blk, batch, count(*) AS bsz, max(len) AS bmax,
           |    cast(sum(len) as bigint) AS btok
           |  FROM rb GROUP BY 1, 2, 3
           |), sb AS (
           |  SELECT 'bucketed' AS strategy, bucket,
           |    cast(sum(bsz) as bigint) AS n_docs, count(*) AS n_batches,
           |    cast(sum(btok) as bigint) AS sum_tokens,
           |    cast(sum(bsz * bmax - btok) as bigint) AS pad_tokens
           |  FROM bb GROUP BY 2
           |), ru AS (
           |  SELECT blk, len,
           |    (row_number() OVER (PARTITION BY blk
           |      ORDER BY hkey, doc_id) - 1) // 8 AS batch
           |  FROM g
           |), bu AS (
           |  SELECT blk, batch, count(*) AS bsz, max(len) AS bmax,
           |    cast(sum(len) as bigint) AS btok
           |  FROM ru GROUP BY 1, 2
           |), su AS (
           |  SELECT 'uniform' AS strategy, cast(0 as bigint) AS bucket,
           |    cast(sum(bsz) as bigint) AS n_docs, count(*) AS n_batches,
           |    cast(sum(btok) as bigint) AS sum_tokens,
           |    cast(sum(bsz * bmax - btok) as bigint) AS pad_tokens
           |  FROM bu
           |), u AS (SELECT * FROM sb UNION ALL SELECT * FROM su)
           |SELECT strategy, bucket, n_docs, n_batches, sum_tokens, pad_tokens,
           |  cast((pad_tokens * 1000000) // (sum_tokens + pad_tokens) as bigint)
           |    AS pad_share_e6
           |FROM u ORDER BY strategy, bucket""".stripMargin))

  // ---------------------------------------------------------------------
  // Data-card profile (per-source datasheet row)
  // ---------------------------------------------------------------------

  /** DATA-CARD profile — the per-source datasheet row a corpus release
    * publishes (the "Datasheets for Datasets" summary block): volumes,
    * language mix (count, dominant language and its share), the exact
    * median length, and the exact-duplicate rate — four different
    * aggregate shapes composed into ONE release artifact, which is how
    * this read actually ships (one table, not four queries).
    *
    * Scale: one narrow pass checkpoints (source, lang, n_chars, ws
    * tokens, content sha-prefix) — ~30 bytes/doc; from it: the source
    * rollup (count/sum/exact percentile), the (source, lang) mix agg
    * (bounded rows — the dominant-language rank window runs over THAT,
    * never the corpus), and the (source, hash)-collapsed dup count.
    * Three shrinking aggregates, one corpus scan.
    */
  private val profileDatacard = Q(
    (s, dir) => {
      val base = TS(s, dir, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_toks"),
          expr("cast(conv(substring(sha2(text, 256), 1, 8), 16, 10) as bigint)")
            .as("h"))
        .localCheckpoint(true)
      val vol = base.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
          round(expr("percentile(n_chars, 0.5)"), 6).as("p50_chars"))
      val mix = base.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("ln"))
      val wTop = Window.partitionBy(col("source"))
        .orderBy(col("ln").desc, col("lang"))
      val top = mix
        .withColumn("rn", row_number().over(wTop))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_langs"),
          max(when(col("rn") === 1, col("lang"))).as("top_lang"),
          max(when(col("rn") === 1, col("ln"))).as("top_lang_n"))
      val dups = base.select(col("source"), col("h")).distinct()
        .groupBy(col("source")).agg(count(lit(1)).as("n_distinct"))
      vol.join(top, Seq("source")).join(dups, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("p50_chars"), col("n_langs"), col("top_lang"),
          expr("(top_lang_n * 1000000) div n_docs").as("top_lang_share_e6"),
          expr("((n_docs - n_distinct) * 1000000) div n_docs")
            .as("dup_rate_e6"))
        .orderBy(col("source"))
    },
    Some("""WITH base AS (
           |  SELECT source, lang, n_chars,
           |    cast(len(string_split(text, ' ')) as bigint) AS n_toks,
           |    cast('0x' || substr(sha256(text), 1, 8) as bigint) AS h
           |  FROM documents
           |), vol AS (
           |  SELECT source, count(*) AS n_docs,
           |    cast(sum(n_toks) as bigint) AS n_tokens,
           |    round(quantile_cont(n_chars, 0.5), 6) AS p50_chars
           |  FROM base GROUP BY source
           |), mix AS (
           |  SELECT source, lang, count(*) AS ln FROM base GROUP BY 1, 2
           |), top AS (
           |  SELECT source, count(*) AS n_langs,
           |    max(CASE WHEN rn = 1 THEN lang END) AS top_lang,
           |    cast(max(CASE WHEN rn = 1 THEN ln END) as bigint) AS top_lang_n
           |  FROM (SELECT *, row_number() OVER (PARTITION BY source
           |          ORDER BY ln DESC, lang) AS rn FROM mix)
           |  GROUP BY source
           |), dups AS (
           |  SELECT source, count(*) AS n_distinct
           |  FROM (SELECT DISTINCT source, h FROM base) GROUP BY source
           |)
           |SELECT v.source, v.n_docs, v.n_tokens, v.p50_chars, t.n_langs,
           |  t.top_lang,
           |  cast((t.top_lang_n * 1000000) // v.n_docs as bigint)
           |    AS top_lang_share_e6,
           |  cast(((v.n_docs - d.n_distinct) * 1000000) // v.n_docs as bigint)
           |    AS dup_rate_e6
           |FROM vol v JOIN top t ON v.source = t.source
           |JOIN dups d ON v.source = d.source
           |ORDER BY v.source""".stripMargin))

  // ---------------------------------------------------------------------
  // Manifest diff (nightly-run blast-radius audit)
  // ---------------------------------------------------------------------

  /** MANIFEST DIFF — the blast-radius audit an operator runs after a
    * nightly ingest: compare the shard manifests of two corpus versions
    * (v1 = yesterday, before the newest arrivals; v2 = today) and
    * report per shard whether it is `unchanged`, `changed`, or `added`
    * — under id-range sharding, appends land in the TAIL shards, so the
    * expected diff is "a couple of shards changed, the rest
    * byte-identical", and any unexpected `changed` row means a
    * non-append mutation slipped in. Shard = contiguous id range (the
    * append-mostly production layout); v1 = docs below the arrival
    * cutoff. Fingerprints are order-independent bigint sums of content
    * sha-prefixes, so "unchanged" is a content claim, not a row count.
    *
    * Scale: one narrow pass (shard, arrival flag, token count, sha
    * prefix) feeds BOTH versions' manifests (v1 = a conditional-sum
    * re-aggregate, not a second scan); the diff is a full-outer join of
    * two <= S-row manifests.
    */
  private val pipelineManifestDiff = Q(
    (s, dir) => {
      val base = TS(s, dir, "documents")
        .select(
          least(expr("doc_id div 32"), lit(15L)).as("shard"),
          (col("doc_id") >= 450).as("arrival"),
          size(split(col("text"), " ")).cast("long").as("n_toks"),
          expr("cast(conv(substring(sha2(text, 256), 1, 8), 16, 10) as bigint)")
            .as("h"))
      val man = base.groupBy(col("shard"))
        .agg(
          sum(when(!col("arrival"), 1L).otherwise(0L)).as("v1_docs"),
          sum(when(!col("arrival"), col("n_toks")).otherwise(0L)).as("v1_tokens"),
          sum(when(!col("arrival"), col("h")).otherwise(0L)).as("v1_fp"),
          count(lit(1)).as("v2_docs"),
          sum(col("n_toks")).as("v2_tokens"),
          sum(col("h")).as("v2_fp"))
      man
        .select(col("shard"), col("v1_docs"), col("v2_docs"),
          (col("v2_docs") - col("v1_docs")).as("d_docs"),
          (col("v2_tokens") - col("v1_tokens")).as("d_tokens"),
          when(col("v1_docs") === 0 && col("v2_docs") > 0, "added")
            .when(col("v1_fp") === col("v2_fp") &&
              col("v1_docs") === col("v2_docs"), "unchanged")
            .otherwise("changed").as("status"))
        .orderBy(col("shard"))
    },
    Some("""WITH base AS (
           |  SELECT least(doc_id // 32, 15) AS shard,
           |    (doc_id >= 450) AS arrival,
           |    cast(len(string_split(text, ' ')) as bigint) AS n_toks,
           |    cast('0x' || substr(sha256(text), 1, 8) as bigint) AS h
           |  FROM documents
           |), man AS (
           |  SELECT shard,
           |    cast(sum(CASE WHEN NOT arrival THEN 1 ELSE 0 END) as bigint)
           |      AS v1_docs,
           |    cast(sum(CASE WHEN NOT arrival THEN n_toks ELSE 0 END) as bigint)
           |      AS v1_tokens,
           |    cast(sum(CASE WHEN NOT arrival THEN h ELSE 0 END) as bigint)
           |      AS v1_fp,
           |    count(*) AS v2_docs,
           |    cast(sum(n_toks) as bigint) AS v2_tokens,
           |    cast(sum(h) as bigint) AS v2_fp
           |  FROM base GROUP BY shard
           |)
           |SELECT shard, v1_docs, v2_docs,
           |  cast(v2_docs - v1_docs as bigint) AS d_docs,
           |  cast(v2_tokens - v1_tokens as bigint) AS d_tokens,
           |  CASE WHEN v1_docs = 0 AND v2_docs > 0 THEN 'added'
           |       WHEN v1_fp = v2_fp AND v1_docs = v2_docs THEN 'unchanged'
           |       ELSE 'changed' END AS status
           |FROM man ORDER BY shard""".stripMargin))

  // ---------------------------------------------------------------------
  // IVF index tombstone delete (index lifecycle: build / append / delete)
  // ---------------------------------------------------------------------

  /** TOMBSTONE DELETE on the persisted IVF-PQ index — the third index
    * lifecycle operation after build ([[simIvfPqPersisted]]) and append
    * ([[simIvfAppend]]): takedowns/GDPR deletes arrive as an id set,
    * the stored index files are NOT rewritten, and the serve path
    * anti-joins the tombstone set against the probed slice so deleted
    * vectors never score. The oracle is the shared IVF-PQ search SQL
    * with the deleted ids excluded from the candidate set — byte-level
    * agreement proves tombstoned serving is indistinguishable from a
    * full rebuild without the deleted vectors (the compaction that
    * production eventually runs, but must not need synchronously).
    *
    * Scale: the tombstone set broadcasts (delete volume is tiny next to
    * the corpus) and the anti-join applies AFTER partition pruning, so
    * the extra cost is one hash probe per candidate row of the probed
    * cells — the store's nprobe/C I/O bound is unchanged.
    */
  private val simIvfDelete = Q.scratch("ivfdelete")(
    (s, dir, base) => {
      val v = NorthStarQueries.kmeansQuantizedIndex(s, dir)
      val cellSorted = ivfCellSortedExpr(v)
      val vc = v.withColumn("cell", expr(s"element_at($cellSorted, 1).j"))
      val cb = NorthStarQueries.pqCodebook(v)
      ivfPqIndexRows(vc, cb)
        .write.mode("overwrite").partitionBy("cell").parquet(base)
      val tomb = v.where(col("vec_id") % 7 === 3)
        .select(col("vec_id").as("c_id"))
      ivfPqServeStore(s, v, base, cellSorted, cb, Some(tomb))
    },
    simIvfPq.oracle.map(_.replace(
      "WHERE p.q_id <> e.c_id",
      "WHERE p.q_id <> e.c_id AND e.c_id % 7 <> 3")))

  /** TOMBSTONE COMPACTION — the index lifecycle's VACUUM and the fourth
    * operation after build/append/delete: [[simIvfDelete]] serves with a
    * broadcast anti-join so deletes are instant, but the tombstoned rows
    * still occupy disk and probe I/O; compaction rewrites ONLY the cells
    * that hold tombstoned rows (dynamic partition overwrite — the
    * [[upsertShardStore]] discipline) and the serve path then runs with
    * NO tombstone filter at all. The oracle is byte-identical to the
    * delete op's (the IVF-PQ search SQL with deleted ids excluded):
    * compacted-store serving must be indistinguishable from tombstoned
    * serving — a compaction that loses a survivor in a touched cell,
    * resurrects a tombstone, or disturbs an untouched cell changes a
    * top-3 list and hash-fails. CurationSpec asserts the file-level
    * contract: untouched cells keep their exact files (size + mtime),
    * touched cells shrink by exactly the tombstoned rows, and the
    * tombstoned ids are GONE from disk, not merely filtered.
    *
    * Scale: compaction I/O is touched-cells-only — delete volume is
    * tiny and clustered next to the corpus, so the rewrite touches
    * |affected cells|/C of the index (at 100 TB: a background job sized
    * by the takedown batch, never a full-index rewrite); the touched
    * list is the one driver collect, bounded by C.
    */
  private val simIvfCompact = Q.scratch("ivfcompact")(
    (s, dir, base) => {
      val v = NorthStarQueries.kmeansQuantizedIndex(s, dir)
      val cellSorted = ivfCellSortedExpr(v)
      val vc = v.withColumn("cell", expr(s"element_at($cellSorted, 1).j"))
      val cb = NorthStarQueries.pqCodebook(v)
      ivfPqIndexRows(vc, cb)
        .write.mode("overwrite").partitionBy("cell").parquet(base)
      val tomb = v.where(col("vec_id") % 7 === 3)
        .select(col("vec_id").as("c_id")).localCheckpoint(true)
      compactIvfStore(s, base, tomb)
      // serve with NO tombstone filter: the store itself is now clean
      ivfPqServeStore(s, v, base, cellSorted, cb)
    },
    simIvfPq.oracle.map(_.replace(
      "WHERE p.q_id <> e.c_id",
      "WHERE p.q_id <> e.c_id AND e.c_id % 7 <> 3")))

  /** Rewrite ONLY the cells of a persisted IVF store that contain
    * tombstoned rows, dropping those rows (dynamic partition overwrite;
    * untouched cells keep their physical files). Returns the touched
    * cell ids.
    */
  private[graft] def compactIvfStore(s: org.apache.spark.sql.SparkSession,
      base: String, tomb: DataFrame): Seq[Long] = {
    val store = s.read.parquet(base)
    // the read-back partition column infers as int: normalize to long
    val touched = store.join(broadcast(tomb), Seq("c_id"), "left_semi")
      .select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    if (touched.nonEmpty) {
      val survivors = store.where(col("cell").isin(touched: _*))
        .join(broadcast(tomb), Seq("c_id"), "left_anti")
        // break lineage to the files being overwritten
        .localCheckpoint(true)
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try survivors.write.mode("overwrite").partitionBy("cell").parquet(base)
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      // dynamic partition overwrite only rewrites partitions PRESENT in
      // the survivors frame — a touched cell whose rows are ALL
      // tombstoned contributes none, so its files would survive and
      // the tombstoned ids resurrect in the unfiltered serve path.
      // Delete those partition directories explicitly.
      val survCells = survivors.select(col("cell").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      val emptied = touched.filterNot(survCells)
      if (emptied.nonEmpty) {
        val hconf = s.sparkContext.hadoopConfiguration
        emptied.foreach { c =>
          val part = new org.apache.hadoop.fs.Path(base, s"cell=$c")
          part.getFileSystem(hconf).delete(part, true)
        }
      }
    }
    touched
  }

  // ---------------------------------------------------------------------
  // Classifier agreement (Cohen's kappa)
  // ---------------------------------------------------------------------

  /** COHEN'S KAPPA between the logreg keep decision and the rule gate —
    * the chance-corrected agreement read that decides whether two
    * labelers (here: the trained classifier vs the hand rules it is
    * meant to replace) actually measure the same thing: raw agreement
    * over-credits imbalanced gates, kappa subtracts the agreement two
    * INDEPENDENT gates with these marginals would get for free. All
    * terms are exact integers; the two divisions use the sign-safe
    * floor-division pair ([[fdivSpark]]/[[fdivSql]]) because kappa is
    * legitimately negative when the gates anti-correlate and Spark's
    * `div` truncates toward zero while DuckDB's `//` floors.
    *
    * Scale: the calibration plan class — one corpus double-scoring
    * pass narrowed to two booleans and checkpointed; the percentile
    * scalar broadcasts back; the confusion matrix is one single-row
    * conditional-sum aggregate.
    */
  private val qualityKappa = Q(
    (s, dir) => {
      val scored = TS(s, dir, "documents")
        .transform(qualityZ)
        .withColumn("clf_keep",
          round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6) >= 0.5)
        .withColumn("quality", round(
          size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")).cast("double") * 0.5 +
            least(size(col("toks")).cast("double") / 100, lit(1.0)) * 0.5, 6))
        .withColumn("bad", col("text").rlike("(^| )(dup|slow)( |$)"))
        .select(col("clf_keep"), col("quality"), col("bad"))
        .localCheckpoint(true)
      val thr = scored.agg(
        round(expr("percentile(quality, 0.25)"), 6).as("q25"))
      scored.crossJoin(broadcast(thr))
        .withColumn("gate_keep", !col("bad") && col("quality") >= col("q25"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("clf_keep") && col("gate_keep"), 1L).otherwise(0L)).as("a_kk"),
          sum(when(col("clf_keep") && !col("gate_keep"), 1L).otherwise(0L)).as("b_kd"),
          sum(when(!col("clf_keep") && col("gate_keep"), 1L).otherwise(0L)).as("c_dk"),
          sum(when(!col("clf_keep") && !col("gate_keep"), 1L).otherwise(0L)).as("d_dd"))
        .withColumn("po_e6", expr("((a_kk + d_dd) * 1000000) div n"))
        .withColumn("pe_e6", expr(
          "(((a_kk + b_kd) * (a_kk + c_dk) + (c_dk + d_dd) * (b_kd + d_dd)) " +
            "* 1000000) div (n * n)"))
        .withColumn("kappa_e6", expr(
          fdivSpark("(po_e6 - pe_e6) * 1000000", "1000000 - pe_e6")))
    },
    Some(s"""WITH $qualityZSqlCtes, sc AS (
           |  SELECT
           |    (round(1.0 / (1.0 + exp(-z)), 6) >= 0.5) AS clf_keep,
           |    round(cast(len(list_distinct(toks)) as double) / len(toks) * 0.5
           |      + least(cast(len(toks) as double) / 100, 1.0) * 0.5, 6) AS quality,
           |    regexp_matches(text, '(^| )(dup|slow)( |$$)') AS bad
           |  FROM f
           |), thr AS (
           |  SELECT round(quantile_cont(quality, 0.25), 6) AS q25 FROM sc
           |), g AS (
           |  SELECT clf_keep, (NOT bad AND quality >= q25) AS gate_keep
           |  FROM sc, thr
           |), cm AS (
           |  SELECT count(*) AS n,
           |    cast(sum(CASE WHEN clf_keep AND gate_keep THEN 1 ELSE 0 END) as bigint) AS a_kk,
           |    cast(sum(CASE WHEN clf_keep AND NOT gate_keep THEN 1 ELSE 0 END) as bigint) AS b_kd,
           |    cast(sum(CASE WHEN NOT clf_keep AND gate_keep THEN 1 ELSE 0 END) as bigint) AS c_dk,
           |    cast(sum(CASE WHEN NOT clf_keep AND NOT gate_keep THEN 1 ELSE 0 END) as bigint) AS d_dd
           |  FROM g
           |), k AS (
           |  SELECT *,
           |    cast(((a_kk + d_dd) * 1000000) // n as bigint) AS po_e6,
           |    cast((((a_kk + b_kd) * (a_kk + c_dk) + (c_dk + d_dd) * (b_kd + d_dd))
           |      * 1000000) // (n * n) as bigint) AS pe_e6
           |  FROM cm
           |)
           |SELECT n, a_kk, b_kd, c_dk, d_dd, po_e6, pe_e6,
           |  cast(""".stripMargin +
      fdivSql("(po_e6 - pe_e6) * 1000000", "1000000 - pe_e6") +
      """ as bigint) AS kappa_e6
        |FROM k""".stripMargin))

  // ---------------------------------------------------------------------
  // Fixed-size uniform sample (distributed reservoir by hash top-k)
  // ---------------------------------------------------------------------

  /** FIXED-SIZE uniform sample — the "give me exactly 64 random docs"
    * read behind manual QA, labeling batches, and eval seeding. A
    * sequential reservoir doesn't distribute; the equivalent at scale
    * is the k SMALLEST hash keys (a uniform random permutation's first
    * k elements): per-partition top-k fold + O(k) merge — Spark's
    * TakeOrdered — so driver and shuffle state are k rows at any corpus
    * size, and the sample is REPRODUCIBLE (the hash is the seed) and
    * stable under appends except where a new doc's key displaces the
    * current maximum (the reservoir property).
    */
  private val sampleReservoir = Q(
    (s, dir) => {
      val w = Window.orderBy(col("hkey"), col("doc_id"))
      TS(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          expr("cast(conv(substring(md5(concat('rs:', cast(doc_id as string))), " +
            "1, 8), 16, 10) as bigint)").as("hkey"))
        .orderBy(col("hkey"), col("doc_id"))
        .limit(64)
        .withColumn("rn", row_number().over(w))
        .select(col("rn"), col("doc_id"), col("source"), col("hkey"))
        .orderBy(col("rn"))
    },
    Some("""WITH h AS (
           |  SELECT doc_id, source,
           |    cast('0x' || substr(md5('rs:' || cast(doc_id as varchar)), 1, 8)
           |      as bigint) AS hkey
           |  FROM documents
           |)
           |SELECT row_number() OVER (ORDER BY hkey, doc_id) AS rn,
           |  doc_id, source, hkey
           |FROM h ORDER BY hkey, doc_id LIMIT 64""".stripMargin))

  // ---------------------------------------------------------------------
  // Zipf power-law fit over the term-frequency distribution
  // ---------------------------------------------------------------------

  /** ZIPF fit — the corpus-linguistics health read: natural text's term
    * frequencies follow rank^(-s) with s ~ 1; a corpus whose fitted
    * slope is far from -1 (too flat = template/boilerplate vocabulary;
    * too steep = a few tokens dominating) earns a second look before
    * training. Least-squares slope of ln(tf) on ln(rank) over the
    * top-100 terms, with each ln floored to e6 fixed point (the DSIR
    * one-ln pattern) so the regression sums are exact bigints; the one
    * terminal division is floor of a single double ratio (sign-safe —
    * the slope is legitimately negative).
    *
    * Scale: term frequencies are the vocabulary-keyed aggregate; the
    * rank window and the regression run over the top-100 cut (a rank
    * prune, not a vocab sort — WindowGroupLimit at scale), so
    * everything past the tf aggregate is O(100).
    */
  private val profileZipf = Q(
    (s, dir) => {
      val wR = Window.orderBy(col("tf").desc, col("term"))
      val top = TS(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("tf"))
        .withColumn("rank", row_number().over(wR))
        .where(col("rank") <= 100)
        .withColumn("x", expr("cast(floor(ln(cast(rank as double)) * 1000000) as bigint)"))
        .withColumn("y", expr("cast(floor(ln(cast(tf as double)) * 1000000) as bigint)"))
      top.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select(col("n"),
          expr("cast(floor(cast(n * sxy - sx * sy as double) * 1000000 " +
            "/ cast(n * sxx - sx * sx as double)) as bigint)").as("slope_e6"),
          expr("cast(floor((cast(sy as double) - " +
            "cast(floor(cast(n * sxy - sx * sy as double) * 1000000 " +
            "/ cast(n * sxx - sx * sx as double)) as bigint) " +
            "* cast(sx as double) / 1000000.0) / cast(n as double)) as bigint)")
            .as("intercept_e6"))
    },
    Some("""WITH tf AS (
           |  SELECT term, count(*) AS tf FROM (
           |    SELECT unnest(string_split(text, ' ')) AS term FROM documents
           |  ) GROUP BY term
           |), top AS (
           |  SELECT cast(floor(ln(cast(rank as double)) * 1000000) as bigint) AS x,
           |    cast(floor(ln(cast(tf as double)) * 1000000) as bigint) AS y
           |  FROM (SELECT tf, row_number() OVER (ORDER BY tf DESC, term) AS rank
           |        FROM tf)
           |  WHERE rank <= 100
           |), a AS (
           |  SELECT count(*) AS n, cast(sum(x) as bigint) AS sx,
           |    cast(sum(y) as bigint) AS sy,
           |    cast(sum(x * y) as bigint) AS sxy,
           |    cast(sum(x * x) as bigint) AS sxx
           |  FROM top
           |)
           |SELECT n,
           |  cast(floor(cast(n * sxy - sx * sy as double) * 1000000
           |    / cast(n * sxx - sx * sx as double)) as bigint) AS slope_e6,
           |  cast(floor((cast(sy as double)
           |    - cast(floor(cast(n * sxy - sx * sy as double) * 1000000
           |        / cast(n * sxx - sx * sx as double)) as bigint)
           |      * cast(sx as double) / 1000000.0) / cast(n as double)) as bigint)
           |    AS intercept_e6
           |FROM a""".stripMargin))

  // ---------------------------------------------------------------------
  // Weighted interleave order (balanced training-order assembly)
  // ---------------------------------------------------------------------

  /** INTERLEAVE order — the training-order assembly BETWEEN the mixing
    * weights and the shard writer: each source's documents spread
    * evenly over the epoch by progress key `rank_in_source / n_source`
    * (every source advances at its own uniform rate — the "don't front-
    * load one source" guarantee that a plain concatenation or even a
    * global shuffle only gives in expectation), and the global order is
    * the merge of those progress streams. Emits the first 48 positions
    * (the order's head is what a resume-from-checkpoint run re-reads)
    * plus each position's progress key; ties across sources at equal
    * progress break by (source, rank) so the order is total.
    *
    * Scale: per-source ranks are one source-keyed window over the
    * hash-ordered corpus; the head cut is a global top-k by the
    * progress key (TakeOrdered — O(k) per partition, no full sort);
    * progress keys are exact integers (rank * 1e12 div n_source).
    */
  private val corpusInterleave = Q(
    (s, dir) => {
      val wS = Window.partitionBy(col("source"))
        .orderBy(col("hkey"), col("doc_id"))
      val ranked = TS(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          expr("cast(conv(substring(md5(concat('il:', cast(doc_id as string))), " +
            "1, 8), 16, 10) as bigint)").as("hkey"))
        .withColumn("srk", row_number().over(wS).cast("long"))
      val sizes = ranked.groupBy(col("source")).agg(count(lit(1)).as("ns"))
      val wG = Window.orderBy(col("progress"), col("source"), col("srk"))
      ranked.join(broadcast(sizes), Seq("source"))
        .withColumn("progress", expr("(srk * 1000000000000) div ns"))
        .orderBy(col("progress"), col("source"), col("srk"))
        .limit(48)
        .withColumn("pos", row_number().over(wG))
        .select(col("pos"), col("source"), col("srk"), col("doc_id"),
          col("progress"))
        .orderBy(col("pos"))
    },
    Some("""WITH h AS (
           |  SELECT doc_id, source,
           |    cast('0x' || substr(md5('il:' || cast(doc_id as varchar)), 1, 8)
           |      as bigint) AS hkey
           |  FROM documents
           |), r AS (
           |  SELECT doc_id, source,
           |    cast(row_number() OVER (PARTITION BY source ORDER BY hkey, doc_id)
           |      as bigint) AS srk,
           |    count(*) OVER (PARTITION BY source) AS ns
           |  FROM h
           |), p AS (
           |  SELECT doc_id, source, srk,
           |    cast((srk * 1000000000000) // ns as bigint) AS progress
           |  FROM r
           |)
           |SELECT row_number() OVER (ORDER BY progress, source, srk) AS pos,
           |  source, srk, doc_id, progress
           |FROM p ORDER BY progress, source, srk LIMIT 48""".stripMargin))

  // ---------------------------------------------------------------------
  // Bradley-Terry preference-strength fit (reward-data aggregation)
  // ---------------------------------------------------------------------

  /** BRADLEY-TERRY strength fit over pairwise document preferences — the
    * aggregation step between raw A/B preference labels (the
    * [[corpusPrefPairs]] output shape) and a per-source reward signal:
    * each source gets a latent strength π from the comparisons its
    * documents won and lost, via 3 rounds of the standard MM update
    * π_i ← W_i / Σ_j n_ij/(π_i+π_j) (Hunter 2004, "MM algorithms for
    * generalized Bradley-Terry models").
    *
    * Comparisons are generated scale-linearly: documents land in 64
    * hash buckets and each doc is compared to its SUCCESSOR in the
    * bucket's hash order (adjacent pairing — one comparison per doc,
    * never the quadratic within-bucket cross), kept when the two docs
    * come from different sources; the winner is the higher
    * quality-score okey (score e6 · 2^40 − doc_id, unique by
    * construction). The (source_i, source_j) win/loss matrix is at most
    * |sources|² rows, so the MM rounds run over a broadcast-scale frame.
    *
    * Determinism: match counts are pre-normalized to e6 of the total
    * (BT is scale-invariant), strengths are e12 fixed-point bigints,
    * every division is a positive integer floor div, and a 1e-6 floor
    * keeps a winless source's strength positive for the next round's
    * denominator. Oracle unrolls the 3 rounds as CTEs exactly like
    * [[graft.queries.NorthStarQueries]]'s pagerank.
    *
    * Scale: the corpus-sized work is one bucket-keyed lead() window and
    * one (i,j) aggregation; everything after is O(|sources|²) on
    * localCheckpoint'd frames. 100 TB: bucket count scales with
    * partitions, pairing stays one-comparison-per-doc.
    */
  private val qualityBradleyTerry = Q(
    (s, dir) => {
      val wB = Window.partitionBy(col("bkt")).orderBy(col("hkey"), col("doc_id"))
      val sc0 = TS(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("score_e6", expr(
          "cast(round((cast(size(array_distinct(toks)) as double) / size(toks) * 0.5 " +
            "+ least(cast(size(toks) as double) / 100, 1.0) * 0.5) * 1000000, 0) as bigint)"))
        .withColumn("hkey", expr(
          "cast(conv(substring(md5(concat('bt:', cast(doc_id as string))), 1, 8), 16, 10) as bigint)"))
        .withColumn("bkt", pmod(col("hkey"), lit(64)))
        .withColumn("okey", expr("score_e6 * cast(1099511627776 as bigint) - doc_id"))
        .select(col("doc_id"), col("source"), col("hkey"), col("bkt"), col("okey"))
      val paired = sc0
        .withColumn("nxt_source", lead(col("source"), 1).over(wB))
        .withColumn("nxt_okey", lead(col("okey"), 1).over(wB))
        .where(col("nxt_source").isNotNull && col("nxt_source") =!= col("source"))
        .withColumn("i", least(col("source"), col("nxt_source")))
        .withColumn("j", greatest(col("source"), col("nxt_source")))
        .withColumn("i_win", expr(
          "CASE WHEN okey > nxt_okey THEN source ELSE nxt_source END") === col("i"))
      val m = paired.groupBy(col("i"), col("j"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("i_win"), 1L).otherwise(0L)).as("wi"))
        .withColumn("wj", col("n") - col("wi"))
        .localCheckpoint(true)
      val mm = m.crossJoin(broadcast(m.agg(sum(col("n")).as("t"))))
        .select(col("i"), col("j"),
          expr("(n * 1000000) div t").as("nn"),
          expr("(wi * 1000000) div t").as("nwi"),
          expr("(wj * 1000000) div t").as("nwj"))
        .localCheckpoint(true)
      val raw = m.select(col("i").as("src"), col("n").as("nm"), col("wi").as("nw"))
        .unionAll(m.select(col("j").as("src"), col("n").as("nm"), col("wj").as("nw")))
        .groupBy(col("src"))
        .agg(sum(col("nm")).as("n_matches"), sum(col("nw")).as("n_wins"))
        .localCheckpoint(true)
      val ws = mm.select(col("i").as("src"), col("nwi").as("nw"))
        .unionAll(mm.select(col("j").as("src"), col("nwj").as("nw")))
        .groupBy(col("src")).agg(sum(col("nw")).as("ww"))
        .localCheckpoint(true)
      var p = raw.select(col("src"), lit(1000000000000L).as("p"))
      (1 to 3).foreach { _ =>
        val terms = mm
          .join(p.select(col("src").as("i"), col("p").as("pi")), Seq("i"))
          .join(p.select(col("src").as("j"), col("p").as("pj")), Seq("j"))
          .withColumn("t", expr("(nn * 1000000000000) div (pi + pj)"))
        val d = terms.select(col("i").as("src"), col("t"))
          .unionAll(terms.select(col("j").as("src"), col("t")))
          .groupBy(col("src")).agg(sum(col("t")).as("d"))
        p = ws.join(d, Seq("src"))
          .select(col("src"),
            greatest(expr("(ww * 1000000000000) div d"), lit(1000000L)).as("p"))
          .localCheckpoint(true)
      }
      val wR = Window.orderBy(col("strength_fp").desc, col("source"))
      raw.join(p, Seq("src"))
        .select(col("src").as("source"), col("n_matches"), col("n_wins"),
          col("p").as("strength_fp"))
        .withColumn("strength", round(col("strength_fp").cast("double") / lit(1.0e12), 6))
        .withColumn("rnk", row_number().over(wR))
        .orderBy(col("rnk"))
    },
    Some("""WITH sc AS (
           |  SELECT doc_id, source,
           |    cast(round((cast(len(list_distinct(string_split(text, ' '))) as double)
           |        / len(string_split(text, ' ')) * 0.5
           |      + least(cast(len(string_split(text, ' ')) as double) / 100, 1.0) * 0.5)
           |      * 1000000, 0) as bigint) AS score_e6,
           |    cast('0x' || substr(md5('bt:' || cast(doc_id as varchar)), 1, 8)
           |      as bigint) AS hkey
           |  FROM documents
           |), k AS (
           |  SELECT doc_id, source, hkey, hkey % 64 AS bkt,
           |    score_e6 * cast(1099511627776 as bigint) - doc_id AS okey
           |  FROM sc
           |), pr AS (
           |  SELECT source, okey,
           |    lead(source) OVER (PARTITION BY bkt ORDER BY hkey, doc_id) AS nxt_source,
           |    lead(okey) OVER (PARTITION BY bkt ORDER BY hkey, doc_id) AS nxt_okey
           |  FROM k
           |), cmp AS (
           |  SELECT least(source, nxt_source) AS i,
           |    greatest(source, nxt_source) AS j,
           |    (CASE WHEN okey > nxt_okey THEN source ELSE nxt_source END)
           |      = least(source, nxt_source) AS i_win
           |  FROM pr WHERE nxt_source IS NOT NULL AND nxt_source <> source
           |), m AS (
           |  SELECT i, j, cast(count(*) as bigint) AS n,
           |    cast(sum(CASE WHEN i_win THEN 1 ELSE 0 END) as bigint) AS wi,
           |    cast(count(*) - sum(CASE WHEN i_win THEN 1 ELSE 0 END) as bigint) AS wj
           |  FROM cmp GROUP BY i, j
           |), tt AS (SELECT cast(sum(n) as bigint) AS t FROM m
           |), mm AS (
           |  SELECT i, j, (n * 1000000) // t AS nn, (wi * 1000000) // t AS nwi,
           |    (wj * 1000000) // t AS nwj
           |  FROM m, tt
           |), raw AS (
           |  SELECT src, cast(sum(nm) as bigint) AS n_matches,
           |    cast(sum(nw) as bigint) AS n_wins
           |  FROM (SELECT i AS src, n AS nm, wi AS nw FROM m
           |        UNION ALL SELECT j, n, wj FROM m)
           |  GROUP BY src
           |), ws AS (
           |  SELECT src, cast(sum(nw) as bigint) AS ww
           |  FROM (SELECT i AS src, nwi AS nw FROM mm
           |        UNION ALL SELECT j, nwj FROM mm)
           |  GROUP BY src
           |), p0 AS (SELECT src, cast(1000000000000 as bigint) AS p FROM raw
           |), d1 AS (
           |  SELECT src, cast(sum(t) as bigint) AS d FROM (
           |    SELECT mm.i AS src, (mm.nn * 1000000000000) // (pi.p + pj.p) AS t
           |    FROM mm JOIN p0 pi ON pi.src = mm.i JOIN p0 pj ON pj.src = mm.j
           |    UNION ALL
           |    SELECT mm.j, (mm.nn * 1000000000000) // (pi.p + pj.p)
           |    FROM mm JOIN p0 pi ON pi.src = mm.i JOIN p0 pj ON pj.src = mm.j)
           |  GROUP BY src
           |), p1 AS (
           |  SELECT w.src,
           |    greatest((w.ww * 1000000000000) // d.d, cast(1000000 as bigint)) AS p
           |  FROM ws w JOIN d1 d USING (src)
           |), d2 AS (
           |  SELECT src, cast(sum(t) as bigint) AS d FROM (
           |    SELECT mm.i AS src, (mm.nn * 1000000000000) // (pi.p + pj.p) AS t
           |    FROM mm JOIN p1 pi ON pi.src = mm.i JOIN p1 pj ON pj.src = mm.j
           |    UNION ALL
           |    SELECT mm.j, (mm.nn * 1000000000000) // (pi.p + pj.p)
           |    FROM mm JOIN p1 pi ON pi.src = mm.i JOIN p1 pj ON pj.src = mm.j)
           |  GROUP BY src
           |), p2 AS (
           |  SELECT w.src,
           |    greatest((w.ww * 1000000000000) // d.d, cast(1000000 as bigint)) AS p
           |  FROM ws w JOIN d2 d USING (src)
           |), d3 AS (
           |  SELECT src, cast(sum(t) as bigint) AS d FROM (
           |    SELECT mm.i AS src, (mm.nn * 1000000000000) // (pi.p + pj.p) AS t
           |    FROM mm JOIN p2 pi ON pi.src = mm.i JOIN p2 pj ON pj.src = mm.j
           |    UNION ALL
           |    SELECT mm.j, (mm.nn * 1000000000000) // (pi.p + pj.p)
           |    FROM mm JOIN p2 pi ON pi.src = mm.i JOIN p2 pj ON pj.src = mm.j)
           |  GROUP BY src
           |), p3 AS (
           |  SELECT w.src,
           |    greatest((w.ww * 1000000000000) // d.d, cast(1000000 as bigint)) AS p
           |  FROM ws w JOIN d3 d USING (src)
           |)
           |SELECT raw.src AS source, raw.n_matches, raw.n_wins,
           |  p3.p AS strength_fp, round(cast(p3.p as double) / 1e12, 6) AS strength,
           |  row_number() OVER (ORDER BY p3.p DESC, raw.src) AS rnk
           |FROM raw JOIN p3 ON p3.src = raw.src
           |ORDER BY rnk""".stripMargin))

  // ---------------------------------------------------------------------
  // Readability profile (sentence-free FORCAST formula)
  // ---------------------------------------------------------------------

  /** READABILITY profile per source — the curation signal that separates
    * technical/telegraphic text from prose without trusting sentence
    * boundaries: the FORCAST grade (20 − 15·monosyllabic/words — the one
    * published readability formula designed for non-prose text, so it
    * stays defined on this fixture's punctuation-free corpus),
    * syllables-per-word, monosyllable ratio, and chars-per-word.
    * Syllables are maximal vowel runs `[aeiouy]+` — the standard cheap
    * estimator.
    *
    * Determinism: counts are exact bigints pooled per source BEFORE the
    * single ratio (never an average of per-doc floats); each ratio is an
    * e6 integer floor div. DuckDB needs the 'g' regex flag where Spark
    * replaces globally by default.
    *
    * Scale: map-only per-doc counting (regex + one list_filter HOF, no
    * explode) into a source-keyed partial agg — one shuffle of
    * |sources| rows.
    */
  private val textReadability = Q(
    (s, dir) => {
      val d = TS(s, dir, "documents")
        .withColumn("words", size(split(col("text"), " ")).cast("long"))
        .withColumn("vv", regexp_replace(col("text"), "[aeiouy]+", "V"))
        .withColumn("syll",
          (length(col("vv")) - length(regexp_replace(col("vv"), "V", ""))).cast("long"))
        .withColumn("mono", expr(
          "cast(size(filter(split(text, ' '), w -> " +
            "length(regexp_replace(w, '[aeiouy]+', 'V')) - " +
            "length(regexp_replace(regexp_replace(w, '[aeiouy]+', 'V'), 'V', '')) = 1)) as long)"))
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("words")).as("sum_words"),
          sum(col("syll")).as("sum_syll"),
          sum(col("mono")).as("sum_mono"),
          sum(col("n_chars").cast("long")).as("sum_chars"))
        .select(col("source"), col("n_docs"), col("sum_words"), col("sum_syll"),
          col("sum_mono"),
          expr("20000000 - (15000000 * sum_mono) div sum_words").as("forcast_e6"),
          expr("(sum_syll * 1000000) div sum_words").as("syll_per_word_e6"),
          expr("(sum_mono * 1000000) div sum_words").as("mono_ratio_e6"),
          expr("(sum_chars * 1000000) div sum_words").as("chars_per_word_e6"))
        .orderBy(col("source"))
    },
    Some("""WITH d AS (
           |  SELECT source,
           |    cast(len(string_split(text, ' ')) as bigint) AS words,
           |    cast(length(regexp_replace(text, '[aeiouy]+', 'V', 'g'))
           |      - length(replace(regexp_replace(text, '[aeiouy]+', 'V', 'g'), 'V', ''))
           |      as bigint) AS syll,
           |    cast(len(list_filter(string_split(text, ' '), w ->
           |      length(regexp_replace(w, '[aeiouy]+', 'V', 'g'))
           |        - length(replace(regexp_replace(w, '[aeiouy]+', 'V', 'g'), 'V', '')) = 1))
           |      as bigint) AS mono,
           |    cast(n_chars as bigint) AS n_chars
           |  FROM documents
           |), a AS (
           |  SELECT source, cast(count(*) as bigint) AS n_docs,
           |    cast(sum(words) as bigint) AS sum_words,
           |    cast(sum(syll) as bigint) AS sum_syll,
           |    cast(sum(mono) as bigint) AS sum_mono,
           |    cast(sum(n_chars) as bigint) AS sum_chars
           |  FROM d GROUP BY source
           |)
           |SELECT source, n_docs, sum_words, sum_syll, sum_mono,
           |  20000000 - (15000000 * sum_mono) // sum_words AS forcast_e6,
           |  (sum_syll * 1000000) // sum_words AS syll_per_word_e6,
           |  (sum_mono * 1000000) // sum_words AS mono_ratio_e6,
           |  (sum_chars * 1000000) // sum_words AS chars_per_word_e6
           |FROM a ORDER BY source""".stripMargin))

  // ---------------------------------------------------------------------
  // KMV cross-source overlap (mergeable sketches + exact audit twin)
  // ---------------------------------------------------------------------

  /** CROSS-SOURCE content overlap via mergeable KMV sketches — the
    * "which crawls duplicate each other" read that schedules dedup
    * effort BEFORE paying for it: every source keeps only its k=64
    * smallest distinct shingle hashes (a k-minimum-values sketch —
    * mergeable by taking the k smallest of a union, so per-source state
    * is O(k) at any corpus size and sketches combine across shards/
    * snapshots for free), and each source pair estimates Jaccard as the
    * both-members fraction of the merged sketch and union cardinality
    * as (k−1)·H/h_k (Beyer et al. 2007). The same query computes the
    * EXACT per-pair shingle Jaccard as the audit twin, so the result
    * carries its own error column — the estimator-calibration pattern
    * of `ns_dedup_minhash_estimate`.
    *
    * Scale: the corpus-sized work is one shingle explode + two distinct
    * collapses; sketches are 64·|sources| rows, pair merges are
    * |sources|²·64 rows. The EXACT twin joins distinct (source,
    * shingle) rows on shingle — per-shingle fan-out is bounded by
    * |sources|² (at most 190 pair rows per shingle here); at true
    * 100 TB that audit runs on a sample while the KMV path is the
    * product.
    */
  private val sketchKmvOverlap = Q(
    (s, dir) => {
      val sh = TS(s, dir, "documents")
        .select(col("source"),
          explode(expr(NorthStarQueries.shinglesExpr)).as("shingle"))
      // one corpus explode; every downstream branch (sizes, exact join,
      // sketches) reuses this checkpointed distinct set
      val dist = sh.distinct().localCheckpoint(true)
      val sizes = dist.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val inter = dist.as("a").join(dist.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("i"), col("b.source").as("j"))
        .agg(count(lit(1)).as("inter_exact"))
      val pairs = broadcast(sizes.select(col("source").as("i"), col("n").as("n_i")))
        .join(broadcast(sizes.select(col("source").as("j"), col("n").as("n_j"))),
          col("i") < col("j"))
      val wK = Window.partitionBy(col("source")).orderBy(col("h"))
      val sk = dist
        .withColumn("h",
          expr("cast(conv(substring(md5(shingle), 1, 8), 16, 10) as bigint)"))
        .select(col("source"), col("h")).distinct()
        .withColumn("r", row_number().over(wK)).where(col("r") <= 64)
        .select(col("source"), col("h")).localCheckpoint(true)
      val merged = pairs.select(col("i"), col("j"))
        .join(sk, col("source") === col("i") || col("source") === col("j"))
        .groupBy(col("i"), col("j"), col("h"))
        .agg(max(when(col("source") === col("i"), 1).otherwise(0)).as("has_i"),
          max(when(col("source") === col("j"), 1).otherwise(0)).as("has_j"))
      val wM = Window.partitionBy(col("i"), col("j")).orderBy(col("h"))
      val kmv = merged.withColumn("rn", row_number().over(wM))
        .where(col("rn") <= 64)
        .groupBy(col("i"), col("j"))
        .agg(count(lit(1)).as("kk"),
          sum(when(col("has_i") === 1 && col("has_j") === 1, 1L)
            .otherwise(0L)).as("both_kmv"),
          max(col("h")).as("hmax"))
      pairs.join(inter, Seq("i", "j"), "left")
        .withColumn("inter_exact", coalesce(col("inter_exact"), lit(0L)))
        .join(kmv, Seq("i", "j"))
        .select(col("i"), col("j"), col("n_i"), col("n_j"), col("inter_exact"),
          (col("n_i") + col("n_j") - col("inter_exact")).as("union_exact"),
          expr("(inter_exact * 1000000) div (n_i + n_j - inter_exact)")
            .as("jacc_exact_e6"),
          col("kk"), col("both_kmv"),
          expr("(both_kmv * 1000000) div kk").as("jacc_kmv_e6"),
          expr("((kk - 1) * 4294967296) div hmax").as("union_est"))
        .withColumn("err_e6", abs(col("jacc_kmv_e6") - col("jacc_exact_e6")))
        .orderBy(col("i"), col("j"))
    },
    Some(s"""WITH sh AS (
            |  SELECT source, unnest(${NorthStarQueries.shinglesSql}) AS shingle
            |  FROM documents
            |), hh AS (
            |  SELECT source, shingle,
            |    cast('0x' || substr(md5(shingle), 1, 8) as bigint) AS h
            |  FROM sh
            |), dist AS (SELECT DISTINCT source, shingle FROM hh
            |), sizes AS (SELECT source, cast(count(*) as bigint) AS n
            |             FROM dist GROUP BY source
            |), inter AS (
            |  SELECT a.source AS i, b.source AS j,
            |    cast(count(*) as bigint) AS inter_exact
            |  FROM dist a JOIN dist b
            |    ON a.shingle = b.shingle AND a.source < b.source
            |  GROUP BY a.source, b.source
            |), pairs AS (
            |  SELECT a.source AS i, b.source AS j, a.n AS n_i, b.n AS n_j
            |  FROM sizes a JOIN sizes b ON a.source < b.source
            |), hd AS (SELECT DISTINCT source, h FROM hh
            |), sk AS (
            |  SELECT source, h FROM (
            |    SELECT source, h,
            |      row_number() OVER (PARTITION BY source ORDER BY h) AS r
            |    FROM hd)
            |  WHERE r <= 64
            |), mg AS (
            |  SELECT p.i, p.j, s.h,
            |    max(CASE WHEN s.source = p.i THEN 1 ELSE 0 END) AS has_i,
            |    max(CASE WHEN s.source = p.j THEN 1 ELSE 0 END) AS has_j
            |  FROM pairs p JOIN sk s ON s.source = p.i OR s.source = p.j
            |  GROUP BY p.i, p.j, s.h
            |), topk AS (
            |  SELECT i, j, h, has_i, has_j,
            |    row_number() OVER (PARTITION BY i, j ORDER BY h) AS rn
            |  FROM mg
            |), kmv AS (
            |  SELECT i, j, cast(count(*) as bigint) AS kk,
            |    cast(sum(CASE WHEN has_i = 1 AND has_j = 1 THEN 1 ELSE 0 END)
            |      as bigint) AS both_kmv,
            |    max(h) AS hmax
            |  FROM topk WHERE rn <= 64 GROUP BY i, j
            |)
            |SELECT p.i, p.j, p.n_i, p.n_j,
            |  coalesce(it.inter_exact, 0) AS inter_exact,
            |  p.n_i + p.n_j - coalesce(it.inter_exact, 0) AS union_exact,
            |  (coalesce(it.inter_exact, 0) * 1000000)
            |    // (p.n_i + p.n_j - coalesce(it.inter_exact, 0)) AS jacc_exact_e6,
            |  k.kk, k.both_kmv,
            |  (k.both_kmv * 1000000) // k.kk AS jacc_kmv_e6,
            |  ((k.kk - 1) * 4294967296) // k.hmax AS union_est,
            |  abs((k.both_kmv * 1000000) // k.kk
            |    - (coalesce(it.inter_exact, 0) * 1000000)
            |      // (p.n_i + p.n_j - coalesce(it.inter_exact, 0))) AS err_e6
            |FROM pairs p
            |LEFT JOIN inter it ON it.i = p.i AND it.j = p.j
            |JOIN kmv k ON k.i = p.i AND k.j = p.j
            |ORDER BY p.i, p.j""".stripMargin))

  // ---------------------------------------------------------------------
  // Temporal embargo split (leakage-safe time-based train/test)
  // ---------------------------------------------------------------------

  /** TEMPORAL EMBARGO split over the event stream — the time-axis
    * counterpart of [[corpusSplitLeakage]]'s cluster-aware split: train
    * is everything up to the 70% point of the observed time span, a
    * 1-hour embargo zone after the cut is DROPPED (events there are
    * temporally correlated with both sides — the forecasting-leakage
    * window), and test is everything after. The single-row audit proves
    * the construction: per-user minimum gap between the last train
    * event and the first test event is >= the embargo (3600 s) for
    * every user appearing on both sides.
    *
    * Determinism: the cut is min + 7/10 of the µs span (exact bigint
    * arithmetic on epoch-µs — never a quantile whose interpolation
    * could diverge); all outputs are bigints.
    *
    * Scale: min/max are map-side-combined aggregates broadcast back as
    * one row; tagging is map-only; the audit is one user-keyed agg plus
    * a single-row rollup. No global sort anywhere (a rank-quantile cut
    * would need one — the span cut is the scale-correct choice, and the
    * production variant swaps in approx_percentile if a count-balanced
    * cut is required).
    */
  private val corpusEmbargoSplit = Q(
    (s, dir) => {
      val e = T(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts)").as("us"))
      val b = e.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
        .select(expr("mn + ((mx - mn) * 7) div 10").as("cut_us"))
        .withColumn("emb_end_us", col("cut_us") + lit(3600000000L))
      val tagged = e.crossJoin(broadcast(b))
        .withColumn("split",
          when(col("us") <= col("cut_us"), "train")
            .when(col("us") <= col("emb_end_us"), "embargo")
            .otherwise("test"))
      val byUser = tagged.groupBy(col("user_id"))
        .agg(max(when(col("split") === "train", col("us"))).as("last_train"),
          min(when(col("split") === "test", col("us"))).as("first_test"),
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("nt"),
          sum(when(col("split") === "embargo", 1L).otherwise(0L)).as("ne"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("nx"))
      byUser.crossJoin(broadcast(b))
        .agg(first(col("cut_us")).as("cut_us"),
          first(col("emb_end_us")).as("emb_end_us"),
          sum(col("nt")).as("n_train"),
          sum(col("ne")).as("n_embargo"),
          sum(col("nx")).as("n_test"),
          sum(when(col("nt") > 0L, 1L).otherwise(0L)).as("users_train"),
          sum(when(col("nx") > 0L, 1L).otherwise(0L)).as("users_test"),
          sum(when(col("nt") > 0L && col("nx") > 0L, 1L).otherwise(0L))
            .as("users_both"),
          min(when(col("nt") > 0L && col("nx") > 0L,
            expr("(first_test - last_train) div 1000000"))).as("min_gap_s"))
    },
    Some("""WITH e AS (
           |  SELECT user_id, epoch_us(ts) AS us FROM events
           |), b AS (
           |  SELECT min(us) + ((max(us) - min(us)) * 7) // 10 AS cut_us,
           |    min(us) + ((max(us) - min(us)) * 7) // 10 + 3600000000 AS emb_end_us
           |  FROM e
           |), t AS (
           |  SELECT user_id,
           |    CASE WHEN us <= cut_us THEN 'train'
           |         WHEN us <= emb_end_us THEN 'embargo'
           |         ELSE 'test' END AS split, us
           |  FROM e, b
           |), u AS (
           |  SELECT user_id,
           |    max(CASE WHEN split = 'train' THEN us END) AS last_train,
           |    min(CASE WHEN split = 'test' THEN us END) AS first_test,
           |    cast(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) as bigint) AS nt,
           |    cast(sum(CASE WHEN split = 'embargo' THEN 1 ELSE 0 END) as bigint) AS ne,
           |    cast(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) as bigint) AS nx
           |  FROM t GROUP BY user_id
           |)
           |SELECT b.cut_us, b.emb_end_us,
           |  cast(sum(u.nt) as bigint) AS n_train,
           |  cast(sum(u.ne) as bigint) AS n_embargo,
           |  cast(sum(u.nx) as bigint) AS n_test,
           |  cast(sum(CASE WHEN u.nt > 0 THEN 1 ELSE 0 END) as bigint) AS users_train,
           |  cast(sum(CASE WHEN u.nx > 0 THEN 1 ELSE 0 END) as bigint) AS users_test,
           |  cast(sum(CASE WHEN u.nt > 0 AND u.nx > 0 THEN 1 ELSE 0 END) as bigint)
           |    AS users_both,
           |  min(CASE WHEN u.nt > 0 AND u.nx > 0
           |    THEN (u.first_test - u.last_train) // 1000000 END) AS min_gap_s
           |FROM u, b GROUP BY b.cut_us, b.emb_end_us""".stripMargin))

  // ---------------------------------------------------------------------
  // Margin-based bitext mining (cross-lingual pair alignment)
  // ---------------------------------------------------------------------

  /** BITEXT MINING — the parallel-corpus construction step for
    * translation/cross-lingual training data: align English documents
    * with their most similar German counterparts in embedding space and
    * keep only pairs whose MARGIN score clears a threshold. The margin
    * is the ratio of the best cosine to the mean of the anchor's top-4
    * cosines (the absolute-cosine-is-uncalibrated fix from
    * margin-based mining, Artetxe & Schwenk 2019) — a hubby anchor
    * whose neighborhood is uniformly close scores near 1.0 and is
    * rejected; a true translation pair stands out from the
    * neighborhood and clears it.
    *
    * Determinism: cosines become e9 bigints by one floor each (the
    * IEEE steps before the floor are identical literals in both
    * engines); the margin is (best · c · 1e6) div Σ(top-c), all
    * integer.
    *
    * Scale: the anchor set is bounded and broadcast (the
    * [[NorthStarQueries.simCosineTopk]] audit class); candidates are
    * one narrow scan; top-4 via per-anchor rank window pruned
    * map-side. The production path swaps the brute candidate scan for
    * the IVF/LSH bucket join exactly as cosine_topk → lsh_buckets.
    */
  private val simBitextMining = Q(
    (s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"), col("lang"))
      val e = TS(s, dir, "embeddings")
        .join(d, col("vec_id") === col("doc_id"))
        .withColumn("nrm", expr("scaled_dot(embedding, embedding)"))
      val q = e.where(col("lang") === "en" && col("vec_id") < 64)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
          col("nrm").as("na"))
      val c = e.where(col("lang") === "de")
        .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
          col("nrm").as("nb"))
      val w = Window.partitionBy(col("a_id")).orderBy(col("cos_e9").desc, col("b_id"))
      broadcast(q).join(c, col("a_id") =!= col("b_id"))
        .withColumn("cos_e9",
          floor(cosine(expr("scaled_dot(a_emb, b_emb)"), "na", "nb") * 1000000000).cast("bigint"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 4)
        .groupBy(col("a_id"))
        .agg(max(when(col("rnk") === 1, col("b_id"))).as("b_id"),
          max(col("cos_e9")).as("best_e9"),
          count(lit(1)).as("c"),
          sum(col("cos_e9")).as("sum_e9"))
        .select(col("a_id"), col("b_id"),
          round(col("best_e9").cast("double") / lit(1.0e9), 6).as("cos_sim"),
          expr("(best_e9 * c * 1000000) div sum_e9").as("margin_e6"))
        .withColumn("accepted", col("margin_e6") >= 1050000L)
        .orderBy(col("a_id"))
    },
    Some(s"""WITH j AS (
            |  SELECT e.vec_id, e.embedding, d.lang,
            |    ${scaledDotSql("e.embedding", "e.embedding")} AS nrm
            |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
            |), q AS (
            |  SELECT vec_id AS a_id, embedding AS a_emb, nrm AS na
            |  FROM j WHERE lang = 'en' AND vec_id < 64
            |), c AS (
            |  SELECT vec_id AS b_id, embedding AS b_emb, nrm AS nb
            |  FROM j WHERE lang = 'de'
            |), p AS (
            |  SELECT a_id, b_id,
            |    cast(floor(${cosineSql(scaledDotSql("a_emb", "b_emb"), "na", "nb")}
            |      * 1000000000) as bigint) AS cos_e9
            |  FROM q JOIN c ON a_id <> b_id
            |), r AS (
            |  SELECT a_id, b_id, cos_e9,
            |    row_number() OVER (PARTITION BY a_id ORDER BY cos_e9 DESC, b_id) AS rnk
            |  FROM p
            |), t AS (
            |  SELECT a_id,
            |    max(CASE WHEN rnk = 1 THEN b_id END) AS b_id,
            |    max(cos_e9) AS best_e9,
            |    cast(count(*) as bigint) AS c,
            |    cast(sum(cos_e9) as bigint) AS sum_e9
            |  FROM r WHERE rnk <= 4 GROUP BY a_id
            |)
            |SELECT a_id, b_id,
            |  round(cast(best_e9 as double) / 1e9, 6) AS cos_sim,
            |  (best_e9 * c * 1000000) // sum_e9 AS margin_e6,
            |  (best_e9 * c * 1000000) // sum_e9 >= 1050000 AS accepted
            |FROM t ORDER BY a_id""".stripMargin))

  // ---------------------------------------------------------------------
  // Term burstiness profile (variance-to-mean ratio)
  // ---------------------------------------------------------------------

  /** TERM BURSTINESS — the distributional spam/template signal that raw
    * frequency misses: for the 25 highest-frequency terms, the
    * variance-to-mean ratio (VMR) of per-document counts over ALL
    * documents (zeros included). A term used evenly across the corpus
    * sits near the Poisson baseline (VMR ≈ 1); a term whose mass
    * concentrates in few documents (boilerplate blocks, generated spam,
    * keyword stuffing) is over-dispersed — exactly the terms a
    * template-detection pass should inspect first.
    *
    * Determinism: per-term Σc and Σc² are exact bigints; mean and
    * E[x²] normalize to e6 per-document BEFORE the variance identity
    * (var = E[x²] − mean²) so the arithmetic stays inside int64 at any
    * corpus size; VMR is one final e6 floor div.
    *
    * Scale: the (term, doc) count and the term rollup are
    * vocabulary-keyed aggregates (the top_terms class); N broadcasts
    * as one row; the rank cut bounds the output at 25 rows.
    */
  private val profileBurstiness = Q(
    (s, dir) => {
      val td = TS(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("cnt"))
      val term = td.groupBy(col("term"))
        .agg(sum(col("cnt")).as("tf"), count(lit(1)).as("df"),
          sum(col("cnt") * col("cnt")).as("sum_c2"))
      val n = T(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val wR = Window.orderBy(col("tf").desc, col("term"))
      term.crossJoin(broadcast(n))
        .withColumn("rnk", row_number().over(wR))
        .where(col("rnk") <= 25)
        .withColumn("mean_e6", expr("(tf * 1000000) div n_docs"))
        .withColumn("ex2_e6", expr("(sum_c2 * 1000000) div n_docs"))
        .withColumn("var_e6",
          greatest(expr("ex2_e6 - (mean_e6 * mean_e6) div 1000000"), lit(0L)))
        .withColumn("vmr_e6", expr("(var_e6 * 1000000) div mean_e6"))
        .select(col("rnk"), col("term"), col("tf"), col("df"), col("n_docs"),
          col("mean_e6"), col("vmr_e6"))
        .orderBy(col("rnk"))
    },
    Some("""WITH td AS (
           |  SELECT term, doc_id, cast(count(*) as bigint) AS cnt FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
           |    FROM documents
           |  ) GROUP BY term, doc_id
           |), t AS (
           |  SELECT term, cast(sum(cnt) as bigint) AS tf,
           |    cast(count(*) as bigint) AS df,
           |    cast(sum(cnt * cnt) as bigint) AS sum_c2
           |  FROM td GROUP BY term
           |), nn AS (SELECT cast(count(*) as bigint) AS n_docs FROM documents
           |), r AS (
           |  SELECT t.*, nn.n_docs,
           |    row_number() OVER (ORDER BY tf DESC, term) AS rnk
           |  FROM t, nn
           |), x AS (
           |  SELECT rnk, term, tf, df, n_docs,
           |    (tf * 1000000) // n_docs AS mean_e6,
           |    (sum_c2 * 1000000) // n_docs AS ex2_e6
           |  FROM r WHERE rnk <= 25
           |)
           |SELECT rnk, term, tf, df, n_docs, mean_e6,
           |  (greatest(ex2_e6 - (mean_e6 * mean_e6) // 1000000, 0) * 1000000)
           |    // mean_e6 AS vmr_e6
           |FROM x ORDER BY rnk""".stripMargin))

  // ---------------------------------------------------------------------
  // Observed quality gate (single-pass in-flight accounting)
  // ---------------------------------------------------------------------

  /** OBSERVED quality gate — the in-flight accounting pattern every
    * production gate needs and a naive pipeline pays a second scan for:
    * the drop/keep counters ride the SAME job as the gate itself via
    * `Dataset.observe` (Catalyst `CollectMetrics` — accumulator-backed,
    * zero extra passes, exactly-once per action), placed BEFORE the
    * filter so the metrics see every row while the output carries only
    * the survivors. The observation node is on the plan that feeds the
    * kept-rows write; at 100 TB the counters cost nothing beyond the
    * scan the gate already does.
    *
    * The returned frame is the observation row itself (bounded driver
    * state: 6 scalars, the k-means-centroid class), so the oracle can
    * hash-check that the IN-FLIGHT counters equal the ground truth a
    * second full pass would compute — which is the entire claim of the
    * pattern. PlanFeaturesSpec asserts the executed plan contains the
    * CollectMetrics node and exactly one scan of documents.
    */
  /** The observed-gate plan itself: (observation, gated survivors).
    * Shared with PlanFeaturesSpec, which asserts the executed plan
    * carries the CollectMetrics node and exactly one documents scan.
    */
  private[graft] def observedGate(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.Observation, DataFrame) = {
    val obs = org.apache.spark.sql.Observation()
    val base = TS(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("score_e6", expr(
        "cast(round((cast(size(array_distinct(toks)) as double) / size(toks) * 0.5 " +
          "+ least(cast(size(toks) as double) / 100, 1.0) * 0.5) * 1000000, 0) as bigint)"))
      .withColumn("keep", col("score_e6") >= 500000L)
    val gated = base.observe(obs,
        count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"),
        sum(col("n_toks")).as("toks_total"),
        sum(when(col("keep"), col("n_toks")).otherwise(0L)).as("toks_kept"))
      .where(col("keep"))
      .select(col("doc_id"))
    (obs, gated)
  }

  private val pipelineObserved = Q(
    (s, dir) => {
      val (obs, gated) = observedGate(s, dir)
      // one action drives the gate AND fills the observation
      gated.write.mode("overwrite").format("noop").save()
      val m = obs.get
      val row = Seq((m("n_total").asInstanceOf[Long],
        m("n_kept").asInstanceOf[Long], m("n_dropped").asInstanceOf[Long],
        m("toks_total").asInstanceOf[Long], m("toks_kept").asInstanceOf[Long]))
      import s.implicits._
      row.toDF("n_total", "n_kept", "n_dropped", "toks_total", "toks_kept")
        .withColumn("kept_ppm", expr("(n_kept * 1000000) div n_total"))
    },
    Some("""WITH f AS (
           |  SELECT cast(len(string_split(text, ' ')) as bigint) AS n_toks,
           |    cast(round((cast(len(list_distinct(string_split(text, ' '))) as double)
           |        / len(string_split(text, ' ')) * 0.5
           |      + least(cast(len(string_split(text, ' ')) as double) / 100, 1.0) * 0.5)
           |      * 1000000, 0) as bigint) >= 500000 AS keep
           |  FROM documents
           |)
           |SELECT cast(count(*) as bigint) AS n_total,
           |  cast(sum(CASE WHEN keep THEN 1 ELSE 0 END) as bigint) AS n_kept,
           |  cast(sum(CASE WHEN keep THEN 0 ELSE 1 END) as bigint) AS n_dropped,
           |  cast(sum(n_toks) as bigint) AS toks_total,
           |  cast(sum(CASE WHEN keep THEN n_toks ELSE 0 END) as bigint) AS toks_kept,
           |  (cast(sum(CASE WHEN keep THEN 1 ELSE 0 END) as bigint) * 1000000)
           |    // cast(count(*) as bigint) AS kept_ppm
           |FROM f""".stripMargin))

  // ---------------------------------------------------------------------
  // Two-phase anneal mix (quality-upweighted final tokens)
  // ---------------------------------------------------------------------

  /** ANNEAL MIX — the two-phase token-allocation plan behind
    * "anneal on high-quality data at the end of training": a budget of
    * half the corpus's tokens is split 80/20; phase 1 allocates
    * proportionally to each source's available mass (the iid mix), and
    * phase 2 — the anneal — restricts to the top half of sources by
    * mean quality score and re-allocates proportionally among them,
    * capped by what phase 1 left unconsumed. Shortfall is REPORTED, not
    * silently redistributed (the audit column an operator needs before
    * re-planning), and each source's repetition factor (allocated over
    * available, e6) is the epochs-equivalent read.
    *
    * Scale: one scoring pass collapses the corpus to |sources| rows
    * (mass + exact mean quality); every allocation derives from that
    * S-row frame joined to a broadcast 1-row total — more phases cost
    * nothing corpus-sized, the [[qualityThresholdSweep]] property.
    */
  private val corpusAnnealMix = Q(
    (s, dir) => {
      val src = TS(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_toks", size(col("toks")).cast("long"))
        .withColumn("score_e6", expr(
          "cast(round((cast(size(array_distinct(toks)) as double) / size(toks) * 0.5 " +
            "+ least(cast(size(toks) as double) / 100, 1.0) * 0.5) * 1000000, 0) as bigint)"))
        .groupBy(col("source"))
        .agg(sum(col("n_toks")).as("avail_toks"),
          sum(col("score_e6")).as("sum_q"), count(lit(1)).as("n_docs"))
        .withColumn("q_e6", expr("sum_q div n_docs"))
        .localCheckpoint(true)
      val tot = src.agg(sum(col("avail_toks")).as("total_avail"),
        count(lit(1)).as("n_src"))
      val wQ = Window.orderBy(col("q_e6").desc, col("source"))
      val ranked = src.crossJoin(broadcast(tot))
        .withColumn("q_rank", row_number().over(wQ))
        .withColumn("budget", expr("total_avail div 2"))
        .withColumn("alloc1", expr("((budget * 4) div 5 * avail_toks) div total_avail"))
        .withColumn("in_anneal", col("q_rank") <= expr("n_src div 2"))
        .localCheckpoint(true)
      val anneal = ranked.where(col("in_anneal"))
        .agg(sum(col("avail_toks")).as("anneal_avail"))
      ranked.crossJoin(broadcast(anneal))
        .withColumn("alloc2_want",
          when(col("in_anneal"),
            expr("((budget div 5) * avail_toks) div anneal_avail")).otherwise(0L))
        .withColumn("alloc2",
          least(col("alloc2_want"), col("avail_toks") - col("alloc1")))
        .withColumn("shortfall", col("alloc2_want") - col("alloc2"))
        .withColumn("alloc_total", col("alloc1") + col("alloc2"))
        .withColumn("repetition_e6", expr("(alloc_total * 1000000) div avail_toks"))
        .select(col("source"), col("avail_toks"), col("n_docs"), col("q_e6"),
          col("q_rank"), col("in_anneal"), col("alloc1"), col("alloc2"),
          col("shortfall"), col("alloc_total"), col("repetition_e6"))
        .orderBy(col("source"))
    },
    Some("""WITH f AS (
           |  SELECT source,
           |    cast(len(string_split(text, ' ')) as bigint) AS n_toks,
           |    cast(round((cast(len(list_distinct(string_split(text, ' '))) as double)
           |        / len(string_split(text, ' ')) * 0.5
           |      + least(cast(len(string_split(text, ' ')) as double) / 100, 1.0) * 0.5)
           |      * 1000000, 0) as bigint) AS score_e6
           |  FROM documents
           |), src AS (
           |  SELECT source, cast(sum(n_toks) as bigint) AS avail_toks,
           |    cast(sum(score_e6) as bigint) // cast(count(*) as bigint) AS q_e6,
           |    cast(count(*) as bigint) AS n_docs
           |  FROM f GROUP BY source
           |), tot AS (
           |  SELECT cast(sum(avail_toks) as bigint) AS total_avail,
           |    cast(count(*) as bigint) AS n_src
           |  FROM src
           |), r AS (
           |  SELECT src.*, tot.total_avail, tot.n_src,
           |    row_number() OVER (ORDER BY q_e6 DESC, source) AS q_rank,
           |    tot.total_avail // 2 AS budget
           |  FROM src, tot
           |), a AS (
           |  SELECT r.*,
           |    ((budget * 4) // 5 * avail_toks) // total_avail AS alloc1,
           |    q_rank <= n_src // 2 AS in_anneal
           |  FROM r
           |), av AS (
           |  SELECT cast(sum(avail_toks) as bigint) AS anneal_avail
           |  FROM a WHERE in_anneal
           |), x AS (
           |  SELECT a.*, CASE WHEN in_anneal
           |      THEN ((budget // 5) * avail_toks) // av.anneal_avail
           |      ELSE 0 END AS alloc2_want
           |  FROM a, av
           |), y AS (
           |  SELECT x.*, least(alloc2_want, avail_toks - alloc1) AS alloc2
           |  FROM x
           |)
           |SELECT source, avail_toks, n_docs, q_e6, q_rank, in_anneal,
           |  alloc1, alloc2, alloc2_want - alloc2 AS shortfall,
           |  alloc1 + alloc2 AS alloc_total,
           |  ((alloc1 + alloc2) * 1000000) // avail_toks AS repetition_e6
           |FROM y ORDER BY source""".stripMargin))

  // ---------------------------------------------------------------------
  // HITS hubs/authorities over the k-NN graph
  // ---------------------------------------------------------------------

  /** HITS (hubs and authorities, Kleinberg 1999) over the same directed
    * top-3-cosine k-NN graph as [[NorthStarQueries]]'s pagerank — the
    * DUAL read pagerank cannot give: authorities are vectors many good
    * hubs point AT (canonical cluster representatives — natural dedup
    * keepers and few-shot exemplars), hubs are vectors whose out-edges
    * find good authorities (strong query/probe points). Two full
    * mutual-reinforcement rounds (authority ← Σ in-hubs, hub ← Σ
    * out-authorities), max-normalized to e12 fixed point after every
    * update so the iteration never overflows and the oracle's unrolled
    * CTEs reproduce it exactly.
    *
    * Scale: the edge build is [[NorthStarQueries.knnEdges]], the
    * bucket-equi candidate join (the pagerank stress axis,
    * bucket-bounded); each half-round is one
    * edge join + one keyed agg over the checkpointed O(N·k) edge list;
    * normalization is a broadcast 1-row max. Edge-linear per round.
    */
  private val embedHits = Q(
    (s, dir) => {
      val e = bucketed(s, dir)
      // four consumers: both half-rounds of both rounds
      val edges = knnEdges(e).select(col("a_id"), col("b_id"))
        .localCheckpoint(true)
      val nodes = e.select(col("vec_id").as("id"))
      // raw sums reach indeg·1e12, so the e12 re-scale pre-divides both
      // sides by mx/1e6 (relative quantization 1e-6) to stay in int64
      def norm(df: DataFrame, c: String): DataFrame = {
        val mx = df.agg(max(col(c)).as("mx"),
          greatest(expr(s"max($c) div 1000000"), lit(1L)).as("sc"))
        df.crossJoin(broadcast(mx))
          .select(col("id"),
            expr(s"(($c div sc) * 1000000000000) div (mx div sc)").as(c))
          // one or two consumers (the next half-round; the last scores also
          // the final attach); the re-scale reads its input twice, so each
          // half-round would otherwise double the plan below it
          .localCheckpoint(true)
      }
      // r21: the per-round nodes left-joins only materialized zero rows —
      // a node outside aRaw/hRaw normalizes to 0, the max() the re-scale
      // divides by is unchanged by adding zeros (raw sums are >= 0 and a
      // nonempty edge list makes them nonempty), and the NEXT round only
      // reads scores of edge endpoints, which raw tables already cover.
      // Keep the rounds on the raw (edge-endpoint) tables and attach the
      // zero rows once at the end — 4 N-row joins removed, values
      // bit-identical.
      var auth: DataFrame = null
      var hub: DataFrame = null
      (1 to 2).foreach { i =>
        // round 1's hub is the constant 1e12 for every node, so its
        // rank join folds to count(inbound) * 1e12 (what sum(h) equals)
        val aRaw =
          if (i == 1) edges.groupBy(col("b_id").as("id"))
            .agg((count(lit(1)) * lit(1000000000000L)).as("a"))
          else edges.join(hub.withColumnRenamed("id", "a_id"), Seq("a_id"))
            .groupBy(col("b_id").as("id")).agg(sum(col("h")).as("a"))
        auth = norm(aRaw, "a")
        val hRaw = edges.join(auth.withColumnRenamed("id", "b_id"), Seq("b_id"))
          .groupBy(col("a_id").as("id")).agg(sum(col("a")).as("h"))
        hub = norm(hRaw, "h")
      }
      // r22 (guide §2.4): rnk <= 20 over (a desc, id) is a TOP-20 — the
      // former global row_number window moved EVERY node to one
      // partition ("WindowExec: No Partition Defined"); an
      // orderBy().limit(20) plans as TakeOrderedAndProject (exactly the
      // pagerank shape next door) and the rnk window then runs over 20
      // rows. Same total order, same 20 rows, same ranks.
      val wR = Window.orderBy(col("a").desc, col("id"))
      nodes
        .join(auth, Seq("id"), "left")
        .join(hub, Seq("id"), "left")
        .select(col("id"), coalesce(col("a"), lit(0L)).as("a"),
          coalesce(col("h"), lit(0L)).as("h"))
        .orderBy(col("a").desc, col("id")).limit(20)
        .withColumn("rnk", row_number().over(wR))
        .select(col("rnk"), col("id").as("vec_id"), col("a").as("auth_fp"),
          col("h").as("hub_fp"),
          round(col("a").cast("double") / lit(1.0e12), 6).as("authority"),
          round(col("h").cast("double") / lit(1.0e12), 6).as("hub"))
        .orderBy(col("rnk"))
    },
    Some(s"""WITH $bucketedSqlCte, $knnSqlCte, nodes AS (SELECT vec_id AS id FROM e
            |), h0 AS (SELECT id, cast(1000000000000 as bigint) AS h FROM nodes
            |), a1r AS (
            |  SELECT e.b_id AS id, cast(sum(h.h) as bigint) AS a
            |  FROM knn e JOIN h0 h ON h.id = e.a_id GROUP BY e.b_id
            |), a1n AS (
            |  SELECT n.id, coalesce(r.a, 0) AS a FROM nodes n LEFT JOIN a1r r USING (id)
            |), a1s AS (
            |  SELECT max(a) AS mx, greatest(max(a) // 1000000, 1) AS sc FROM a1n
            |), a1 AS (
            |  SELECT id, ((a // s.sc) * 1000000000000) // (s.mx // s.sc) AS a
            |  FROM a1n, a1s s
            |), h1r AS (
            |  SELECT e.a_id AS id, cast(sum(a.a) as bigint) AS h
            |  FROM knn e JOIN a1 a ON a.id = e.b_id GROUP BY e.a_id
            |), h1n AS (
            |  SELECT n.id, coalesce(r.h, 0) AS h FROM nodes n LEFT JOIN h1r r USING (id)
            |), h1s AS (
            |  SELECT max(h) AS mx, greatest(max(h) // 1000000, 1) AS sc FROM h1n
            |), h1 AS (
            |  SELECT id, ((h // s.sc) * 1000000000000) // (s.mx // s.sc) AS h
            |  FROM h1n, h1s s
            |), a2r AS (
            |  SELECT e.b_id AS id, cast(sum(h.h) as bigint) AS a
            |  FROM knn e JOIN h1 h ON h.id = e.a_id GROUP BY e.b_id
            |), a2n AS (
            |  SELECT n.id, coalesce(r.a, 0) AS a FROM nodes n LEFT JOIN a2r r USING (id)
            |), a2s AS (
            |  SELECT max(a) AS mx, greatest(max(a) // 1000000, 1) AS sc FROM a2n
            |), a2 AS (
            |  SELECT id, ((a // s.sc) * 1000000000000) // (s.mx // s.sc) AS a
            |  FROM a2n, a2s s
            |), h2r AS (
            |  SELECT e.a_id AS id, cast(sum(a.a) as bigint) AS h
            |  FROM knn e JOIN a2 a ON a.id = e.b_id GROUP BY e.a_id
            |), h2n AS (
            |  SELECT n.id, coalesce(r.h, 0) AS h FROM nodes n LEFT JOIN h2r r USING (id)
            |), h2s AS (
            |  SELECT max(h) AS mx, greatest(max(h) // 1000000, 1) AS sc FROM h2n
            |), h2 AS (
            |  SELECT id, ((h // s.sc) * 1000000000000) // (s.mx // s.sc) AS h
            |  FROM h2n, h2s s
            |), f AS (
            |  SELECT a2.id, a2.a, h2.h,
            |    row_number() OVER (ORDER BY a2.a DESC, a2.id) AS rnk
            |  FROM a2 JOIN h2 ON a2.id = h2.id
            |)
            |SELECT rnk, id AS vec_id, a AS auth_fp, h AS hub_fp,
            |  round(cast(a as double) / 1e12, 6) AS authority,
            |  round(cast(h as double) / 1e12, 6) AS hub
            |FROM f WHERE rnk <= 20 ORDER BY rnk""".stripMargin))

  // ---------------------------------------------------------------------
  // Multimodal: sample-level PCM audio statistics
  // ---------------------------------------------------------------------

  /** AUDIO-STATS extraction over real PCM payloads — the tier above
    * `ns_multimodal_meta`'s header parsing: 25 WAV files carry a
    * deterministic biased square wave (amplitude/bias/period derived
    * from nation attributes), and [[graft.operators.Multimodal.pcmStats]]
    * actually decodes the 16-bit data chunk sample by sample to fold
    * count, exact amplitude sum, exact sum of squares, peak, and
    * zero-crossing count — the silence/clipping/energy-gating signals an
    * audio-curation pipeline computes per clip. The oracle recomputes
    * every statistic in CLOSED FORM from the generator parameters
    * (n_plus − n_minus from the square-wave phase arithmetic), which is
    * what makes a real binary decode SQL-checkable.
    *
    * Scale: binaryFile scan → partition-mapped one-pass fold, no
    * shuffle; stats rows are tiny regardless of payload size (the
    * parseAll narrow shape). RMS derives from the exact bigint
    * sum-of-squares with ONE float sqrt per file.
    */
  private val multimodalAudioStats = Q.media("audiostats")(
    k => graft.operators.Multimodal.wavToneBytes(
      8000, 200 * (k + 1), 1000 + 50 * k, 100 + k, 8 + (k % 5)),
    (s, scanned) => {
      graft.operators.Multimodal.pcmStatsAll(scanned).toDF()
        .select(col("fileId").as("file_id"), col("nSamples").as("n_samples"),
          col("sumAmp").as("sum_amp"), col("sumSq").as("sum_sq"),
          col("peakAbs").as("peak_abs"), col("crossings"), col("valid"))
        .withColumn("rms_e3", expr(
          // 0 for an invalid parse (n=0) rather than a query-wide crash —
          // the gate then flags the row instead of the run erroring out
          "CASE WHEN n_samples > 0 THEN cast(floor(sqrt(cast(sum_sq as double) " +
            "/ cast(n_samples as double)) * 1000) as bigint) ELSE 0 END"))
        .orderBy(col("file_id"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(200 * (n_nationkey + 1) as bigint) AS n,
           |    cast(1000 + 50 * n_nationkey as bigint) AS a,
           |    cast(100 + n_nationkey as bigint) AS bia,
           |    cast(8 + (n_nationkey % 5) as bigint) AS h
           |  FROM nation
           |), ph AS (
           |  SELECT k, n, a, bia, h,
           |    (n // (2 * h)) * h + least(n % (2 * h), h) AS n_plus
           |  FROM g
           |), d AS (
           |  SELECT k, n, a, bia, h, n_plus, n - n_plus AS n_minus,
           |    2 * n_plus - n AS diff
           |  FROM ph
           |)
           |SELECT k AS file_id, n AS n_samples,
           |  n * bia + a * diff AS sum_amp,
           |  n * (a * a + bia * bia) + 2 * a * bia * diff AS sum_sq,
           |  a + bia AS peak_abs,
           |  (n - 1) // h AS crossings,
           |  true AS valid,
           |  cast(floor(sqrt(cast(n * (a * a + bia * bia) + 2 * a * bia * diff
           |    as double) / cast(n as double)) * 1000) as bigint) AS rms_e3
           |FROM d ORDER BY file_id""".stripMargin))

  // ---------------------------------------------------------------------
  // Multimodal: windowed-energy VAD over real PCM samples
  // ---------------------------------------------------------------------

  /** VOICE-ACTIVITY profile over really-decoded PCM — the windowed
    * energy pass an audio-curation pipeline runs to drop dead air and
    * measure speech density before transcription: samples decode
    * row-level ([[graft.operators.Multimodal.pcmSamplesAll]], the
    * narrow flatMap form of the PCM tier), Spark windows them into
    * 160-sample (20 ms at 8 kHz) frames, per-frame RMS gates
    * active/silent, and the per-file rollup reports speech share and
    * the LONGEST silence run (the trim decision's number). Fixtures
    * are burst WAVs alternating square-wave speech segments and
    * silence on a deterministic pattern, so every output is
    * closed-form.
    *
    * Determinism: an active frame's samples all have |amp| = A, so its
    * RMS is exactly A (one floor of an exact sqrt); silence is 0;
    * run-lengths come from the integer win − row_number grouping trick,
    * identical in both engines.
    *
    * Scale: decode is map-only; the frame aggregate is (file, win)-
    * keyed with map-side partials; the run/rollup layer works on
    * frame-count-sized rows. No corpus-wide window — the run window
    * partitions per file over its frames.
    */
  private val multimodalAudioVad = Q.media("audiovad")(
    k => graft.operators.Multimodal.wavBurstBytes(
      8000, 6 + (k % 5), 160, 800 + 10 * k, 8),
    (s, scanned) => {
      val frames = graft.operators.Multimodal.pcmSamplesAll(scanned).toDF()
        .select(col("fileId").as("file_id"), col("idx"), col("amp"))
        .withColumn("win", expr("idx div 160"))
        .groupBy(col("file_id"), col("win"))
        .agg(sum(col("amp") * col("amp")).as("ssq"), count(lit(1)).as("n"))
        .withColumn("rms_e3",
          floor(sqrt(col("ssq").cast("double") / col("n").cast("double"))
            * lit(1000.0)).cast("long"))
        .withColumn("active", col("rms_e3") >= 100000L)
        .localCheckpoint(true)
      val wRn = Window.partitionBy(col("file_id")).orderBy(col("win"))
      val silence = frames.where(!col("active"))
        .withColumn("grp", col("win") - row_number().over(wRn))
        .groupBy(col("file_id"), col("grp")).agg(count(lit(1)).as("run"))
        .groupBy(col("file_id")).agg(max(col("run")).as("ls"))
      frames.groupBy(col("file_id"))
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("active"), 1L).otherwise(0L)).as("n_active"),
          max(col("rms_e3")).as("rms_active_e3"))
        .join(silence, Seq("file_id"), "left")
        .withColumn("longest_silence", coalesce(col("ls"), lit(0L)))
        .withColumn("active_ppm", expr("(n_active * 1000000) div n_windows"))
        .select(col("file_id"), col("n_windows"), col("n_active"),
          col("active_ppm"), col("longest_silence"), col("rms_active_e3"))
        .orderBy(col("file_id"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(6 + (n_nationkey % 5) as bigint) AS n_segs,
           |    cast(800 + 10 * n_nationkey as bigint) AS amp
           |  FROM nation
           |), segs AS (
           |  SELECT k, n_segs, amp, unnest(generate_series(0, n_segs - 1)) AS w
           |  FROM g
           |), fr AS (
           |  SELECT k, n_segs, amp, w,
           |    ((5 * w + 3) % 7) < 4 AS active,
           |    CASE WHEN ((5 * w + 3) % 7) < 4 THEN amp * 1000 ELSE 0 END
           |      AS rms_e3
           |  FROM segs
           |), sil AS (
           |  SELECT k, cast(max(run) as bigint) AS ls FROM (
           |    SELECT k, grp, count(*) AS run FROM (
           |      SELECT k, w,
           |        w - row_number() OVER (PARTITION BY k ORDER BY w) AS grp
           |      FROM fr WHERE NOT active)
           |    GROUP BY k, grp)
           |  GROUP BY k
           |), roll AS (
           |  SELECT k, cast(count(*) as bigint) AS n_windows,
           |    cast(sum(CASE WHEN active THEN 1 ELSE 0 END) as bigint)
           |      AS n_active,
           |    cast(max(rms_e3) as bigint) AS rms_active_e3
           |  FROM fr GROUP BY k
           |)
           |SELECT roll.k AS file_id, n_windows, n_active,
           |  (n_active * 1000000) // n_windows AS active_ppm,
           |  cast(coalesce(sil.ls, 0) as bigint) AS longest_silence,
           |  rms_active_e3
           |FROM roll LEFT JOIN sil ON sil.k = roll.k
           |ORDER BY file_id""".stripMargin))

  // ---------------------------------------------------------------------
  // A/B experiment lift (deterministic assignment + two-proportion z)
  // ---------------------------------------------------------------------

  /** A/B LIFT analysis over the event stream — the experiment read a
    * data-recipe or ranking change ships with: users are assigned to
    * variants by a DETERMINISTIC hash of their id (the same
    * reproducible-randomness pattern as [[sampleHash]] — assignment
    * survives reruns and joins), conversion is a per-user any-purchase
    * flag, and the single-row result carries both rates, the relative
    * lift, and the pooled two-proportion z-statistic with its
    * significance call.
    *
    * Determinism: counts and rates are exact integers; lift and z (both
    * legitimately SIGNED) go through identical double arithmetic and
    * ONE floor each — floor, not integer div, because Spark's `div`
    * truncates toward zero while DuckDB's `//` floors, and they diverge
    * exactly on negatives.
    *
    * Scale: one user-keyed aggregate (map-side combined), then a 2-group
    * rollup into one row. Nothing else.
    */
  private val tsAbLift = Q(
    (s, dir) => {
      val users = T(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          >= 15L, 1L).otherwise(0L).as("converted"))
        .withColumn("variant", expr(
          "CASE WHEN pmod(cast(conv(substring(md5(concat('ab:', cast(user_id as string))), " +
            "1, 8), 16, 10) as bigint), 2) = 0 THEN 'A' ELSE 'B' END"))
      users.agg(
          sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("variant") === "A", col("converted")).otherwise(0L)).as("conv_a"),
          sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
          sum(when(col("variant") === "B", col("converted")).otherwise(0L)).as("conv_b"))
        .withColumn("rate_a_e6", expr("(conv_a * 1000000) div n_a"))
        .withColumn("rate_b_e6", expr("(conv_b * 1000000) div n_b"))
        .withColumn("lift_e6", expr(
          "CASE WHEN conv_a = 0 THEN 0 ELSE " +
            "cast(floor((cast(conv_b as double) / cast(n_b as double) " +
            "- cast(conv_a as double) / cast(n_a as double)) " +
            "/ (cast(conv_a as double) / cast(n_a as double)) * 1000000) as bigint) END"))
        .withColumn("z_e3", expr(
          "CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN 0 ELSE " +
            "cast(floor((cast(conv_b as double) / cast(n_b as double) " +
            "- cast(conv_a as double) / cast(n_a as double)) " +
            "/ sqrt((cast(conv_a + conv_b as double) / cast(n_a + n_b as double)) " +
            "* (1.0 - cast(conv_a + conv_b as double) / cast(n_a + n_b as double)) " +
            "* (1.0 / cast(n_a as double) + 1.0 / cast(n_b as double))) * 1000) as bigint) END"))
        .withColumn("significant", abs(col("z_e3")) >= 1960L)
    },
    Some("""WITH u AS (
           |  SELECT user_id,
           |    cast(CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           |      >= 15 THEN 1 ELSE 0 END as bigint) AS converted,
           |    CASE WHEN cast('0x' || substr(md5('ab:' || cast(user_id as varchar)), 1, 8)
           |      as bigint) % 2 = 0 THEN 'A' ELSE 'B' END AS variant
           |  FROM events GROUP BY user_id
           |), agg AS (
           |  SELECT
           |    cast(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) as bigint) AS n_a,
           |    cast(sum(CASE WHEN variant = 'A' THEN converted ELSE 0 END) as bigint) AS conv_a,
           |    cast(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) as bigint) AS n_b,
           |    cast(sum(CASE WHEN variant = 'B' THEN converted ELSE 0 END) as bigint) AS conv_b
           |  FROM u
           |)
           |SELECT n_a, conv_a, n_b, conv_b,
           |  (conv_a * 1000000) // n_a AS rate_a_e6,
           |  (conv_b * 1000000) // n_b AS rate_b_e6,
           |  CASE WHEN conv_a = 0 THEN 0 ELSE
           |    cast(floor((cast(conv_b as double) / cast(n_b as double)
           |    - cast(conv_a as double) / cast(n_a as double))
           |    / (cast(conv_a as double) / cast(n_a as double)) * 1000000) as bigint) END
           |    AS lift_e6,
           |  CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN 0 ELSE
           |    cast(floor((cast(conv_b as double) / cast(n_b as double)
           |    - cast(conv_a as double) / cast(n_a as double))
           |    / sqrt((cast(conv_a + conv_b as double) / cast(n_a + n_b as double))
           |      * (1.0 - cast(conv_a + conv_b as double) / cast(n_a + n_b as double))
           |      * (1.0 / cast(n_a as double) + 1.0 / cast(n_b as double))) * 1000)
           |    as bigint) END AS z_e3,
           |  abs(CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN 0 ELSE
           |    cast(floor((cast(conv_b as double) / cast(n_b as double)
           |    - cast(conv_a as double) / cast(n_a as double))
           |    / sqrt((cast(conv_a + conv_b as double) / cast(n_a + n_b as double))
           |      * (1.0 - cast(conv_a + conv_b as double) / cast(n_a + n_b as double))
           |      * (1.0 / cast(n_a as double) + 1.0 / cast(n_b as double))) * 1000)
           |    as bigint) END) >= 1960 AS significant
           |FROM agg""".stripMargin))

  // ---------------------------------------------------------------------
  // Malformed-CSV ingestion (PERMISSIVE + corrupt-record routing)
  // ---------------------------------------------------------------------

  /** MALFORMED-ROW ingestion — the robustness path every real crawl/CSV
    * feed needs and the happy-path round-trip (`src_csv_roundtrip`)
    * never exercises: the corpus lands as headerless CSV alongside a
    * second file of deterministically corrupted lines (every
    * doc_id % 11 == 0 re-emitted with an unparseable int field), and
    * the PERMISSIVE reader with an explicit schema + corrupt-record
    * column must (a) keep every valid row intact, (b) route every
    * corrupted line to the corrupt column — never silently drop or
    * mis-coerce. Output is the per-lang census over the valid rows
    * plus a `__corrupt__` row carrying the quarantine count — the
    * [[pipelineQuarantine]] shape at the FORMAT layer.
    *
    * Oracle: DuckDB never reads the CSV — it recomputes the expected
    * census and corrupt count from the parquet original and the
    * injection rule (the XML-roundtrip oracle pattern).
    *
    * Scale: both writes and the read are full-parallel file I/O; the
    * census is one keyed agg. The corrupt file is built in-plan
    * (filter + format string), never via a driver collect.
    */
  private val srcCsvMalformed = Q.scratch("csvmal")(
    (s, dir, base) => {
      val docs = T(s, dir, "documents")
      docs.select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .write.mode("overwrite").option("header", "false").csv(s"$base/good")
      docs.where(pmod(col("doc_id"), lit(11)) === 0)
        .select(concat_ws(",", col("doc_id"), col("text"), col("lang"),
          col("source"), lit("notanumber")).as("value"))
        .write.mode("overwrite").text(s"$base/bad")
      val schema = "doc_id BIGINT, text STRING, lang STRING, source STRING, " +
        "n_chars BIGINT, _corrupt STRING"
      val read = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(s"$base/good", s"$base/bad")
      read
        .withColumn("bucket",
          when(col("_corrupt").isNotNull, lit("__corrupt__")).otherwise(col("lang")))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("_corrupt").isNull, col("n_chars")).otherwise(0L))
            .as("sum_chars"))
        .orderBy(col("bucket"))
    },
    Some("""SELECT lang AS bucket, cast(count(*) as bigint) AS n_rows,
           |  cast(sum(n_chars) as bigint) AS sum_chars
           |FROM documents GROUP BY lang
           |UNION ALL
           |SELECT '__corrupt__', cast(count(*) as bigint), 0
           |FROM documents WHERE doc_id % 11 = 0
           |ORDER BY bucket""".stripMargin))

  // ---------------------------------------------------------------------
  // Dynamic-gap session windows (per-event gap durations)
  // ---------------------------------------------------------------------

  /** DYNAMIC-GAP session windows — Spark's `session_window` with a
    * per-event gap EXPRESSION (view events time out after 10 minutes,
    * everything else after 30): the semantics are interval-union (each
    * event extends its session to event_time + its own gap; overlapping
    * extents merge), which a fixed-gap lag comparison cannot express.
    * The oracle reproduces the interval union with the running-max
    * island algorithm: a session breaks exactly where an event's time
    * reaches the running max of all previous extents.
    *
    * Scale: one user-keyed session aggregation (the native streaming-
    * capable operator) — same shuffle budget as the fixed-gap form;
    * the oracle's window twin is per-user in-partition.
    */
  private val tsSessionDynamicGap = Q(
    (s, dir) => {
      val e = T(s, dir, "events")
        .withColumn("gap",
          when(col("event_type") === "view", lit("10 minutes"))
            .otherwise(lit("30 minutes")))
      e.groupBy(session_window(col("ts"), col("gap")), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"), col("user_id"), col("n"))
        .orderBy(col("user_id"), col("s_start"))
    },
    Some("""WITH e AS (
           |  SELECT user_id, event_id, epoch_us(ts) AS us,
           |    epoch_us(ts) + CASE WHEN event_type = 'view'
           |      THEN 600000000 ELSE 1800000000 END AS ext
           |  FROM events
           |), r AS (
           |  SELECT user_id, us, ext,
           |    max(ext) OVER (PARTITION BY user_id ORDER BY us, event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
           |  FROM e
           |), b AS (
           |  SELECT user_id, us, ext,
           |    CASE WHEN prev_max IS NULL OR us >= prev_max THEN 1 ELSE 0 END AS brk
           |  FROM r
           |), sid AS (
           |  SELECT user_id, us, ext,
           |    sum(brk) OVER (PARTITION BY user_id ORDER BY us
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
           |  FROM b
           |)
           |SELECT make_timestamp(min(us)) AS s_start,
           |  make_timestamp(max(ext)) AS s_end,
           |  user_id, cast(count(*) as bigint) AS n
           |FROM sid GROUP BY user_id, s
           |ORDER BY user_id, s_start""".stripMargin))

  // ---------------------------------------------------------------------
  // Boolean/phrase full-text query (the PG tsvector/tsquery class)
  // ---------------------------------------------------------------------

  /** BOOLEAN/PHRASE FULL-TEXT QUERY — the PostgreSQL tsquery surface
    * the reference's handlers reach through the delegated `db` handle
    * (`/root/reference/src/processor.ts:26`): `to_tsvector(text) @@
    * to_tsquery('a & b', '!c', 'a <-> b')` — AND / OR / NOT term
    * combinators plus position-adjacency PHRASE match. The engine
    * already had the ranked half (BM25, RRF, trigram fuzzy match);
    * this is the boolean half real users filter with before ranking.
    * Six representative queries (pure AND, phrase, AND NOT, OR-of-
    * phrase, phrase AND NOT, mixed) return their full match lists.
    *
    * Shape: ONE corpus pass — posexplode keeps original token
    * positions, the query-vocabulary `term IN (...)` filter prunes
    * BEFORE any exchange (the bm25 idiom: only postings shuffle, never
    * the corpus), and a doc-keyed `lead` window derives adjacency
    * (next KEPT token is phrase-adjacent iff its position is pos+1 —
    * exact, because a qualifying phrase's both words are in the kept
    * vocabulary). The presence/phrase flags aggregate groups on the
    * window's own partition key, so Catalyst plans window + aggregate
    * on a single exchange; the six query evaluations read the
    * localCheckpointed doc-sized flags frame (one row, 9 ints per
    * matching doc). The oracle is an INDEPENDENT implementation:
    * DuckDB space-padded LIKE scans (exact on the single-space
    * corpus), so a positional bug cannot cancel out.
    *
    * Scale: postings-bounded by query vocabulary exactly like bm25;
    * the adjacency window is doc-bounded; flags rows are one per doc
    * containing >= 1 query term. At 100 TB this is the materialized
    * positional-postings index probed per query — the GIN shape.
    */
  private val textFtsQuery = Q(
    (s, dir) => {
      val vocab = Seq("dup", "vector", "hash", "join", "scan", "filter",
        "merge", "sort", "data", "table", "slow")
      val toks = T(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .where(col("term").isin(vocab: _*))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      def has(t: String) =
        max(when(col("term") === t, 1).otherwise(0)).as("has_" + t)
      def phrase(a: String, b: String, name: String) =
        max(when(col("npos") === col("pos") + 1 &&
          col("term") === a && col("nterm") === b, 1).otherwise(0)).as(name)
      val ev = toks
        .withColumn("nterm", lead(col("term"), 1).over(w))
        .withColumn("npos", lead(col("pos"), 1).over(w))
        .groupBy(col("doc_id"))
        .agg(has("dup"), has("vector"), has("scan"), has("filter"),
          has("slow"),
          phrase("hash", "join", "ph_hash_join"),
          phrase("merge", "sort", "ph_merge_sort"),
          phrase("data", "table", "ph_data_table"))
        .localCheckpoint(true) // doc-sized; six query consumers
      def q(id: String, cond: org.apache.spark.sql.Column) =
        ev.where(cond).select(lit(id).as("query_id"),
          col("doc_id").cast("long").as("doc_id"))
      q("q1_and", col("has_dup") === 1 && col("has_vector") === 1)
        .unionAll(q("q2_phrase", col("ph_hash_join") === 1))
        .unionAll(q("q3_andnot",
          col("has_scan") === 1 && col("has_filter") === 0))
        .unionAll(q("q4_or",
          col("has_dup") === 1 || col("ph_merge_sort") === 1))
        .unionAll(q("q5_phrase_not",
          col("ph_merge_sort") === 1 && col("has_slow") === 0))
        .unionAll(q("q6_mixed", col("ph_data_table") === 1 ||
          (col("has_dup") === 1 && col("has_vector") === 1)))
        .orderBy(col("query_id"), col("doc_id"))
    },
    Some("""WITH d AS (
           |  SELECT cast(doc_id as bigint) AS doc_id,
           |    ' ' || text || ' ' AS t
           |  FROM documents
           |), m AS (
           |  SELECT 'q1_and' AS query_id, doc_id FROM d
           |    WHERE t LIKE '% dup %' AND t LIKE '% vector %'
           |  UNION ALL SELECT 'q2_phrase', doc_id FROM d
           |    WHERE t LIKE '% hash join %'
           |  UNION ALL SELECT 'q3_andnot', doc_id FROM d
           |    WHERE t LIKE '% scan %' AND t NOT LIKE '% filter %'
           |  UNION ALL SELECT 'q4_or', doc_id FROM d
           |    WHERE t LIKE '% dup %' OR t LIKE '% merge sort %'
           |  UNION ALL SELECT 'q5_phrase_not', doc_id FROM d
           |    WHERE t LIKE '% merge sort %' AND t NOT LIKE '% slow %'
           |  UNION ALL SELECT 'q6_mixed', doc_id FROM d
           |    WHERE t LIKE '% data table %'
           |      OR (t LIKE '% dup %' AND t LIKE '% vector %')
           |)
           |SELECT query_id, doc_id FROM m
           |ORDER BY query_id, doc_id""".stripMargin))

  /** GENERAL TSQUERY EVALUATION — arbitrary query STRINGS AS DATA
    * through [[graft.operators.TsQuery]] (the PG `to_tsquery` grammar:
    * `&`, `|`, `!`, parentheses, `<->`/`<N>` distance, `term:*`
    * prefix, `'quoted phrase'`, with PG's precedence), closing the
    * r19 verdict's "six hard-coded shapes" delta: the twelve queries
    * here arrive as rows of a query TABLE, are parsed at run time, and
    * compile into Catalyst predicates — any other tsquery string runs
    * through the same path. The first six reproduce
    * [[textFtsQuery]]'s shapes byte-identically (CurationSpec pins
    * that); the rest add nesting, prefix, `<2>` distance, pure
    * negation and a quoted phrase.
    *
    * Evaluation frame: ONE corpus pass builds a per-document
    * term -> sorted-positions map, postings-bounded by the PARSED
    * vocabulary (exact `IN` + prefix `startswith` pruning before any
    * exchange — the bm25 idiom); prefixes materialize as `p:*`
    * pseudo-terms so they carry positions (PG allows prefixes inside
    * phrases). Each AST compiles to a Column: presence =
    * `element_at(tm, t) IS NOT NULL`, distance = shifted-positions
    * `array_intersect` (chains compose left-associatively), booleans
    * are null-safe &&/||/!. Pure negation evaluates over the full
    * doc-id spine (a `!c` query matches docs with NO query terms at
    * all — the flags-frame-only shape silently drops those). The
    * oracle is the INDEPENDENT LIKE/regexp scan twin per query.
    *
    * Scale: the parser is driver-side and query-table-bounded (the
    * 16-query ANN precedent); the corpus pass is postings-bounded;
    * per-query evaluation reads the localCheckpointed doc-sized map
    * frame. At 100 TB this is a GIN-style positional postings probe.
    */
  private val textFtsParse = Q(
    (s, dir) => {
      import s.implicits._
      // the query TABLE — strings as data, parsed at run time; the
      // dialect column routes each row to to_tsquery or
      // websearch_to_tsquery (both PG parsing surfaces)
      val queryTable = Seq(
        ("q01_and", "dup & vector", "tsquery"),
        ("q02_phrase", "hash <-> join", "tsquery"),
        ("q03_andnot", "scan & !filter", "tsquery"),
        ("q04_or", "dup | merge <-> sort", "tsquery"),
        ("q05_phrase_not", "merge <-> sort & !slow", "tsquery"),
        ("q06_mixed", "data <-> table | dup & vector", "tsquery"),
        ("q07_nested", "(dup | vector) & !slow", "tsquery"),
        ("q08_prefix", "sca:*", "tsquery"),
        ("q09_dist2", "hash <2> scan", "tsquery"),
        ("q10_negation", "!slow", "tsquery"),
        ("q11_deep", "((scan | filter) & (sort | merge)) & !dup", "tsquery"),
        ("q12_quoted", "'hash join'", "tsquery"),
        ("q13_web_and", "dup vector", "websearch"),
        ("q14_web_or", "dup OR \"merge sort\"", "websearch"),
        ("q15_web_neg", "scan -filter", "websearch"),
        ("q16_web_mixed", "\"data table\" or dup vector", "websearch"))
        .toDF("query_id", "q", "dialect")
      val parsed: Seq[(String, graft.operators.TsQuery.Ast)] = queryTable
        .collect() // bounded by the query table — driver-side parse
        .map { r =>
          val parse =
            if (r.getString(2) == "websearch")
              graft.operators.TsQuery.parseWebsearch _
            else graft.operators.TsQuery.parse _
          (r.getString(0), parse(r.getString(1))
            .getOrElse(throw new IllegalArgumentException(
              s"malformed tsquery: ${r.getString(1)}")))
        }.toSeq
      val vocab = parsed.map(p => graft.operators.TsQuery.vocabulary(p._2))
      val exact = vocab.flatMap(_._1).distinct.sorted
      val prefixes = vocab.flatMap(_._2).distinct.sorted
      // postings-bounded corpus pass: prune to the parsed vocabulary
      // BEFORE any exchange; prefixes become positional pseudo-terms
      val exactIn =
        if (exact.isEmpty) "false"
        else s"term IN (${exact.map(t => s"'$t'").mkString(",")})"
      val prefArr =
        if (prefixes.isEmpty) "cast(array() as array<string>)"
        else prefixes.map(p => s"'$p'").mkString("array(", ",", ")")
      val keyed = TS(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .withColumn("keys", expr(
          s"""concat(
             |  CASE WHEN $exactIn THEN array(term)
             |       ELSE cast(array() as array<string>) END,
             |  transform(filter($prefArr, p -> startswith(term, p)),
             |            p -> p || ':*'))""".stripMargin))
        .select(col("doc_id"), col("pos"), explode(col("keys")).as("key"))
      val perDoc = keyed
        .groupBy(col("doc_id"), col("key"))
        .agg(sort_array(collect_list(col("pos"))).as("ps"))
        .groupBy(col("doc_id"))
        .agg(map_from_entries(collect_list(struct(col("key"), col("ps"))))
          .as("tm"))
      // full spine: pure-negation queries match docs with NO terms
      val spine = TS(s, dir, "documents").select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .localCheckpoint(true)
      import graft.operators.TsQuery._
      def posArr(a: Ast): org.apache.spark.sql.Column = a match {
        case Term(t) => element_at(col("tm"), lit(t))
        case Prefix(p) => element_at(col("tm"), lit(p + ":*"))
        case Dist(x, n, y) =>
          array_intersect(
            transform(posArr(x), c => c + lit(n)), posArr(y))
        case _ => throw new IllegalStateException("non-positional operand")
      }
      def ev(a: Ast): org.apache.spark.sql.Column = a match {
        case Term(_) | Prefix(_) => posArr(a).isNotNull
        case d: Dist => coalesce(size(posArr(d)) > 0, lit(false))
        case Not(x) => !ev(x)
        case And(x, y) => ev(x) && ev(y)
        case Or(x, y) => ev(x) || ev(y)
      }
      parsed.map { case (id, ast) =>
        spine.where(ev(ast))
          .select(lit(id).as("query_id"),
            col("doc_id").cast("long").as("doc_id"))
      }.reduce(_ unionAll _).orderBy(col("query_id"), col("doc_id"))
    },
    Some("""WITH d AS (
           |  SELECT cast(doc_id as bigint) AS doc_id,
           |    ' ' || text || ' ' AS t
           |  FROM documents
           |), m AS (
           |  SELECT 'q01_and' AS query_id, doc_id FROM d
           |    WHERE t LIKE '% dup %' AND t LIKE '% vector %'
           |  UNION ALL SELECT 'q02_phrase', doc_id FROM d
           |    WHERE t LIKE '% hash join %'
           |  UNION ALL SELECT 'q03_andnot', doc_id FROM d
           |    WHERE t LIKE '% scan %' AND t NOT LIKE '% filter %'
           |  UNION ALL SELECT 'q04_or', doc_id FROM d
           |    WHERE t LIKE '% dup %' OR t LIKE '% merge sort %'
           |  UNION ALL SELECT 'q05_phrase_not', doc_id FROM d
           |    WHERE t LIKE '% merge sort %' AND t NOT LIKE '% slow %'
           |  UNION ALL SELECT 'q06_mixed', doc_id FROM d
           |    WHERE t LIKE '% data table %'
           |      OR (t LIKE '% dup %' AND t LIKE '% vector %')
           |  UNION ALL SELECT 'q07_nested', doc_id FROM d
           |    WHERE (t LIKE '% dup %' OR t LIKE '% vector %')
           |      AND t NOT LIKE '% slow %'
           |  UNION ALL SELECT 'q08_prefix', doc_id FROM d
           |    WHERE t LIKE '% sca%'
           |  UNION ALL SELECT 'q09_dist2', doc_id FROM d
           |    WHERE regexp_matches(t, ' hash [^ ]+ scan ')
           |  UNION ALL SELECT 'q10_negation', doc_id FROM d
           |    WHERE t NOT LIKE '% slow %'
           |  UNION ALL SELECT 'q11_deep', doc_id FROM d
           |    WHERE (t LIKE '% scan %' OR t LIKE '% filter %')
           |      AND (t LIKE '% sort %' OR t LIKE '% merge %')
           |      AND t NOT LIKE '% dup %'
           |  UNION ALL SELECT 'q12_quoted', doc_id FROM d
           |    WHERE t LIKE '% hash join %'
           |  UNION ALL SELECT 'q13_web_and', doc_id FROM d
           |    WHERE t LIKE '% dup %' AND t LIKE '% vector %'
           |  UNION ALL SELECT 'q14_web_or', doc_id FROM d
           |    WHERE t LIKE '% dup %' OR t LIKE '% merge sort %'
           |  UNION ALL SELECT 'q15_web_neg', doc_id FROM d
           |    WHERE t LIKE '% scan %' AND t NOT LIKE '% filter %'
           |  UNION ALL SELECT 'q16_web_mixed', doc_id FROM d
           |    WHERE t LIKE '% data table %'
           |      OR (t LIKE '% dup %' AND t LIKE '% vector %')
           |)
           |SELECT query_id, doc_id FROM m
           |ORDER BY query_id, doc_id""".stripMargin))

  /** UNACCENT dictionary layer — PG's `unaccent` extension (the
    * filtering dictionary run before stemming in multilingual FTS
    * configs): diacritics fold to base letters so `café`/`cafe` hit
    * the same lexeme. The fixture corpus is ASCII, so the query
    * DERIVES a deterministic accented corpus in-plan (each
    * query-vocabulary posting takes its (doc_id+pos) % 3 surface: base
    * / acute-accented vowels / grave-accented vowels + cedilla, via
    * `translate` — character-for-character, identical in BOTH engines)
    * and folds it back with the inverse translate. Reported per base
    * token: surface forms unified, accented posting count, total
    * postings, doc frequency — df through the unaccent layer vs raw
    * exact match is the recall the dictionary adds, the
    * [[textFtsStemmed]] framing one dictionary earlier in PG's chain.
    *
    * Scale: the bm25 idiom — vocabulary pruning before any exchange;
    * accent/fold are map-side codegen'd translates; only (base, form,
    * doc) triples shuffle.
    */
  private val textUnaccent = Q(
    (s, dir) => {
      val vocab = Seq("dup", "vector", "hash", "join", "scan", "filter",
        "merge", "sort", "data", "table", "slow")
      val acc1 = "translate(w, 'aeiou', 'áéíóú')"
      val acc2 = "translate(w, 'aeiouc', 'àèìòùç')"
      val fold = "translate(m, 'áéíóúàèìòùç', 'aeiouaeiouc')"
      T(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .where(col("w").isin(vocab: _*))
        .withColumn("m", expr(
          s"""CASE WHEN (doc_id + pos) % 3 = 0 THEN w
             |  WHEN (doc_id + pos) % 3 = 1 THEN $acc1
             |  ELSE $acc2 END""".stripMargin))
        .withColumn("base", expr(fold))
        .groupBy(col("base"), col("m"), col("doc_id"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("base"))
        .agg(countDistinct(col("m")).as("n_surface_forms"),
          sum(when(col("m") =!= col("base"), col("n")).otherwise(0L))
            .as("n_accented_postings"),
          sum(col("n")).as("n_postings"),
          countDistinct(col("doc_id")).as("df_docs"),
          countDistinct(when(col("m") === col("base"), col("doc_id")))
            .as("df_docs_raw"))
        .orderBy(col("base"))
    },
    Some {
      val vocabSql = "'dup','vector','hash','join','scan','filter'," +
        "'merge','sort','data','table','slow'"
      s"""WITH wd AS (
         |  SELECT cast(doc_id as bigint) AS doc_id,
         |    string_split(text, ' ') AS ws
         |  FROM documents
         |), px AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)),
         |    i -> {'pos': i - 1, 'w': ws[i]})) AS e
         |  FROM wd
         |), t AS (
         |  SELECT doc_id, cast(e.pos as bigint) AS pos, e.w AS w
         |  FROM px WHERE e.w IN ($vocabSql)
         |), mo AS (
         |  SELECT doc_id, pos, w,
         |    CASE WHEN (doc_id + pos) % 3 = 0 THEN w
         |      WHEN (doc_id + pos) % 3 = 1 THEN translate(w, 'aeiou', 'áéíóú')
         |      ELSE translate(w, 'aeiouc', 'àèìòùç') END AS m
         |  FROM t
         |), f AS (
         |  SELECT doc_id, m,
         |    translate(m, 'áéíóúàèìòùç', 'aeiouaeiouc') AS base
         |  FROM mo
         |)
         |SELECT base,
         |  cast(count(DISTINCT m) as bigint) AS n_surface_forms,
         |  cast(count_if(m <> base) as bigint) AS n_accented_postings,
         |  cast(count(*) as bigint) AS n_postings,
         |  cast(count(DISTINCT doc_id) as bigint) AS df_docs,
         |  cast(count(DISTINCT CASE WHEN m = base THEN doc_id END) as bigint)
         |    AS df_docs_raw
         |FROM f GROUP BY base ORDER BY base""".stripMargin
    })

  // ---------------------------------------------------------------------
  // FTS stemming layer (the PG dictionary semantics)
  // ---------------------------------------------------------------------

  /** The light suffix stemmer's three stages as DIALECT-NEUTRAL SQL
    * (runs verbatim under Spark `expr` and DuckDB — LIKE chains instead
    * of regex, substring/length only): Porter step 1a (sses/ies/ss/s),
    * step 1b's ed/ing strip gated on a vowel in the stem, and the 1b
    * follow-ups (at/bl/iz +e; undouble a final double consonant except
    * l/s/z). The m-measure-gated eed rule and the short-word +e rule
    * are deliberately omitted (documented divergence — both engines
    * compute the identical function, which is the cross-engine
    * contract; PG's snowball differs on those tails).
    */
  private[graft] def stem1aSql(c: String): String =
    s"""CASE WHEN $c LIKE '%sses' THEN substring($c, 1, length($c) - 2)
       |  WHEN $c LIKE '%ies' THEN substring($c, 1, length($c) - 2)
       |  WHEN $c LIKE '%ss' THEN $c
       |  WHEN $c LIKE '%s' AND length($c) > 1
       |    THEN substring($c, 1, length($c) - 1)
       |  ELSE $c END""".stripMargin

  private[graft] def vowelInSql(c: String): String =
    s"($c LIKE '%a%' OR $c LIKE '%e%' OR $c LIKE '%i%' OR " +
      s"$c LIKE '%o%' OR $c LIKE '%u%')"

  private[graft] def stem1bStripSql(c: String): String =
    s"""CASE WHEN $c LIKE '%ed'
       |    AND ${vowelInSql(s"substring($c, 1, length($c) - 2)")}
       |    THEN substring($c, 1, length($c) - 2)
       |  WHEN $c LIKE '%ing'
       |    AND ${vowelInSql(s"substring($c, 1, length($c) - 3)")}
       |    THEN substring($c, 1, length($c) - 3)
       |  ELSE $c END""".stripMargin

  private[graft] def stemPostSql(c: String): String =
    s"""CASE WHEN $c LIKE '%at' OR $c LIKE '%bl' OR $c LIKE '%iz'
       |    THEN $c || 'e'
       |  WHEN substring($c, length($c) - 1, 1) = substring($c, length($c), 1)
       |    AND substring($c, length($c), 1)
       |      NOT IN ('a','e','i','o','u','l','s','z')
       |    THEN substring($c, 1, length($c) - 1)
       |  ELSE $c END""".stripMargin

  /** Deterministic MORPH corpus: token at (doc_id, pos) takes surface
    * form (doc_id + pos) % 4 — base / +s / +ing / +ed — inflected the
    * way English (and Porter's inverse) does: a final e drops before
    * ing/ed (merge -> merging), a final consonant outside
    * a,e,i,o,u,l,s,z doubles (scan -> scanning, dup -> dupped — the
    * form Porter's *d undouble folds back; l/s/z stay single because
    * the undouble rule exempts them). These are exactly the variants
    * the full Porter chain must fold to one lexeme. */
  private[graft] def morphSql(w: String, v: String): String = {
    def inflect(suf: String): String =
      s"""CASE WHEN $w LIKE '%e'
         |    THEN substring($w, 1, length($w) - 1) || '$suf'
         |  WHEN substring($w, length($w), 1)
         |    IN ('a','e','i','o','u','l','s','z') THEN $w || '$suf'
         |  ELSE $w || substring($w, length($w), 1) || '$suf' END""".stripMargin
    s"""CASE WHEN $v = 0 THEN $w
       |  WHEN $v = 1 THEN $w || 's'
       |  WHEN $v = 2 THEN ${inflect("ing")}
       |  ELSE ${inflect("ed")} END""".stripMargin
  }

  /** STEMMED FULL-TEXT SEARCH — the dictionary layer that closes the
    * last semantic delta with PG's `to_tsvector('english')`: PG stems
    * before indexing, so "running", "runs", and "run" hit the same
    * lexeme; the raw-token FTS tier misses morphological variants. The
    * fixture corpus carries no inflected forms, so the query DERIVES a
    * deterministic morph corpus in-plan (each query-vocabulary posting
    * takes its (doc_id+pos) % 4 surface form: base/+s/+ing/+ed with
    * English e-drop and consonant doubling — "merging" not "mergeing",
    * "scanning" not "scaning") and runs the FULL Porter (1980) stemmer
    * ([[PorterSql]] — all of steps 1a-5b, m-measure gates via the CV
    * skeleton, the identical generated dialect-neutral SQL in BOTH
    * engines; PorterSpec pins the paper's published examples
    * end-to-end) as the map-side token normalize over the postings.
    * The r19 light stemmer ([[stem1aSql]] et al.) remains as the
    * spec'd rule-by-rule reference for steps 1a/1b.
    * Reported per stem lexeme: distinct surface forms unified, doc
    * frequency through the stemmed index, doc frequency raw exact
    * match would have found (df_docs - df_docs_raw IS the recall the
    * dictionary layer adds), and posting count. Every vocabulary
    * lexeme must unify all four of its surface forms — a wrong strip,
    * a missed vowel gate, or an undouble that fires on l/s/z breaks a
    * row and hash-fails.
    *
    * Scale: the bm25 idiom — the query-vocabulary isin filter prunes
    * BEFORE any exchange (morphing + stemming are per-posting scalar
    * CASE chains, map-side, codegen'd); only (stem, m, doc_id) postings
    * shuffle into the stem-keyed aggregate; text never shuffles. At
    * 100 TB the stemmer runs once at INDEX time exactly like PG's
    * dictionary pass.
    */
  private val textFtsStemmed = Q(
    (s, dir) => {
      val vocab = Seq("dup", "vector", "hash", "join", "scan", "filter",
        "merge", "sort", "data", "table", "slow")
      val base = T(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .where(col("w").isin(vocab: _*))
        .withColumn("m", expr(morphSql("w", "(doc_id + pos) % 4")))
      // the FULL Porter chain (PorterSql) runs over the DISTINCT
      // surface forms only — vocabulary x 4 variants, the dictionary
      // discipline (PG stems its lexicon once, not every posting; the
      // bpe-apply precedent): the heavy generated CASE/skeleton
      // expressions evaluate over <=44 rows and broadcast back onto
      // the postings. Result-identical to the per-posting fold (the
      // oracle computes per posting), 3.4 s -> sub-second at sf0.1.
      val stems = PorterSql.chain("m")
        .foldLeft(base.select(col("m")).distinct()) {
          case (df, (name, sql)) => df.withColumn(name, expr(sql))
        }
        .select(col("m"), col("stem"))
        // materialize the 44-row dictionary: the chained Porter
        // expressions are too large for one fused codegen method (the
        // fallback runs interpreted AND leaks into every downstream
        // stage plan) — checkpointing turns the broadcast side into
        // plain rows, so probe-side stages codegen normally
        .localCheckpoint(true)
      base.join(broadcast(stems), Seq("m"))
        // collapse to (stem, form, doc) triples FIRST — one shuffle with
        // map-side combine (replicated postings collapse before moving);
        // the multi-distinct Expand then runs over the tiny triple frame
        // (lexemes x forms x docs), never the full postings stream
        .groupBy(col("stem"), col("m"), col("doc_id"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("stem"))
        .agg(countDistinct(col("m")).as("n_surface_forms"),
          countDistinct(col("doc_id")).as("df_docs"),
          countDistinct(when(col("m") === col("stem"), col("doc_id")))
            .as("df_docs_raw"),
          sum(col("n")).as("n_postings"))
        .orderBy(col("stem"))
    },
    Some {
      val vocabSql = "'dup','vector','hash','join','scan','filter'," +
        "'merge','sort','data','table','slow'"
      val porterCtes = PorterSql.chain("m").zipWithIndex.map {
        case ((name, sql), i) =>
          val prev = if (i == 0) "mo" else s"p$i"
          s"p${i + 1} AS (\n  SELECT *, $sql AS $name FROM $prev\n)"
      }.mkString(", ")
      val last = s"p${PorterSql.chain("m").size}"
      s"""WITH wd AS (
         |  SELECT cast(doc_id as bigint) AS doc_id,
         |    string_split(text, ' ') AS ws
         |  FROM documents
         |), px AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)),
         |    i -> {'pos': i - 1, 'w': ws[i]})) AS e
         |  FROM wd
         |), t AS (
         |  SELECT doc_id, cast(e.pos as bigint) AS pos, e.w AS w
         |  FROM px WHERE e.w IN ($vocabSql)
         |), mo AS (
         |  SELECT doc_id, pos, w,
         |    ${morphSql("w", "(doc_id + pos) % 4")} AS m
         |  FROM t
         |), $porterCtes
         |SELECT stem,
         |  cast(count(DISTINCT m) as bigint) AS n_surface_forms,
         |  cast(count(DISTINCT doc_id) as bigint) AS df_docs,
         |  cast(count(DISTINCT CASE WHEN m = stem THEN doc_id END) as bigint)
         |    AS df_docs_raw,
         |  cast(count(*) as bigint) AS n_postings
         |FROM $last GROUP BY stem ORDER BY stem""".stripMargin
    })

  /** STANDING FTS QUERIES over the document STREAM — the percolator
    * twin of [[textFtsQuery]] (PG users run exactly this as a
    * LISTEN/NOTIFY consumer of `to_tsvector(new.text) @@ tsquery`):
    * documents arrive as two mtime-pinned micro-batch files, each is
    * routed through the six standing boolean/phrase queries by the
    * STATELESS map-only matcher ([[graft.streaming.DocumentStreams
    * .ftsMatch]] — per-row token-array HOFs, no state store), and
    * matches land through the parquet file sink whose `_spark_metadata`
    * log is the exactly-once contract: the stream is REPLAYED from the
    * same checkpoint over the same input and the query itself requires
    * the match count unchanged — a re-emitting percolator fails the
    * gate loudly. Because matching is stateless, the stream's lifetime
    * match set provably equals the batch query's result, so the gate
    * oracle is the batch SQL verbatim.
    *
    * Scale: per-micro-batch cost is map-only matching over the
    * arrivals + a transactional append; no shuffle anywhere in the
    * stream.
    */
  private val textFtsStream = Q.scratch("ftsstream")(
    (s, dir, base) => {
      val docs = T(s, dir, "documents")
      Replay.land(s"$base/in", Seq(0, 1).map(p =>
        s"batch$p" -> docs.where(col("doc_id") % 2 === p)))
      val matches = graft.streaming.DocumentStreams.ftsMatch(
        Replay.stream(s, s"$base/in", graft.Tables.schemas("documents")))
      def run(): Unit = Replay.drain(matches, s"$base/out", s"$base/cp")
      run()
      val n1 = s.read.parquet(s"$base/out").count()
      run() // replay from the same checkpoint over the same input
      val n2 = s.read.parquet(s"$base/out").count()
      // exactly-once is part of the QUERY contract, not just a spec
      require(n1 == n2,
        s"standing-query replay re-emitted matches: $n1 -> $n2")
      s.read.parquet(s"$base/out")
        .orderBy(col("query_id"), col("doc_id"))
    },
    textFtsQuery.oracle)

  /** COVER-DENSITY PROXIMITY RANKING — PostgreSQL's `ts_rank_cd`
    * (Clarke et al.'s cover density), the ranking half of the FTS
    * surface after [[textFtsQuery]]'s boolean half: documents where the
    * query terms appear CLOSE together outrank documents that merely
    * contain them. For a two-term query, the minimal covers are exactly
    * the adjacent different-term pairs in the merged position list
    * (any closer pairing would nest inside), and the declared estimator
    * scores Σ floor(1e6 / cover_width) — a proximity-weighted count
    * both engines fold exactly. Three ranked queries return their
    * top-20 documents.
    *
    * Scale: the same postings discipline as bm25/[[textFtsQuery]] —
    * the query-vocabulary filter prunes before any exchange; the cover
    * windows (lag) are doc-bounded; per-query top-20 is
    * TakeOrderedAndProject (per-partition heaps, no corpus-wide rank
    * window); the final rank window orders 20 rows.
    */
  private val textRankCd = Q(
    (s, dir) => {
      val toks = T(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .where(col("term").isin("hash", "join", "merge", "sort",
          "data", "table"))
        .localCheckpoint(true) // three query consumers
      def ranked(id: String, a: String, b: String) = {
        val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val top = toks.where(col("term").isin(a, b))
          .withColumn("pterm", lag(col("term"), 1).over(w))
          .withColumn("ppos", lag(col("pos"), 1).over(w))
          .where(col("pterm").isNotNull && col("pterm") =!= col("term"))
          .withColumn("width", col("pos") - col("ppos") + 1)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_covers"),
            sum(expr("1000000 div width")).as("score_e6"))
          .orderBy(col("score_e6").desc, col("doc_id"))
          .limit(20)
        top.withColumn("rnk", row_number().over(
            Window.orderBy(col("score_e6").desc, col("doc_id"))).cast("long"))
          .select(lit(id).as("query_id"), col("rnk"),
            col("doc_id").cast("long").as("doc_id"),
            col("n_covers"), col("score_e6"))
      }
      ranked("r1_hash_join", "hash", "join")
        .unionAll(ranked("r2_merge_sort", "merge", "sort"))
        .unionAll(ranked("r3_data_table", "data", "table"))
        .orderBy(col("query_id"), col("rnk"))
    },
    Some("""WITH tk AS (
           |  SELECT doc_id, i AS pos, w[i] AS term
           |  FROM (SELECT doc_id, string_split(text, ' ') AS w,
           |          unnest(generate_series(1, len(string_split(text, ' '))))
           |            AS i
           |        FROM documents)
           |  WHERE w[i] IN ('hash', 'join', 'merge', 'sort', 'data', 'table')
           |), q AS (
           |  SELECT 'r1_hash_join' AS query_id, 'hash' AS a, 'join' AS b
           |  UNION ALL SELECT 'r2_merge_sort', 'merge', 'sort'
           |  UNION ALL SELECT 'r3_data_table', 'data', 'table'
           |), m AS (
           |  SELECT q.query_id, tk.doc_id, tk.pos, tk.term,
           |    lag(tk.term) OVER (PARTITION BY q.query_id, tk.doc_id
           |      ORDER BY tk.pos) AS pterm,
           |    lag(tk.pos) OVER (PARTITION BY q.query_id, tk.doc_id
           |      ORDER BY tk.pos) AS ppos
           |  FROM q JOIN tk ON tk.term IN (q.a, q.b)
           |), sc AS (
           |  SELECT query_id, doc_id, cast(count(*) as bigint) AS n_covers,
           |    cast(sum(1000000 // (pos - ppos + 1)) as bigint) AS score_e6
           |  FROM m WHERE pterm IS NOT NULL AND pterm <> term
           |  GROUP BY query_id, doc_id
           |), rk AS (
           |  SELECT query_id, doc_id, n_covers, score_e6,
           |    cast(row_number() OVER (PARTITION BY query_id
           |      ORDER BY score_e6 DESC, doc_id) as bigint) AS rnk
           |  FROM sc
           |)
           |SELECT query_id, rnk, cast(doc_id as bigint) AS doc_id,
           |  n_covers, score_e6
           |FROM rk WHERE rnk <= 20
           |ORDER BY query_id, rnk""".stripMargin))

  /** WEIGHTED ts_rank — the tf-weighted companion of
    * [[textRankCd]]'s proximity half, completing PG's ranking surface:
    * `ts_rank(setweight(...), query)` scores each occurrence by its
    * LEXEME WEIGHT CLASS. PG's A/B/C/D classes come from setweight
    * calls on document sections; this fixture has no sections, so the
    * class is POSITION-DERIVED exactly the way real schemas assign it
    * (title → A, abstract → B, body → D): the first 8 tokens weigh 10,
    * the next 24 weigh 4, the rest weigh 1. Per two-term query, docs
    * passing the boolean `@@` filter (both terms present) are ranked
    * by the length-normalized weighted tf (`score * 1e6 div n_toks` —
    * ts_rank's document-length normalization flag, exact integers),
    * top-20 each.
    *
    * Scale: the bm25/[[textFtsQuery]] postings discipline — the
    * query-vocabulary filter prunes BEFORE any exchange (doc length
    * rides each posting row from the same map-side pass, so no second
    * corpus scan); per-query top-20 is TakeOrderedAndProject heaps;
    * the final rank window orders 20 rows.
    */
  private val textRankWeighted = Q(
    (s, dir) => {
      val toks = T(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"), size(col("w")).cast("long").as("n_toks"),
          posexplode(col("w")).as(Seq("pos", "term")))
        .where(col("term").isin("hash", "join", "merge", "sort",
          "data", "table"))
        .withColumn("wt", expr(
          "CASE WHEN pos < 8 THEN 10 WHEN pos < 32 THEN 4 ELSE 1 END"))
        .localCheckpoint(true) // three query consumers
      def ranked(id: String, a: String, b: String) = {
        val top = toks.where(col("term").isin(a, b))
          .groupBy(col("doc_id"), col("n_toks"))
          .agg(sum(col("wt")).cast("long").as("score"),
            max(when(col("term") === a, 1).otherwise(0)).as("ha"),
            max(when(col("term") === b, 1).otherwise(0)).as("hb"))
          .where(col("ha") === 1 && col("hb") === 1) // the @@ AND filter
          .withColumn("norm_e6", expr("score * 1000000 div n_toks"))
          .orderBy(col("norm_e6").desc, col("doc_id"))
          .limit(20)
        top.withColumn("rnk", row_number().over(
            Window.orderBy(col("norm_e6").desc, col("doc_id"))).cast("long"))
          .select(lit(id).as("query_id"), col("rnk"),
            col("doc_id").cast("long").as("doc_id"), col("score"),
            col("norm_e6"))
      }
      ranked("r1_hash_join", "hash", "join")
        .unionAll(ranked("r2_merge_sort", "merge", "sort"))
        .unionAll(ranked("r3_data_table", "data", "table"))
        .orderBy(col("query_id"), col("rnk"))
    },
    Some("""WITH tk AS (
           |  SELECT doc_id, i, w[i] AS term, cast(len(w) as bigint) AS n_toks
           |  FROM (SELECT doc_id, string_split(text, ' ') AS w,
           |          unnest(generate_series(1, len(string_split(text, ' '))))
           |            AS i
           |        FROM documents)
           |  WHERE w[i] IN ('hash', 'join', 'merge', 'sort', 'data', 'table')
           |), q AS (
           |  SELECT 'r1_hash_join' AS query_id, 'hash' AS a, 'join' AS b
           |  UNION ALL SELECT 'r2_merge_sort', 'merge', 'sort'
           |  UNION ALL SELECT 'r3_data_table', 'data', 'table'
           |), sc AS (
           |  SELECT q.query_id, tk.doc_id, tk.n_toks,
           |    cast(sum(CASE WHEN tk.i <= 8 THEN 10 WHEN tk.i <= 32 THEN 4
           |      ELSE 1 END) as bigint) AS score,
           |    max(CASE WHEN tk.term = q.a THEN 1 ELSE 0 END) AS ha,
           |    max(CASE WHEN tk.term = q.b THEN 1 ELSE 0 END) AS hb
           |  FROM q JOIN tk ON tk.term IN (q.a, q.b)
           |  GROUP BY q.query_id, tk.doc_id, tk.n_toks
           |), fl AS (
           |  SELECT query_id, doc_id, score,
           |    cast((score * 1000000) // n_toks as bigint) AS norm_e6
           |  FROM sc WHERE ha = 1 AND hb = 1
           |), rk AS (
           |  SELECT query_id, doc_id, score, norm_e6,
           |    cast(row_number() OVER (PARTITION BY query_id
           |      ORDER BY norm_e6 DESC, doc_id) as bigint) AS rnk
           |  FROM fl
           |)
           |SELECT query_id, rnk, cast(doc_id as bigint) AS doc_id,
           |  score, norm_e6
           |FROM rk WHERE rnk <= 20
           |ORDER BY query_id, rnk""".stripMargin))

  /** tsquery PREFIX MATCHING — the `term:*` half of the PG tsquery
    * grammar ([[textFtsQuery]] covered the exact-term combinators):
    * `to_tsvector(text) @@ to_tsquery('vec:*')` matches any document
    * holding a token that STARTS WITH the prefix. Three representative
    * queries mix prefix terms with the boolean combinators (exact &
    * prefix, prefix & !exact, prefix | prefix) and return their full
    * match lists.
    *
    * Shape: the same postings-bounded plan — the map-side token filter
    * keeps exact query terms OR prefix-matching tokens (a startsWith
    * disjunction, still evaluated before any exchange, exactly how a
    * GIN prefix scan walks the term btree range), then one per-doc
    * flags aggregate serves all three queries. The oracle is the
    * independent LIKE-scan implementation (`'% vec%'` on the
    * space-padded text = some token starts with "vec").
    *
    * Scale: postings-bounded by the query vocabulary's prefix ranges;
    * flags rows are one per doc containing >= 1 qualifying token. At
    * 100 TB this is the GIN prefix range probe.
    */
  private val textFtsPrefix = Q(
    (s, dir) => {
      val toks = T(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .where(col("term") === "dup" || col("term") === "filter" ||
          col("term").startsWith("vec") || col("term").startsWith("sca") ||
          col("term").startsWith("mer") || col("term").startsWith("sor"))
      val ev = toks.groupBy(col("doc_id"))
        .agg(
          max(when(col("term") === "dup", 1).otherwise(0)).as("has_dup"),
          max(when(col("term") === "filter", 1).otherwise(0)).as("has_filter"),
          max(when(col("term").startsWith("vec"), 1).otherwise(0)).as("p_vec"),
          max(when(col("term").startsWith("sca"), 1).otherwise(0)).as("p_sca"),
          max(when(col("term").startsWith("mer"), 1).otherwise(0)).as("p_mer"),
          max(when(col("term").startsWith("sor"), 1).otherwise(0)).as("p_sor"))
        .localCheckpoint(true) // doc-sized; three query consumers
      def q(id: String, cond: org.apache.spark.sql.Column) =
        ev.where(cond).select(lit(id).as("query_id"),
          col("doc_id").cast("long").as("doc_id"))
      q("p1_and_prefix", col("has_dup") === 1 && col("p_vec") === 1)
        .unionAll(q("p2_prefix_not",
          col("p_sca") === 1 && col("has_filter") === 0))
        .unionAll(q("p3_or_prefix",
          col("p_mer") === 1 || col("p_sor") === 1))
        .orderBy(col("query_id"), col("doc_id"))
    },
    Some("""WITH d AS (
           |  SELECT cast(doc_id as bigint) AS doc_id,
           |    ' ' || text || ' ' AS t
           |  FROM documents
           |), m AS (
           |  SELECT 'p1_and_prefix' AS query_id, doc_id FROM d
           |    WHERE t LIKE '% dup %' AND t LIKE '% vec%'
           |  UNION ALL SELECT 'p2_prefix_not', doc_id FROM d
           |    WHERE t LIKE '% sca%' AND t NOT LIKE '% filter %'
           |  UNION ALL SELECT 'p3_or_prefix', doc_id FROM d
           |    WHERE t LIKE '% mer%' OR t LIKE '% sor%'
           |)
           |SELECT query_id, doc_id FROM m
           |ORDER BY query_id, doc_id""".stripMargin))

  /** tsquery FOLLOWED-BY DISTANCE — the `<N>` operator completing the
    * tsquery grammar beside `&`/`|`/`!` ([[textFtsQuery]]), `:*`
    * ([[textFtsPrefix]]), and `<->` (the phrase operator, which PG
    * defines as `<1>`): `a <N> b` matches documents holding an
    * occurrence of `b` EXACTLY N lexeme positions after an occurrence
    * of `a` — original text positions, regardless of what stands
    * between. Three representative distance queries return their full
    * match lists.
    *
    * Shape: one postings pass (vocabulary filter before any exchange)
    * into ONE per-doc aggregate collecting each term's sorted position
    * array; every distance query is then a per-row
    * `arrays_overlap(transform(p_a, x -> x + N), p_b)` — in-array HOFs
    * on doc-sized rows, no joins. The oracle is an INDEPENDENT
    * implementation (a positions self-JOIN per query), so an
    * off-by-one in either side hash-fails.
    *
    * Scale: postings-bounded; position arrays are per-doc
    * query-vocabulary occurrences only. The GIN positional-postings
    * probe shape at 100 TB.
    */
  private val textFtsDistance = Q(
    (s, dir) => {
      val toks = T(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .where(col("term").isin("hash", "join", "merge", "sort",
          "data", "table"))
      val ev = toks.groupBy(col("doc_id"))
        .agg(
          sort_array(collect_list(when(col("term") === "hash", col("pos"))))
            .as("p_hash"),
          sort_array(collect_list(when(col("term") === "join", col("pos"))))
            .as("p_join"),
          sort_array(collect_list(when(col("term") === "merge", col("pos"))))
            .as("p_merge"),
          sort_array(collect_list(when(col("term") === "sort", col("pos"))))
            .as("p_sort"),
          sort_array(collect_list(when(col("term") === "data", col("pos"))))
            .as("p_data"),
          sort_array(collect_list(when(col("term") === "table", col("pos"))))
            .as("p_table"))
        .localCheckpoint(true) // doc-sized; three query consumers
      def q(id: String, a: String, b: String, n: Int) =
        ev.where(expr(s"arrays_overlap(transform(p_$a, x -> x + $n), p_$b)"))
          .select(lit(id).as("query_id"),
            col("doc_id").cast("long").as("doc_id"))
      q("d1_hash_2_join", "hash", "join", 2)
        .unionAll(q("d2_merge_3_sort", "merge", "sort", 3))
        .unionAll(q("d3_data_1_table", "data", "table", 1))
        .orderBy(col("query_id"), col("doc_id"))
    },
    Some("""WITH tk AS (
           |  SELECT doc_id, i AS pos, w[i] AS term
           |  FROM (SELECT doc_id, string_split(text, ' ') AS w,
           |          unnest(generate_series(1, len(string_split(text, ' '))))
           |            AS i
           |        FROM documents)
           |  WHERE w[i] IN ('hash', 'join', 'merge', 'sort', 'data', 'table')
           |), m AS (
           |  SELECT DISTINCT 'd1_hash_2_join' AS query_id, a.doc_id
           |  FROM tk a JOIN tk b ON a.doc_id = b.doc_id
           |    AND a.term = 'hash' AND b.term = 'join' AND b.pos = a.pos + 2
           |  UNION ALL
           |  SELECT DISTINCT 'd2_merge_3_sort', a.doc_id
           |  FROM tk a JOIN tk b ON a.doc_id = b.doc_id
           |    AND a.term = 'merge' AND b.term = 'sort' AND b.pos = a.pos + 3
           |  UNION ALL
           |  SELECT DISTINCT 'd3_data_1_table', a.doc_id
           |  FROM tk a JOIN tk b ON a.doc_id = b.doc_id
           |    AND a.term = 'data' AND b.term = 'table' AND b.pos = a.pos + 1
           |)
           |SELECT query_id, cast(doc_id as bigint) AS doc_id FROM m
           |ORDER BY query_id, doc_id""".stripMargin))

  /** ts_headline — the SNIPPET half of the PG FTS surface (what a
    * search UI actually renders): for each two-term query, each
    * matching document's BEST cover (the minimal-width adjacent
    * different-term window from [[textRankCd]]'s frame; ties broken at
    * the earliest start) is excerpted with two tokens of context on
    * each side. Top-10 documents per query by (cover width asc,
    * doc_id) — tightest matches first, the ts_rank_cd ordering a
    * headline list uses.
    *
    * Determinism: the best cover is one integer argmin key
    * (width * 1e6 + start — positions < 1e6 at any fixture SF, the
    * documented bound); the snippet is a pure token-array slice.
    *
    * Scale: the postings discipline (vocabulary filter before any
    * exchange), doc-bounded lag windows, TakeOrderedAndProject top-10
    * heaps; ONLY the 30 winning documents' texts are ever re-read —
    * the snippet join is top-k-sized, so document bodies never
    * shuffle corpus-wide.
    */
  private val textHeadline = Q(
    (s, dir) => {
      val toks = T(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .where(col("term").isin("hash", "join", "merge", "sort",
          "data", "table"))
        .localCheckpoint(true) // three query consumers
      val docToks = T(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("wtok"))
      def headlined(id: String, a: String, b: String) = {
        val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val top = toks.where(col("term").isin(a, b))
          .withColumn("pterm", lag(col("term"), 1).over(w))
          .withColumn("ppos", lag(col("pos"), 1).over(w))
          .where(col("pterm").isNotNull && col("pterm") =!= col("term"))
          .withColumn("k",
            (col("pos") - col("ppos") + 1) * lit(1000000L) + col("ppos"))
          .groupBy(col("doc_id"))
          .agg(min(col("k")).as("k"))
          .withColumn("width", expr("k div 1000000"))
          .withColumn("start0", expr("k % 1000000"))
          .orderBy(col("width").asc, col("doc_id"))
          .limit(10)
        top.join(docToks, Seq("doc_id")) // 10 rows — the snippet join
          .withColumn("ss", greatest(col("start0") - 2, lit(0L)))
          .withColumn("ee", least(col("start0") + col("width") + 1,
            size(col("wtok")).cast("long") - 1))
          .withColumn("headline", expr(
            "array_join(slice(wtok, cast(ss + 1 as int), " +
              "cast(ee - ss + 1 as int)), ' ')"))
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("width").asc, col("doc_id"))).cast("long"))
          .select(lit(id).as("query_id"), col("rnk"),
            col("doc_id").cast("long").as("doc_id"),
            col("start0").cast("long").as("cover_start"),
            col("width").cast("long").as("cover_width"), col("headline"))
      }
      headlined("h1_hash_join", "hash", "join")
        .unionAll(headlined("h2_merge_sort", "merge", "sort"))
        .unionAll(headlined("h3_data_table", "data", "table"))
        .orderBy(col("query_id"), col("rnk"))
    },
    Some("""WITH tk AS (
           |  SELECT doc_id, i AS pos, w[i] AS term
           |  FROM (SELECT doc_id, string_split(text, ' ') AS w,
           |          unnest(generate_series(1, len(string_split(text, ' '))))
           |            AS i
           |        FROM documents)
           |  WHERE w[i] IN ('hash', 'join', 'merge', 'sort', 'data', 'table')
           |), q AS (
           |  SELECT 'h1_hash_join' AS query_id, 'hash' AS a, 'join' AS b
           |  UNION ALL SELECT 'h2_merge_sort', 'merge', 'sort'
           |  UNION ALL SELECT 'h3_data_table', 'data', 'table'
           |), m AS (
           |  SELECT q.query_id, tk.doc_id, tk.pos, tk.term,
           |    lag(tk.term) OVER (PARTITION BY q.query_id, tk.doc_id
           |      ORDER BY tk.pos) AS pterm,
           |    lag(tk.pos) OVER (PARTITION BY q.query_id, tk.doc_id
           |      ORDER BY tk.pos) AS ppos
           |  FROM q JOIN tk ON tk.term IN (q.a, q.b)
           |), cov AS (
           |  SELECT query_id, doc_id,
           |    min((pos - ppos + 1) * 1000000 + (ppos - 1)) AS k
           |  FROM m WHERE pterm IS NOT NULL AND pterm <> term
           |  GROUP BY query_id, doc_id
           |), rk AS (
           |  SELECT query_id, doc_id, k // 1000000 AS width,
           |    k % 1000000 AS start0,
           |    cast(row_number() OVER (PARTITION BY query_id
           |      ORDER BY k // 1000000, doc_id) as bigint) AS rnk
           |  FROM cov
           |)
           |SELECT t.query_id, t.rnk, cast(t.doc_id as bigint) AS doc_id,
           |  cast(t.start0 as bigint) AS cover_start,
           |  cast(t.width as bigint) AS cover_width,
           |  array_to_string(list_slice(string_split(d.text, ' '),
           |    cast(greatest(t.start0 - 2, 0) + 1 as bigint),
           |    cast(least(t.start0 + t.width + 1,
           |      len(string_split(d.text, ' ')) - 1) + 1 as bigint)), ' ')
           |    AS headline
           |FROM rk t JOIN documents d ON d.doc_id = t.doc_id
           |WHERE t.rnk <= 10
           |ORDER BY t.query_id, t.rnk""".stripMargin))

  /** EDIT-DISTANCE fuzzy match — the Levenshtein companion of the
    * trigram tier (PG's fuzzystrmatch `levenshtein(a, b) <= d` beside
    * pg_trgm's `%`): the same 64 typo'd probe titles ranked against
    * the DISTINCT-title index by exact edit distance <= 6, top-5 per
    * probe. Where trigram Jaccard is set-based (order-insensitive,
    * length-normalized), edit distance prices each character
    * operation — the complementary fuzzy-match geometry, and the two
    * tiers disagree exactly where entity-resolution policy needs a
    * human look. Self-audit: every probe's unperturbed source title
    * ranks #1 at distance = its deletion count.
    *
    * Determinism: both engines compute the standard unit-cost DP;
    * ranking orders (dist, sid) — total. Spark evaluates the
    * THRESHOLDED form `levenshtein(p, t, 6)` (O(d·len) banded DP with
    * early exit, -1 above the bound — the production form; the oracle
    * filters the full distance at the same bound, same result set).
    *
    * Scale: the probe side broadcasts (bounded probe set — the GIN
    * analog of the trigram tier); the title index is
    * distinct-collapsed before any comparison (replication-proof);
    * the length-band prefilter (|len(p)-len(t)| <= d, a NECESSARY
    * Levenshtein condition) cuts candidates before the DP; the rank
    * window is probe-bounded.
    */
  private val textEditDistJoin = Q(
    (s, dir) => {
      val docs = TS(s, dir, "documents")
      val sig = docs
        .select(lower(substring(col("text"), 1, 40)).as("title"), col("doc_id"))
        .groupBy(col("title"))
        .agg(min(col("doc_id")).as("sid"), count(lit(1)).as("n_docs"))
      val probe = docs.where(col("doc_id") < 64)
        .select(col("doc_id").as("qid"), expr(
          "array_join(filter(split(lower(substring(text, 1, 40)), ''), " +
            "(x, i) -> (i + 1) % 7 != 0), '')").as("ptitle"))
      val wR = Window.partitionBy(col("qid")).orderBy(col("dist"), col("sid"))
      broadcast(probe).join(sig,
          abs(length(col("ptitle")) - length(col("title"))) <= 6)
        .withColumn("dist", expr("levenshtein(ptitle, title, 6)").cast("long"))
        .where(col("dist") >= 0)
        .withColumn("rnk", row_number().over(wR).cast("long"))
        .where(col("rnk") <= 5)
        .select(col("qid").cast("long").as("qid"), col("rnk"),
          col("sid").cast("long").as("sid"), col("n_docs"), col("dist"))
        .orderBy(col("qid"), col("rnk"))
    },
    Some("""WITH sig AS (
           |  SELECT lower(substr(text, 1, 40)) AS title,
           |    cast(min(doc_id) as bigint) AS sid,
           |    cast(count(*) as bigint) AS n_docs
           |  FROM documents GROUP BY 1
           |), probe AS (
           |  SELECT cast(doc_id as bigint) AS qid,
           |    array_to_string(list_filter(
           |      string_split(lower(substr(text, 1, 40)), ''),
           |      (x, i) -> i % 7 != 0), '') AS ptitle
           |  FROM documents WHERE doc_id < 64
           |), cand AS (
           |  SELECT p.qid, s.sid, s.n_docs,
           |    cast(levenshtein(p.ptitle, s.title) as bigint) AS dist
           |  FROM probe p JOIN sig s
           |    ON abs(len(p.ptitle) - len(s.title)) <= 6
           |  WHERE levenshtein(p.ptitle, s.title) <= 6
           |), rk AS (
           |  SELECT qid, sid, n_docs, dist,
           |    cast(row_number() OVER (PARTITION BY qid
           |      ORDER BY dist, sid) as bigint) AS rnk
           |  FROM cand
           |)
           |SELECT qid, rnk, sid, n_docs, dist
           |FROM rk WHERE rnk <= 5
           |ORDER BY qid, rnk""".stripMargin))

  // ---------------------------------------------------------------------
  // Trigram similarity match (the pg_trgm class, prefix-filtered)
  // ---------------------------------------------------------------------

  /** TRIGRAM SIMILARITY MATCH — the PostgreSQL pg_trgm fuzzy-match
    * surface the reference's handlers reach through the delegated `db`
    * handle (`/root/reference/src/processor.ts:26`), in its production
    * shape: a bounded probe set ranked against a trigram-indexed
    * corpus (`SELECT ... ORDER BY similarity(name, $q) DESC LIMIT k`
    * over a GIN index). 64 probe strings are DERIVED typo variants of
    * document titles (every 7th character deleted — the deterministic
    * perturbation idiom); each probe's pg_trgm trigram set (words
    * padded two-front/one-back, distinct char 3-grams) is matched
    * against the DISTINCT-title trigram index, and the top-5 titles by
    * exact trigram Jaccard >= 0.45 come back with doc multiplicities.
    * Self-audit built in: every probe ranks its unperturbed source
    * title #1 (64/64 at both gate SFs) — the entity-resolution read.
    *
    * EXACT without scoring the corpus per probe — ONE-SIDED prefix
    * filtering (the AllPairs/SSJoin bound): J(P,T) >= t forces
    * |P∩T| >= ceil(t·|P|), so a qualifying title must share a trigram
    * with the probe's `|P| − ceil(t·|P|) + 1` RAREST trigrams (rarest
    * by corpus df, so the probed posting lists are the shortest).
    * Verified exact at the gate scale: the prefix-filtered result
    * equals the brute-force probe x corpus scoring (66 = 66 pairs at
    * sf0.01). A full corpus SELF-join at t = 0.45 was measured
    * degenerate on this title space (8.9M of 11.3M possible pairs
    * survive prefix+length filtering — the vocabulary is too small for
    * signature-based pruning), so the bounded-probe form is the one
    * that earns its plan; the self-join variant is the same frame with
    * the probe side swapped for the index.
    *
    * Determinism: trigram sets are distinct; prefix lengths and the
    * Jaccard threshold are exact integers ((45n+99) div 100); ranking
    * orders (sim_e6 desc, sid) — total.
    *
    * Scale: the title index is distinct-collapsed before shredding
    * (replication-proof); the probe prefix join touches only the
    * prefix trigrams' posting lists (candidates <= probes x titles,
    * in practice df-bounded); the verify is an in-array intersection
    * against broadcast probe sets; the rank window is probe-bounded.
    * At 100 TB the title index is what a GIN index is: vocabulary-
    * sized, partitioned by trigram.
    */
  private val textTrigramMatch = Q(
    (s, dir) => {
      // r22 (guide §2.3 — narrower types): trigrams carry through every
      // exchange, group-by, sorted array and intersection as an INT code
      // ((ascii(c1)*128 + ascii(c2))*128 + ascii(c3)) instead of a 3-char
      // string. The packing is injective only while every character's
      // codepoint is below 128 (`ascii` returns the codepoint, so a wider
      // one spills into the next position's range); it holds here
      // because shred first keeps only `[a-z0-9 ]`. The (df, tg) prefix
      // order's tie-break becomes int order; the AllPairs prefix filter
      // is lossless under ANY shared total order (the suffix past the
      // prefix has only ceil(t*n)-1 elements, so an overlap >= ceil(t*n)
      // must touch the prefix), and verification is exact, so results
      // are unchanged — proven against the order-free brute-force
      // oracle at all three SFs.
      def shred(df: DataFrame, key: String, strCol: String) = df
        .select(col(key), explode(expr(
          s"filter(split(regexp_replace($strCol, '[^a-z0-9 ]', ' '), ' '), " +
            "x -> length(x) > 0)")).as("wd"))
        .select(col(key), explode(expr(
          "transform(sequence(1, length(wd) + 1), " +
            "i -> substring(concat('  ', wd, ' '), i, 3))")).as("tgs"))
        .select(col(key),
          ((ascii(col("tgs")) * lit(128) + ascii(substring(col("tgs"), 2, 1)))
            * lit(128) + ascii(substring(col("tgs"), 3, 1))).as("tg"))
        .distinct()
      val docs = TS(s, dir, "documents")
      val sig = docs
        .select(lower(substring(col("text"), 1, 40)).as("title"), col("doc_id"))
        .groupBy(col("title"))
        .agg(min(col("doc_id")).as("sid"), count(lit(1)).as("n_docs"))
        .localCheckpoint(true) // two consumers: index shred + multiplicity
      val tri = shred(sig, "sid", "title")
        .localCheckpoint(true) // three consumers: df, candidates, arrays
      val probe = docs.where(col("doc_id") < 64)
        .select(col("doc_id").as("qid"), expr(
          "array_join(filter(split(lower(substring(text, 1, 40)), ''), " +
            "(x, i) -> (i + 1) % 7 != 0), '')").as("ptitle"))
      val ptri = shred(probe, "qid", "ptitle").localCheckpoint(true)
      val pcnt = ptri.groupBy(col("qid")).agg(count(lit(1)).as("n"))
      val tdf = tri.groupBy(col("tg")).agg(count(lit(1)).as("df"))
      val wQ = Window.partitionBy(col("qid")).orderBy(col("df"), col("tg"))
      val ppfx = ptri.join(broadcast(tdf), Seq("tg"), "left")
        .na.fill(0L, Seq("df"))
        .join(broadcast(pcnt), Seq("qid"))
        .withColumn("rn", row_number().over(wQ))
        .where(col("rn") <= col("n") - expr("(45 * n + 99) div 100") + 1)
        .select(col("qid"), col("tg"))
      val cand = broadcast(ppfx).join(tri, Seq("tg"))
        .select(col("qid"), col("sid")).distinct()
      val ts = tri.groupBy(col("sid"))
        .agg(sort_array(collect_list(col("tg"))).as("tgs"),
          count(lit(1)).as("tn"))
      val pts = ptri.groupBy(col("qid"))
        .agg(sort_array(collect_list(col("tg"))).as("ptgs"),
          count(lit(1)).as("pn"))
      val wR = Window.partitionBy(col("qid"))
        .orderBy(col("sim_e6").desc, col("sid"))
      // r22: sorted_overlap = fused merge-scan intersection count over
      // the sort_array'd distinct trigram-code arrays — codegen'd, no
      // per-evaluation hash set (the filter lands in the join condition,
      // so Catalyst evaluates the intersection 3x per candidate).
      cand.join(broadcast(pts), Seq("qid"))
        .join(ts, Seq("sid"))
        .withColumn("sh", expr("sorted_overlap(ptgs, tgs)").cast("long"))
        .withColumn("sim_e6", expr("sh * 1000000 div (pn + tn - sh)"))
        .where(col("sim_e6") >= 450000)
        .withColumn("rnk", row_number().over(wR).cast("long"))
        .where(col("rnk") <= 5)
        .join(broadcast(sig.select(col("sid"), col("n_docs"))), Seq("sid"))
        .select(col("qid"), col("rnk"), col("sid").as("match_sid"),
          col("n_docs").as("match_docs"), col("sh").as("n_shared"),
          col("pn"), col("tn"), col("sim_e6"))
        .orderBy(col("qid"), col("rnk"))
    },
    Some("""WITH t0 AS (
           |  SELECT doc_id, lower(substr(text, 1, 40)) AS title FROM documents
           |), sig AS (
           |  SELECT title, min(doc_id) AS sid, count(*) AS n_docs
           |  FROM t0 GROUP BY title
           |), probe AS (
           |  SELECT doc_id AS qid,
           |    array_to_string(list_filter(
           |      string_split(lower(substr(text, 1, 40)), ''),
           |      (x, i) -> i % 7 != 0), '') AS ptitle
           |  FROM documents WHERE doc_id < 64
           |), pw AS (
           |  SELECT qid, unnest(list_filter(string_split(
           |    regexp_replace(ptitle, '[^a-z0-9 ]', ' ', 'g'), ' '),
           |    x -> len(x) > 0)) AS wd FROM probe
           |), ptri AS (
           |  SELECT DISTINCT qid, unnest(list_transform(
           |    generate_series(1, len(wd) + 1),
           |    i -> substr('  ' || wd || ' ', i, 3))) AS tg FROM pw
           |), pcnt AS (SELECT qid, count(*) AS n FROM ptri GROUP BY qid
           |), w AS (
           |  SELECT sid, unnest(list_filter(string_split(
           |    regexp_replace(title, '[^a-z0-9 ]', ' ', 'g'), ' '),
           |    x -> len(x) > 0)) AS wd FROM sig
           |), tri AS (
           |  SELECT DISTINCT sid, unnest(list_transform(
           |    generate_series(1, len(wd) + 1),
           |    i -> substr('  ' || wd || ' ', i, 3))) AS tg FROM w
           |), tdf AS (SELECT tg, count(*) AS df FROM tri GROUP BY tg
           |), ppfx AS (
           |  SELECT qid, tg FROM (
           |    SELECT p.qid, p.tg,
           |      row_number() OVER (PARTITION BY p.qid
           |        ORDER BY coalesce(d.df, 0), p.tg) AS rn,
           |      n.n
           |    FROM ptri p LEFT JOIN tdf d USING (tg)
           |    JOIN pcnt n USING (qid))
           |  WHERE rn <= n - (45 * n + 99) // 100 + 1
           |), cand AS (
           |  SELECT DISTINCT pp.qid, t.sid FROM ppfx pp JOIN tri t USING (tg)
           |), ts AS (
           |  SELECT sid, list(tg ORDER BY tg) AS tgs, count(*) AS tn
           |  FROM tri GROUP BY sid
           |), pts AS (
           |  SELECT qid, list(tg ORDER BY tg) AS ptgs, count(*) AS pn
           |  FROM ptri GROUP BY qid
           |), ver AS (
           |  SELECT c.qid, c.sid,
           |    cast(len(list_intersect(p.ptgs, t.tgs)) as bigint) AS sh,
           |    cast(p.pn as bigint) AS pn, cast(t.tn as bigint) AS tn
           |  FROM cand c JOIN pts p USING (qid) JOIN ts t ON t.sid = c.sid
           |), ranked AS (
           |  SELECT qid, sid, sh, pn, tn,
           |    (sh * 1000000) // (pn + tn - sh) AS sim_e6,
           |    cast(row_number() OVER (PARTITION BY qid
           |      ORDER BY (sh * 1000000) // (pn + tn - sh) DESC, sid)
           |      as bigint) AS rnk
           |  FROM ver WHERE (sh * 1000000) // (pn + tn - sh) >= 450000
           |)
           |SELECT r.qid, r.rnk, r.sid AS match_sid,
           |  cast(g.n_docs as bigint) AS match_docs,
           |  r.sh AS n_shared, r.pn, r.tn,
           |  cast(r.sim_e6 as bigint) AS sim_e6
           |FROM ranked r JOIN sig g ON g.sid = r.sid
           |WHERE r.rnk <= 5
           |ORDER BY qid, rnk""".stripMargin))

  /** SYMMETRIC TRIGRAM SIMILARITY JOIN — corpus-vs-corpus entity
    * resolution (the r16 verdict's item 7): find ALL entity pairs with
    * pg_trgm trigram Jaccard >= 0.8, the `a % b` self-join pg_trgm
    * serves with two GIN probes. The entity table is every DISTINCT
    * document title (clone titles collapse into one signature first —
    * the replication-proof step the probe operator proved: candidates
    * are invariant under corpus duplication) plus single-character-
    * deletion variants of the first 64 docs (the planted near-identical
    * pairs; measured J 0.84-0.96 vs their sources).
    *
    * EXACT without all-pairs — the full PPJoin filter stack under one
    * GLOBAL trigram order (df asc, tg):
    *  - prefix filter (AllPairs): J >= t forces the two prefixes
    *    (rarest `n − ceil(t·n) + 1` trigrams) to intersect, so the
    *    candidate join keys on PREFIX trigrams only;
    *  - length filter: t·max(na,nb) <= min(na,nb);
    *  - positional filter: the remaining-suffix overlap bound
    *    min(na−pa, nb−pb) + 1 >= ceil(t/(1+t)·(na+nb)).
    * Verification is an in-array intersection per surviving candidate.
    * The ORACLE is the brute-force all-pairs scoring — an independent
    * implementation, so the filter stack is hash-PROVEN lossless.
    *
    * Measured on the sf0.01 fixture (540 entities, 145,530 possible
    * pairs): prefix filter alone leaves 51,387 candidates, +length/
    * positional leaves 22,466, true pairs 65 — this vocabulary (31
    * words, ~200 distinct trigrams) is the DEGENERATE case the r16
    * self-join measurement warned about, and the filters still bound
    * candidates to 15% of all-pairs; on a real title space (diverse
    * trigram vocabulary, df-skewed posting lists) the same plan's
    * prefix join is near-linear, which is why pg_trgm ships it.
    *
    * Determinism: the global (df, tg) order is total; thresholds are
    * exact integers; the pair key (ea < eb) and final sort are total.
    *
    * Scale: no crossJoin anywhere — candidates come from the
    * prefix-keyed equi self-join; the verify join carries sorted
    * trigram arrays only for candidates; distinct-collapse caps the
    * entity table at the distinct-title count at any corpus size.
    */
  private val textTrigramJoin = Q(
    (s, dir) => {
      val docs = TS(s, dir, "documents")
      val sig = docs
        .select(lower(substring(col("text"), 1, 40)).as("s"), col("doc_id"))
        .groupBy(col("s")).agg(min(col("doc_id")).as("eid"))
        .select(col("eid"), col("s"))
      val vars = docs.where(col("doc_id") < 64)
        .select((col("doc_id") + lit(10000000L)).as("eid"), expr(
          "array_join(filter(split(lower(substring(text, 1, 40)), ''), " +
            "(x, i) -> i != 9), '')").as("s"))
      // r22 (guide §2.3): int trigram codes through the whole filter
      // stack — see textTrigramMatch's shred comment (the `[^a-z0-9 ]`
      // replace below is what keeps the packing injective); the global
      // (df, tg) prefix order's tie-break becomes int order, which the
      // PPJoin filters are lossless under (any shared total order), and
      // the in-array verify is exact — oracle-proven at all three SFs.
      val tri = sig.unionAll(vars)
        .select(col("eid"), explode(expr(
          "filter(split(regexp_replace(s, '[^a-z0-9 ]', ' '), ' '), " +
            "x -> length(x) > 0)")).as("wd"))
        .select(col("eid"), explode(expr(
          "transform(sequence(1, length(wd) + 1), " +
            "i -> substring(concat('  ', wd, ' '), i, 3))")).as("tgs"))
        .select(col("eid"),
          ((ascii(col("tgs")) * lit(128) + ascii(substring(col("tgs"), 2, 1)))
            * lit(128) + ascii(substring(col("tgs"), 3, 1))).as("tg"))
        .distinct()
        .localCheckpoint(true) // consumers: df, prefix order, arrays
      val tdf = tri.groupBy(col("tg")).agg(count(lit(1)).as("df"))
      val nt = tri.groupBy(col("eid")).agg(count(lit(1)).as("n"))
      val pfx = tri.join(broadcast(tdf), Seq("tg"))
        .join(broadcast(nt), Seq("eid"))
        .withColumn("p", row_number().over(Window.partitionBy(col("eid"))
          .orderBy(col("df"), col("tg"))))
        .where(col("p") <= col("n") - expr("(8 * n + 9) div 10") + 1)
        .select(col("eid"), col("tg"), col("n"), col("p"))
        // r22 (guide §2.5/§2.6): the checkpointed prefix table drives
        // the candidate self-join's stream-side parallelism; AQE had
        // coalesced it below the core count (the pair explosion's CPU
        // is invisible to byte-based coalescing), leaving half the
        // cores idle through the heaviest stage. Round-robin to the
        // session's parallelism BEFORE the one-time materialization —
        // scale-adaptive, no per-run cost.
        .repartition(s.sparkContext.defaultParallelism)
        .localCheckpoint(true) // both sides of the candidate self-join
      val a = pfx.select(col("eid").as("ea"), col("tg"),
        col("n").as("na"), col("p").as("pa"))
      val b = pfx.select(col("eid").as("eb"), col("tg"),
        col("n").as("nb"), col("p").as("pb"))
      val cand = a.join(b,
          a("tg") === b("tg") && col("ea") < col("eb") &&
          lit(10) * least(col("na"), col("nb")) >=
            lit(8) * greatest(col("na"), col("nb")) &&
          least(col("na") - col("pa"), col("nb") - col("pb")) + 1 >=
            expr("(8 * (na + nb) + 17) div 18"))
        .select(col("ea"), col("eb")).distinct()
      val ts = tri.groupBy(col("eid"))
        .agg(sort_array(collect_list(col("tg"))).as("tgs"),
          count(lit(1)).as("tn"))
      cand
        .join(ts.select(col("eid").as("ea"), col("tgs").as("ta"),
          col("tn").as("na")), Seq("ea"))
        .join(ts.select(col("eid").as("eb"), col("tgs").as("tb"),
          col("tn").as("nb")), Seq("eb"))
        .withColumn("sh", expr("sorted_overlap(ta, tb)").cast("long"))
        .withColumn("sim_e6", expr("sh * 1000000 div (na + nb - sh)"))
        .where(col("sim_e6") >= 800000)
        .select(col("ea"), col("eb"), col("na").cast("long").as("na"),
          col("nb").cast("long").as("nb"), col("sh"), col("sim_e6"))
        .orderBy(col("ea"), col("eb"))
    },
    Some("""WITH sig AS (
           |  SELECT min(doc_id) AS eid, lower(substr(text, 1, 40)) AS s
           |  FROM documents GROUP BY lower(substr(text, 1, 40))
           |), var AS (
           |  SELECT doc_id + 10000000 AS eid,
           |    array_to_string(list_filter(
           |      string_split(lower(substr(text, 1, 40)), ''),
           |      (x, i) -> i != 10), '') AS s
           |  FROM documents WHERE doc_id < 64
           |), ent AS (
           |  SELECT eid, s FROM sig UNION ALL SELECT eid, s FROM var
           |), w AS (
           |  SELECT eid, unnest(list_filter(string_split(
           |    regexp_replace(s, '[^a-z0-9 ]', ' ', 'g'), ' '),
           |    x -> len(x) > 0)) AS wd FROM ent
           |), tri AS (
           |  SELECT DISTINCT eid, unnest(list_transform(
           |    generate_series(1, len(wd) + 1),
           |    i -> substr('  ' || wd || ' ', i, 3))) AS tg FROM w
           |), ts AS (
           |  SELECT eid, list(tg ORDER BY tg) AS tgs, count(*) AS n
           |  FROM tri GROUP BY eid
           |), pairs AS (
           |  SELECT a.eid AS ea, b.eid AS eb,
           |    cast(a.n as bigint) AS na, cast(b.n as bigint) AS nb,
           |    cast(len(list_intersect(a.tgs, b.tgs)) as bigint) AS sh
           |  FROM ts a JOIN ts b ON a.eid < b.eid
           |)
           |SELECT ea, eb, na, nb, sh,
           |  (sh * 1000000) // (na + nb - sh) AS sim_e6
           |FROM pairs WHERE (sh * 1000000) // (na + nb - sh) >= 800000
           |ORDER BY ea, eb""".stripMargin))

  // ---------------------------------------------------------------------
  // Word-level entropy rate (bigram conditional entropy)
  // ---------------------------------------------------------------------

  /** ENTROPY RATE per source — the predictability read character
    * entropy ([[textEntropy]]) and the bigram LM miss: conditional
    * next-word entropy H(w₂|w₁) ≈ H(bigram) − H(unigram), the standard
    * plug-in estimator. Low rate = formulaic/templated text (the next
    * word is predictable from the previous one even when the unigram
    * mix looks healthy); high rate = genuinely varied continuations.
    *
    * Determinism: the [[textEntropy]] exact pattern at the word level —
    * both entropies fold Σ floor(c·ln c·1e6) bigints over
    * vocabulary-keyed aggregates, one terminal float round each, and
    * the conditional rate is one rounded difference of those doubles.
    *
    * Scale: two vocabulary-keyed aggregates (unigram and bigram counts,
    * map-side combined) collapsing to |sources| rows — the top_terms
    * class twice.
    */
  private val textEntropyRate = Q(
    (s, dir) => {
      val uni = TS(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("t"))
        .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("tt"), count(lit(1)).as("v1"),
          sum(floor(col("c").cast("double") * log(col("c").cast("double"))
            * lit(1e6)).cast("long")).as("s1"))
      // materialize the token array ONCE per row — a split inside the
      // lambda re-evaluates per element (O(len^2) garbage per doc;
      // observed as wild 1.6-30 s bench spread before this)
      val bi = TS(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .where(size(col("w")) >= 2)
        .select(col("source"), explode(expr(
          "transform(sequence(1, size(w) - 1), " +
            "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))")).as("g"))
        .groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("bb"), count(lit(1)).as("v2"),
          sum(floor(col("c").cast("double") * log(col("c").cast("double"))
            * lit(1e6)).cast("long")).as("s2"))
      uni.join(bi, Seq("source"))
        .withColumn("h1_bits",
          (log(col("tt").cast("double")) -
            col("s1").cast("double") / lit(1e6) / col("tt")) / expr(LN2))
        .withColumn("h2_bits",
          (log(col("bb").cast("double")) -
            col("s2").cast("double") / lit(1e6) / col("bb")) / expr(LN2))
        .select(col("source"), col("tt").as("n_tokens"), col("v1").as("vocab_uni"),
          col("bb").as("n_bigrams"), col("v2").as("vocab_bi"),
          round(col("h1_bits"), 6).as("h_unigram_bits"),
          round(col("h2_bits"), 6).as("h_bigram_bits"),
          round(col("h2_bits") - col("h1_bits"), 6).as("h_cond_bits"))
        .orderBy(col("source"))
    },
    Some(s"""WITH u AS (
            |  SELECT source, t, count(*) AS c FROM (
            |    SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
            |  ) GROUP BY source, t
            |), ua AS (
            |  SELECT source, cast(sum(c) as bigint) AS tt, count(*) AS v1,
            |    cast(sum(cast(floor(c * ln(c) * 1e6) as bigint)) as bigint) AS s1
            |  FROM u GROUP BY source
            |), b AS (
            |  SELECT source, g, count(*) AS c FROM (
            |    SELECT source, unnest(list_transform(
            |      generate_series(1, len(w) - 1),
            |      i -> w[i] || ' ' || w[i+1])) AS g
            |    FROM (SELECT source, string_split(text, ' ') AS w FROM documents)
            |    WHERE len(w) >= 2
            |  ) GROUP BY source, g
            |), ba AS (
            |  SELECT source, cast(sum(c) as bigint) AS bb, count(*) AS v2,
            |    cast(sum(cast(floor(c * ln(c) * 1e6) as bigint)) as bigint) AS s2
            |  FROM b GROUP BY source
            |)
            |SELECT ua.source, tt AS n_tokens, v1 AS vocab_uni,
            |  bb AS n_bigrams, v2 AS vocab_bi,
            |  round((ln(tt) - cast(s1 as double) / 1e6 / tt) / $LN2, 6)
            |    AS h_unigram_bits,
            |  round((ln(bb) - cast(s2 as double) / 1e6 / bb) / $LN2, 6)
            |    AS h_bigram_bits,
            |  round((ln(bb) - cast(s2 as double) / 1e6 / bb) / $LN2
            |    - (ln(tt) - cast(s1 as double) / 1e6 / tt) / $LN2, 6)
            |    AS h_cond_bits
            |FROM ua JOIN ba ON ua.source = ba.source
            |ORDER BY ua.source""".stripMargin))

  // ---------------------------------------------------------------------
  // MaxSim late-interaction retrieval (ColBERT-style)
  // ---------------------------------------------------------------------

  /** MAXSIM late-interaction scoring — the retrieval semantics between
    * single-vector cosine and full cross-attention (the ColBERT
    * pattern): each embedding is treated as 8 sub-vectors of 8 dims
    * (the multi-vector stand-in), and a candidate's score is
    * Σ over query sub-vectors of the MAX dot product against any
    * candidate sub-vector — a query term matches its best-aligned
    * document term, not the pooled average. Top-3 per query.
    *
    * Determinism: each sub-dot is Σ floor(x·2^20)·floor(y·2^20) exact
    * bigints (≤2^46 after the 8-term sum — int64-safe), max and sum
    * are exact; no floats anywhere.
    *
    * Scale: the broadcast-query audit class (bounded query set × one
    * candidate scan; 64 sub-dots per pair stay inside one codegen'd
    * HOF expression, no explode); the production path prunes
    * candidates with the single-vector IVF/LSH index first and
    * MaxSim-scores only the shortlist — the pq_rerank two-stage shape.
    */
  private val simMaxsim = Q(
    (s, dir) => {
      // maxsim_score is a codegen'd kernel — bit-identical to the
      // nested-HOF chain it replaced (ScaledDotSpec proves parity;
      // candidate floors are computed once per pair instead of 8x):
      // 1.54 -> 0.51 s at sf0.1, 12.2 -> 0.54 s at the 10x tier (the
      // audit goes from linear-wall to overhead-bound)
      val e = TS(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("score_fp").desc, col("c_id"))
      broadcast(q).join(c, col("q_id") =!= col("c_id"))
        .withColumn("score_fp", expr("maxsim_score(q_emb, c_emb)"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("q_id"), col("rnk"), col("c_id"), col("score_fp"))
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(s"""WITH q AS (
           |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
           |  WHERE vec_id < 16
           |), c AS (
           |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
           |), p AS (
           |  SELECT q_id, c_id, ${maxsimScoreSql("q_emb", "c_emb")} AS score_fp
           |  FROM q JOIN c ON q_id <> c_id
           |), r AS (
           |  SELECT q_id, c_id, score_fp,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY score_fp DESC, c_id) AS rnk
           |  FROM p
           |)
           |SELECT q_id, rnk, c_id, cast(score_fp as bigint) AS score_fp
           |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin))

  /** DuckDB form of `maxsim_score` over the 64-dim embedding columns
    * `q` and `c`: over the query's 8 sub-vectors, the sum of each one's
    * best sub-dot against the candidate's 8, every sub-dot an exact sum
    * of floor(x * 2^20) products.
    */
  private def maxsimScoreSql(q: String, c: String): String =
    s"""list_sum(list_transform(generate_series(0, 7), qs ->
       |  list_max(list_transform(generate_series(0, 7), ds ->
       |    list_sum(list_transform(generate_series(1, 8), i ->
       |      cast(floor($q[qs * 8 + i]::double * 1048576) as bigint)
       |      * cast(floor($c[ds * 8 + i]::double * 1048576) as bigint)))))))""".stripMargin

  /** The exhaustive MaxSim top-3 of the 16 query vectors over a CTE `e`
    * (`vec_id`, `embedding`), as the CTE `ex` (`q_id`, `c_id`): the
    * audit each two-stage MaxSim oracle scores its shortlist against.
    */
  private val maxsimExactSqlCte: String =
    s"""ex AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${maxsimScoreSql("q.embedding", "c.embedding")} DESC,
       |        c.vec_id) AS ern
       |    FROM e q JOIN e c ON q.vec_id < 16 AND q.vec_id <> c.vec_id)
       |  WHERE ern <= 3
       |)""".stripMargin

  // ---------------------------------------------------------------------
  // IPF mixing solver (match target marginals)
  // ---------------------------------------------------------------------

  /** IPF MIX solver — "re-weight the (source, lang) grid so both
    * marginals hit their targets": two unrolled rounds of iterative
    * proportional fitting (alternately rescale rows to the per-source
    * target and columns to the per-lang target — Deming-Stephan),
    * targets here the uniform shares. The output ratio per cell is the
    * sampling weight a mixer applies; the deviation columns audit how
    * far two rounds got (IPF converges geometrically, and the audit is
    * what tells an operator whether to run more rounds).
    *
    * Determinism: cell masses are exact token counts; every rescale is
    * one bigint mult-div; deviations are e6 floor divs.
    *
    * Scale: ONE corpus aggregate collapses to the S×L grid
    * (checkpointed); all IPF rounds and both audits are grid-sized
    * joins — more rounds cost nothing corpus-sized (the anneal-mix
    * property).
    */
  private val corpusIpfMix = Q(
    (s, dir) => {
      val cells = TS(s, dir, "documents")
        .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
        .groupBy(col("source"), col("lang"))
        .agg(sum(col("n_toks")).as("n"))
        .localCheckpoint(true)
      val tot = cells.agg(sum(col("n")).as("t"),
        countDistinct(col("source")).as("ns"),
        countDistinct(col("lang")).as("nl"))
      var w = cells.crossJoin(broadcast(tot))
        .select(col("source"), col("lang"), col("n"), col("t"), col("ns"),
          col("nl"), col("n").as("w"))
      (1 to 2).foreach { _ =>
        val rs = w.groupBy(col("source")).agg(sum(col("w")).as("rs"))
        w = w.join(rs, Seq("source"))
          .withColumn("w", expr("(w * (t div ns)) div rs"))
          .drop("rs")
        val cs = w.groupBy(col("lang")).agg(sum(col("w")).as("cs"))
        w = w.join(cs, Seq("lang"))
          .withColumn("w", expr("(w * (t div nl)) div cs"))
          .drop("cs").localCheckpoint(true)
      }
      val rowDev = w.groupBy(col("source"))
        .agg(sum(col("w")).as("rsum"), first(col("t")).as("t0"),
          first(col("ns")).as("ns0"))
        .select(col("source"),
          abs(expr("(rsum * 1000000) div (t0 div ns0) - 1000000")).as("row_dev_e6"))
      w.join(rowDev, Seq("source"))
        .select(col("source"), col("lang"), col("n"), col("w").as("w_ipf"),
          expr("(w * 1000000) div n").as("ratio_e6"), col("row_dev_e6"))
        .orderBy(col("source"), col("lang"))
    },
    Some("""WITH cells AS (
           |  SELECT source, lang,
           |    cast(sum(len(string_split(text, ' '))) as bigint) AS n
           |  FROM documents GROUP BY source, lang
           |), tot AS (
           |  SELECT cast(sum(n) as bigint) AS t,
           |    cast(count(DISTINCT source) as bigint) AS ns,
           |    cast(count(DISTINCT lang) as bigint) AS nl
           |  FROM cells
           |), w0 AS (SELECT source, lang, n, t, ns, nl, n AS w FROM cells, tot
           |), r1 AS (
           |  SELECT w0.*, cast((w * (t // ns))
           |    // cast(sum(w) OVER (PARTITION BY source) as bigint) as bigint) AS w1
           |  FROM w0
           |), c1 AS (
           |  SELECT r1.*, cast((w1 * (t // nl))
           |    // cast(sum(w1) OVER (PARTITION BY lang) as bigint) as bigint) AS w2
           |  FROM r1
           |), r2 AS (
           |  SELECT c1.*, cast((w2 * (t // ns))
           |    // cast(sum(w2) OVER (PARTITION BY source) as bigint) as bigint) AS w3
           |  FROM c1
           |), c2 AS (
           |  SELECT r2.*, cast((w3 * (t // nl))
           |    // cast(sum(w3) OVER (PARTITION BY lang) as bigint) as bigint) AS w4
           |  FROM r2
           |), dev AS (
           |  SELECT source,
           |    cast(abs((cast(sum(w4) as bigint) * 1000000)
           |      // (max(t) // max(ns)) - 1000000) as bigint) AS row_dev_e6
           |  FROM c2 GROUP BY source
           |)
           |SELECT c2.source, c2.lang, c2.n, cast(c2.w4 as bigint) AS w_ipf,
           |  cast((c2.w4 * 1000000) // c2.n as bigint) AS ratio_e6, dev.row_dev_e6
           |FROM c2 JOIN dev ON c2.source = dev.source
           |ORDER BY c2.source, c2.lang""".stripMargin))

  // ---------------------------------------------------------------------
  // Event-time disorder profile (watermark tuning input)
  // ---------------------------------------------------------------------

  /** DISORDER profile of the event stream — the measurement that turns
    * watermark choice from folklore into data: per user (the stream's
    * key partitioning), each event's LATENESS is how far its event time
    * sits behind the running maximum in arrival order (event_id). The
    * p50/p95/max lateness and the late-event share are exactly the
    * numbers an operator reads before setting `withWatermark` — a
    * watermark below p95 drops real data, far above it holds state for
    * nothing.
    *
    * Scale: one user-keyed running-max window (in-partition) + a
    * single-row rollup with two exact interpolated percentiles — never
    * a global arrival-order sort.
    */
  private val tsDisorderProfile = Q(
    (s, dir) => {
      T(s, dir, "events")
        .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"))
        .withColumn("late_s", expr("(max(us) OVER (PARTITION BY user_id " +
          "ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
          "- us) div 1000000"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("late_s") > 0L, 1L).otherwise(0L)).as("n_late"),
          max(col("late_s")).as("max_late_s"),
          round(expr("percentile(late_s, 0.5)"), 6).as("p50_late_s"),
          round(expr("percentile(late_s, 0.95)"), 6).as("p95_late_s"))
        .withColumn("late_ppm", expr("(n_late * 1000000) div n_events"))
    },
    Some("""WITH l AS (
           |  SELECT (max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |    - epoch_us(ts)) // 1000000 AS late_s
           |  FROM events
           |)
           |SELECT cast(count(*) as bigint) AS n_events,
           |  cast(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) as bigint) AS n_late,
           |  cast(max(late_s) as bigint) AS max_late_s,
           |  round(quantile_cont(late_s, 0.5), 6) AS p50_late_s,
           |  round(quantile_cont(late_s, 0.95), 6) AS p95_late_s,
           |  (cast(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) as bigint) * 1000000)
           |    // cast(count(*) as bigint) AS late_ppm
           |FROM l""".stripMargin))

  // ---------------------------------------------------------------------
  // LSH recall@k curve (index-quality read across k)
  // ---------------------------------------------------------------------

  /** RECALL CURVE for the sign-LSH candidate index — recall@k for
    * k ∈ {1,3,5,10} in ONE query: the single-k recall audits
    * (`ns_sim_ivf_recall`, `ns_sim_sq8_recall`) tell you whether an
    * index setting works at one operating point; the curve is what a
    * retrieval owner actually tunes against (is the index missing
    * near-top neighbors or only tail ones?). Also reports the mean
    * candidate-set size — the cost side of the recall/cost trade.
    *
    * Scale: the exact side is the declared audit baseline; the LSH side
    * scans only bucket-matched candidates; the k expansion is a 4-row
    * literal join over the already-ranked pairs (more ks cost nothing —
    * the threshold-sweep property).
    */
  private val simRecallCurve = Q(
    (s, dir) => {
      val e = bucketed(s, dir)
      val q16 = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("nq"), col("bucket").as("qbkt"))
      val corp = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("nrm").as("nc"), col("bucket").as("bkt"))
      val wEx = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
      val exact = broadcast(q16).join(corp, col("q_id") =!= col("c_id"))
        .withColumn("cos", cosine(expr("scaled_dot(q_emb, c_emb)"), "nq", "nc"))
        .withColumn("ern", row_number().over(wEx))
        .where(col("ern") <= 10)
        .select(col("q_id"), col("c_id"), col("ern"))
        .localCheckpoint(true)
      val lsh = broadcast(q16)
        .join(corp, col("qbkt") === col("bkt") && col("q_id") =!= col("c_id"))
        .withColumn("cos", cosine(expr("scaled_dot(q_emb, c_emb)"), "nq", "nc"))
        .withColumn("lrn", row_number().over(wEx))
        .select(col("q_id"), col("c_id"), col("lrn"))
        .localCheckpoint(true)
      val nq = q16.count()
      val cands = lsh.agg(count(lit(1)).as("total_cands"))
      val ks = { import s.implicits._; Seq(1, 3, 5, 10).toDF("k") }
      val hits = broadcast(ks)
        .join(exact, col("ern") <= col("k"))
        .join(lsh.withColumnRenamed("q_id", "lq").withColumnRenamed("c_id", "lc"),
          col("q_id") === col("lq") && col("c_id") === col("lc") &&
            col("lrn") <= col("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("hits"))
      broadcast(ks).join(hits, Seq("k"), "left")
        .withColumn("hits", coalesce(col("hits"), lit(0L)))
        .crossJoin(broadcast(cands))
        .withColumn("n_queries", lit(nq))
        .withColumn("recall_e6", expr(s"(hits * 1000000) div (k * $nq)"))
        .withColumn("avg_cands_e2", expr(s"(total_cands * 100) div $nq"))
        .select(col("k"), col("n_queries"), col("hits"), col("recall_e6"),
          col("avg_cands_e2"))
        .orderBy(col("k"))
    },
    Some(s"""WITH $bucketedSqlCte, q AS (
            |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS nq, bucket AS qbkt
            |  FROM e WHERE vec_id < 16
            |), c AS (
            |  SELECT vec_id AS c_id, embedding AS c_emb, nrm AS nc, bucket AS bkt FROM e
            |), ex AS (
            |  SELECT q_id, c_id,
            |    row_number() OVER (PARTITION BY q_id ORDER BY
            |      ${cosineSql(scaledDotSql("q_emb", "c_emb"), "nq", "nc")} DESC,
            |      c_id) AS ern
            |  FROM q JOIN c ON q_id <> c_id
            |), lsh AS (
            |  SELECT q_id, c_id,
            |    row_number() OVER (PARTITION BY q_id ORDER BY
            |      ${cosineSql(scaledDotSql("q_emb", "c_emb"), "nq", "nc")} DESC,
            |      c_id) AS lrn
            |  FROM q JOIN c ON qbkt = bkt AND q_id <> c_id
            |), nq2 AS (SELECT cast(count(*) as bigint) AS nq FROM q
            |), tc AS (SELECT cast(count(*) as bigint) AS total_cands FROM lsh
            |), ks AS (SELECT unnest([1, 3, 5, 10]) AS k
            |), h AS (
            |  SELECT ks.k, cast(count(*) as bigint) AS hits
            |  FROM ks
            |  JOIN ex ON ex.ern <= ks.k
            |  JOIN lsh ON lsh.q_id = ex.q_id AND lsh.c_id = ex.c_id
            |    AND lsh.lrn <= ks.k
            |  WHERE ex.ern <= 10
            |  GROUP BY ks.k
            |)
            |SELECT cast(ks.k as bigint) AS k, nq2.nq AS n_queries,
            |  coalesce(h.hits, 0) AS hits,
            |  (coalesce(h.hits, 0) * 1000000) // (ks.k * nq2.nq) AS recall_e6,
            |  (tc.total_cands * 100) // nq2.nq AS avg_cands_e2
            |FROM ks LEFT JOIN h ON h.k = ks.k, nq2, tc
            |ORDER BY k""".stripMargin))

  // ---------------------------------------------------------------------
  // Multimodal: real PNG pixel decode (inflate + unfilter + walk)
  // ---------------------------------------------------------------------

  /** DuckDB geometry of the nation-keyed image fixtures as CTE text: `g`
    * holds each key `k` with width `w = 16 + k` and height
    * `h = 10 + k % 7`. */
  private val imageGeomSqlCtes: String =
    """g AS (
      |  SELECT cast(n_nationkey as bigint) AS k,
      |    cast(16 + n_nationkey as bigint) AS w,
      |    cast(10 + (n_nationkey % 7) as bigint) AS h
      |  FROM nation
      |)""".stripMargin

  /** [[imageGeomSqlCtes]] expanded to every pixel: `ps` holds
    * (k, w, h, x, y). */
  private val imagePixelsSqlCtes: String =
    s"""$imageGeomSqlCtes, xs AS (
       |  SELECT k, w, h, unnest(generate_series(0, w - 1)) AS x FROM g
       |), ps AS (
       |  SELECT k, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs
       |)""".stripMargin

  /** [[imagePixelsSqlCtes]] under the TIFF fixtures' pixel values: `px`
    * holds (k, w, h, r, gg, bb); every third key is the grayscale
    * ramp `(3x + 7y) mod 256`, the rest the RGB gradient. */
  private val tiffPixelsSqlCtes: String =
    s"""$imagePixelsSqlCtes, px AS (
       |  SELECT k, w, h,
       |    CASE WHEN k % 3 = 0 THEN (3 * x + 7 * y) % 256
       |         ELSE (7 * x + 3 * y) % 256 END AS r,
       |    CASE WHEN k % 3 = 0 THEN (3 * x + 7 * y) % 256
       |         ELSE (x + 2 * y) % 256 END AS gg,
       |    CASE WHEN k % 3 = 0 THEN (3 * x + 7 * y) % 256
       |         ELSE (5 * x + y) % 256 END AS bb
       |  FROM ps
       |)""".stripMargin

  /** Closed-form channel sums of the RGB gradient fixtures (pixel (x, y)
    * is (7x+3y, x+2y, 5x+y) mod 256): `sm` holds (k, w, h, n_px, sum_r,
    * sum_g, sum_b). */
  private val gradientSumsSqlCtes: String =
    s"""$imagePixelsSqlCtes, sm AS (
       |  SELECT k, w, h, cast(count(*) as bigint) AS n_px,
       |    cast(sum((7 * x + 3 * y) % 256) as bigint) AS sum_r,
       |    cast(sum((x + 2 * y) % 256) as bigint) AS sum_g,
       |    cast(sum((5 * x + y) % 256) as bigint) AS sum_b
       |  FROM ps GROUP BY k, w, h
       |)""".stripMargin

  /** The oracle of every decoder whose fixtures decode to the gradient:
    * per file, its geometry and exact channel sums. */
  private val gradientSumsSql: String =
    s"""WITH $gradientSumsSqlCtes
       |SELECT k AS file_id, w AS width, h AS height, n_px,
       |  sum_r, sum_g, sum_b, true AS valid
       |FROM sm ORDER BY file_id""".stripMargin

  /** [[graft.operators.Multimodal.pngStatsAll]] under the catalog's
    * column names: file_id, width, height, n_px, sum_r, sum_g, sum_b,
    * valid. */
  private def pngStats(scanned: DataFrame): DataFrame =
    graft.operators.Multimodal.pngStatsAll(scanned).toDF()
      .select(col("fileId").as("file_id"), col("width"), col("height"),
        (col("width") * col("height")).as("n_px"),
        col("sumR").as("sum_r"), col("sumG").as("sum_g"),
        col("sumB").as("sum_b"), col("valid"))

  /** `decode` over every scanned file, its five longs under `names`, plus
    * `valid`: a file `decode` rejects is one row of zeros with
    * `valid = false`. The fold of every media query whose decoder
    * yields five longs. */
  private def decodeOrInvalid(s: SparkSession, scanned: DataFrame,
      decode: Array[Byte] => Option[(Long, Long, Long, Long, Long)],
      names: Seq[String]): DataFrame = {
    import s.implicits._
    scanned.select(col("file_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        decode(bytes) match {
          case Some((a, b, c, d, e)) => (id, a, b, c, d, e, true)
          case None => (id, 0L, 0L, 0L, 0L, 0L, false)
        }
      })
      .toDF("file_id" +: names :+ "valid": _*)
  }

  /** Pixel sums of a decoder yielding (width, height, sum_r, sum_g,
    * sum_b), under [[pngStats]]'s columns. */
  private def pixelSums(s: SparkSession, scanned: DataFrame,
      decode: Array[Byte] => Option[(Long, Long, Long, Long, Long)]): DataFrame =
    decodeOrInvalid(s, scanned, decode,
        Seq("width", "height", "sum_r", "sum_g", "sum_b"))
      .select(col("file_id"), col("width"), col("height"),
        (col("width") * col("height")).as("n_px"),
        col("sum_r"), col("sum_g"), col("sum_b"), col("valid"))

  /** IMAGE-STATS extraction over real PNG pixels — the deepest tier of
    * the multimodal family (headers → audio samples → image pixels):
    * 25 PNGs carry a deterministic RGB gradient (r = (7x+3y) mod 256
    * etc.), and [[graft.operators.Multimodal.pngPixelStats]] actually
    * DECODES them — IDAT chunks concatenated, inflated with
    * `java.util.zip.Inflater`, scanlines unfiltered, pixels walked —
    * folding exact per-channel sums. The oracle recomputes every sum in
    * closed form from the gradient formula via a generate_series cross
    * product, so a real zlib+PNG decode is SQL-checkable end to end.
    *
    * Scale: the parseAll narrow shape — binaryFile scan, one
    * partition-mapped decode pass, no shuffle; stats rows are tiny
    * regardless of image size.
    */
  private val multimodalImageStats = Q.media("imagestats")(
    k => graft.operators.Multimodal.pngGradientBytes(16 + k, 10 + (k % 7)),
    (s, scanned) => {
      pngStats(scanned)
        .withColumn("mean_r_e3", expr("(sum_r * 1000) div n_px"))
        .withColumn("mean_g_e3", expr("(sum_g * 1000) div n_px"))
        .withColumn("mean_b_e3", expr("(sum_b * 1000) div n_px"))
        .orderBy(col("file_id"))
    },
    Some(s"""WITH $gradientSumsSqlCtes
           |SELECT k AS file_id, w AS width, h AS height, n_px,
           |  sum_r, sum_g, sum_b, true AS valid,
           |  (sum_r * 1000) // n_px AS mean_r_e3,
           |  (sum_g * 1000) // n_px AS mean_g_e3,
           |  (sum_b * 1000) // n_px AS mean_b_e3
           |FROM sm ORDER BY file_id""".stripMargin))

  /** PNG COLOR-TYPE LADDER — the decode tier most real web PNGs
    * actually need (the r17 verdict's top missing item: palette
    * (colorType 3) and grayscale (colorType 0) PNGs all landed in the
    * reject row before this): 25 PNGs cycle through grayscale /
    * palette / truecolor containers, and
    * [[graft.operators.Multimodal.pngDecodeRgb]] REALLY decodes each —
    * inflate, unfilter, then the color-type mapping (gray byte
    * replicated to R=G=B; palette index looked up in the PLTE table;
    * truecolor passed through) — into one canonical RGB stream whose
    * exact channel sums the oracle recomputes in closed form from each
    * tier's generator formula (gray g=(3x+7y) mod 256; palette
    * idx=(3x+5y) mod 256 into PLTE[i]=(i, (2i+11) mod 256,
    * (7i+3) mod 256); truecolor the gradient tier's linear forms).
    * PngDecodeSpec cross-checks every tier pixel-for-pixel against the
    * JDK's own ImageIO decode of the same bytes.
    *
    * Scale: the parseAll narrow shape — binaryFile scan, one
    * partition-mapped decode pass, no shuffle; stats rows are
    * constant-size regardless of pixel count.
    */
  private val multimodalPngTypes = Q.media("pngtypes")(
    k => {
      val (w, h) = (16 + k, 10 + (k % 7))
      (k % 3) match {
        case 0 => graft.operators.Multimodal.pngGrayBytes(w, h)
        case 1 => graft.operators.Multimodal.pngPaletteBytes(w, h)
        case _ => graft.operators.Multimodal.pngGradientBytes(w, h)
      }
    },
    (s, scanned) => {
      pngStats(scanned)
        // the PNG colorType code each fixture was written with (fixture
        // metadata, derived identically in the oracle)
        .withColumn("color_type", expr(
          "cast(CASE WHEN file_id % 3 = 0 THEN 0 " +
            "WHEN file_id % 3 = 1 THEN 3 ELSE 2 END as bigint)"))
        .select(col("file_id"), col("color_type"), col("width"),
          col("height"), col("n_px"), col("sum_r"), col("sum_g"),
          col("sum_b"), col("valid"))
        .orderBy(col("file_id"))
    },
    Some(s"""WITH $imagePixelsSqlCtes, px AS (
           |  SELECT k, w, h,
           |    CASE WHEN k % 3 = 0 THEN (3 * x + 7 * y) % 256
           |         WHEN k % 3 = 1 THEN (3 * x + 5 * y) % 256
           |         ELSE (7 * x + 3 * y) % 256 END AS r,
           |    CASE WHEN k % 3 = 0 THEN (3 * x + 7 * y) % 256
           |         WHEN k % 3 = 1 THEN (2 * ((3 * x + 5 * y) % 256) + 11) % 256
           |         ELSE (x + 2 * y) % 256 END AS gg,
           |    CASE WHEN k % 3 = 0 THEN (3 * x + 7 * y) % 256
           |         WHEN k % 3 = 1 THEN (7 * ((3 * x + 5 * y) % 256) + 3) % 256
           |         ELSE (5 * x + y) % 256 END AS bb
           |  FROM ps
           |), sm AS (
           |  SELECT k, w, h, cast(count(*) as bigint) AS n_px,
           |    cast(sum(r) as bigint) AS sum_r,
           |    cast(sum(gg) as bigint) AS sum_g,
           |    cast(sum(bb) as bigint) AS sum_b
           |  FROM px GROUP BY k, w, h
           |)
           |SELECT k AS file_id,
           |  cast(CASE WHEN k % 3 = 0 THEN 0 WHEN k % 3 = 1 THEN 3
           |    ELSE 2 END as bigint) AS color_type,
           |  w AS width, h AS height, n_px, sum_r, sum_g, sum_b,
           |  true AS valid
           |FROM sm ORDER BY file_id""".stripMargin))

  /** PNG ADAPTIVE-FILTER decode — the scanline-filter grammar real
    * encoders actually emit (libpng's heuristic mixes Sub/Up/Average/
    * Paeth per row; filter-0-only decoders reject essentially every
    * wild PNG): 25 truecolor PNGs whose rows CYCLE all five filter
    * types (row y uses filter y mod 5, properly filter-encoded against
    * reconstructed neighbors), decoded through
    * [[graft.operators.Multimodal.pngDecodeRgb]]'s spec-§9 unfilter
    * (a=left, b=above, c=upper-left reconstruction, including the
    * Paeth predictor's tie-break order). The decoded pixels are the
    * SAME gradient as the filter-0 tier, so the oracle is the
    * unchanged closed form — a wrong predictor, a wrong byte offset,
    * or a missed mod-256 wrap corrupts every subsequent row and
    * hash-fails. PngDecodeSpec additionally proves the filtered
    * re-encode shares the filter-0 encode's pixel sha and matches the
    * JDK's ImageIO decode pixel-for-pixel.
    *
    * Scale: the parseAll narrow shape — one partition-mapped decode
    * pass, no shuffle.
    */
  private val multimodalPngFilters = Q.media("pngfilters")(
    k => graft.operators.Multimodal.pngFilteredGradientBytes(
      16 + k, 10 + (k % 7)),
    (_, scanned) => pngStats(scanned).orderBy(col("file_id")),
    Some(gradientSumsSql))

  /** PNG ALPHA tiers (colorTypes 6 RGBA, 4 gray+alpha, and PALETTE
    * with a tRNS per-index alpha table) — the largest share of real
    * web PNGs, previously the reject row's main occupant: 25 fixtures
    * cycle RGBA-translucent / RGBA-opaque / gray+alpha-translucent /
    * gray+alpha-opaque / palette+tRNS, and
    * [[graft.operators.Multimodal.pngRgbaStats]] folds color to the
    * canonical RGB stream while the alpha plane reports its exact sum
    * and non-opaque pixel count — the routing numbers a
    * transparency-aware curation gate reads. The alpha planes are
    * closed-form ((3x+5y) mod 256 translucent, constant 255 opaque,
    * (5·idx+7) mod 256 through the tRNS table), so the oracle
    * recomputes every column; PngDecodeSpec cross-checks the color
    * types against the JDK's ImageIO decode per channel INCLUDING
    * alpha, and proves a fully-opaque RGBA re-encode shares its RGB
    * twin's pixel sha while a translucent variant does not. A tRNS on
    * a gray/truecolor image is a COLOR KEY this decoder does not
    * implement — spec'd reject, never an opaque mis-decode; Adam7
    * interlace likewise stays rejected.
    *
    * Scale: the parseAll narrow shape — one partition-mapped decode,
    * no shuffle.
    */
  private val multimodalPngAlpha = Q.media("pngalpha")(
    k => {
      val (w, h) = (16 + k, 10 + (k % 7))
      (k % 5) match {
        case 0 => graft.operators.Multimodal.pngRgbaBytes(w, h, translucent = true)
        case 1 => graft.operators.Multimodal.pngRgbaBytes(w, h, translucent = false)
        case 2 => graft.operators.Multimodal.pngGrayAlphaBytes(w, h, translucent = true)
        case 3 => graft.operators.Multimodal.pngGrayAlphaBytes(w, h, translucent = false)
        case _ => graft.operators.Multimodal.pngPaletteTrnsBytes(w, h)
      }
    },
    (s, scanned) => {
      import s.implicits._
      scanned.select(col("file_id"), col("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            graft.operators.Multimodal.pngRgbaStats(bytes) match {
              case Some((w, h, r, g, bl, a, nt)) =>
                (id, w, h, r, g, bl, a, nt, true)
              case None => (id, 0L, 0L, 0L, 0L, 0L, 0L, 0L, false)
            }
          }
        }
        .toDF("file_id", "width", "height", "sum_r", "sum_g", "sum_b",
          "sum_a", "n_translucent", "valid")
        .orderBy(col("file_id"))
    },
    Some(s"""WITH $imagePixelsSqlCtes, px AS (
           |  SELECT k, w, h,
           |    CASE WHEN k % 5 IN (0, 1) THEN (7 * x + 3 * y) % 256
           |         WHEN k % 5 = 4 THEN (3 * x + 5 * y) % 256
           |         ELSE (3 * x + 7 * y) % 256 END AS r,
           |    CASE WHEN k % 5 IN (0, 1) THEN (x + 2 * y) % 256
           |         WHEN k % 5 = 4 THEN (2 * ((3 * x + 5 * y) % 256) + 11) % 256
           |         ELSE (3 * x + 7 * y) % 256 END AS gg,
           |    CASE WHEN k % 5 IN (0, 1) THEN (5 * x + y) % 256
           |         WHEN k % 5 = 4 THEN (7 * ((3 * x + 5 * y) % 256) + 3) % 256
           |         ELSE (3 * x + 7 * y) % 256 END AS bb,
           |    CASE WHEN k % 5 IN (0, 2) THEN (3 * x + 5 * y) % 256
           |         WHEN k % 5 = 4 THEN (5 * ((3 * x + 5 * y) % 256) + 7) % 256
           |         ELSE 255 END AS a
           |  FROM ps
           |), sm AS (
           |  SELECT k, w, h, cast(sum(r) as bigint) AS sum_r,
           |    cast(sum(gg) as bigint) AS sum_g,
           |    cast(sum(bb) as bigint) AS sum_b,
           |    cast(sum(a) as bigint) AS sum_a,
           |    cast(sum(CASE WHEN a <> 255 THEN 1 ELSE 0 END) as bigint)
           |      AS n_translucent
           |  FROM px GROUP BY k, w, h
           |)
           |SELECT k AS file_id, w AS width, h AS height,
           |  sum_r, sum_g, sum_b, sum_a, n_translucent, true AS valid
           |FROM sm ORDER BY file_id""".stripMargin))

  /** ADAM7-INTERLACED PNG decode — the last PNG grammar axis after
    * color types, adaptive filters, and the alpha tiers: interlace
    * method 1 re-orders pixels into SEVEN independently-filtered
    * sub-images (per-pass prior-row reset, per-pass geometry with
    * empty passes at small sizes), and a progressive-rendering-era
    * web corpus still carries them. Fixture rows alternate filter
    * types 0/2 inside each pass, so a decoder that forgets the
    * per-pass filter reset or mis-maps a pass offset corrupts pixels;
    * the decoded image is the SAME gradient as the filter-0 tier —
    * the oracle is the unchanged closed form and the pixel sha equals
    * the progressive encode's (content identity across interlace,
    * spec'd, plus JDK deinterlace agreement and the pass-geometry
    * corner sizes down to 1-pixel rows/columns).
    *
    * Scale: the parseAll narrow shape — one partition-mapped decode,
    * no shuffle.
    */
  private val multimodalPngAdam7 = Q.media("pngadam7")(
    k => graft.operators.Multimodal.pngInterlacedGradientBytes(
      16 + k, 10 + (k % 7)),
    (_, scanned) => pngStats(scanned).orderBy(col("file_id")),
    Some(gradientSumsSql))

  /** BMP (Windows DIB) decode — the uncompressed image container
    * screenshots and scanner output still arrive in: 24-bit BI_RGB,
    * BOTTOM-UP rows of BGR triples padded to 4-byte boundaries —
    * three byte-layout traps (row order, channel order, stride
    * padding) that
    * [[graft.operators.Multimodal.bmpPixelStats]] must all get right
    * for the unchanged gradient closed form to hash-match (padding
    * enters the walk whenever width mod 4 != 0, which 5 of 7 fixture
    * widths exercise). PngDecodeSpec's BMP case cross-checks the
    * canonical top-down RGB stream pixel-for-pixel against the JDK's
    * own BMP decode, which the sums alone can't do (a flipped or
    * channel-swapped walk preserves sums).
    *
    * Scale: the parseAll narrow shape — one partition-mapped decode,
    * no shuffle.
    */
  private val multimodalBmpStats = Q.media("bmpstats")(
    k => graft.operators.Multimodal.bmpGradientBytes(16 + k, 10 + (k % 7)),
    (s, scanned) => pixelSums(s, scanned,
      graft.operators.Multimodal.bmpPixelStats).orderBy(col("file_id")),
    Some(gradientSumsSql))

  /** ARCHIVE CENSUS (ZIP + TAR) — the container a delivered corpus
    * actually arrives in, walked for REAL: ZIP entries inflate through
    * `java.util.zip.ZipInputStream` (the stream layer's CRC check
    * fails loudly on corruption); TAR ustar headers are parsed
    * directly with their checksums VERIFIED per spec (header bytes
    * summed with the checksum field as spaces) and payloads walked to
    * the 512-padded boundary
    * ([[graft.operators.Multimodal.zipCensus]] /
    * [[graft.operators.Multimodal.tarCensus]]). Per archive: entry
    * count, total uncompressed bytes, and the payload byte sum — all
    * recomputed in closed form by the oracle from the fixture's
    * deterministic entry scheme, so a census that miscounts entries,
    * misparses an octal size, or mis-inflates a payload hash-fails.
    * Malformed archives reject whole-file (spec'd: truncations, bad
    * checksums).
    *
    * Scale: the parseAll narrow shape — one partition-mapped walk per
    * archive, no shuffle; this is the unpack-accounting stage an
    * archive-delivered 100 TB corpus runs before extraction.
    */
  private val multimodalArchiveCensus = Q.media("archives")(
    k => {
      val ne = 3 + (k % 5)
      // r20: the cycle grows a .tar.zst member (zstd-framed tar --
      // the shape modern corpus releases ship); rawFrame is a
      // spec-valid store-mode zstd frame with a verified checksum
      (k % 3) match {
        case 0 => graft.operators.Multimodal.zipBytes(k, ne)
        case 1 => graft.operators.Multimodal.tarBytes(k, ne)
        case _ => graft.operators.Zstd.rawFrame(
          graft.operators.Multimodal.tarBytes(k, ne))
      }
    },
    (s, scanned) => {
      import s.implicits._
      scanned.select(col("file_id"), col("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            // route by magic, never extension: PK.. -> zip,
            // 28 B5 2F FD -> zstd-decode then tar, else tar
            val isZip = bytes.length >= 4 && bytes(0) == 'P' && bytes(1) == 'K'
            val isZst = bytes.length >= 4 && (bytes(0) & 0xff) == 0x28 &&
              (bytes(1) & 0xff) == 0xb5 && (bytes(2) & 0xff) == 0x2f &&
              (bytes(3) & 0xff) == 0xfd
            val res =
              if (isZip) graft.operators.Multimodal.zipCensus(bytes)
                .map(("zip", _))
              else if (isZst)
                graft.operators.Zstd.decompress(bytes).flatMap {
                  case (_, _, inner) =>
                    graft.operators.Multimodal.tarCensus(inner)
                      .map(("tar_zst", _))
                }
              else graft.operators.Multimodal.tarCensus(bytes).map(("tar", _))
            res match {
              case Some((kind, (n, tb, ps))) => (id, kind, n, tb, ps, true)
              case None => (id, "invalid", 0L, 0L, 0L, false)
            }
          }
        }
        .toDF("file_id", "kind", "n_entries", "total_bytes", "payload_sum",
          "valid")
        .orderBy(col("file_id"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    CASE n_nationkey % 3 WHEN 0 THEN 'zip' WHEN 1 THEN 'tar'
           |      ELSE 'tar_zst' END AS kind,
           |    cast(3 + (n_nationkey % 5) as bigint) AS ne
           |  FROM nation
           |), es AS (
           |  SELECT k, kind, ne, unnest(generate_series(0, ne - 1)) AS e FROM g
           |), pe AS (
           |  SELECT k, kind, ne, e,
           |    'entry ' || e || ' of archive ' || k || ' ' AS base
           |  FROM es
           |), sz AS (
           |  SELECT k, kind, ne, e,
           |    cast(length(base) * (e + 1) as bigint) AS nb,
           |    cast(list_sum(list_transform(string_split(base, ''),
           |      c -> ascii(c))) * (e + 1) as bigint) AS bsum
           |  FROM pe
           |)
           |SELECT k AS file_id, kind, ne AS n_entries,
           |  cast(sum(nb) as bigint) AS total_bytes,
           |  cast(sum(bsum) as bigint) AS payload_sum, true AS valid
           |FROM sz GROUP BY k, kind, ne ORDER BY file_id""".stripMargin))

  /** WARC CENSUS (multi-member gzip) — the container crawl corpora
    * ACTUALLY arrive in (Common Crawl ships one gzip member per WARC
    * record, members concatenated — the only delivery format of the
    * largest public crawl): 25 fixture files in exactly that shape,
    * and [[graft.operators.Multimodal.warcCensus]] walks the gzip
    * member chain RAW (header field grammar, raw-deflate inflate
    * through a fixed scratch chunk, per-member CRC32 AND ISIZE
    * verified against the inflated bytes — the ustar-checksum
    * precedent) and then frames the concatenated payload as WARC
    * records per spec (version line, CRLF headers with mandatory
    * Content-Length, exact-length payload, two-CRLF terminator).
    * Reported per file: member count, record count, response-record
    * count, payload bytes, payload byte sum — all recomputed in
    * closed form by the oracle from the fixture scheme. Malformed
    * archives (truncated member, forged CRC/ISIZE, forged
    * Content-Length, missing terminator) reject whole-file — spec'd
    * in ArchiveSpec, the partial-census trap identical to ZIP's.
    *
    * Scale: the parseAll narrow shape — one partition-mapped walk per
    * file, no shuffle; gzip member boundaries are the split points a
    * cluster-scale WARC reader fans out on, which is exactly why the
    * census walks members rather than one opaque stream.
    */
  private val multimodalWarcCensus = Q.media("warcs")(
    k => graft.operators.Multimodal.warcBytes(k, 2 + (k % 5)),
    (s, scanned) => decodeOrInvalid(s, scanned,
        graft.operators.Multimodal.warcCensus, Seq("n_members", "n_records",
          "n_response", "payload_bytes", "payload_sum"))
      .orderBy(col("file_id")),
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(2 + (n_nationkey % 5) as bigint) AS nr
           |  FROM nation
           |), rs AS (
           |  SELECT k, nr, unnest(generate_series(0, nr - 1)) AS r FROM g
           |), pr AS (
           |  SELECT k, nr, r,
           |    'record ' || r || ' of crawl ' || k || ' ' AS base
           |  FROM rs
           |), sz AS (
           |  SELECT k, nr, r,
           |    cast(length(base) * (r + 1) as bigint) AS nb,
           |    cast(list_sum(list_transform(string_split(base, ''),
           |      c -> ascii(c))) * (r + 1) as bigint) AS bsum,
           |    (r % 3 = 0) AS is_resp
           |  FROM pr
           |)
           |SELECT k AS file_id, nr AS n_members, nr AS n_records,
           |  cast(sum(CASE WHEN is_resp THEN 1 ELSE 0 END) as bigint)
           |    AS n_response,
           |  cast(sum(nb) as bigint) AS payload_bytes,
           |  cast(sum(bsum) as bigint) AS payload_sum, true AS valid
           |FROM sz GROUP BY k, nr ORDER BY file_id""".stripMargin))

  /** TIFF baseline decode — the scanner/print-pipeline container and
    * the one that makes BYTE ORDER data instead of spec (the "II"/"MM"
    * header chooses per file): 25 fixtures cycle both endiannesses,
    * grayscale (photometric 1) and RGB (photometric 2), and
    * single- vs multi-STRIP segmentation (RowsPerStrip 4-8 against
    * 10-16 rows), and
    * [[graft.operators.Multimodal.tiffPixelStats]] really walks the
    * IFD (typed entries, inline-vs-offset array values), validates
    * per-strip byte counts, and folds exact channel sums — a decoder
    * that misreads the byte order, mis-walks strips, or trusts a wrong
    * StripByteCounts hash-fails against the unchanged closed forms.
    * PngDecodeSpec's TIFF case cross-checks against the JDK's own TIFF
    * reader in all four (endianness x photometric) corners.
    *
    * Scale: the parseAll narrow shape — one partition-mapped decode,
    * no shuffle.
    */
  private val multimodalTiffStats = Q.media("tiffstats")(
    k => graft.operators.Multimodal.tiffGradientBytes(
      16 + k, 10 + (k % 7), bigEndian = k % 2 == 1,
      gray = k % 3 == 0, rowsPerStrip = 4 + (k % 5)),
    (s, scanned) => pixelSums(s, scanned,
      graft.operators.Multimodal.tiffPixelStats).orderBy(col("file_id")),
    Some(s"""WITH $tiffPixelsSqlCtes, sm AS (
           |  SELECT k, w, h, cast(count(*) as bigint) AS n_px,
           |    cast(sum(r) as bigint) AS sum_r,
           |    cast(sum(gg) as bigint) AS sum_g,
           |    cast(sum(bb) as bigint) AS sum_b
           |  FROM px GROUP BY k, w, h
           |)
           |SELECT k AS file_id, w AS width, h AS height, n_px,
           |  sum_r, sum_g, sum_b, true AS valid
           |FROM sm ORDER BY file_id""".stripMargin))

  /** WARC -> HTTP EXTRACTION — the step after the census, where crawl
    * bytes become corpus candidates: Common Crawl response payloads
    * are HTTP/1.x MESSAGES, and a pipeline that stops at WARC framing
    * still hasn't seen the document. Per response record:
    * status code (the 200-only filter every crawl pipeline applies
    * first), header count, and exact body stats — under BOTH wire
    * framings crawl archives contain: Content-Length (VERIFIED against
    * the framed body — a forged header is how partial bodies slip into
    * a corpus; mismatch rejects the file) and `Transfer-Encoding:
    * chunked` (the RFC 7230 hex-size chunk walk, required to consume
    * the record exactly; body stats are over the DE-CHUNKED bytes, so
    * the closed-form oracle is framing-INVARIANT — which is itself the
    * check; a message declaring both framings is ambiguous and
    * rejects). Request records interleave as in real crawls and pass
    * through uncounted. All columns recomputed in closed form by the
    * oracle from the fixture scheme; malformed members/records/HTTP
    * messages/chunk streams reject whole-file (ArchiveSpec).
    *
    * Scale: the parseAll narrow shape — per-file member walk + record
    * framing + HTTP parse, rows out are response-sized; payload bytes
    * never shuffle.
    */
  private val multimodalWarcHttp = Q.media("warchttp")(
    k => graft.operators.Multimodal.warcHttpBytes(k, 3 + (k % 4)),
    (s, scanned) => {
      import s.implicits._
      scanned.select(col("file_id"), col("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.flatMap { case (id, bytes) =>
            graft.operators.Multimodal.warcHttpStats(bytes) match {
              case Some(rows) => rows.map { case (i, st, nh, bb, bs) =>
                (id, i, st, nh, bb, bs, true)
              }
              case None => Seq((id, 0L, 0L, 0L, 0L, 0L, false))
            }
          }
        }
        .toDF("file_id", "resp_idx", "status", "n_headers", "body_bytes",
          "body_sum", "valid")
        .orderBy(col("file_id"), col("resp_idx"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(3 + (n_nationkey % 4) as bigint) AS n
           |  FROM nation
           |), r AS (
           |  SELECT k, unnest(generate_series(0, n - (n // 3) - 1)) AS i FROM g
           |), b AS (
           |  SELECT k, cast(i as bigint) AS i,
           |    'body ' || i || ' of crawl ' || k || ' ' AS base
           |  FROM r
           |)
           |SELECT k AS file_id, i AS resp_idx,
           |  cast(CASE i % 3 WHEN 0 THEN 200 WHEN 1 THEN 404
           |    ELSE 301 END as bigint) AS status,
           |  cast(3 as bigint) AS n_headers,
           |  cast(length(base) * (i + 1) as bigint) AS body_bytes,
           |  cast(list_sum(list_transform(string_split(base, ''),
           |    c -> ascii(c))) * (i + 1) as bigint) AS body_sum,
           |  true AS valid
           |FROM b ORDER BY file_id, resp_idx""".stripMargin))

  /** DATA-URI image extraction — the crawl-text-to-multimodal bridge:
    * web corpora embed images INLINE as `data:image/<fmt>;base64,...`,
    * invisible to any pipeline that only routes binary files. Per
    * document: URIs found, payloads base64-decoded (strict — a bad
    * alphabet/padding is an invalid URI, never a partial image),
    * routed by MAGIC (the declared media type is untrusted and
    * ignored, like file extensions), PNGs really decoded through the
    * canonical-RGB path (pixel + channel sums), GIFs through the real
    * LZW decode (pixel count); junk payloads land in n_invalid. The
    * fixture plants gradient PNGs, real-LZW GIFs, and a
    * decodes-but-isn't-an-image URI per schedule, so extraction,
    * strictness, magic routing, and both decoders are all under the
    * closed-form oracle.
    *
    * Scale: one narrow mapPartitions pass (regex + base64 + decode per
    * row — the multimodal codec shape over TEXT); 9 longs per doc
    * leave the map side, document bodies never shuffle.
    */
  private val multimodalDataUri = Q.scratch("datauri")(
    (s, dir, base) => {
      import s.implicits._
      val enc = java.util.Base64.getEncoder
      val docs = T(s, dir, "nation").select(col("n_nationkey")).collect()
        .map { r =>
          val k = r.getInt(0)
          val sb = new StringBuilder(s"doc $k opens with plain words ")
          val nPng = 1 + k % 3
          for (i <- 0 until nPng) {
            val png = graft.operators.Multimodal
              .pngGradientBytes(8 + ((k + i) % 5), 6 + (i % 3))
            sb.append(s"<img src=data:image/png;base64,${enc.encodeToString(png)}> ")
          }
          if (k % 2 == 0) {
            val gif = graft.operators.Multimodal.gifPatternBytes(8 + k % 4, 5)
            sb.append(s"<img src=data:image/gif;base64,${enc.encodeToString(gif)}> ")
          }
          if (k % 4 == 0)
            sb.append("and a liar: data:image/png;base64,QUJDRA== ")
          sb.append("closing words.")
          (k.toLong, sb.toString)
        }.toSeq
      docs.toDF("file_id", "text")
        .write.mode("overwrite").parquet(base)
      s.read.parquet(base)
        .select(col("file_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            val (u, d, p, g, inv, px, r, gg, b) =
              graft.operators.Multimodal.dataUriImageStats(text)
            (id, u, d, p, g, inv, px, r, gg, b)
          }
        }
        .toDF("file_id", "n_uris", "n_decoded", "n_png", "n_gif",
          "n_invalid", "n_px", "sum_r", "sum_g", "sum_b")
        .orderBy(col("file_id"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(1 + n_nationkey % 3 as bigint) AS n_png,
           |    cast(CASE WHEN n_nationkey % 2 = 0 THEN 1 ELSE 0 END as bigint)
           |      AS n_gif,
           |    cast(CASE WHEN n_nationkey % 4 = 0 THEN 1 ELSE 0 END as bigint)
           |      AS n_bad
           |  FROM nation
           |), pimg AS (
           |  SELECT k, unnest(generate_series(0, n_png - 1)) AS i FROM g
           |), pdim AS (
           |  SELECT k, i, 8 + ((k + i) % 5) AS w, 6 + (i % 3) AS h FROM pimg
           |), px AS (
           |  SELECT k, i, w, h, unnest(generate_series(0, w - 1)) AS x FROM pdim
           |), pxy AS (
           |  SELECT k, i, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM px
           |), psum AS (
           |  SELECT k, cast(count(*) as bigint) AS n_px,
           |    cast(sum((7 * x + 3 * y) % 256) as bigint) AS sum_r,
           |    cast(sum((x + 2 * y) % 256) as bigint) AS sum_g,
           |    cast(sum((5 * x + y) % 256) as bigint) AS sum_b
           |  FROM pxy GROUP BY k
           |)
           |SELECT g.k AS file_id,
           |  g.n_png + g.n_gif + g.n_bad AS n_uris,
           |  g.n_png + g.n_gif AS n_decoded,
           |  g.n_png, g.n_gif, g.n_bad AS n_invalid,
           |  psum.n_px + g.n_gif * (8 + g.k % 4) * 5 AS n_px,
           |  psum.sum_r, psum.sum_g, psum.sum_b
           |FROM g JOIN psum ON psum.k = g.k
           |ORDER BY file_id""".stripMargin))

  /** LZW-COMPRESSED TIFF decode — the dominant wild-TIFF compression
    * (tag 259 = 5): 25 fixtures cycle compression NONE/LZW on top of
    * the baseline tier's axes (both byte orders, gray/RGB,
    * multi-strip), each LZW strip an independent MSB-first
    * EARLY-CHANGE stream ([[graft.operators.Multimodal.lzwMsbDecodeGrow]]
    * — the bit-order twin of the GIF tier's LSB decoder, with the
    * width bump one table slot earlier). The decoded pixels are the
    * SAME closed-form gradient whatever the compression, so the oracle
    * is the unchanged formula — a desynced code width, a mis-handled
    * KwKwK case, or a broken early-change boundary corrupts sums and
    * hash-fails. PngDecodeSpec cross-checks the JDK's own TIFF plugin
    * decoding OUR encoder's streams (both endiannesses, past the
    * 511/1023 width boundaries and a mid-stream table reset); tiled
    * TIFFs remain a spec'd reject.
    *
    * Scale: the parseAll narrow shape — one partition-mapped decode,
    * no shuffle.
    */
  private val multimodalTiffLzw = Q.media("tifflzw")(
    k => graft.operators.Multimodal.tiffGradientBytes(
      16 + k, 10 + (k % 7), bigEndian = k % 2 == 1,
      gray = k % 3 == 0, rowsPerStrip = 4 + (k % 5),
      lzw = k % 2 == 0),
    (s, scanned) => pixelSums(s, scanned,
        graft.operators.Multimodal.tiffPixelStats)
      .withColumn("compression",
        expr("cast(CASE WHEN file_id % 2 = 0 THEN 5 ELSE 1 END as bigint)"))
      .select(col("file_id"), col("compression"), col("width"),
        col("height"), col("sum_r"), col("sum_g"), col("sum_b"),
        col("valid"))
      .orderBy(col("file_id")),
    Some(s"""WITH $tiffPixelsSqlCtes, sm AS (
           |  SELECT k, w, h, cast(sum(r) as bigint) AS sum_r,
           |    cast(sum(gg) as bigint) AS sum_g,
           |    cast(sum(bb) as bigint) AS sum_b
           |  FROM px GROUP BY k, w, h
           |)
           |SELECT k AS file_id,
           |  cast(CASE WHEN k % 2 = 0 THEN 5 ELSE 1 END as bigint)
           |    AS compression,
           |  w AS width, h AS height, sum_r, sum_g, sum_b, true AS valid
           |FROM sm ORDER BY file_id""".stripMargin))

  /** MAGIC-BYTE FORMAT ROUTING — the ingest front door of every mixed
    * binary corpus: 25 files cycle FIFTEEN containers (truecolor PNG,
    * palette PNG, single-frame GIF, animated GIF, baseline JPEG,
    * 16-bit PCM WAV, µ-law G.711 WAV, multi-member gzip WARC, MP4
    * movie, MP3 stream, WebP image, FLAC stream, PDF document, zstd
    * member, and plain junk bytes — every family the engine decodes
    * routes here), and
    * [[graft.operators.Multimodal.sniffKind]] classifies each by its
    * magic signature (never the extension — every fixture is written
    * `.bin`), then [[graft.operators.Multimodal.sniffValid]] routes it
    * to ITS full real decoder for the validity verdict. The oracle is
    * the closed form of the fixture construction, so a router that
    * confuses containers, or a dispatch that sends a container to the
    * wrong decoder, hash-fails.
    *
    * Scale: the parseAll narrow shape — one partition-mapped
    * sniff+decode pass, no shuffle; this is the map-side dispatch
    * stage every 100 TB multimodal ingest runs first.
    */
  private val multimodalSniffRoute = Q.media("sniffroute")(
    k => (k % 15) match {
      case 0 => graft.operators.Multimodal.pngGradientBytes(16 + k, 10)
      case 1 => graft.operators.Multimodal.pngPaletteBytes(16 + k, 10)
      case 2 => graft.operators.Multimodal.gifPatternBytes(16 + k, 10)
      case 3 => graft.operators.Multimodal.gifAnimBytes(16, 10, 2 + k % 3)
      case 4 => graft.operators.Multimodal.jpegDcPatternBytes(16 + k, 10)
      case 5 => graft.operators.Multimodal.wavToneBytes(8000, 100 + k, 5, 1, 4)
      case 6 => graft.operators.Multimodal.wavG711Bytes(8000, 100 + k, 7)
      case 7 => graft.operators.Multimodal.warcBytes(k, 2 + k % 4)
      case 8 => graft.operators.Multimodal.mp4Bytes(
        k, 1 + k % 3, 1000L, 1500L + k, 64)
      case 9 => graft.operators.Multimodal.mp3Bytes(
        k, 4, k % 3, id3v2 = k % 2 == 0, id3v1 = false)
      case 10 => graft.operators.Multimodal.webpBytes(
        k % 3, 16 + k, 10, alpha = k % 2 == 0, anim = false, tag = k)
      case 11 => graft.operators.Multimodal.flacBytes(
        44100, 1 + k % 3, 16, 88200L + 997L * k, k)
      case 12 => graft.operators.PdfText.pdfBytes(
        k, 1 + k % 3, flate = k % 2 == 0)
      case 13 => graft.operators.ZstdVectors.all(k % 12)._2
      case _ => (s"not a media file #$k " * 4).getBytes(
        java.nio.charset.StandardCharsets.UTF_8)
    },
    (s, scanned) => {
      graft.operators.Multimodal.sniffAll(scanned).toDF()
        .select(col("fileId").as("file_id"), col("detected"), col("valid"))
        .orderBy(col("file_id"))
    },
    Some("""SELECT cast(n_nationkey as bigint) AS file_id,
           |  CASE n_nationkey % 15
           |    WHEN 0 THEN 'png' WHEN 1 THEN 'png'
           |    WHEN 2 THEN 'gif' WHEN 3 THEN 'gif'
           |    WHEN 4 THEN 'jpeg' WHEN 5 THEN 'wav_pcm'
           |    WHEN 6 THEN 'wav_g711' WHEN 7 THEN 'gzip'
           |    WHEN 8 THEN 'mp4' WHEN 9 THEN 'mp3'
           |    WHEN 10 THEN 'webp' WHEN 11 THEN 'flac'
           |    WHEN 12 THEN 'pdf' WHEN 13 THEN 'zstd'
           |    ELSE 'unknown' END AS detected,
           |  (n_nationkey % 15) <> 14 AS valid
           |FROM nation ORDER BY file_id""".stripMargin))

  /** PDF TEXT EXTRACTION — the top real-corpus document container the
    * router previously could not parse (every crawl/document pipeline
    * hits PDF volume before HTML volume).
    * [[graft.operators.PdfText.pdfText]] is a real classic-xref
    * reader: startxref → xref table(s) → trailer → catalog → page
    * tree → /Contents streams (plain or FlateDecode — fixtures cycle
    * both), then the BT..ET text operators (Tj, kerned TJ, escaped
    * literal strings, hex strings) join into the page text. Every
    * sixth fixture carries an /Encrypt trailer entry and must reject
    * WHOLE-FILE (valid = false, zero pages — an extractor that
    * partially reads an encrypted document invents text). Fixtures
    * cycle the classic-xref, xref-stream + object-stream, and
    * PNG-predicted xref-stream layouts (the modern default most
    * generators emit) — extraction is layout-invariant, so one oracle
    * covers all three. It replays the closed-form page text with
    * string_agg.
    *
    * Scale: the parseAll narrow shape — one partition-mapped
    * parse+inflate per file; page/op counts and the text leave the
    * map side, raw PDF bytes never shuffle.
    */
  private val multimodalPdfText = Q.media("pdftext")(
    k => graft.operators.PdfText.pdfBytes(
      k, 1 + k % 3, flate = k % 2 == 0, encrypted = k % 6 == 5,
      // cycle the real-world layout AND filter ladders:
      // classic tables / xref+object streams / predicted xref
      // streams, and Flate / LZW / ASCIIHex-chained content —
      // extraction is invariant to all of it, so one oracle
      // covers every combination
      xrefStream = k % 3 != 0, predictor = k % 3 == 2,
      lzw = k % 4 == 1, ahx = k % 8 == 3),
    (s, scanned) => {
      import s.implicits._
      scanned.select(col("file_id"), col("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            graft.operators.PdfText.pdfText(bytes) match {
              case Some((np, ops, text)) => (id, np, ops, text, true)
              case None => (id, 0L, 0L, "", false)
            }
          }
        }
        .toDF("file_id", "n_pages", "n_text_ops", "text", "valid")
        .withColumn("n_chars", length(col("text")).cast("bigint"))
        .select(col("file_id"), col("n_pages"), col("n_text_ops"),
          col("n_chars"), col("text"), col("valid"))
        .orderBy(col("file_id"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(1 + n_nationkey % 3 as bigint) AS p,
           |    (n_nationkey % 6 = 5) AS enc
           |  FROM nation
           |), pg AS (
           |  SELECT g.k, sr.i FROM g, generate_series(0, 2) AS sr(i)
           |  WHERE sr.i < g.p
           |), agg AS (
           |  SELECT k, string_agg('Page ' || i || ' of pdf ' || k ||
           |      ': alpha beta gamma (' || k || ') hex!', chr(10)
           |      ORDER BY i) AS pagetext
           |  FROM pg GROUP BY k
           |), t AS (
           |  SELECT g.k, g.p, g.enc,
           |    CASE WHEN g.enc THEN '' ELSE a.pagetext END AS text
           |  FROM g JOIN agg a ON a.k = g.k
           |)
           |SELECT k AS file_id,
           |  CASE WHEN enc THEN 0 ELSE p END AS n_pages,
           |  CASE WHEN enc THEN 0 ELSE p * 4 END AS n_text_ops,
           |  cast(length(text) as bigint) AS n_chars, text, NOT enc AS valid
           |FROM t ORDER BY file_id""".stripMargin))

  /** ZSTD MEMBER CENSUS — the r19 verdict's modern-corpus gap closed
    * with a FROM-SCRATCH RFC 8878 decoder
    * ([[graft.operators.Zstd]]): Dolma/RedPajama/FineWeb-class
    * releases ship `.jsonl.zst`, which no JDK decoder reads. Fixtures
    * cycle five shapes: real-compressor frames at level 19
    * (FSE-compressed sequence tables) and level 1 (predefined tables)
    * — both from [[graft.operators.ZstdVectors]], produced by zstd
    * CLI v1.5.7 from closed-form inputs — a skippable frame followed
    * by a raw-block frame, an RLE-block frame, and a
    * checksum-corrupted frame that must reject whole-input
    * (valid=false; the decoder VERIFIES xxh64 content checksums).
    * The oracle replays frame counts and the full decompressed text.
    *
    * Scale: the parseAll narrow shape — one partition-mapped decode
    * per member; at 100 TB this is the WARC/shard ingest edge, and
    * compressed payload bytes never shuffle.
    */
  private val multimodalZstdCensus = Q.media("zstdcensus")(
    k => {
      val i = (k / 5) % 6
      val vecs = Seq(
        graft.operators.ZstdVectors.v0L19, graft.operators.ZstdVectors.v1L19,
        graft.operators.ZstdVectors.v2L19, graft.operators.ZstdVectors.v3L19,
        graft.operators.ZstdVectors.v4L19, graft.operators.ZstdVectors.v5L19)
      val vecs1 = Seq(
        graft.operators.ZstdVectors.v0L1, graft.operators.ZstdVectors.v1L1,
        graft.operators.ZstdVectors.v2L1, graft.operators.ZstdVectors.v3L1,
        graft.operators.ZstdVectors.v4L1, graft.operators.ZstdVectors.v5L1)
      (k % 5) match {
        case 0 => vecs(i)
        case 1 => vecs1(i)
        case 2 =>
          graft.operators.Zstd.skippableFrame(s"meta $k".getBytes) ++
            graft.operators.Zstd.rawFrame(
              (s"raw member $k data " * 4).getBytes("UTF-8"))
        case 3 => graft.operators.Zstd.rleFrame('z', 120 + k)
        case _ =>
          val bad = vecs(i).clone()
          bad(bad.length - 1) = (bad(bad.length - 1) ^ 0x5a).toByte
          bad
      }
    },
    (s, scanned) => {
      import s.implicits._
      scanned.as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            graft.operators.Zstd.decompress(bytes) match {
              case Some((fr, sk, content)) =>
                (id, fr, sk, new String(content, "UTF-8"), true)
              case None => (id, 0L, 0L, "", false)
            }
          }
        }
        .toDF("file_id", "n_frames", "n_skippable", "text", "valid")
        .withColumn("n_bytes", length(col("text")).cast("bigint"))
        .select(col("file_id"), col("n_frames"), col("n_skippable"),
          col("n_bytes"), col("text"), col("valid"))
        .orderBy(col("file_id"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(n_nationkey % 5 as bigint) AS cls,
           |    cast((n_nationkey // 5) % 6 as bigint) AS i
           |  FROM nation
           |), vec AS (
           |  SELECT g.k,
           |    string_agg('zstd line ' || sr.j || ' of vector ' || g.i ||
           |      ': the quick brown fox jumps over the lazy dog',
           |      chr(10) ORDER BY sr.j) || chr(10) AS text
           |  FROM g, generate_series(0, 54) AS sr(j)
           |  WHERE g.cls IN (0, 1) AND sr.j < 20 + 7 * g.i
           |  GROUP BY g.k, g.i
           |), t AS (
           |  SELECT k,
           |    CASE WHEN cls = 4 THEN 0 ELSE 1 END AS n_frames,
           |    CASE WHEN cls = 2 THEN 1 ELSE 0 END AS n_skippable,
           |    CASE
           |      WHEN cls IN (0, 1) THEN (SELECT text FROM vec v WHERE v.k = g.k)
           |      WHEN cls = 2 THEN repeat('raw member ' || k || ' data ', 4)
           |      WHEN cls = 3 THEN repeat('z', cast(120 + k as int))
           |      ELSE '' END AS text,
           |    cls <> 4 AS valid
           |  FROM g
           |)
           |SELECT k AS file_id, cast(n_frames as bigint) AS n_frames,
           |  cast(n_skippable as bigint) AS n_skippable,
           |  cast(length(text) as bigint) AS n_bytes, text, valid
           |FROM t ORDER BY file_id""".stripMargin))

  /** `.jsonl.zst` INGEST — the end-to-end composition modern corpus
    * releases actually require: zstd member decode
    * ([[graft.operators.Zstd]], real-compressor frames from
    * [[graft.operators.ZstdVectors.jsonl]]) → JSONL line split →
    * schema'd JSON parse (`from_json`, codegen'd — no UDF) →
    * host-keyed relational census. The oracle replays the members'
    * closed-form line content, so a decode error, a dropped line, or
    * a mis-parsed field shifts a count or a sum and hash-fails.
    *
    * Scale: member decode and JSON parse are map-side over the
    * binaryFile scan (compressed bytes never shuffle); only the
    * (host)-keyed partial aggregates move — the exact shape a 100 TB
    * `.jsonl.zst` release ingests with.
    */
  private val pipelineZstdJsonl = Q.media("zstdjsonl")(
    k => graft.operators.ZstdVectors.jsonl(k % 4)._2,
    (s, scanned) => {
      import s.implicits._
      val lines = scanned.as[(Long, Array[Byte])]
        .flatMap { case (id, bytes) =>
          graft.operators.Zstd.decompress(bytes) match {
            case Some((_, _, content)) =>
              new String(content, "UTF-8").split("\n").iterator
                .filter(_.nonEmpty).map(l => (id, l))
            case None => Iterator.empty
          }
        }
        .toDF("file_id", "line")
      lines
        .withColumn("rec", from_json(col("line"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "id BIGINT, host STRING, score BIGINT")))
        .groupBy(col("rec.host").as("host"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("rec.score")).as("sum_score"),
          countDistinct(col("file_id")).as("n_files"))
        .orderBy(col("host"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(40 + 30 * (n_nationkey % 4) as bigint) AS n
           |  FROM nation
           |), ln AS (
           |  SELECT g.k, sr.j FROM g, generate_series(0, 129) AS sr(j)
           |  WHERE sr.j < g.n
           |)
           |SELECT 'h' || (j % 5) || '.example' AS host,
           |  count(*) AS n_lines,
           |  cast(sum((j * 7) % 100) as bigint) AS sum_score,
           |  count(DISTINCT k) AS n_files
           |FROM ln GROUP BY 1 ORDER BY host""".stripMargin))

  // ---------------------------------------------------------------------
  // Multimodal: real JPEG entropy decode (DC-coefficient tier)
  // ---------------------------------------------------------------------

  /** [[graft.operators.Multimodal.jpegDcAll]] under the catalog's column
    * names, plus each image's mean luma level in thousandths: the decode
    * of every JPEG DC-pattern query. */
  private def jpegDcLevels(scanned: DataFrame): DataFrame =
    graft.operators.Multimodal.jpegDcAll(scanned).toDF()
      .select(col("fileId").as("file_id"), col("width"), col("height"),
        col("nBlocks").as("n_blocks"), col("sumDcq").as("sum_dcq"),
        col("minDcq").as("min_dcq"), col("maxDcq").as("max_dcq"),
        col("valid"))
      .withColumn("mean_level_e3",
        expr("((1024 * n_blocks + sum_dcq) * 1000) div (8 * n_blocks)"))
      .orderBy(col("file_id"))

  /** DuckDB closed form of [[jpegDcLevels]] over the DC-pattern fixtures:
    * Y block j carries the quantized DC `16 * (((7 * j) % 32) - 16)`,
    * over the `nBlocks` Y blocks (an expression of k, w, h) that the
    * fixture's sampling layout codes. */
  private def jpegDcOracle(nBlocks: String): Option[String] = Some(
    s"""WITH $imageGeomSqlCtes, nb AS (
       |  SELECT k, w, h, $nBlocks AS n_blocks FROM g
       |), ds AS (
       |  SELECT k, w, h, n_blocks,
       |    unnest(generate_series(0, n_blocks - 1)) AS j
       |  FROM nb
       |), dd AS (
       |  SELECT k, w, h, n_blocks, 16 * (((7 * j) % 32) - 16) AS dcq FROM ds
       |), sm AS (
       |  SELECT k, w, h, n_blocks, cast(sum(dcq) as bigint) AS sum_dcq,
       |    cast(min(dcq) as bigint) AS min_dcq,
       |    cast(max(dcq) as bigint) AS max_dcq
       |  FROM dd GROUP BY k, w, h, n_blocks
       |)
       |SELECT k AS file_id, w AS width, h AS height, n_blocks,
       |  sum_dcq, min_dcq, max_dcq, true AS valid,
       |  ((1024 * n_blocks + sum_dcq) * 1000) // (8 * n_blocks)
       |    AS mean_level_e3
       |FROM sm ORDER BY file_id""".stripMargin)

  /** JPEG DC-coefficient statistics over REALLY entropy-decoded
    * baseline JPEGs — the tier the r14 verdict named missing ("an
    * image-heavy corpus is mostly JPEG; even DC-coefficient-only stats
    * would extend the real tier"): 25 spec-valid grayscale JPEGs carry
    * the deterministic quantized-DC pattern d(j) = ((7j) mod 32) - 16,
    * and [[graft.operators.Multimodal.jpegDcStats]] actually DECODES
    * them — marker walk, DQT, canonical DHT Huffman tables, per-MCU DC
    * category + T.81 difference extension + cumulative DC, AC (run,
    * size) consumption to EOB, 0xFF unstuffing — folding exact integer
    * stats over dequantized DCs. `mean_level_e3` converts to spatial
    * brightness (a DC-only block's mean is exactly 128 + dcq/8); the
    * oracle recomputes everything in closed form from the pattern, and
    * JpegDcSpec cross-checks the brightness identity against the JDK's
    * own full IDCT decode.
    *
    * Scale: the parseAll narrow shape — binaryFile scan, one
    * partition-mapped decode, no shuffle; stats rows are constant-size
    * per image regardless of pixel count.
    */
  private val multimodalJpegDc = Q.media("jpegdc")(
    k => graft.operators.Multimodal.jpegDcPatternBytes(16 + k, 10 + (k % 7)),
    (_, scanned) => jpegDcLevels(scanned),
    jpegDcOracle("((w + 7) // 8) * ((h + 7) // 8)"))

  /** COLOR (3-component YCbCr) JPEG DC statistics — the tier the r15
    * verdict ranked first: a real image corpus is overwhelmingly color,
    * and the grayscale-only decoder sent every color JPEG to the reject
    * row. 25 spec-valid 3-component baseline JPEGs (1x1 sampling) whose
    * LUMA channel carries the same closed-form DC pattern as
    * `ns_multimodal_jpeg_dc`; the even files additionally move the
    * chroma DC predictors through nonzero Huffman categories on the
    * chroma channels' OWN tables (a reverse-symbol DC code and a
    * length-2 EOB, so reading chroma with the luma tables desyncs
    * rather than silently passing). The oracle is the same Y-only
    * closed form — identical across the chroma variants, which is
    * itself the check that chroma consumption leaves the luma stream
    * in sync; JpegDcSpec cross-checks the no-chroma-motion variant
    * against the JDK's full color decode.
    *
    * Scale: the parseAll narrow shape — binaryFile scan, one
    * partition-mapped decode, no shuffle.
    */
  private val multimodalJpegColor = Q.media("jpegcolor")(
    k => graft.operators.Multimodal.jpegDcColorPatternBytes(
      16 + k, 10 + (k % 7), chromaMotion = k % 2 == 0),
    (_, scanned) => jpegDcLevels(scanned),
    jpegDcOracle("((w + 7) // 8) * ((h + 7) // 8)"))

  /** 4:2:0 SUBSAMPLED JPEG DC statistics with RESTART intervals — the
    * final tier of the r15 verdict's "what's missing" item 1: the
    * dominant real-world camera/web layout (Y sampled 2x2, chroma 1x1,
    * DRI restart markers). Each MCU interleaves FOUR Y blocks then
    * Cb/Cr on their own tables; restart boundaries byte-align the
    * entropy stream at RST0..7 and reset every DC predictor
    * (T.81 §F.2.1.3.1). Fixtures mix restart intervals 0/1/2 MCUs —
    * the closed-form Y oracle is restart-INVARIANT (the pattern is
    * absolute, each segment's first diff rebuilds it from the reset
    * predictor), so a decoder that misses a reset or misaligns at a
    * marker hash-fails. nBlocks counts the entropy stream's Y blocks
    * including the spec-mandated edge padding blocks.
    *
    * Scale: the parseAll narrow shape — one partition-mapped decode,
    * no shuffle.
    */
  private val multimodalJpeg420 = Q.media("jpeg420")(
    k => graft.operators.Multimodal.jpegDcSubPatternBytes(
      16 + k, 10 + (k % 7), restartEvery = k % 3),
    (_, scanned) => jpegDcLevels(scanned),
    jpegDcOracle("((w + 15) // 16) * ((h + 15) // 16) * 4"))

  /** STEREO PCM statistics — the channel tier above
    * `ns_multimodal_audio_stats`' 16-bit mono: real-world audio is
    * overwhelmingly 2-channel, and the mono decoder sent every stereo
    * file to the reject row. L/R-interleaved frames decode into
    * per-channel exact integer stats (two rows per file); the fixture
    * gives each channel an INDEPENDENT square wave, so a decoder that
    * mixes channels or mis-strides the interleave hash-fails on both
    * rows. Same closed-form oracle family as the mono op, per channel.
    *
    * Scale: the parseAll narrow shape — one partition-mapped decode,
    * no shuffle; two constant-size rows per file.
    */
  private val multimodalAudioStereo = Q.media("audiostereo")(
    k => graft.operators.Multimodal.wavStereoToneBytes(
      8000, 200 * (k + 1),
      1000 + 50 * k, 100 + k, 8 + (k % 5),
      700 + 30 * k, 50 + 2 * k, 5 + (k % 4)),
    (s, scanned) => {
      graft.operators.Multimodal.pcmStereoAll(scanned).toDF()
        .select(col("fileId").as("file_id"), col("channel"),
          col("nSamples").as("n_samples"),
          col("sumAmp").as("sum_amp"), col("sumSq").as("sum_sq"),
          col("peakAbs").as("peak_abs"), col("crossings"), col("valid"))
        .withColumn("rms_e3", expr(
          "CASE WHEN n_samples > 0 THEN cast(floor(sqrt(cast(sum_sq as double) " +
            "/ cast(n_samples as double)) * 1000) as bigint) ELSE 0 END"))
        .orderBy(col("file_id"), col("channel"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(200 * (n_nationkey + 1) as bigint) AS n,
           |    ch,
           |    CASE WHEN ch = 0 THEN cast(1000 + 50 * n_nationkey as bigint)
           |      ELSE cast(700 + 30 * n_nationkey as bigint) END AS a,
           |    CASE WHEN ch = 0 THEN cast(100 + n_nationkey as bigint)
           |      ELSE cast(50 + 2 * n_nationkey as bigint) END AS bia,
           |    CASE WHEN ch = 0 THEN cast(8 + (n_nationkey % 5) as bigint)
           |      ELSE cast(5 + (n_nationkey % 4) as bigint) END AS h
           |  FROM nation, (SELECT unnest([0, 1]) AS ch)
           |), ph AS (
           |  SELECT k, ch, n, a, bia, h,
           |    (n // (2 * h)) * h + least(n % (2 * h), h) AS n_plus
           |  FROM g
           |), d AS (
           |  SELECT k, ch, n, a, bia, h, 2 * n_plus - n AS diff
           |  FROM ph
           |)
           |SELECT k AS file_id, cast(ch as bigint) AS channel,
           |  n AS n_samples,
           |  n * bia + a * diff AS sum_amp,
           |  n * (a * a + bia * bia) + 2 * a * bia * diff AS sum_sq,
           |  a + bia AS peak_abs,
           |  (n - 1) // h AS crossings,
           |  true AS valid,
           |  cast(floor(sqrt(cast(n * (a * a + bia * bia) + 2 * a * bia * diff
           |    as double) / cast(n as double)) * 1000) as bigint) AS rms_e3
           |FROM d ORDER BY file_id, channel""".stripMargin))

  /** G.711 µ-LAW / A-LAW decode — the third real codec family (after
    * the JPEG Huffman/DCT and GIF LZW tiers) and the format an 8 kHz
    * telephony/voice corpus actually arrives in: each 8-bit companded
    * code word expands to its 16-bit linear sample through the
    * standard segment/mantissa formulas
    * ([[graft.operators.Multimodal.g711Stats]] — µ-law: complement,
    * 132-bias mantissa, segment shift, signed fold; A-law: 0x55
    * even-bit inversion, segment 0/1 special cases, sign bit means
    * POSITIVE). Fixtures alternate the two laws and their byte pattern
    * (7i+3) mod 256 walks ALL 256 code words, so the oracle — which
    * recomputes the full expansion in closed-form SQL (shifts, masks,
    * CASE segments) — exercises the entire companding table: one wrong
    * segment boundary, bias, or sign convention hash-fails.
    * G711Spec pins the published reference points (µ-law 0x00 →
    * -32124, 0xFF → 0; A-law 0x55 → -8, 0xD5 → +8) and the reject
    * boundary (16-bit or stereo G.711 containers reject).
    *
    * Scale: the parseAll narrow shape — one partition-mapped decode,
    * no shuffle.
    */
  private val multimodalAudioG711 = Q.media("audiog711")(
    k => graft.operators.Multimodal.wavG711Bytes(
      8000, 200 * (k + 1), if (k % 2 == 0) 7 else 6),
    (s, scanned) => {
      graft.operators.Multimodal.g711StatsAll(scanned).toDF()
        .select(col("fileId").as("file_id"), col("law"),
          col("nSamples").as("n_samples"), col("sumLin").as("sum_lin"),
          col("minLin").as("min_lin"), col("maxLin").as("max_lin"),
          col("valid"))
        .orderBy(col("file_id"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(CASE WHEN n_nationkey % 2 = 0 THEN 7 ELSE 6 END
           |      as bigint) AS law,
           |    cast(200 * (n_nationkey + 1) as bigint) AS n
           |  FROM nation
           |), ss AS (
           |  SELECT k, law, n, unnest(generate_series(0, n - 1)) AS i FROM g
           |), dv AS (
           |  SELECT k, law, n, (7 * i + 3) % 256 AS v FROM ss
           |), lin AS (
           |  SELECT k, law, n,
           |    CASE WHEN law = 7 THEN
           |      CASE WHEN (255 - v) >= 128
           |        THEN 132 - ((((255 - v) & 15) * 8 + 132)
           |          << (((255 - v) & 112) // 16))
           |        ELSE ((((255 - v) & 15) * 8 + 132)
           |          << (((255 - v) & 112) // 16)) - 132
           |      END
           |    ELSE
           |      (CASE WHEN xor(v, 85) >= 128 THEN 1 ELSE -1 END) *
           |      (CASE ((xor(v, 85) & 112) // 16)
           |        WHEN 0 THEN (xor(v, 85) & 15) * 16 + 8
           |        WHEN 1 THEN (xor(v, 85) & 15) * 16 + 264
           |        ELSE ((xor(v, 85) & 15) * 16 + 264)
           |          << (((xor(v, 85) & 112) // 16) - 1)
           |      END)
           |    END AS s
           |  FROM dv
           |)
           |SELECT k AS file_id, law, n AS n_samples,
           |  cast(sum(s) as bigint) AS sum_lin,
           |  cast(min(s) as bigint) AS min_lin,
           |  cast(max(s) as bigint) AS max_lin, true AS valid
           |FROM lin GROUP BY k, law, n ORDER BY file_id""".stripMargin))

  /** IEEE-FLOAT PCM decode (WAV format tag 3) — the fourth audio
    * format tier (after int PCM 8/16/24, stereo, and G.711): DAW and
    * ML-pipeline exports write 32-bit float WAVs, and the int-PCM
    * decoders reject them all.
    * [[graft.operators.Multimodal.floatPcmStats]] decodes LE binary32
    * samples and folds EXACT 2^8-scaled integer stats (the fixture's
    * samples are exact multiples of 2^-4, so `round(s * 256)` is an
    * integer and the oracle compares integers, never accumulated
    * floats). The closed form walks the generator's
    * `(((7i+3) mod 33) - 16) / 16` wave — both signs, the full
    * amplitude range.
    *
    * Scale: the parseAll narrow shape — one partition-mapped decode,
    * no shuffle.
    */
  private val multimodalAudioFloat = Q.media("audiofloat")(
    k => graft.operators.Multimodal.wavFloatToneBytes(8000, 200 * (k + 1)),
    (s, scanned) => {
      graft.operators.Multimodal.floatPcmStatsAll(scanned).toDF()
        .select(col("fileId").as("file_id"),
          col("nSamples").as("n_samples"), col("sumQ8").as("sum_q8"),
          col("minQ8").as("min_q8"), col("maxQ8").as("max_q8"),
          col("valid"))
        .orderBy(col("file_id"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(200 * (n_nationkey + 1) as bigint) AS n
           |  FROM nation
           |), ss AS (
           |  SELECT k, n, unnest(generate_series(0, n - 1)) AS i FROM g
           |), qv AS (
           |  SELECT k, n, (((7 * i + 3) % 33) - 16) * 16 AS q FROM ss
           |)
           |SELECT k AS file_id, n AS n_samples,
           |  cast(sum(q) as bigint) AS sum_q8,
           |  cast(min(q) as bigint) AS min_q8,
           |  cast(max(q) as bigint) AS max_q8, true AS valid
           |FROM qv GROUP BY k, n ORDER BY file_id""".stripMargin))

  /** PCM BIT-DEPTH ladder — 8-bit (unsigned storage, the telephony/
    * legacy tier), 16-bit, and 24-bit (studio masters) mono decode in
    * one operator: real audio corpora mix depths, and the fixed-16-bit
    * decoder sent a third of them to the reject row. Each depth
    * decodes to CENTERED samples (8-bit subtracts the spec's +128
    * offset; 24-bit sign-extends through bit 23), so one closed-form
    * square-wave oracle family covers the whole ladder; per-depth
    * amplitudes differ by orders of magnitude, so a decoder that
    * mis-strides or forgets the 8-bit offset hash-fails immediately.
    *
    * Scale: the parseAll narrow shape — one partition-mapped decode,
    * no shuffle.
    */
  private val multimodalAudioDepths = Q.media("audiodepths")(
    k => {
      val bits = Seq(8, 16, 24)(k % 3)
      val amp = bits match {
        case 8 => 40 + k
        case 16 => 1000 + 50 * k
        case _ => 100000 + 5000 * k
      }
      val bias = bits match {
        case 8 => 10 + k % 8
        case 16 => 100 + k
        case _ => 10000 + 100 * k
      }
      graft.operators.Multimodal.wavToneBytesDepth(
        8000, 200 * (k + 1), amp, bias, 8 + (k % 5), bits)
    },
    (s, scanned) => {
      graft.operators.Multimodal.pcmDepthAll(scanned).toDF()
        .select(col("fileId").as("file_id"), col("bits"),
          col("nSamples").as("n_samples"),
          col("sumAmp").as("sum_amp"), col("sumSq").as("sum_sq"),
          col("peakAbs").as("peak_abs"), col("crossings"), col("valid"))
        .withColumn("rms_e3", expr(
          "CASE WHEN n_samples > 0 THEN cast(floor(sqrt(cast(sum_sq as double) " +
            "/ cast(n_samples as double)) * 1000) as bigint) ELSE 0 END"))
        .orderBy(col("file_id"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(CASE n_nationkey % 3 WHEN 0 THEN 8 WHEN 1 THEN 16
           |      ELSE 24 END as bigint) AS bits,
           |    cast(200 * (n_nationkey + 1) as bigint) AS n,
           |    cast(8 + (n_nationkey % 5) as bigint) AS h
           |  FROM nation
           |), ab AS (
           |  SELECT k, bits, n, h,
           |    CASE bits WHEN 8 THEN 40 + k WHEN 16 THEN 1000 + 50 * k
           |      ELSE 100000 + 5000 * k END AS a,
           |    CASE bits WHEN 8 THEN 10 + k % 8 WHEN 16 THEN 100 + k
           |      ELSE 10000 + 100 * k END AS bia
           |  FROM g
           |), ph AS (
           |  SELECT k, bits, n, a, bia, h,
           |    (n // (2 * h)) * h + least(n % (2 * h), h) AS n_plus
           |  FROM ab
           |), d AS (
           |  SELECT k, bits, n, a, bia, h, 2 * n_plus - n AS diff FROM ph
           |)
           |SELECT k AS file_id, bits, n AS n_samples,
           |  n * bia + a * diff AS sum_amp,
           |  n * (a * a + bia * bia) + 2 * a * bia * diff AS sum_sq,
           |  a + bia AS peak_abs,
           |  (n - 1) // h AS crossings,
           |  true AS valid,
           |  cast(floor(sqrt(cast(n * (a * a + bia * bia) + 2 * a * bia * diff
           |    as double) / cast(n as double)) * 1000) as bigint) AS rms_e3
           |FROM d ORDER BY file_id""".stripMargin))

  /** 4:2:2 / 4:4:0 JPEG DC statistics — the remaining rectangular
    * chroma-subsampling layouts (broadcast/video-derived stills are
    * typically 4:2:2): the generalized MCU loop decodes h x v luma
    * blocks per MCU with INDEPENDENT horizontal/vertical factors. Even
    * fixtures are 4:2:2 (2x1), odd are 4:4:0 (1x2), restart intervals
    * mix 0/1/2 — the Y closed form switches geometry per file, so a
    * transposed MCU raster or a wrong block count per MCU hash-fails.
    *
    * Scale: the parseAll narrow shape — one partition-mapped decode, no
    * shuffle.
    */
  private val multimodalJpeg422 = Q.media("jpeg422")(
    k => graft.operators.Multimodal.jpegDcSubPatternBytes(
      16 + k, 10 + (k % 7), restartEvery = k % 3,
      samp = if (k % 2 == 0) 0x21 else 0x12),
    (_, scanned) => jpegDcLevels(scanned),
    jpegDcOracle("CASE WHEN k % 2 = 0 THEN ((w + 15) // 16) * ((h + 7) // 8) * 2 " +
      "ELSE ((w + 7) // 8) * ((h + 15) // 16) * 2 END"))

  /** 4:1:1 JPEG DC statistics — the last common sampling layout that
    * still rejected (camera/DV-derived stills: luma 4x1 against 1x1
    * chroma, FOUR horizontally-adjacent Y blocks per MCU). The
    * generalized h x v MCU loop needed only the acceptance widened;
    * the Y closed form switches to the 32-pixel-wide MCU raster
    * (ceil(w/32) x ceil(h/8) x 4 blocks), so a decoder that mis-walks
    * the four-block run or miscounts edge-pad MCUs hash-fails. Restart
    * intervals mix 0/1/2 as in the other sampling tiers; exotic
    * layouts (1x4, 4x2, supersampled chroma) still reject —
    * JpegDcSpec pins both sides of the acceptance boundary and
    * cross-checks a 4:1:1 fixture against the JDK's full decode.
    *
    * Scale: the parseAll narrow shape — one partition-mapped decode, no
    * shuffle.
    */
  private val multimodalJpeg411 = Q.media("jpeg411")(
    k => graft.operators.Multimodal.jpegDcSubPatternBytes(
      16 + k, 10 + (k % 7), restartEvery = k % 3, samp = 0x41),
    (_, scanned) => jpegDcLevels(scanned),
    jpegDcOracle("((w + 31) // 32) * ((h + 7) // 8) * 4"))

  /** PROGRESSIVE (SOF2) JPEG DC statistics — the r16 verdict's top
    * missing tier: a large share of real web JPEGs are progressive, and
    * every one landed in the reject row. The decoder now walks the full
    * progressive scan script: the interleaved DC FIRST scan (diffs of
    * the point-transformed DC at successive approximation Al=1), SKIPS
    * the per-component AC scans through the 0xFF00-stuffing/RSTn
    * grammar (spectral selection means they never touch DC), and
    * applies the DC REFINEMENT scan's raw correction bits — exact
    * two's-complement reconstruction, so the oracle is the SAME closed
    * form as the sequential tiers. Rejects unless refinement completes
    * to Al=0 (reject-never-mis-decode, as for AC-refinement tiers).
    * Fixtures mix restart intervals 0/1/2 — restart markers renumber
    * from RST0 at each scan, so a decoder reusing the previous scan's
    * count hash-fails. JpegDcSpec cross-checks against the JDK's own
    * full progressive decode.
    *
    * Scale: the parseAll narrow shape — one partition-mapped decode, no
    * shuffle; the per-block DC store the refinement pass needs is
    * dimension-capped (16M blocks) against crafted headers.
    */
  private val multimodalJpegProg = Q.media("jpegprog")(
    k => graft.operators.Multimodal.jpegDcProgPatternBytes(
      16 + k, 10 + (k % 7), restartEvery = k % 3),
    (_, scanned) => jpegDcLevels(scanned),
    jpegDcOracle("((w + 7) // 8) * ((h + 7) // 8)"))

  /** GIF PIXEL-INDEX statistics — the second real CODEC family in the
    * multimodal ladder (LZW after the JPEG tier's Huffman/DCT): real
    * GIF87a/89a parsing (screen descriptor, color tables, 89a extension
    * blocks through their sub-block grammar) and a real LZW
    * decompression — variable code width LSB-first, CLEAR/EOI,
    * dictionary growth with the KwKwK case, width bumps, deferred
    * clear — folding exact integer stats over the decoded color
    * indices. Fixtures carry the deterministic period-32 index pattern
    * through REAL compression (multi-character dictionary entries, not
    * a literals-only stream), so a decoder that mis-handles the
    * encoder/decoder dictionary lag desyncs and hash-fails; GifLzwSpec
    * cross-checks pixel-for-pixel against the JDK's own GIF decode.
    *
    * Scale: the parseAll narrow shape — one partition-mapped decode,
    * no shuffle.
    */
  private val multimodalGifStats = Q.media("gifstats")(
    k => graft.operators.Multimodal.gifPatternBytes(16 + k, 10 + (k % 7),
      interlaced = k % 3 == 0),
    (s, scanned) => {
      graft.operators.Multimodal.gifStatsAll(scanned).toDF()
        .select(col("fileId").as("file_id"), col("width"), col("height"),
          col("nPixels").as("n_pixels"), col("sumIdx").as("sum_idx"),
          col("minIdx").as("min_idx"), col("maxIdx").as("max_idx"),
          col("valid"))
        .withColumn("mean_idx_e3", expr("(sum_idx * 1000) div n_pixels"))
        .orderBy(col("file_id"))
    },
    Some(s"""WITH $imageGeomSqlCtes, ds AS (
           |  SELECT k, w, h, w * h AS n_pixels,
           |    unnest(generate_series(0, w * h - 1)) AS j
           |  FROM g
           |), dd AS (
           |  SELECT k, w, h, n_pixels, ((7 * j) % 32) * 8 AS v FROM ds
           |), sm AS (
           |  SELECT k, w, h, n_pixels, cast(sum(v) as bigint) AS sum_idx,
           |    cast(min(v) as bigint) AS min_idx,
           |    cast(max(v) as bigint) AS max_idx
           |  FROM dd GROUP BY k, w, h, n_pixels
           |)
           |SELECT k AS file_id, w AS width, h AS height, n_pixels,
           |  sum_idx, min_idx, max_idx, true AS valid,
           |  (sum_idx * 1000) // n_pixels AS mean_idx_e3
           |FROM sm ORDER BY file_id""".stripMargin))

  /** ANIMATED-GIF census — the multi-frame half of the GIF tier (a
    * large share of real GIFs are animations; the single-frame decoder
    * stops at the first image): every frame is really LZW-decoded
    * ([[graft.operators.Multimodal.gifAnimStats]] walks ALL image
    * descriptors through the validated decoder, captures each frame's
    * graphic-control delay), and the file-level animation facts come
    * back: frame count, per-file pixel volume, the index fold across
    * every frame, and total duration in centiseconds. Fixtures carry
    * 2-5 REALLY-compressed frames with per-frame delays 10(f+1) cs, so
    * the closed form covers frames x pixels x delays — a decoder that
    * stops early, double-counts a frame, or misreads a GCE delay
    * hash-fails. GifLzwSpec pins the malformed-animation boundary
    * (truncated mid-frame, mismatched frame geometry: whole-file
    * reject, never a partial census).
    *
    * Scale: the parseAll narrow shape — one partition-mapped decode,
    * no shuffle; per-file cost is linear in total entropy bytes.
    */
  private val multimodalGifAnim = Q.media("gifanim")(
    k => graft.operators.Multimodal.gifAnimBytes(
      16 + (k % 10), 10 + (k % 5), 2 + (k % 4)),
    (s, scanned) => {
      graft.operators.Multimodal.gifAnimAll(scanned).toDF()
        .select(col("fileId").as("file_id"), col("nFrames").as("n_frames"),
          col("width"), col("height"), col("totalPx").as("total_px"),
          col("sumIdx").as("sum_idx"),
          col("sumDelayCs").as("sum_delay_cs"), col("valid"))
        .orderBy(col("file_id"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(16 + (n_nationkey % 10) as bigint) AS w,
           |    cast(10 + (n_nationkey % 5) as bigint) AS h,
           |    cast(2 + (n_nationkey % 4) as bigint) AS nf
           |  FROM nation
           |), px AS (
           |  SELECT k, w, h, nf, unnest(generate_series(0, w * h - 1)) AS p
           |  FROM g
           |), fs AS (
           |  SELECT k, w, h, nf,
           |    cast(sum(((7 * p) % 32) * 8) as bigint) AS fsum
           |  FROM px GROUP BY k, w, h, nf
           |)
           |SELECT k AS file_id, nf AS n_frames, w AS width, h AS height,
           |  nf * w * h AS total_px, nf * fsum AS sum_idx,
           |  (10 * nf * (nf + 1)) // 2 AS sum_delay_cs, true AS valid
           |FROM fs ORDER BY file_id""".stripMargin))

  // ---------------------------------------------------------------------
  // Two-stage MaxSim (IVF shortlist -> late-interaction re-rank)
  // ---------------------------------------------------------------------

  /** TWO-STAGE MaxSim — the production path `ns_sim_maxsim`'s scaladoc
    * promises, made a real query: candidates are first pruned to the
    * query's top-2 IVF cells (the same 16 fixed coarse centroids as
    * `ns_sim_ivf_recall`, scored fraction nprobe/C of the corpus), and
    * only the shortlist pays the 64-sub-dot MaxSim kernel. Each emitted
    * row carries `in_exact` — whether the two-stage pick is also in the
    * exhaustive MaxSim top-3 — so the query IS its own recall audit.
    *
    * Scale: assignment is one broadcast-centroid pass; the shortlist
    * join is cell-keyed; the exact side remains the declared audit and
    * at 100 TB only the shortlist path runs (drop the audit join, keep
    * the plan).
    */
  private val simMaxsimIvf = Q(
    (s, dir) => {
      val e = TS(s, dir, "embeddings")
        .withColumn("nrm", expr("scaled_dot(embedding, embedding)"))
      val ranked = ivfRanked(e)
      val assigned = ranked.where(col("arn") === 1)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
          col("cen_id").as("cell"))
        .localCheckpoint(true)
      val probes = ranked.where(col("arn") <= 2 && col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("cen_id").as("pcell"))
      val wTop = Window.partitionBy(col("q_id")).orderBy(col("score_fp").desc, col("c_id"))
      val twoStage = broadcast(probes)
        .join(assigned, col("pcell") === col("cell") && col("q_id") =!= col("c_id"))
        .withColumn("score_fp", expr("maxsim_score(q_emb, c_emb)"))
        .withColumn("rnk", row_number().over(wTop))
        .where(col("rnk") <= 3)
        .select(col("q_id"), col("rnk"), col("c_id"), col("score_fp"))
      val q = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      val exact = broadcast(q).join(c, col("q_id") =!= col("c_id"))
        .withColumn("score_fp", expr("maxsim_score(q_emb, c_emb)"))
        .withColumn("ern", row_number().over(wTop))
        .where(col("ern") <= 3)
        .select(col("q_id").as("eq"), col("c_id").as("ec"))
      twoStage.join(exact,
          col("q_id") === col("eq") && col("c_id") === col("ec"), "left")
        .withColumn("in_exact", col("ec").isNotNull)
        .select(col("q_id"), col("rnk"), col("c_id"), col("score_fp"),
          col("in_exact"))
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(s"""WITH e AS (
            |  SELECT vec_id, embedding,
            |    ${scaledDotSql("embedding", "embedding")} AS nrm
            |  FROM embeddings
            |), $ivfRankedSqlCtes, assigned AS (
            |  SELECT vec_id AS c_id, embedding AS c_emb, cen_id AS cell
            |  FROM ranked WHERE arn = 1
            |), probes AS (
            |  SELECT vec_id AS q_id, embedding AS q_emb, cen_id AS pcell
            |  FROM ranked WHERE arn <= 2 AND vec_id < 16
            |), ms AS (
            |  SELECT p.q_id, a.c_id, ${maxsimScoreSql("p.q_emb", "a.c_emb")} AS score_fp
            |  FROM probes p JOIN assigned a
            |    ON p.pcell = a.cell AND p.q_id <> a.c_id
            |), two AS (
            |  SELECT q_id, c_id, score_fp,
            |    row_number() OVER (PARTITION BY q_id
            |      ORDER BY score_fp DESC, c_id) AS rnk
            |  FROM ms
            |), $maxsimExactSqlCte
            |SELECT t.q_id, t.rnk, t.c_id, cast(t.score_fp as bigint) AS score_fp,
            |  ex.c_id IS NOT NULL AS in_exact
            |FROM two t LEFT JOIN ex ON ex.q_id = t.q_id AND ex.c_id = t.c_id
            |WHERE t.rnk <= 3
            |ORDER BY t.q_id, t.rnk""".stripMargin))

  // ---------------------------------------------------------------------
  // Per-source quality rank normalization
  // ---------------------------------------------------------------------

  /** PER-SOURCE RANK NORMALIZATION of quality scores — the calibration
    * step a mixer runs before a GLOBAL keep threshold: raw classifier
    * scores aren't comparable across domains (a mid-pack arxiv doc
    * outscores a top-decile forum post), so each document's score is
    * replaced by its percentile WITHIN its source and the gate applies
    * to that. The query reports, per source, how the global-threshold
    * and normalized-threshold decisions differ — the flip counts ARE
    * the bias the normalization removes.
    *
    * Determinism: the raw score is one floored logistic (the
    * threshold-sweep formula, exact e6 bigint); the percentile is the
    * CDF-minus definition — (docs with strictly smaller score) /
    * (n - 1) — which needs NO per-document tie-break: identical exact
    * integer arithmetic in both engines.
    *
    * Scale: no corpus-wide window — scores collapse to per-(source,
    * score) counts first, the cumulative runs over each source's
    * DISTINCT score values (bounded by the e6 grid, not the corpus),
    * and docs join back by (source, score) to pick up their rank. The
    * vocab-growth cumulative shape.
    */
  private val qualityRankNormalize = Q(
    (s, dir) => {
      val scored = TS(s, dir, "documents")
        .transform(qualityZ)
        .withColumn("score_fp",
          floor(lit(1000000.0) / (lit(1.0) + exp(-col("z")))).cast("long"))
        .select(col("doc_id"), col("source"), col("score_fp"))
      val sc = scored.groupBy(col("source"), col("score_fp"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col("source")).orderBy(col("score_fp"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranks = sc
        .withColumn("c_lt", coalesce(sum(col("c")).over(wCum), lit(0L)))
      val totals = scored.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      scored
        .join(ranks, Seq("source", "score_fp"))
        .join(broadcast(totals), Seq("source"))
        .withColumn("norm_e6", expr("(c_lt * 1000000) div (n_docs - 1)"))
        .withColumn("keep_global", col("score_fp") >= 500000L)
        .withColumn("keep_norm", col("norm_e6") >= 500000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep_global"), 1L).otherwise(0L)).as("kept_global"),
          sum(when(col("keep_norm"), 1L).otherwise(0L)).as("kept_norm"),
          sum(when(col("keep_norm") && !col("keep_global"), 1L).otherwise(0L))
            .as("flipped_on"),
          sum(when(col("keep_global") && !col("keep_norm"), 1L).otherwise(0L))
            .as("flipped_off"))
        .orderBy(col("source"))
    },
    Some(s"""WITH $qualityZSqlCtes, scored AS (
           |  SELECT doc_id, source,
           |    cast(floor(1000000.0 / (1.0 + exp(-z))) as bigint) AS score_fp
           |  FROM f
           |), sc AS (
           |  SELECT source, score_fp, count(*) AS c
           |  FROM scored GROUP BY source, score_fp
           |), ranks AS (
           |  SELECT source, score_fp,
           |    cast(coalesce(sum(c) OVER (PARTITION BY source ORDER BY score_fp
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) as bigint)
           |      AS c_lt
           |  FROM sc
           |), totals AS (
           |  SELECT source, count(*) AS n_docs FROM scored GROUP BY source
           |), dd AS (
           |  SELECT s.source, s.score_fp,
           |    (r.c_lt * 1000000) // (t.n_docs - 1) AS norm_e6,
           |    s.score_fp >= 500000 AS keep_global,
           |    (r.c_lt * 1000000) // (t.n_docs - 1) >= 500000 AS keep_norm
           |  FROM scored s
           |  JOIN ranks r ON r.source = s.source AND r.score_fp = s.score_fp
           |  JOIN totals t ON t.source = s.source
           |)
           |SELECT source, count(*) AS n_docs,
           |  cast(sum(CASE WHEN keep_global THEN 1 ELSE 0 END) as bigint)
           |    AS kept_global,
           |  cast(sum(CASE WHEN keep_norm THEN 1 ELSE 0 END) as bigint)
           |    AS kept_norm,
           |  cast(sum(CASE WHEN keep_norm AND NOT keep_global THEN 1 ELSE 0 END)
           |    as bigint) AS flipped_on,
           |  cast(sum(CASE WHEN keep_global AND NOT keep_norm THEN 1 ELSE 0 END)
           |    as bigint) AS flipped_off
           |FROM dd GROUP BY source ORDER BY source""".stripMargin))

  // ---------------------------------------------------------------------
  // Histogram-matched (distribution-shaping) sampling
  // ---------------------------------------------------------------------

  /** HISTOGRAM-MATCHED SAMPLING — reshape the corpus's length
    * distribution toward a uniform target over 5 length bins by
    * per-bin acceptance sampling (the dataset-shaping move behind "too
    * many short docs" rebalancing): each bin keeps documents with
    * probability `min(1, target_share / actual_share)`, realized
    * DETERMINISTICALLY by an md5 hash coin (the [[NorthStarQueries]]
    * sampleHash pattern — re-runs keep the same documents). Reports
    * per bin the acceptance rate, realized keeps, and the before/after
    * distribution shares — the after column converging toward 200000
    * ppm per bin (up to bins smaller than target, which cap at 1e6).
    *
    * Determinism: shares and acceptance thresholds are exact integer
    * ppm; the coin is the md5 32-bit prefix mod 1e6.
    *
    * Scale: one bin-count aggregate broadcast back onto a map-only
    * coin pass, then a bin-keyed rollup — no windows, no driver state.
    */
  private val sampleHistogramMatch = Q(
    (s, dir) => {
      val binned = TS(s, dir, "documents")
        .withColumn("bin",
          least(expr("size(split(text, ' ')) div 20"), lit(4L)).cast("long"))
      val counts = binned.groupBy(col("bin")).agg(count(lit(1)).as("n_bin"))
      val tot = counts.agg(sum(col("n_bin")).as("n_total"))
      val rates = counts.crossJoin(broadcast(tot))
        .withColumn("accept_ppm",
          least(lit(1000000L), expr("(n_total * 1000000) div (5 * n_bin)")))
      binned.join(broadcast(rates), Seq("bin"))
        .withColumn("coin", expr(
          "cast(conv(substring(md5(concat('hm:', cast(doc_id as string))), 1, 8), 16, 10) as bigint) % 1000000"))
        .withColumn("kept", col("coin") < col("accept_ppm"))
        .groupBy(col("bin"))
        .agg(first(col("n_bin")).as("n_bin"), first(col("n_total")).as("n_total"),
          first(col("accept_ppm")).as("accept_ppm"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("before_ppm", expr("(n_bin * 1000000) div n_total"))
        .select(col("bin"), col("n_bin"), col("accept_ppm"), col("n_kept"),
          col("before_ppm"))
        .orderBy(col("bin"))
        .localCheckpoint(true)
        .withColumn("after_ppm", expr(
          "(n_kept * 1000000) div (sum(n_kept) over ())"))
    },
    Some("""WITH b AS (
           |  SELECT doc_id,
           |    least(len(string_split(text, ' ')) // 20, 4) AS bin
           |  FROM documents
           |), c AS (
           |  SELECT bin, count(*) AS n_bin FROM b GROUP BY bin
           |), t AS (SELECT cast(sum(n_bin) as bigint) AS n_total FROM c
           |), r AS (
           |  SELECT bin, n_bin, n_total,
           |    least(1000000, (n_total * 1000000) // (5 * n_bin)) AS accept_ppm
           |  FROM c, t
           |), k AS (
           |  SELECT b.bin, r.n_bin, r.n_total, r.accept_ppm,
           |    cast(sum(CASE WHEN cast('0x' || substr(md5('hm:' || cast(doc_id as varchar)), 1, 8)
           |      as bigint) % 1000000 < r.accept_ppm THEN 1 ELSE 0 END) as bigint)
           |      AS n_kept
           |  FROM b JOIN r USING (bin)
           |  GROUP BY b.bin, r.n_bin, r.n_total, r.accept_ppm
           |)
           |SELECT cast(bin as bigint) AS bin, cast(n_bin as bigint) AS n_bin,
           |  cast(accept_ppm as bigint) AS accept_ppm, n_kept,
           |  (n_bin * 1000000) // n_total AS before_ppm,
           |  (n_kept * 1000000) // cast((SELECT sum(n_kept) FROM k) as bigint)
           |    AS after_ppm
           |FROM k ORDER BY bin""".stripMargin))

  // ---------------------------------------------------------------------
  // Distinct-n diversity profile (self-repetition audit)
  // ---------------------------------------------------------------------

  /** DISTINCT-N DIVERSITY per source — the distinct-1/2/3 metric
    * (Li et al. 2016) generated-data audits watch: the share of n-gram
    * OCCURRENCES that are distinct types. A synthetic or templated
    * source shows low distinct-2/3 (the same bigrams recur) long
    * before its unigram mix looks wrong; the companion `rep_ppm`
    * (1 - distinct share) is the direct self-repetition rate.
    *
    * Determinism: pure counts and integer ppm divisions.
    *
    * Scale: ONE text pass emits (source, n, gram) for n in 1..3 via a
    * single inline expansion (the lsh_tune one-pass trick); the
    * distinct collapse is a (source, n, gram)-keyed count with
    * map-side partials, then a (source, n) rollup — shuffles carry
    * gram counts, never documents.
    */
  private val profileDistinctNgrams = Q(
    (s, dir) => {
      val grams = TS(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .select(col("source"), explode(expr(
          // if-guard: Spark's sequence(1, 0) counts DOWN — a doc shorter
          // than n must contribute an empty array, as generate_series does
          """flatten(transform(sequence(1, 3), n ->
            |  if(size(w) < n, array(),
            |    transform(sequence(1, size(w) - n + 1),
            |      i -> struct(n AS n, array_join(slice(w, i, n), ' ') AS g)))))"""
            .stripMargin)).as("e"))
        .select(col("source"), col("e.n").as("n"), col("e.g").as("g"))
        .where(length(col("g")) > 0)
      grams.groupBy(col("source"), col("n"), col("g"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"), col("n"))
        .agg(sum(col("c")).as("n_grams"), count(lit(1)).as("n_distinct"))
        .withColumn("distinct_ppm", expr("(n_distinct * 1000000) div n_grams"))
        .withColumn("rep_ppm", lit(1000000L) - col("distinct_ppm"))
        .select(col("source"), col("n").cast("long").as("n"), col("n_grams"),
          col("n_distinct"), col("distinct_ppm"), col("rep_ppm"))
        .orderBy(col("source"), col("n"))
    },
    Some("""WITH wd AS (
           |  SELECT source, string_split(text, ' ') AS w FROM documents
           |), g AS (
           |  SELECT source, n, unnest(list_transform(
           |    generate_series(1, len(w) - n + 1),
           |    i -> array_to_string(list_slice(w, i, i + n - 1), ' '))) AS g
           |  FROM wd, (SELECT unnest(generate_series(1, 3)) AS n)
           |  WHERE len(w) >= n
           |), d AS (
           |  SELECT source, n, g, count(*) AS c FROM g
           |  WHERE len(g) > 0 GROUP BY source, n, g
           |), a AS (
           |  SELECT source, n, cast(sum(c) as bigint) AS n_grams,
           |    cast(count(*) as bigint) AS n_distinct
           |  FROM d GROUP BY source, n
           |)
           |SELECT source, cast(n as bigint) AS n, n_grams, n_distinct,
           |  (n_distinct * 1000000) // n_grams AS distinct_ppm,
           |  1000000 - (n_distinct * 1000000) // n_grams AS rep_ppm
           |FROM a ORDER BY source, n""".stripMargin))

  // ---------------------------------------------------------------------
  // Exact duplicated-span dedup (the ExactSubstr class)
  // ---------------------------------------------------------------------

  /** Duplicated-span detection window: a span counts as duplicated when
    * a run of at least this many consecutive tokens recurs anywhere in
    * the corpus (the published method uses 50 tokens over BPE ids at
    * crawl scale; 8 matches the fixture's document lengths and the
    * memorization operator's n-gram scale).
    */
  private val XS_L = 8

  /** EXACT duplicated-span dedup — the ExactSubstr method (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better"):
    * find every maximal token span of length >= L that occurs more than
    * once in the corpus, and attribute each to its globally-first
    * occurrence so a keep-first rewrite (the `ns_dedup_rewrite`
    * composition) can drop the repeats. Exactness without a suffix
    * array: a position is covered by a duplicated span of length >= L
    * iff some L-gram window containing it recurs, so duplicated L-gram
    * start positions, island-merged per document (coverage union:
    * merge when `next_start <= prev_end + 1`), reconstruct the maximal
    * spans exactly. Per span: token extent, the covering L-gram count,
    * and `is_first` — whether this document at this offset is the
    * globally-first site of the span's LEADING gram (min packed
    * (doc_id, pos), the deterministic keep-first owner).
    *
    * Determinism: gram identity is md5 of the joined tokens (the
    * `ns_dedup_rewrite` collision-free-by-contract identity — 32-char
    * shuffle keys, half the sha256 bytes the r15 frame moved);
    * first-site attribution is an exact
    * bigint min over `doc_id * 2^32 + pos` packed keys — exact for any
    * document under 2^32 tokens (book-length docs included; the r15
    * `1e6` packing could mis-attribute owners past 1M tokens/doc) and
    * doc_id < 2^31; the island running-max is integer arithmetic over
    * a doc-keyed window.
    *
    * Scale: one tokenize pass emits (site, gram-hash) rows; gram stats
    * are a partial-aggregable keyed count (hot boilerplate grams
    * partial-aggregate map-side, never collect on one reducer as a
    * window would); the site⋈stats join is gram-keyed — NO corpus
    * self-join, the containment/inverted-index shape; the island merge
    * windows only over each doc's DUPLICATED sites (doc-length
    * bounded). The L-token join strings never shuffle — only their
    * 32-char hashes do.
    */
  /** The shared duplicated-span frame — columns (doc_id, span_start,
    * span_end, span_tokens, n_grams, owner_fk, is_first); see
    * [[dedupExactSubstr]] for semantics. Consumed by the span inventory
    * and the source-flow rollup.
    */
  private def exactSubstrSpans(s: SparkSession, dir: String): DataFrame =
    substrSpans(substrDupSites(substrGrams(TS(s, dir, "documents"), XS_L)), XS_L)

  /** Island-merge duplicated L-gram sites (`doc_id`, `pos0`, `fk`, the
    * site's gram's keep-first key) into each document's maximal
    * duplicated spans: a site starts a new island unless it lies within
    * one token of the running end of the sites before it. Columns
    * (doc_id, span_start, span_end, span_tokens, n_grams, owner_fk,
    * is_first). [[substrSpansSqlCtes]] is the DuckDB twin.
    */
  private def substrSpans(sites: DataFrame, L: Int): DataFrame = {
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos0"))
    sites
      .withColumn("prev_end", max(col("pos0") + lit(L - 1))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_isl",
        when(col("prev_end").isNull || col("pos0") > col("prev_end") + 1, 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("new_isl")).over(wOrd))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos0")).as("span_start"),
        (max(col("pos0")) + lit(L - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"),
        min_by(col("fk"), col("pos0")).as("owner_fk"))
      .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
        col("span_end"),
        (col("span_end") - col("span_start") + 1).cast("long").as("span_tokens"),
        col("n_grams"), col("owner_fk"),
        (col("owner_fk") === col("doc_id") * lit(4294967296L) + col("span_start"))
          .as("is_first"))
  }

  /** The duplicated sites of a gram stream (`doc_id`, `pos0`, `g1`,
    * `g2`): every site whose gram occurs at least twice, with `fk`, the
    * gram's minimal packed `doc_id * 2^32 + pos0` key.
    *
    * r22 (guide §2.4 — remove shuffles outright): every gram row needs
    * its own group's (count, min fk), so the groupBy + join-back pair
    * (two gram-scale exchanges + an SMJ + a checkpoint to stop the
    * double-scan) collapses into entire-frame window aggregates over
    * ONE gram-keyed exchange. No orderBy on the window: the whole group
    * is the frame, computed once per group.
    */
  private def substrDupSites(g: DataFrame): DataFrame = {
    val wG = Window.partitionBy(col("g1"), col("g2"))
    g.withColumn("c", count(lit(1)).over(wG))
      .withColumn("fk", min(col("doc_id") * lit(4294967296L) + col("pos0"))
        .over(wG))
      .where(col("c") >= 2)
      .select(col("doc_id"), col("pos0"), col("fk"))
  }

  /** DuckDB twin of [[substrDupSites]] and [[substrSpans]] over a CTE
    * `g` (doc_id, pos0, gk) of L-grams — the CTEs `stats`, `sites`,
    * `isl` and `sp(doc_id, isl, span_start, span_end, n_grams,
    * owner_fk)`.
    */
  private def substrSpansSqlCtes(L: Int): String =
    s"""stats AS (
       |  SELECT gk, count(*) AS c, min(doc_id * 4294967296 + pos0) AS fk
       |  FROM g GROUP BY gk HAVING count(*) >= 2
       |), sites AS (
       |  SELECT g.doc_id, g.pos0, s.fk FROM g JOIN stats s USING (gk)
       |), isl AS (
       |  SELECT doc_id, pos0, fk,
       |    cast(sum(CASE WHEN prev_end IS NULL OR pos0 > prev_end + 1
       |      THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos0)
       |      as bigint) AS isl
       |  FROM (
       |    SELECT doc_id, pos0, fk,
       |      max(pos0 + ${L - 1}) OVER (PARTITION BY doc_id ORDER BY pos0
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |    FROM sites)
       |), sp AS (
       |  SELECT doc_id, isl, min(pos0) AS span_start,
       |    max(pos0) + ${L - 1} AS span_end,
       |    count(*) AS n_grams, arg_min(fk, pos0) AS owner_fk
       |  FROM isl GROUP BY doc_id, isl
       |)""".stripMargin

  /** DuckDB twin of [[exactSubstrSpans]] — CTE block ending in
    * `sp(doc_id, isl, span_start, span_end, n_grams, owner_fk)`.
    */
  private val exactSubstrSpansSql: String =
    s"""wd AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= $XS_L
       |), g AS (
       |  SELECT doc_id, i - 1 AS pos0,
       |    md5(array_to_string(w[i:i+${XS_L - 1}], ' ')) AS gk
       |  FROM (SELECT doc_id, w,
       |          unnest(generate_series(1, len(w) - ${XS_L - 1})) AS i
       |        FROM wd)
       |), ${substrSpansSqlCtes(XS_L)}""".stripMargin

  private val dedupExactSubstr = Q(
    (s, dir) =>
      exactSubstrSpans(s, dir)
        .drop("owner_fk")
        .orderBy(col("doc_id"), col("span_start")),
    Some(s"""WITH $exactSubstrSpansSql
            |SELECT doc_id, cast(span_start as bigint) AS span_start,
            |  cast(span_end as bigint) AS span_end,
            |  cast(span_end - span_start + 1 as bigint) AS span_tokens,
            |  cast(n_grams as bigint) AS n_grams,
            |  owner_fk = doc_id * 4294967296 + span_start AS is_first
            |FROM sp ORDER BY doc_id, span_start""".stripMargin))

  /** SOURCE-LEVEL DUPLICATION FLOW — the provenance rollup over
    * [[exactSubstrSpans]]: every NON-first span occurrence is an edge
    * from the source that published the span first (the owner doc's
    * source) to the source repeating it; aggregated to (from_source,
    * to_source) with span counts and token volumes, it answers "who
    * copies from whom" — the read behind source trust weights and
    * crawl-order decisions (self-edges = within-source boilerplate).
    *
    * Determinism: pure integer rollups over the exact span frame; the
    * owner doc is `owner_fk div 2^32` (the packed key).
    *
    * Scale: the span frame's shape (gram-keyed, no corpus self-join)
    * plus two doc_id-keyed joins onto the (doc_id, source) projection —
    * span rows are duplication-sized, far below corpus-sized, so both
    * joins broadcast their span side at any corpus scale.
    */
  private val dedupSpanFlow = Q(
    (s, dir) => {
      val src = TS(s, dir, "documents").select(col("doc_id"), col("source"))
      val spans = exactSubstrSpans(s, dir)
        .where(!col("is_first"))
        .withColumn("owner_doc", expr("owner_fk div 4294967296"))
      spans
        .join(src.withColumnRenamed("source", "to_source"), Seq("doc_id"))
        .join(src.select(col("doc_id").as("owner_doc"),
          col("source").as("from_source")), Seq("owner_doc"))
        .groupBy(col("from_source"), col("to_source"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_tokens")).as("dup_tokens"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("from_source"), col("to_source"))
    },
    Some(s"""WITH $exactSubstrSpansSql, nf AS (
            |  SELECT doc_id, span_start,
            |    span_end - span_start + 1 AS span_tokens,
            |    owner_fk // 4294967296 AS owner_doc
            |  FROM sp WHERE owner_fk <> doc_id * 4294967296 + span_start
            |)
            |SELECT f.source AS from_source, t.source AS to_source,
            |  cast(count(*) as bigint) AS n_spans,
            |  cast(sum(nf.span_tokens) as bigint) AS dup_tokens,
            |  cast(count(DISTINCT nf.doc_id) as bigint) AS n_docs
            |FROM nf
            |JOIN documents t ON t.doc_id = nf.doc_id
            |JOIN documents f ON f.doc_id = nf.owner_doc
            |GROUP BY f.source, t.source
            |ORDER BY from_source, to_source""".stripMargin))

  /** INCREMENTAL ExactSubstr gate — the r16 verdict's item 3: the
    * exact-span family was batch-only, so every arrival cohort forced a
    * full-corpus recompute. This op closes it with the persisted-store
    * discipline of [[simIvfAppend]]: the gram-stats store (gk ->
    * base count, base keep-first key) is BUILT once from the
    * already-ingested corpus (doc_id % 4 != 0) and written to parquet;
    * the ARRIVALS (doc_id % 4 == 0) then probe ONLY the store — their
    * grams join store rows, total count = arrival count + store count,
    * keep-first key = min(arrival fk, store fk) — and the proven island
    * merge reconstructs each arrival document's maximal duplicated
    * spans. The base corpus is never re-scanned at probe time.
    *
    * The oracle is the FULL-corpus span frame restricted to arrival
    * docs — the strongest possible contract: a hash match PROVES the
    * incremental computation equals the full recompute exactly (an
    * arrival site's duplication status and owner depend only on its
    * own gram's corpus-wide count and minimal site key, both of which
    * the store + arrival-side aggregate reconstruct exactly).
    *
    * Determinism: the packed `doc_id*2^32 + pos` keys and integer
    * islands of the span family; min() over packed keys commutes with
    * the base/arrival split.
    *
    * Scale: this is how span dedup tracks a growing corpus at 100 TB —
    * per-cohort work is one gram pass over the ARRIVALS plus a
    * gk-keyed join against the store (gram-partitioned, the GIN-index
    * shape); after gating, the cohort's own gram stats merge into the
    * store by the same keyed append ([[simIvfAppend]]'s discipline),
    * keeping the next probe exact. CurationSpec proves the sequential
    * two-cohort probe+append protocol: cross-cohort duplicates are
    * caught with correct first-owner attribution, the probe leaves the
    * store byte-identical, and a replayed probe returns an identical
    * frame.
    */
  /** L-gram stream of a documents frame — (doc_id, pos0, g1, g2).
    *
    * r22 (guide §2.3/§4): gram identity is INTERNAL (grouped, joined,
    * then dropped — no output column carries it), so instead of an
    * md5-hex STRING key (per gram: L-token array_join + md5 + 32-char
    * hex, then string sort/hash keys through every exchange) it is a
    * 128-bit pair of xxhash64 longs over the token slice itself. Bare
    * POSITIONS are exploded and the native `gram_hash` (== xxhash64 of
    * the slice, bit for bit) hashes the L-element window in place in
    * whole-stage codegen; the HOF lambda form evaluated slice/hash
    * interpreted (~20 us/gram measured; the hash itself is
    * nanoseconds). Distinct seeds give two different 64-bit hashes;
    * being one hash function over the same input, they are not
    * provably independent, so the pair's 128-bit collision odds are
    * assumed rather than derived. The oracle twins keep md5 — outputs
    * agree unless BOTH hashes collide on real data (checked
    * bit-identical at all 3 SFs).
    */
  private[graft] def substrGrams(df: DataFrame, L: Int): DataFrame = df
    .select(col("doc_id"), split(col("text"), " ").as("w"))
    .where(size(col("w")) >= L)
    .select(col("doc_id"), col("w"),
      explode(expr(s"sequence(0, size(w) - $L)")).as("pos0"))
    .select(col("doc_id"), col("pos0"),
      expr(s"gram_hash(w, pos0, $L, ${GramHash.DefaultSeed}L)").as("g1"),
      expr(s"gram_hash(w, pos0, $L, ${GramHash.AltSeed}L)").as("g2"))

  /** Gram-stats rows for the persisted store — (g1, g2, c, fk);
    * mergeable (counts sum, keep-first keys min), so cohort appends
    * compose.
    */
  private[graft] def substrGramStats(df: DataFrame, L: Int): DataFrame =
    substrGrams(df, L)
      .groupBy(col("g1"), col("g2"))
      .agg(count(lit(1)).as("c"),
        min(col("doc_id") * lit(4294967296L) + col("pos0")).as("fk"))

  /** Probe a cohort of ARRIVALS against the persisted gram-stats store
    * (possibly multi-row per gk after appends — aggregated here by the
    * mergeable (sum, min) fold) and reconstruct each arrival doc's
    * maximal duplicated spans. The base corpus is never re-scanned.
    */
  private[graft] def substrIncrProbe(arrivals: DataFrame, store: DataFrame,
      L: Int): DataFrame = {
    // r22 (guide §2.4, the wave-3 window fold): every arrival gram row
    // needs its own gram's ARRIVAL stats (count, min key), so they ride
    // the one gram-keyed exchange as entire-frame window aggregates and
    // each row joins the store directly — the arrival self-aggregate,
    // its join-back, and the two-consumer checkpoint are gone. The
    // store join itself stays (a different table, the GIN-index probe
    // shape); the window's gram-keyed sort feeds the SMJ's ordering
    // requirement, so no extra exchange appears. Row-level values are
    // the r17 semantics verbatim: total = arr_c + base_c, keep-first =
    // least(arr_fk, base_fk) with the store side absent -> arrival key.
    val storeAgg = store.groupBy(col("g1"), col("g2"))
      .agg(sum(col("c")).as("base_c"), min(col("fk")).as("base_fk"))
    val wG = Window.partitionBy(col("g1"), col("g2"))
    val sites = substrGrams(arrivals, L)
      .withColumn("arr_c", count(lit(1)).over(wG))
      .withColumn("arr_fk", min(col("doc_id") * lit(4294967296L)
        + col("pos0")).over(wG))
      .join(storeAgg, Seq("g1", "g2"), "left_outer")
      .na.fill(0L, Seq("base_c"))
      .where(col("arr_c") + col("base_c") >= 2)
      .select(col("doc_id"), col("pos0"),
        when(col("base_fk").isNull, col("arr_fk"))
          .otherwise(least(col("arr_fk"), col("base_fk"))).as("fk"))
    substrSpans(sites, L)
  }

  private val dedupSubstrIncr = Q.scratch("substrstore")(
    (s, dir, base) => {
      val L = XS_L
      val docs = TS(s, dir, "documents")
      // BUILD: the persisted gram-stats store over the ingested corpus
      substrGramStats(docs.where(col("doc_id") % 4 =!= 0), L)
        .write.mode("overwrite").parquet(base)
      // PROBE: arrivals touch their own grams + the store, never the
      // base corpus
      substrIncrProbe(docs.where(col("doc_id") % 4 === 0),
          s.read.parquet(base), L)
        .drop("owner_fk")
        .orderBy(col("doc_id"), col("span_start"))
    },
    Some(s"""WITH $exactSubstrSpansSql
            |SELECT doc_id, cast(span_start as bigint) AS span_start,
            |  cast(span_end as bigint) AS span_end,
            |  cast(span_end - span_start + 1 as bigint) AS span_tokens,
            |  cast(n_grams as bigint) AS n_grams,
            |  owner_fk = doc_id * 4294967296 + span_start AS is_first
            |FROM sp WHERE doc_id % 4 = 0
            |ORDER BY doc_id, span_start""".stripMargin))

  // ---------------------------------------------------------------------
  // ExactSubstr over BPE token IDS (the published method's native unit)
  // ---------------------------------------------------------------------

  /** EXACT duplicated-span dedup over BPE TOKEN IDS — the published
    * ExactSubstr method's native formulation (Lee et al. 2022 operate
    * at L≈50 over BPE ids, not words): the corpus is tokenized with
    * the SAME learned top-20 merge table `ns_text_bpe_apply` uses,
    * every token string maps to a dense integer id (the tokenizer's
    * vocabulary), and the [[exactSubstrSpans]] frame runs over each
    * document's id STREAM at L=20 — proving the span machinery is
    * tokenizer-agnostic: grams are hashes of id sequences, islands
    * merge id positions, keep-first attribution packs (doc, id-pos).
    *
    * Determinism: the merge table, fold-chain tokenize, and dense-rank
    * id assignment are the proven exact components; gram identity is
    * sha256 of '-'-joined ids; everything downstream is the exact span
    * frame (packed 2^32 keys, integer islands).
    *
    * Scale: tokenization is the two-level vocabulary trick (the fold
    * chain runs per DISTINCT word); the id table is a vocabulary-
    * bounded window (tokenizer vocabularies are 2^15..2^18 — broadcast
    * class, never corpus-sized); the per-doc position stitch windows
    * within each document; the gram frame is the proven
    * no-corpus-self-join shape, now over ~4x the word gram count
    * (ids per word > 1) — the declared cost of id-level exactness.
    *
    * Parameterized over L (r17): `ns_dedup_exact_substr_bpe` keeps the
    * r16 L=20 point; `ns_dedup_exact_substr_bpe50` is the PUBLISHED
    * operating point (Lee et al. run ExactSubstr at L≈50 BPE ids) —
    * the same plan, fewer/longer grams (per-doc gram count shrinks by
    * L−1, gram payloads are md5 either way), anchored at both bench
    * tiers to price the L axis.
    */
  private def bpeSpanQ(L: Int) = Q(
    (s, dir) => {
      val m = bpeRulePivot(s, dir)
      val words = TS(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " "))
          .as(Seq("wpos", "w")))
        .where(length(col("w")) > 0)
      val vocabToks = words.select(col("w")).distinct()
        .crossJoin(broadcast(m))
        .select(col("w"), expr(bpeApplyExpr).as("toks"))
        .localCheckpoint(true) // two consumers: id table + the stream
      // dense ids by global token order WITHOUT a single-reducer window:
      // the ns_corpus_shuffle block decomposition — the first char is a
      // PREFIX of the sort key, so block-major order IS the global
      // order; ranks are per-block windows, block bases a <= alphabet-
      // sized cumulative sum (ids identical to row_number over the
      // unpartitioned orderBy — the r16 verdict's word-vocab ceiling,
      // closed structurally)
      val tid = {
        val toks = vocabToks.select(explode(col("toks")).as("tok")).distinct()
          .withColumn("blk", substring(col("tok"), 1, 1))
        val local = toks.withColumn("rl", row_number()
          .over(Window.partitionBy(col("blk")).orderBy(col("tok"))))
        val bases = local.groupBy(col("blk")).agg(count(lit(1)).as("cnt"))
          .withColumn("base", coalesce(sum(col("cnt"))
            .over(Window.orderBy(col("blk"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("blk"), col("base"))
        local.join(broadcast(bases), Seq("blk"))
          .select(col("tok"), (col("base") + col("rl")).cast("long").as("id"))
      }
      val seq0 = words.join(vocabToks, Seq("w"))
        .select(col("doc_id"), col("wpos"),
          posexplode(col("toks")).as(Seq("tpos", "tok")))
        .join(tid, Seq("tok"))
      val ids = seq0.groupBy(col("doc_id"))
        .agg(expr(
          "transform(sort_array(collect_list(struct(wpos, tpos, id))), x -> x.id)")
          .as("ids"))
      // r22 (guide §2.3/§4/§2.5): gram identity is internal — the md5
      // over a '-'-joined string of L id casts (per gram: 50 casts, a
      // ~150-char concat, md5, 32-char hex) becomes the two-seed
      // xxhash64 pair over the raw id slice (see substrGrams;
      // hashed in codegen after the explode). The ids aggregate is also
      // round-robined to the session parallelism first: AQE's
      // byte-based coalescing had shrunk the 5000-doc frame to ~10
      // partitions, running the whole gram explode+hash on a third of
      // the cores (the trigram prefix-table fix, same mechanism).
      val g = ids.where(size(col("ids")) >= L)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("ids"),
          explode(expr(s"sequence(0, size(ids) - $L)")).as("pos0"))
        .select(col("doc_id"), col("pos0"),
          expr(s"gram_hash(ids, pos0, $L, ${GramHash.DefaultSeed}L)").as("g1"),
          expr(s"gram_hash(ids, pos0, $L, ${GramHash.AltSeed}L)").as("g2"))
      substrSpans(substrDupSites(g), L)
        .withColumnRenamed("span_tokens", "span_ids")
        .drop("owner_fk")
        .orderBy(col("doc_id"), col("span_start"))
    },
    Some(s"""WITH $bpeMergeSqlCtes, m AS (
            |  SELECT $bpePivotColsSql FROM merges
            |), wt AS (
            |  SELECT doc_id, i AS wpos, ws[i] AS w
            |  FROM (SELECT doc_id, string_split(text, ' ') AS ws,
            |          unnest(generate_series(1, len(string_split(text, ' '))))
            |            AS i
            |        FROM documents)
            |  WHERE len(ws[i]) > 0
            |), vocab AS (SELECT DISTINCT w FROM wt
            |), vt AS (
            |  SELECT w, $bpeApplySql AS toks FROM vocab, m
            |), tid AS (
            |  SELECT tok, cast(row_number() OVER (ORDER BY tok) as bigint)
            |    AS id
            |  FROM (SELECT DISTINCT unnest(toks) AS tok FROM vt)
            |), seq0 AS (
            |  SELECT doc_id, wpos, ti AS tpos, toks[ti] AS tok
            |  FROM (SELECT wt.doc_id, wt.wpos, vt.toks,
            |          unnest(generate_series(1, len(vt.toks))) AS ti
            |        FROM wt JOIN vt USING (w))
            |), ids AS (
            |  SELECT doc_id, list(id ORDER BY wpos, tpos) AS ids
            |  FROM seq0 JOIN tid USING (tok)
            |  GROUP BY doc_id
            |), g AS (
            |  SELECT doc_id, i - 1 AS pos0,
            |    md5(array_to_string(list_transform(
            |      list_slice(ids, i, i + ${L - 1}), x -> cast(x AS varchar)), '-'))
            |      AS gk
            |  FROM (SELECT doc_id, ids,
            |          unnest(generate_series(1, len(ids) - ${L - 1})) AS i
            |        FROM ids WHERE len(ids) >= $L)
            |), ${substrSpansSqlCtes(L)}
            |SELECT doc_id, cast(span_start as bigint) AS span_start,
            |  cast(span_end as bigint) AS span_end,
            |  cast(span_end - span_start + 1 as bigint) AS span_ids,
            |  cast(n_grams as bigint) AS n_grams,
            |  owner_fk = doc_id * 4294967296 + span_start AS is_first
            |FROM sp ORDER BY doc_id, span_start""".stripMargin))

  private val dedupExactSubstrBpe = bpeSpanQ(20)
  private val dedupExactSubstrBpe50 = bpeSpanQ(50)

  // ---------------------------------------------------------------------
  // UNK-rate curve (vocabulary-budget coverage)
  // ---------------------------------------------------------------------

  /** UNK-RATE CURVE — token coverage under a vocabulary budget: for
    * k in {100, 1000, 10000}, the share of corpus token OCCURRENCES
    * covered by the k most frequent types, and the complementary UNK
    * rate a word-level tokenizer with that budget would emit. The
    * classic vocab-size tuning read (BPE budgets train against exactly
    * this curve).
    *
    * Determinism: coverage at budget k needs NO term-level tie-break —
    * equally-frequent types are interchangeable (they contribute the
    * same count), so the exact coverage is full frequency levels above
    * the cutoff plus `(k − terms_above) × cutoff_count` at it.
    *
    * Scale: no term-level global sort — term counts collapse to the
    * COUNT-OF-COUNTS frame (one row per distinct frequency value,
    * heavy-tail bounded), the per-budget inclusion is a tiny broadcast
    * join over those levels, and everything is partial-aggregable up
    * to that frame.
    */
  private val textUnkRate = Q(
    (s, dir) => {
      val tf = TS(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("t"))
        .where(length(col("t")) > 0)
        .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      val cc = tf.groupBy(col("cnt")).agg(count(lit(1)).as("nt"))
      val wOrd = Window.orderBy(col("cnt").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val lev = cc
        .withColumn("before", coalesce(sum(col("nt")).over(wOrd), lit(0L)))
        .localCheckpoint(true)
      val tot = lev.agg(sum(col("cnt") * col("nt")).as("total_tokens"),
        sum(col("nt")).as("n_terms"))
      val ks = s.range(0, 3).select(
        expr("element_at(array(100L, 1000L, 10000L), cast(id + 1 as int))").as("k"))
      ks.join(lev, col("before") < col("k"), "left")
        .withColumn("take", least(col("nt"), col("k") - col("before")))
        .groupBy(col("k"))
        .agg(coalesce(sum(col("take") * col("cnt")), lit(0L)).as("covered_tokens"),
          coalesce(sum(col("take")), lit(0L)).as("terms_used"))
        .crossJoin(broadcast(tot))
        .select(col("k"), least(col("k"), col("n_terms")).as("vocab_k"),
          col("terms_used"), col("covered_tokens"),
          (col("total_tokens") - col("covered_tokens")).as("unk_tokens"),
          expr("((total_tokens - covered_tokens) * 1000000) div total_tokens")
            .as("unk_ppm"))
        .orderBy(col("k"))
    },
    Some("""WITH tf AS (
           |  SELECT t, cast(count(*) as bigint) AS cnt FROM (
           |    SELECT unnest(string_split(text, ' ')) AS t FROM documents
           |  ) WHERE len(t) > 0 GROUP BY t
           |), cc AS (
           |  SELECT cnt, cast(count(*) as bigint) AS nt FROM tf GROUP BY cnt
           |), lev AS (
           |  SELECT cnt, nt,
           |    cast(coalesce(sum(nt) OVER (ORDER BY cnt DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) as bigint)
           |      AS before
           |  FROM cc
           |), tot AS (
           |  SELECT cast(sum(cnt * nt) as bigint) AS total_tokens,
           |    cast(sum(nt) as bigint) AS n_terms
           |  FROM lev
           |), ks AS (SELECT unnest([100, 1000, 10000]) AS k
           |), cov AS (
           |  SELECT ks.k,
           |    cast(coalesce(sum(least(l.nt, ks.k - l.before) * l.cnt), 0)
           |      as bigint) AS covered_tokens,
           |    cast(coalesce(sum(least(l.nt, ks.k - l.before)), 0) as bigint)
           |      AS terms_used
           |  FROM ks LEFT JOIN lev l ON l.before < ks.k
           |  GROUP BY ks.k
           |)
           |SELECT cast(k as bigint) AS k, least(k, tot.n_terms) AS vocab_k,
           |  terms_used, covered_tokens,
           |  tot.total_tokens - covered_tokens AS unk_tokens,
           |  ((tot.total_tokens - covered_tokens) * 1000000) // tot.total_tokens
           |    AS unk_ppm
           |FROM cov, tot ORDER BY k""".stripMargin))

  // ---------------------------------------------------------------------
  // Weekly seasonality profile (capacity planning)
  // ---------------------------------------------------------------------

  /** WEEKLY SEASONALITY profile per event type — the capacity-planning
    * read behind ingestion scheduling: the (day-of-week x hour) traffic
    * matrix collapsed to each type's peak cell, trough and
    * peak-to-trough ratio. A flat ratio says schedule anywhere; a spiky
    * one says the crawler/compaction jobs get a quiet window.
    *
    * Determinism: counts exact; the peak cell breaks ties to the
    * smallest packed (dow, hour) key via a unique ordering; dow is
    * normalized to 0 = Sunday in both engines (Spark's dayofweek is
    * 1-based).
    *
    * Scale: the corpus collapses to <= types x 168 cells in one
    * partial-aggregable pass; everything after is grid-sized (the
    * ts_markov class).
    */
  private val tsSeasonalityProfile = Q(
    (s, dir) => {
      val cells = T(s, dir, "events")
        .groupBy(col("event_type"),
          (dayofweek(col("ts")) - 1).as("dow"), hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
        .withColumn("key", col("dow") * 100 + col("hr"))
      val wPk = Window.partitionBy(col("event_type"))
        .orderBy(col("n").desc, col("key"))
      cells
        .withColumn("rn", row_number().over(wPk))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_cells"),
          max(col("n")).as("peak_n"), min(col("n")).as("trough_n"),
          min(when(col("rn") === 1, col("dow"))).cast("long").as("peak_dow"),
          min(when(col("rn") === 1, col("hr"))).cast("long").as("peak_hour"))
        .withColumn("peak_trough_e3", expr("(peak_n * 1000) div trough_n"))
        .orderBy(col("event_type"))
    },
    Some("""WITH c AS (
           |  SELECT event_type, dayofweek(ts) AS dow, hour(ts) AS hr,
           |    cast(count(*) as bigint) AS n
           |  FROM events GROUP BY 1, 2, 3
           |), r AS (
           |  SELECT *, dow * 100 + hr AS key,
           |    row_number() OVER (PARTITION BY event_type
           |      ORDER BY n DESC, dow * 100 + hr) AS rn
           |  FROM c
           |)
           |SELECT event_type, cast(count(*) as bigint) AS n_cells,
           |  cast(max(n) as bigint) AS peak_n,
           |  cast(min(n) as bigint) AS trough_n,
           |  cast(min(CASE WHEN rn = 1 THEN dow END) as bigint) AS peak_dow,
           |  cast(min(CASE WHEN rn = 1 THEN hr END) as bigint) AS peak_hour,
           |  (cast(max(n) as bigint) * 1000) // cast(min(n) as bigint)
           |    AS peak_trough_e3
           |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin))

  // ---------------------------------------------------------------------
  // Quality-gate Venn (filter-redundancy audit)
  // ---------------------------------------------------------------------

  /** QUALITY-GATE VENN — the filter-redundancy read the agreement
    * statistics (kappa, Krippendorff) summarize away: the corpus
    * partitioned into the 2^3 regions of three independent gates
    * (length band, stopword floor, digit ceiling), with document and
    * token volumes per region. A gate whose unique region is empty is
    * redundant; the all-fail region sizes the reject pile.
    *
    * Determinism: every gate is an exact integer comparison (no float
    * ratios); region rollups are pure counts.
    *
    * Scale: one map-only gate pass into an at-most-8-group aggregate.
    */
  private val qualityGateVenn = Q(
    (s, dir) =>
      TS(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_toks", size(col("toks")).cast("long"))
        .withColumn("n_stop", expr(
          "size(filter(toks, t -> array_contains(" +
            "array('the','a','of','and','to','in','is','it'), t)))").cast("long"))
        .withColumn("n_digit",
          (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
            .cast("long"))
        .withColumn("g_len", col("n_toks").between(20L, 80L))
        .withColumn("g_stop", col("n_stop") * 100L >= col("n_toks") * 10L)
        .withColumn("g_digit", col("n_digit") * 100L <= length(col("text")) * 5L)
        .groupBy(col("g_len"), col("g_stop"), col("g_digit"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"))
        .orderBy(col("g_len"), col("g_stop"), col("g_digit")),
    Some("""WITH f AS (
           |  SELECT
           |    cast(len(string_split(text, ' ')) as bigint) AS n_toks,
           |    cast(len(list_filter(string_split(text, ' '),
           |      t -> list_contains(['the','a','of','and','to','in','is','it'], t)))
           |      as bigint) AS n_stop,
           |    cast(len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
           |      as bigint) AS n_digit,
           |    cast(len(text) as bigint) AS n_chars
           |  FROM documents
           |)
           |SELECT n_toks BETWEEN 20 AND 80 AS g_len,
           |  n_stop * 100 >= n_toks * 10 AS g_stop,
           |  n_digit * 100 <= n_chars * 5 AS g_digit,
           |  cast(count(*) as bigint) AS n_docs,
           |  cast(sum(n_toks) as bigint) AS n_toks
           |FROM f GROUP BY 1, 2, 3
           |ORDER BY g_len, g_stop, g_digit""".stripMargin))

  // ---------------------------------------------------------------------
  // Pipeline-order audit (dedup-then-filter vs filter-then-dedup)
  // ---------------------------------------------------------------------

  /** PIPELINE-ORDER AUDIT — dedup-before-filter vs filter-before-dedup
    * are NOT equivalent under keep-first dedup: if a duplicate group's
    * first (kept) copy fails the quality gate, dedup-first drops the
    * whole group, while filter-first lets a later passing copy survive.
    * Per source: groups kept under each order and the RESCUED count
    * (first copy fails, a later copy passes — attributed to the
    * rescuing survivor's source). The numbers that decide stage order
    * in a curation DAG.
    *
    * Determinism: group identity is sha256(text); survivors are exact
    * min-doc_id selections; the gate is the shared exact-e6 logistic.
    *
    * Scale: one score+hash pass; groups are a sha-keyed aggregate
    * (map-side partials); survivor attribution is two doc_id-keyed
    * joins of GROUP-sized rows back to the scored frame. No windows.
    */
  private val pipelineOrderAudit = Q(
    (s, dir) => {
      val scored = TS(s, dir, "documents")
        .transform(qualityZ)
        .withColumn("pass",
          floor(lit(1000000.0) / (lit(1.0) + exp(-col("z")))).cast("long") >= 500000L)
        .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("sha"),
          col("pass"))
        .localCheckpoint(true)
      val groups = scored.groupBy(col("sha"))
        .agg(min(col("doc_id")).as("min_doc"),
          min(when(col("pass"), col("doc_id"))).as("ff_doc"))
      val df_ = groups
        .join(scored.select(col("doc_id").as("min_doc"),
          col("source").as("min_src"), col("pass").as("min_pass")), Seq("min_doc"))
      val both = df_
        .join(scored.select(col("doc_id").as("ff_doc"),
          col("source").as("ff_src")), Seq("ff_doc"), "left")
      val dfKept = both.where(col("min_pass"))
        .groupBy(col("min_src").as("source"))
        .agg(count(lit(1)).as("kept_dedup_first"))
      val ffKept = both.where(col("ff_doc").isNotNull)
        .groupBy(col("ff_src").as("source"))
        .agg(count(lit(1)).as("kept_filter_first"),
          sum(when(!col("min_pass"), 1L).otherwise(0L)).as("rescued"))
      ffKept.join(dfKept, Seq("source"), "full")
        .select(col("source"),
          coalesce(col("kept_dedup_first"), lit(0L)).as("kept_dedup_first"),
          coalesce(col("kept_filter_first"), lit(0L)).as("kept_filter_first"),
          coalesce(col("rescued"), lit(0L)).as("rescued"))
        .orderBy(col("source"))
    },
    Some(s"""WITH $qualityZSqlCtes, scored AS (
           |  SELECT doc_id, source, sha256(text) AS sha,
           |    cast(floor(1000000.0 / (1.0 + exp(-z))) as bigint) >= 500000 AS pass
           |  FROM f
           |), g AS (
           |  SELECT sha, min(doc_id) AS min_doc,
           |    min(CASE WHEN pass THEN doc_id END) AS ff_doc
           |  FROM scored GROUP BY sha
           |), b AS (
           |  SELECT g.sha, g.ff_doc, m.source AS min_src, m.pass AS min_pass,
           |    s2.source AS ff_src
           |  FROM g
           |  JOIN scored m ON m.doc_id = g.min_doc
           |  LEFT JOIN scored s2 ON s2.doc_id = g.ff_doc
           |), dfk AS (
           |  SELECT min_src AS source, cast(count(*) as bigint)
           |    AS kept_dedup_first
           |  FROM b WHERE min_pass GROUP BY min_src
           |), ffk AS (
           |  SELECT ff_src AS source, cast(count(*) as bigint)
           |    AS kept_filter_first,
           |    cast(sum(CASE WHEN NOT min_pass THEN 1 ELSE 0 END) as bigint)
           |      AS rescued
           |  FROM b WHERE ff_doc IS NOT NULL GROUP BY ff_src
           |)
           |SELECT coalesce(ffk.source, dfk.source) AS source,
           |  coalesce(kept_dedup_first, 0) AS kept_dedup_first,
           |  coalesce(kept_filter_first, 0) AS kept_filter_first,
           |  coalesce(rescued, 0) AS rescued
           |FROM ffk FULL JOIN dfk ON ffk.source = dfk.source
           |ORDER BY source""".stripMargin))

  // ---------------------------------------------------------------------
  // OCR-artifact signals (crawl-cleaning heuristics)
  // ---------------------------------------------------------------------

  /** OCR/EXTRACTION-ARTIFACT signals — the crawl-cleaning heuristics
    * that catch scanner and PDF-extraction garbage the entropy and
    * stopword filters miss: per document, the shares of tokens that mix
    * letters and digits inside one token (`l0rem`, `f1gure` — the
    * classic OCR confusion), single-character tokens (shattered
    * words), and tokens with no letters at all; a composite flag marks
    * documents an OCR-repair or re-extraction queue should take.
    *
    * Determinism: token classes are simple character-class regexes
    * (identical semantics in Java regex and RE2 — no backreferences);
    * shares are exact integer ppm.
    *
    * Scale: pure map-side — per-row in-array HOF counting, no explode,
    * no shuffle before the gate sort.
    */
  private val textOcrArtifacts = Q(
    (s, dir) =>
      TS(s, dir, "documents")
        .withColumn("toks", expr("filter(split(text, ' '), t -> length(t) > 0)"))
        .withColumn("n_toks", size(col("toks")).cast("long"))
        .where(col("n_toks") > 0)
        .withColumn("n_mixed", expr(
          "size(filter(toks, t -> t rlike '[a-z]' AND t rlike '[0-9]'))").cast("long"))
        .withColumn("n_single", expr(
          "size(filter(toks, t -> length(t) = 1))").cast("long"))
        .withColumn("n_nonalpha", expr(
          "size(filter(toks, t -> NOT t rlike '[a-z]'))").cast("long"))
        .withColumn("mixed_ppm", expr("(n_mixed * 1000000) div n_toks"))
        .withColumn("single_ppm", expr("(n_single * 1000000) div n_toks"))
        .withColumn("nonalpha_ppm", expr("(n_nonalpha * 1000000) div n_toks"))
        .withColumn("ocr_flag",
          col("mixed_ppm") > 50000L || col("single_ppm") > 200000L ||
            col("nonalpha_ppm") > 300000L)
        .select(col("doc_id"), col("n_toks"), col("mixed_ppm"),
          col("single_ppm"), col("nonalpha_ppm"), col("ocr_flag"))
        .orderBy(col("doc_id")),
    Some("""WITH t AS (
           |  SELECT doc_id,
           |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
           |  FROM documents
           |), c AS (
           |  SELECT doc_id, cast(len(toks) as bigint) AS n_toks,
           |    cast(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')
           |      AND regexp_matches(t, '[0-9]'))) as bigint) AS n_mixed,
           |    cast(len(list_filter(toks, t -> len(t) = 1)) as bigint)
           |      AS n_single,
           |    cast(len(list_filter(toks, t -> NOT regexp_matches(t, '[a-z]')))
           |      as bigint) AS n_nonalpha
           |  FROM t WHERE len(toks) > 0
           |)
           |SELECT doc_id, n_toks,
           |  (n_mixed * 1000000) // n_toks AS mixed_ppm,
           |  (n_single * 1000000) // n_toks AS single_ppm,
           |  (n_nonalpha * 1000000) // n_toks AS nonalpha_ppm,
           |  (n_mixed * 1000000) // n_toks > 50000
           |    OR (n_single * 1000000) // n_toks > 200000
           |    OR (n_nonalpha * 1000000) // n_toks > 300000 AS ocr_flag
           |FROM c ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------------------------------
  // Duplicated-span threshold curve (exact-substr L sensitivity)
  // ---------------------------------------------------------------------

  /** DUPLICATED-SPAN THRESHOLD CURVE — the tuning table for the
    * exact-span dedup's one knob: the minimum span length L. For L in
    * {4, 8, 16}, every [[exactSubstrSpans]] quantity re-derives — span
    * counts, affected docs, duplicated-token coverage and the
    * keep-first-removable volume — so an operator reads directly how
    * aggressive each threshold is before committing a rewrite (the
    * `ns_dedup_rate_curve` read for the substring family).
    *
    * Scale: ONE tokenize pass expands all three L-gram orders inline
    * (3x row volume, one scan — the distinct_ngrams trade); stats and
    * sites key by (L, gram-hash), islands window per (doc, L) over
    * duplicated sites only. Same no-corpus-self-join shape as the
    * single-L frame.
    */
  private val dedupSubstrCurve = Q(
    (s, dir) => {
      val g = TS(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), explode(expr(
          """flatten(transform(array(4, 8, 16), l ->
            |  if(size(w) < l, array(),
            |    transform(sequence(1, size(w) - l + 1),
            |      i -> struct(cast(l as bigint) AS l, cast(i - 1 as bigint) AS pos0,
            |                  md5(array_join(slice(w, i, l), ' ')) AS gk)))))"""
            .stripMargin)).as("e"))
        .select(col("doc_id"), col("e.l").as("l"), col("e.pos0").as("pos0"),
          col("e.gk").as("gk"))
        // stats + sites both consume this 3-tier gram stream: one
        // tokenize+hash pass, materialized (the bm25/exchange-reuse fix;
        // the r16 10x PhaseSplit showed it double-scanned otherwise)
        .localCheckpoint(true)
      val stats = g.groupBy(col("l"), col("gk"))
        .agg(count(lit(1)).as("c"),
          min(col("doc_id") * lit(4294967296L) + col("pos0")).as("fk"))
        .where(col("c") >= 2)
      val sites = g.join(stats, Seq("l", "gk"))
        .select(col("doc_id"), col("l"), col("pos0"), col("fk"))
      val wOrd = Window.partitionBy(col("doc_id"), col("l")).orderBy(col("pos0"))
      val spans = sites
        .withColumn("prev_end", max(col("pos0") + col("l") - 1)
          .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_isl",
          when(col("prev_end").isNull || col("pos0") > col("prev_end") + 1, 1L)
            .otherwise(0L))
        .withColumn("isl", sum(col("new_isl")).over(wOrd))
        .groupBy(col("doc_id"), col("l"), col("isl"))
        .agg(min(col("pos0")).as("span_start"),
          (max(col("pos0")) + first(col("l")) - 1).as("span_end"),
          min_by(col("fk"), col("pos0")).as("owner_fk"))
      spans
        .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
        .withColumn("removable",
          col("owner_fk") =!= col("doc_id") * lit(4294967296L) + col("span_start"))
        .groupBy(col("l"))
        .agg(count(lit(1)).as("n_spans"),
          countDistinct(col("doc_id")).as("docs_affected"),
          sum(col("span_tokens")).as("dup_tokens"),
          sum(when(col("removable"), col("span_tokens")).otherwise(0L))
            .as("removable_tokens"))
        .orderBy(col("l"))
    },
    Some("""WITH wd AS (
           |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
           |), ls AS (SELECT unnest([4, 8, 16]) AS l
           |), g0 AS (
           |  SELECT doc_id, l, unnest(list_transform(
           |    generate_series(1, len(w) - l + 1),
           |    i -> {'pos0': i - 1,
           |          'gk': md5(array_to_string(list_slice(w, i, i + l - 1), ' '))}))
           |    AS e
           |  FROM wd, ls WHERE len(w) >= l
           |), g AS (
           |  SELECT doc_id, cast(l as bigint) AS l,
           |    cast(e.pos0 as bigint) AS pos0, e.gk AS gk
           |  FROM g0
           |), stats AS (
           |  SELECT l, gk, count(*) AS c, min(doc_id * 4294967296 + pos0) AS fk
           |  FROM g GROUP BY l, gk HAVING count(*) >= 2
           |), sites AS (
           |  SELECT g.doc_id, g.l, g.pos0, s.fk
           |  FROM g JOIN stats s USING (l, gk)
           |), isl AS (
           |  SELECT doc_id, l, pos0, fk,
           |    cast(sum(CASE WHEN prev_end IS NULL OR pos0 > prev_end + 1
           |      THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id, l ORDER BY pos0)
           |      as bigint) AS isl
           |  FROM (
           |    SELECT doc_id, l, pos0, fk,
           |      max(pos0 + l - 1) OVER (PARTITION BY doc_id, l ORDER BY pos0
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
           |    FROM sites)
           |), sp AS (
           |  SELECT doc_id, l, isl, min(pos0) AS span_start,
           |    max(pos0) + max(l) - 1 AS span_end,
           |    arg_min(fk, pos0) AS owner_fk
           |  FROM isl GROUP BY doc_id, l, isl
           |), sp2 AS (
           |  SELECT doc_id, l, span_end - span_start + 1 AS span_tokens,
           |    owner_fk <> doc_id * 4294967296 + span_start AS removable
           |  FROM sp
           |)
           |SELECT l, cast(count(*) as bigint) AS n_spans,
           |  cast(count(DISTINCT doc_id) as bigint) AS docs_affected,
           |  cast(sum(span_tokens) as bigint) AS dup_tokens,
           |  cast(coalesce(sum(CASE WHEN removable THEN span_tokens END), 0)
           |    as bigint) AS removable_tokens
           |FROM sp2 GROUP BY l ORDER BY l""".stripMargin))

  // ---------------------------------------------------------------------
  // Pixel-identity image dedup (content vs container)
  // ---------------------------------------------------------------------

  /** PIXEL-IDENTITY image dedup — the dedup byte-hashing can't do: 25
    * PNGs where groups share EXACT pixel content but differ in
    * container bytes — different zlib compression levels AND different
    * COLOR TYPES (each 3-copy group spans a truecolor encode, a
    * fully-opaque RGBA re-encode, and a PALETTE re-encode of the same
    * pixels) — grouped by the sha256 of the DECODED canonical RGB
    * stream. A byte-level content hash sees 25 distinct files; the
    * pixel identity recovers the 10 true content groups — the image
    * analog of text exact-dedup after normalization.
    *
    * Determinism: the pixel digest hashes the post-lookup canonical
    * RGB bytes in row order (palette, truecolor, and opaque-RGBA
    * encodes of the same pixels digest identically — a TRANSLUCENT
    * alpha plane joins the digest and correctly separates, spec'd in
    * PngDecodeSpec); group canonical = min file id.
    *
    * Scale: the parseAll narrow shape (decode + digest per file, no
    * shuffle) into a digest-keyed count — byte volume never shuffles,
    * only 64-char digests.
    */
  private val multimodalPixelDedup = Q.media("pixeldedup")(
    k => {
      val (w, h) = (16 + (k % 10), 10 + (k % 5))
      (k / 10) match {
        // same decoded pixels three ways: one truecolor encode, one
        // fully-opaque RGBA re-encode, one palette re-encode
        case 0 => graft.operators.Multimodal.pngPaletteAsRgbBytes(w, h, 1)
        case 1 => graft.operators.Multimodal.pngPaletteAsRgbaBytes(w, h, 9)
        case _ => graft.operators.Multimodal.pngPaletteBytes(w, h, 6)
      }
    },
    (s, scanned) => {
      graft.operators.Multimodal.pngPixelIdAll(scanned).toDF()
        .groupBy(col("pixelSha"))
        .agg(min(col("fileId")).as("canonical_file"),
          count(lit(1)).as("n_copies"),
          first(col("width")).as("width"), first(col("height")).as("height"))
        .select(col("canonical_file"), col("n_copies"), col("width"),
          col("height"))
        .orderBy(col("canonical_file"))
    },
    Some("""SELECT cast(min(n_nationkey) as bigint) AS canonical_file,
           |  cast(count(*) as bigint) AS n_copies,
           |  cast(16 + (n_nationkey % 10) as bigint) AS width,
           |  cast(10 + (n_nationkey % 5) as bigint) AS height
           |FROM nation
           |GROUP BY n_nationkey % 10, 16 + (n_nationkey % 10),
           |  10 + (n_nationkey % 5)
           |ORDER BY canonical_file""".stripMargin))

  // ---------------------------------------------------------------------
  // Exact-span rewrite (the ExactSubstr removal artifact)
  // ---------------------------------------------------------------------

  /** EXACT-SPAN REWRITE — the artifact the ExactSubstr method actually
    * ships: every document's text REBUILT with its non-first duplicated
    * spans removed (the first occurrence corpus-wide keeps its text;
    * repeats lose exactly the duplicated tokens). Emits per document
    * the before/after token counts and the md5 of the rebuilt text —
    * the content identity a downstream tokenizer run would see.
    *
    * Determinism: span extents and keep-first ownership come from the
    * exact [[exactSubstrSpans]] frame; token keep/drop is pure integer
    * interval membership; the rebuild is an order-preserving join of
    * the kept tokens.
    *
    * Scale: the span frame (gram-keyed, no corpus self-join) collapses
    * to per-doc removal-interval ARRAYS (duplication-sized) that join
    * the corpus doc-keyed; the rewrite itself is an in-array HOF per
    * row — token stream never explodes, nothing shuffles text except
    * the one doc-keyed join.
    */
  private val dedupSubstrRewrite = Q(
    (s, dir) => {
      val rem = exactSubstrSpans(s, dir)
        .where(!col("is_first"))
        .groupBy(col("doc_id"))
        .agg(collect_list(struct(col("span_start").as("a"), col("span_end").as("b")))
          .as("rem"))
      TS(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .join(rem, Seq("doc_id"), "left")
        .withColumn("rem", coalesce(col("rem"),
          expr("cast(array() as array<struct<a: bigint, b: bigint>>)")))
        .withColumn("kept", expr(
          """transform(filter(sequence(1, size(w)),
            |  i -> NOT exists(rem, r -> i - 1 >= r.a AND i - 1 <= r.b)),
            |  i -> element_at(w, i))""".stripMargin))
        .select(col("doc_id"), size(col("w")).cast("long").as("n_toks"),
          size(col("kept")).cast("long").as("n_kept"),
          (size(col("w")) - size(col("kept"))).cast("long").as("removed_toks"),
          md5(array_join(col("kept"), " ")).as("rebuilt_md5"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $exactSubstrSpansSql, nf AS (
            |  SELECT doc_id, span_start, span_end FROM sp
            |  WHERE owner_fk <> doc_id * 4294967296 + span_start
            |), wd0 AS (
            |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
            |), toks AS (
            |  SELECT doc_id, i AS pos, w[i] AS t, len(w) AS n_toks
            |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
            |        FROM wd0)
            |), kept AS (
            |  SELECT doc_id, pos, t, n_toks FROM toks tk
            |  WHERE NOT EXISTS (
            |    SELECT 1 FROM nf WHERE nf.doc_id = tk.doc_id
            |      AND tk.pos - 1 >= nf.span_start AND tk.pos - 1 <= nf.span_end)
            |)
            |SELECT w0.doc_id,
            |  cast(len(w0.w) as bigint) AS n_toks,
            |  cast(coalesce(count(k.pos), 0) as bigint) AS n_kept,
            |  cast(len(w0.w) - coalesce(count(k.pos), 0) as bigint)
            |    AS removed_toks,
            |  md5(coalesce(string_agg(k.t, ' ' ORDER BY k.pos), ''))
            |    AS rebuilt_md5
            |FROM wd0 w0 LEFT JOIN kept k ON k.doc_id = w0.doc_id
            |GROUP BY w0.doc_id, len(w0.w)
            |ORDER BY w0.doc_id""".stripMargin))

  // ---------------------------------------------------------------------
  // Uncertainty (margin) sampling for annotation budgets
  // ---------------------------------------------------------------------

  /** UNCERTAINTY SAMPLING — the active-learning selection a labeling
    * budget goes to: the 50 documents whose quality-classifier score
    * sits CLOSEST to the decision boundary (|p − 0.5|, the margin),
    * where a human label moves the classifier most. Confidently-kept
    * and confidently-dropped docs are exactly the ones not worth
    * annotating.
    *
    * Determinism: the score is the shared exact-e6 floored logistic;
    * margin is integer |score − 5e5|; ties break by doc_id.
    *
    * Scale: one map-only scoring pass into a global top-50 by
    * (margin, doc_id) — TakeOrderedAndProject (per-partition heaps),
    * no global sort, no window.
    */
  private val sampleUncertainty = Q(
    (s, dir) => {
      TS(s, dir, "documents")
        .transform(qualityZ)
        .withColumn("score_fp",
          floor(lit(1000000.0) / (lit(1.0) + exp(-col("z")))).cast("long"))
        .withColumn("margin_e6", abs(col("score_fp") - lit(500000L)))
        .select(col("doc_id"), col("source"), col("score_fp"), col("margin_e6"))
        .orderBy(col("margin_e6"), col("doc_id"))
        .limit(50)
    },
    Some(s"""WITH $qualityZSqlCtes, scored AS (
           |  SELECT doc_id, source,
           |    cast(floor(1000000.0 / (1.0 + exp(-z))) as bigint) AS score_fp
           |  FROM f
           |)
           |SELECT doc_id, source, score_fp,
           |  abs(score_fp - 500000) AS margin_e6
           |FROM scored
           |ORDER BY margin_e6, doc_id LIMIT 50""".stripMargin))

  // ---------------------------------------------------------------------
  // Prefix-sharing audit (inference-batching economics)
  // ---------------------------------------------------------------------

  /** PREFIX-SHARE AUDIT — the inference-side economics read: documents
    * grouped by their first-k-token prefix for k in {4, 8, 16}; a
    * prefix shared by g documents lets a KV-cache serve k tokens once
    * instead of g times, saving k·(g−1) token computations. Per k:
    * group counts, sharing docs, and the total saved-token volume —
    * the number that says whether prefix-dedup batching is worth
    * wiring up for this corpus (templated corpora share heavily,
    * crawls barely).
    *
    * Determinism: prefixes are exact token joins; savings are exact
    * integer sums.
    *
    * Scale: ONE pass emits (k, prefix-hash) per doc (3 rows each — the
    * inline expansion); the group collapse is a keyed count with
    * map-side partials; prefix STRINGS never shuffle, only md5 hashes.
    */
  private val corpusPrefixShare = Q(
    (s, dir) => {
      val pk = TS(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .select(explode(expr(
          """transform(array(4, 8, 16), k ->
            |  struct(k AS k, md5(array_join(slice(w, 1, k), ' ')) AS p,
            |         least(size(w), k) AS plen))""".stripMargin)).as("e"))
        .select(col("e.k").as("k"), col("e.p").as("p"), col("e.plen").as("plen"))
      pk.groupBy(col("k"), col("p"))
        .agg(count(lit(1)).as("g"), max(col("plen")).as("plen"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("g") >= 2, 1L).otherwise(0L)).as("shared_groups"),
          sum(when(col("g") >= 2, col("g")).otherwise(0L)).as("docs_sharing"),
          sum(col("plen").cast("long") * (col("g") - 1)).as("saved_tokens"))
        .select(col("k").cast("long").as("k"), col("n_groups"),
          col("shared_groups"), col("docs_sharing"), col("saved_tokens"))
        .orderBy(col("k"))
    },
    Some("""WITH wd AS (
           |  SELECT string_split(text, ' ') AS w FROM documents
           |), pk AS (
           |  SELECT k, md5(array_to_string(w[1:k], ' ')) AS p,
           |    least(len(w), k) AS plen
           |  FROM wd, (SELECT unnest([4, 8, 16]) AS k)
           |), gg AS (
           |  SELECT k, p, count(*) AS g, max(plen) AS plen
           |  FROM pk GROUP BY k, p
           |)
           |SELECT cast(k as bigint) AS k, cast(count(*) as bigint) AS n_groups,
           |  cast(sum(CASE WHEN g >= 2 THEN 1 ELSE 0 END) as bigint)
           |    AS shared_groups,
           |  cast(sum(CASE WHEN g >= 2 THEN g ELSE 0 END) as bigint)
           |    AS docs_sharing,
           |  cast(sum(plen * (g - 1)) as bigint) AS saved_tokens
           |FROM gg GROUP BY k ORDER BY k""".stripMargin))

  // ---------------------------------------------------------------------
  // CUSUM change-point detection over event rates
  // ---------------------------------------------------------------------

  /** CUSUM CHANGE-POINT detection over per-type hourly event rates —
    * the sequential drift detector a pipeline runs beside the z-score
    * anomaly flags: the one-sided CUSUM statistic
    * `C_t = max(0, C_{t-1} + (x_t − μ − slack))` accumulates small
    * sustained shifts a per-point z-score never flags. Computed WITHOUT
    * a per-row recurrence via the prefix-sum identity
    * `C_t = S_t − min(S_0..S_t)` (S = running sum of deviations) — two
    * plain windows. Per type: bucket count, flagged-bucket count (C >
    * 5·slack), the peak statistic, and the first flagged hour.
    *
    * Determinism: μ is the exact e6 fixed-point per-type mean; all
    * deviations, prefix sums, and thresholds are exact bigints.
    *
    * Scale: the corpus collapses to (type, hour) counts first; both
    * windows run per type over HOURLY buckets (calendar-bounded, not
    * event-bounded) — the resample/ffill window class.
    */
  private val tsCusumChangepoint = Q(
    (s, dir) => {
      val buckets = T(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("x"))
      val mu = buckets.groupBy(col("event_type"))
        .agg(expr("(sum(x) * 1000000) div count(1)").as("mu_e6"),
          count(lit(1)).as("n_buckets"))
        .withColumn("k_e6", expr("mu_e6 div 10"))
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      val cusum = buckets.join(broadcast(mu), Seq("event_type"))
        .withColumn("dev", col("x") * lit(1000000L) - col("mu_e6") - col("k_e6"))
        .withColumn("s", sum(col("dev")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("smin", least(min(col("s")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, 0)), lit(0L)))
        .withColumn("c", col("s") - col("smin"))
        .withColumn("flagged", col("c") > col("k_e6") * 5)
      cusum.groupBy(col("event_type"))
        .agg(first(col("n_buckets")).as("n_buckets"),
          first(col("mu_e6")).as("mu_e6"),
          sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
          max(col("c")).as("max_cusum_e6"),
          min(when(col("flagged"), col("hour"))).as("first_flag_hour"))
        .orderBy(col("event_type"))
    },
    Some(cusumSql))

  /** The CUSUM oracle — shared verbatim by the batch query and its
    * streaming twin: the twin's whole claim is that an hour-partitioned
    * micro-batch replay reproduces the batch detector exactly.
    */
  private lazy val cusumSql: String =
    """WITH b AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour,
      |    cast(count(*) as bigint) AS x
      |  FROM events GROUP BY 1, 2
      |), m AS (
      |  SELECT event_type,
      |    (cast(sum(x) as bigint) * 1000000) // cast(count(*) as bigint)
      |      AS mu_e6,
      |    cast(count(*) as bigint) AS n_buckets
      |  FROM b GROUP BY event_type
      |), c0 AS (
      |  SELECT b.event_type, b.hour, m.n_buckets, m.mu_e6,
      |    m.mu_e6 // 10 AS k_e6,
      |    cast(sum(b.x * 1000000 - m.mu_e6 - m.mu_e6 // 10) OVER (
      |      PARTITION BY b.event_type ORDER BY b.hour
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)
      |      AS s
      |  FROM b JOIN m USING (event_type)
      |), c1 AS (
      |  SELECT *, least(cast(min(s) OVER (
      |      PARTITION BY event_type ORDER BY hour
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint), 0)
      |      AS smin
      |  FROM c0
      |), c2 AS (
      |  SELECT *, s - smin AS c, (s - smin) > k_e6 * 5 AS flagged FROM c1
      |)
      |SELECT event_type, cast(max(n_buckets) as bigint) AS n_buckets,
      |  cast(max(mu_e6) as bigint) AS mu_e6,
      |  cast(sum(CASE WHEN flagged THEN 1 ELSE 0 END) as bigint)
      |    AS n_flagged,
      |  cast(max(c) as bigint) AS max_cusum_e6,
      |  min(CASE WHEN flagged THEN hour END) AS first_flag_hour
      |FROM c2 GROUP BY event_type ORDER BY event_type""".stripMargin

  /** STREAMING CUSUM twin — the batch detector replayed as a live
    * monitor: the baseline (µ, slack) map is trained batch-side (the
    * production deployment's offline half), the event stream is split
    * into TWO micro-batch files (replay equivalence holds for ANY
    * time-ordered split — the monitor carries the newest hour OPEN in
    * state and folds it provisionally, so a bucket straddling batches
    * still folds exactly once with its final count; see
    * [[graft.streaming.EventStreams.cusumMonitor]]), and the
    * per-type detector state (prefix sum, running min, counters)
    * carries across the batches in flatMapGroupsWithState. The oracle
    * is the BATCH query's SQL verbatim — the gate proves
    * stream replay == batch computation row-for-row; StreamingSpec
    * additionally proves a MID-hour split replays equal.
    */
  private val tsCusumStream = Q.scratch("cusumstream")(
    (s, dir, base) => {
      val ev = T(s, dir, "events")
      val bl = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("x"))
        .groupBy(col("event_type"))
        .agg(expr("(sum(x) * 1000000) div count(1)").as("mu_e6"))
        .collect().map(r => r.getString(0) -> {
          val m = r.getLong(1); (m, m / 10)
        }).toMap // |event types| entries — bounded driver state
      val mm = ev.agg(
        expr("unix_micros(date_trunc('hour', min(ts)))").as("lo"),
        expr("unix_micros(date_trunc('hour', max(ts)))").as("hi")).head()
      val mid = (mm.getLong(0) + mm.getLong(1)) / 2
      val hourUs = "unix_micros(date_trunc('hour', ts))"
      Replay.land(s"$base/in", Seq(
        "batch0" -> ev.where(expr(s"$hourUs < ${mid}L")),
        "batch1" -> ev.where(expr(s"$hourUs >= ${mid}L"))))
      Replay.drain(graft.streaming.EventStreams.cusumMonitor(
          Replay.stream(s, s"$base/in",
            graft.Tables.eventsSchema(graft.Tables.TsEncoding.Native(false))), bl),
        s"$base/out", s"$base/cp")
      val res = s.read.parquet(s"$base/out")
      val muDf = {
        import s.implicits._
        bl.toSeq.map { case (t, (m, _)) => (t, m) }.toDF("event_type", "mu_e6")
      }
      res.groupBy(col("event_type"))
        .agg(max_by(struct(col("nBuckets"), col("nFlagged"), col("maxC"),
          col("firstFlag")), col("seq")).as("f"))
        .join(broadcast(muDf), Seq("event_type"))
        .select(col("event_type"), col("f.nBuckets").as("n_buckets"),
          col("mu_e6"), col("f.nFlagged").as("n_flagged"),
          col("f.maxC").as("max_cusum_e6"),
          when(col("f.firstFlag") >= 0, timestamp_micros(col("f.firstFlag")))
            .as("first_flag_hour"))
        .orderBy(col("event_type"))
    },
    Some(cusumSql))

  // ---------------------------------------------------------------------
  // MaxSim-aware (sub-vector) ANN routing — the PLAID/ColBERT pattern
  // ---------------------------------------------------------------------

  /** PLAID's slot sub-vectors over a frame `e` (`vec_id`, `embedding`):
    * `sub` holds each vector's 8 slots (`vec_id`, `sl`, `sv`, the 8-dim
    * slice); `subc` the 128 sub-centroids (`cell`, `csv`), slot `cs` of
    * the fixed centroid vector 100..115 being cell (vec_id - 100) * 8 + cs.
    * [[plaidDotsSqlCtes]] is the DuckDB twin, with the dots of every slot
    * against every sub-centroid.
    */
  private def plaidSlots(e: DataFrame): (DataFrame, DataFrame) = {
    val subc = e.where(col("vec_id").between(100, 115))
      .select(col("vec_id"), explode(expr("sequence(0, 7)")).as("cs"),
        col("embedding"))
      .select(((col("vec_id") - 100) * 8 + col("cs")).as("cell"),
        expr("slice(embedding, cs * 8 + 1, 8)").as("csv"))
    val sub = e
      .select(col("vec_id"), explode(expr("sequence(0, 7)")).as("sl"),
        col("embedding"))
      .select(col("vec_id"), col("sl"),
        expr("slice(embedding, sl * 8 + 1, 8)").as("sv"))
    (sub, subc)
  }

  /** The CTEs `slots`, `subc` and `dots` (`vec_id`, `sl`, `cell`, `d`)
    * over a CTE `e`: DuckDB twin of [[plaidSlots]] joined and scored
    * with the exact `scaled_dot` of each slot against each sub-centroid.
    */
  private val plaidDotsSqlCtes: String =
    """slots AS (SELECT unnest(generate_series(0, 7)) AS sl
      |), subc AS (
      |  SELECT (vec_id - 100) * 8 + sl AS cell, sl AS csl,
      |    embedding AS cemb
      |  FROM e, slots WHERE vec_id BETWEEN 100 AND 115
      |), dots AS (
      |  SELECT e.vec_id, s.sl, c.cell,
      |    list_sum(list_transform(generate_series(1, 8), i ->
      |      cast(floor(e.embedding[s.sl * 8 + i]::double
      |        * c.cemb[c.csl * 8 + i]::double * 1099511627776) as bigint)))
      |      AS d
      |  FROM e, slots s, subc c
      |)""".stripMargin

  /** SUB-VECTOR-AWARE routing for late-interaction retrieval — the fix
    * for the honest failure `ns_sim_maxsim_ivf` measures (~21% recall@3
    * when MaxSim queries route through POOLED-cosine-trained IVF cells):
    * the ColBERT/PLAID pattern. The cell space is the 16 coarse vectors
    * EXPLODED into their 8 sub-vectors (128 sub-centroids); every
    * corpus vector indexes each of its 8 sub-vectors into that
    * sub-vector's nearest cell, and a query probes the top cell of EACH
    * of its 8 sub-vectors, unioning the cells' doc lists into the
    * shortlist MaxSim then scores. Routing geometry now matches scoring
    * geometry — a candidate reaches the shortlist if ANY of its
    * sub-vectors aligns with any query sub-vector's cell, which is
    * exactly the term-level alignment MaxSim rewards. Same output shape
    * and self-audit (`in_exact` vs the exhaustive MaxSim top-3) as
    * `ns_sim_maxsim_ivf`, so the recall gain is directly readable from
    * the two results.
    *
    * Determinism: sub-dots are the codegen'd `scaled_dot` over 8-dim
    * slices (exact bigints); cell assignment breaks ties to the lowest
    * cell id via a UNIQUE (-dot, cell) ordering struct under `min_by`
    * (no tie possible — cell ids are distinct within a group), mirrored
    * by `ORDER BY d DESC, cell` row_number in DuckDB; MaxSim scoring and
    * ranking are the proven exact kernels.
    *
    * Scale: assignment is one map-side pass — (vector x 8 slots) rows
    * against the 128-row broadcast sub-centroid table, reduced by a
    * partial-aggregable min_by (no window, no N x 1024 shuffle); the
    * inverted index and probe lists are (id, cell) pairs; the shortlist
    * join is cell-keyed. Measured on the sf0.1 fixture: recall@3 0.146
    * (pooled-cosine routing) -> 0.958, at a scored fraction of 0.835 —
    * 8 probed cells of 128, each candidate a member of up to 8 cells,
    * so the union is large when the cell count is fixture-small. The
    * recall/cost knobs are the production ones: C cells shrink the
    * per-cell lists ~1/C (PLAID uses 2^18) and the probe count trades
    * recall for shortlist size — the PLAN is cell-count-independent.
    * The exhaustive branch is the declared audit, dropped at scale.
    */
  private val simMaxsimPlaid = Q(
    (s, dir) => {
      val e = TS(s, dir, "embeddings")
      val (sub, subc) = plaidSlots(e)
      val cells = sub.join(broadcast(subc), lit(true))
        .withColumn("d", expr("scaled_dot(sv, csv)"))
        .groupBy(col("vec_id"), col("sl"))
        .agg(min_by(col("cell"), struct((-col("d")).as("nd"), col("cell"))).as("cell"))
      val index = cells.select(col("vec_id").as("c_id"), col("cell")).distinct()
      val probes = cells.where(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("cell")).distinct()
      val short = broadcast(probes).join(index, Seq("cell"))
        .where(col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id")).distinct()
      val qe = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val ce = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      val wTop = Window.partitionBy(col("q_id")).orderBy(col("score_fp").desc, col("c_id"))
      val twoStage = short
        .join(broadcast(qe), Seq("q_id"))
        .join(ce, Seq("c_id"))
        .withColumn("score_fp", expr("maxsim_score(q_emb, c_emb)"))
        .withColumn("rnk", row_number().over(wTop))
        .where(col("rnk") <= 3)
        .select(col("q_id"), col("rnk"), col("c_id"), col("score_fp"))
      val exact = broadcast(qe).join(ce, col("q_id") =!= col("c_id"))
        .withColumn("score_fp", expr("maxsim_score(q_emb, c_emb)"))
        .withColumn("ern", row_number().over(wTop))
        .where(col("ern") <= 3)
        .select(col("q_id").as("eq"), col("c_id").as("ec"))
      twoStage.join(exact,
          col("q_id") === col("eq") && col("c_id") === col("ec"), "left")
        .withColumn("in_exact", col("ec").isNotNull)
        .select(col("q_id"), col("rnk"), col("c_id"), col("score_fp"),
          col("in_exact"))
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(s"""WITH e AS (
            |  SELECT vec_id, embedding FROM embeddings
            |), $plaidDotsSqlCtes, cells AS (
            |  SELECT vec_id, sl, cell FROM (
            |    SELECT vec_id, sl, cell,
            |      row_number() OVER (PARTITION BY vec_id, sl
            |        ORDER BY d DESC, cell) AS rn
            |    FROM dots)
            |  WHERE rn = 1
            |), idx AS (SELECT DISTINCT vec_id AS c_id, cell FROM cells
            |), probes AS (
            |  SELECT DISTINCT vec_id AS q_id, cell FROM cells WHERE vec_id < 16
            |), short AS (
            |  SELECT DISTINCT p.q_id, i.c_id
            |  FROM probes p JOIN idx i USING (cell) WHERE p.q_id <> i.c_id
            |), ms AS (
            |  SELECT sh.q_id, sh.c_id, ${maxsimScoreSql("q.embedding", "c.embedding")} AS score_fp
            |  FROM short sh JOIN e q ON q.vec_id = sh.q_id
            |    JOIN e c ON c.vec_id = sh.c_id
            |), two AS (
            |  SELECT q_id, c_id, score_fp,
            |    row_number() OVER (PARTITION BY q_id
            |      ORDER BY score_fp DESC, c_id) AS rnk
            |  FROM ms
            |), $maxsimExactSqlCte
            |SELECT t.q_id, t.rnk, t.c_id, cast(t.score_fp as bigint) AS score_fp,
            |  ex.c_id IS NOT NULL AS in_exact
            |FROM two t LEFT JOIN ex ON ex.q_id = t.q_id AND ex.c_id = t.c_id
            |WHERE t.rnk <= 3
            |ORDER BY t.q_id, t.rnk""".stripMargin))

  // ---------------------------------------------------------------------
  // PLAID recall/cost curve (the sub-vector router's tuning table)
  // ---------------------------------------------------------------------

  /** PLAID RECALL/COST CURVE — the r15 verdict's ask: turn the
    * sub-vector router's single operating point (and its scored-
    * fraction footnote) into a measured tuning table. Four operating
    * points — cell count C in {64, 128} x probes-per-sub-vector p in
    * {1, 2} — each reporting recall@3 against the exhaustive MaxSim
    * top-3 AND the scored fraction (mean shortlist share of the
    * corpus), the two axes a deployment trades: more cells shrink the
    * shortlist, more probes buy recall back. The `ns_sim_recall_curve`
    * read for late-interaction routing.
    *
    * Determinism: sub-dots and MaxSim scores are the codegen'd exact
    * bigint kernels; cell assignment and all rankings tie-break on the
    * lowest id; the DuckDB twin ranks with the identical (score desc,
    * id) orders.
    *
    * Scale (r17, the cell-count-independent rewrite of the r16
    * verdict's item 5): the CORPUS dot stream is never materialized —
    * the (vector x slot) x broadcast-sub-centroid join pipelines
    * straight into ONE hash aggregate whose per-group state is two
    * fixed-size structs (`max(struct(d, -cell))` over the full range
    * and FILTERed to `cell < 64` — C=64 cells are a prefix of the
    * C=128 table, so both configs fall out of the same aggregate with
    * map-side partials and no (vector x slot x cell) shuffle or
    * checkpoint; at PLAID's production C=2^18 the state is still two
    * structs). Only the 16 PROBE vectors pay a per-cell table (the
    * top-2-probes window) — query-side work, 16 x 8 x C rows, the
    * price any router pays at query time. Shortlists union per config
    * and the MaxSim kernel prices each DISTINCT (q, candidate) pair
    * once across all four configs. The exhaustive branch is the
    * declared audit, dropped at production scale.
    */
  private val simPlaidCurve = Q(
    (s, dir) => {
      val e = TS(s, dir, "embeddings")
      val (sub, subc) = plaidSlots(e)
      // corpus assignment: the dot stream pipelines into a fixed-state
      // aggregate — max(struct(d, -cell)) is argmax-with-lowest-cell-tie
      // (ties impossible across distinct cells of equal d except by
      // -cell, mirroring the min_by (-d, cell) order elsewhere)
      val assign = sub.join(broadcast(subc), lit(true))
        .withColumn("d", expr("scaled_dot(sv, csv)"))
        .groupBy(col("vec_id"), col("sl"))
        .agg(
          max(when(col("cell") < 64,
            struct(col("d"), (-col("cell")).as("nc")))).as("a64"),
          max(struct(col("d"), (-col("cell")).as("nc"))).as("a128"))
      def index(c: Int) = assign
        .select(lit(c.toLong).as("cells"), col("vec_id").as("c_id"),
          (-col(if (c == 64) "a64" else "a128")("nc")).as("cell"))
        .distinct()
      val idx = index(64).unionAll(index(128))
      // probe routing (16 query vectors only): per-cell dots are
      // query-side — 16 x 8 x C rows, the router's query-time cost
      val pdots = sub.where(col("vec_id") < 16)
        .join(broadcast(subc), lit(true))
        .select(col("vec_id"), col("sl"), col("cell"),
          expr("scaled_dot(sv, csv)").as("d"))
        .localCheckpoint(true) // probe-sized; both configs consume it
      def probes(c: Int) = pdots
        .where(col("cell") < c)
        .withColumn("rn", row_number().over(Window
          .partitionBy(col("vec_id"), col("sl"))
          .orderBy(col("d").desc, col("cell"))))
        .where(col("rn") <= 2)
        .select(lit(c.toLong).as("cells"), col("vec_id").as("q_id"),
          col("cell"), col("rn"))
      val prbCfg = probes(64).unionAll(probes(128))
        .select(col("cells"), col("q_id"), col("cell"),
          explode(when(col("rn") === 1, array(lit(1L), lit(2L)))
            .otherwise(array(lit(2L)))).as("probes"))
        .select(col("cells"), col("probes"), col("q_id"), col("cell"))
        .distinct()
      val short = prbCfg.join(idx, Seq("cells", "cell"))
        .where(col("q_id") =!= col("c_id"))
        .select(col("cells"), col("probes"), col("q_id"), col("c_id"))
        .distinct()
        .localCheckpoint(true) // consumers: counts + two-stage ranking
      val qe = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val ce = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      val pairScores = short.select(col("q_id"), col("c_id")).distinct()
        .join(broadcast(qe), Seq("q_id"))
        .join(ce, Seq("c_id"))
        .select(col("q_id"), col("c_id"),
          expr("maxsim_score(q_emb, c_emb)").as("score_fp"))
      val wTop = Window.partitionBy(col("cells"), col("probes"), col("q_id"))
        .orderBy(col("score_fp").desc, col("c_id"))
      val two = short.join(pairScores, Seq("q_id", "c_id"))
        .withColumn("rnk", row_number().over(wTop))
        .where(col("rnk") <= 3)
      val wEx = Window.partitionBy(col("q_id"))
        .orderBy(col("score_fp").desc, col("c_id"))
      val exact = broadcast(qe).join(ce, col("q_id") =!= col("c_id"))
        .withColumn("score_fp", expr("maxsim_score(q_emb, c_emb)"))
        .withColumn("ern", row_number().over(wEx))
        .where(col("ern") <= 3)
        .select(col("q_id").as("eq"), col("c_id").as("ec"))
      val hits = two.join(exact,
          col("q_id") === col("eq") && col("c_id") === col("ec"), "left")
        .groupBy(col("cells"), col("probes"))
        .agg(sum(when(col("ec").isNotNull, 1L).otherwise(0L)).as("hits3"))
      val candCounts = short.groupBy(col("cells"), col("probes"))
        .agg(count(lit(1)).as("n_cand"))
      val nTot = e.agg(count(lit(1)).as("n_total"))
      hits.join(candCounts, Seq("cells", "probes"))
        .crossJoin(broadcast(nTot))
        .select(col("cells"), col("probes"), col("hits3"),
          expr("hits3 * 1000000 div 48").as("recall3_e6"),
          col("n_cand"),
          expr("n_cand * 1000000 div (16 * (n_total - 1))")
            .as("scored_frac_e6"))
        .orderBy(col("cells"), col("probes"))
    },
    Some(s"""WITH e AS (
           |  SELECT vec_id, embedding FROM embeddings
           |), $plaidDotsSqlCtes, cfgc AS (SELECT unnest([64, 128]) AS cells
           |), rnk0 AS (
           |  SELECT f.cells, d.vec_id, d.sl, d.cell,
           |    row_number() OVER (PARTITION BY f.cells, d.vec_id, d.sl
           |      ORDER BY d.d DESC, d.cell) AS rn
           |  FROM dots d JOIN cfgc f ON d.cell < f.cells
           |), idx AS (
           |  SELECT DISTINCT cells, vec_id AS c_id, cell
           |  FROM rnk0 WHERE rn = 1
           |), prb AS (
           |  SELECT DISTINCT r.cells, p.probes, r.vec_id AS q_id, r.cell
           |  FROM rnk0 r JOIN (SELECT unnest([1, 2]) AS probes) p
           |    ON r.rn <= p.probes
           |  WHERE r.vec_id < 16
           |), short AS (
           |  SELECT DISTINCT pr.cells, pr.probes, pr.q_id, i.c_id
           |  FROM prb pr JOIN idx i ON i.cells = pr.cells AND i.cell = pr.cell
           |  WHERE pr.q_id <> i.c_id
           |), pairs AS (SELECT DISTINCT q_id, c_id FROM short
           |), ms AS (
           |  SELECT p.q_id, p.c_id, ${maxsimScoreSql("q.embedding", "c.embedding")} AS score_fp
           |  FROM pairs p JOIN e q ON q.vec_id = p.q_id
           |    JOIN e c ON c.vec_id = p.c_id
           |), two AS (
           |  SELECT s.cells, s.probes, s.q_id, s.c_id,
           |    row_number() OVER (PARTITION BY s.cells, s.probes, s.q_id
           |      ORDER BY m.score_fp DESC, s.c_id) AS rnk
           |  FROM short s JOIN ms m ON m.q_id = s.q_id AND m.c_id = s.c_id
           |), $maxsimExactSqlCte, hits AS (
           |  SELECT t.cells, t.probes, count(x.c_id) AS hits3
           |  FROM two t LEFT JOIN ex x
           |    ON x.q_id = t.q_id AND x.c_id = t.c_id
           |  WHERE t.rnk <= 3
           |  GROUP BY t.cells, t.probes
           |), cc AS (
           |  SELECT cells, probes, count(*) AS n_cand
           |  FROM short GROUP BY cells, probes
           |), nt AS (SELECT cast(count(*) as bigint) AS n_total FROM e)
           |SELECT cast(h.cells as bigint) AS cells,
           |  cast(h.probes as bigint) AS probes,
           |  cast(h.hits3 as bigint) AS hits3,
           |  cast((h.hits3 * 1000000) // 48 as bigint) AS recall3_e6,
           |  cast(c.n_cand as bigint) AS n_cand,
           |  cast((c.n_cand * 1000000) // (16 * (n_total - 1)) as bigint)
           |    AS scored_frac_e6
           |FROM hits h JOIN cc c USING (cells, probes), nt
           |ORDER BY cells, probes""".stripMargin))

  // ---------------------------------------------------------------------
  // Markov transition model over event sequences
  // ---------------------------------------------------------------------

  /** MARKOV transition estimation over per-user event sequences — the
    * behavioral model behind trajectory generation and anomaly scoring:
    * the transition matrix P(next type | type) from per-user ordered
    * event pairs, plus the STATIONARY distribution (3 unrolled power
    * iterations from uniform) — where the chain spends its time, the
    * single-vector summary that flags when live traffic drifts from
    * the corpus the model trained on.
    *
    * Determinism: counts exact; row-normalized probabilities are e6
    * floor divs; the power iterations run in e12 fixed point (each step
    * is Σ π_src·p_e6 div 1e6, exact bigints).
    *
    * Scale: one user-keyed lag window (in-partition) + a |types|²
    * aggregate; the iterations are matrix-sized. The `ns_embed_pagerank`
    * class with a 5×5 matrix.
    */
  private val tsMarkovTransitions = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val m = T(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .where(col("prev").isNotNull)
        .groupBy(col("prev").as("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val rows = m.groupBy(col("src")).agg(sum(col("c")).as("rc"))
      val p = m.join(rows, Seq("src"))
        .withColumn("p_e6", expr("(c * 1000000) div rc"))
        .localCheckpoint(true)
      val types = p.select(col("src").as("t")).distinct()
      val nT = types.count()
      var pi = types.select(col("t"), lit(1000000000000L / nT).as("pi"))
      (1 to 3).foreach { _ =>
        pi = p.join(pi.select(col("t").as("src"), col("pi")), Seq("src"))
          .withColumn("contrib", expr("(pi * p_e6) div 1000000"))
          .groupBy(col("dst").as("t")).agg(sum(col("contrib")).as("pi"))
          .localCheckpoint(true)
      }
      p.join(pi.select(col("t").as("dst"), col("pi").as("pi_dst_fp")), Seq("dst"))
        .select(col("src"), col("dst"), col("c"), col("p_e6"),
          col("pi_dst_fp"),
          round(col("pi_dst_fp").cast("double") / lit(1.0e12), 6).as("pi_dst"))
        .orderBy(col("src"), col("dst"))
    },
    Some("""WITH seq AS (
           |  SELECT user_id, event_type,
           |    lag(event_type) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS prev
           |  FROM events
           |), m AS (
           |  SELECT prev AS src, event_type AS dst, cast(count(*) as bigint) AS c
           |  FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type
           |), r AS (SELECT src, cast(sum(c) as bigint) AS rc FROM m GROUP BY src
           |), p AS (
           |  SELECT m.src, m.dst, m.c, (m.c * 1000000) // r.rc AS p_e6
           |  FROM m JOIN r USING (src)
           |), ty AS (SELECT DISTINCT src AS t FROM p
           |), nt AS (SELECT cast(count(*) as bigint) AS n FROM ty
           |), pi0 AS (SELECT t, cast(1000000000000 // n as bigint) AS pi FROM ty, nt
           |), pi1 AS (
           |  SELECT p.dst AS t, cast(sum((pi0.pi * p.p_e6) // 1000000) as bigint) AS pi
           |  FROM p JOIN pi0 ON pi0.t = p.src GROUP BY p.dst
           |), pi2 AS (
           |  SELECT p.dst AS t, cast(sum((pi1.pi * p.p_e6) // 1000000) as bigint) AS pi
           |  FROM p JOIN pi1 ON pi1.t = p.src GROUP BY p.dst
           |), pi3 AS (
           |  SELECT p.dst AS t, cast(sum((pi2.pi * p.p_e6) // 1000000) as bigint) AS pi
           |  FROM p JOIN pi2 ON pi2.t = p.src GROUP BY p.dst
           |)
           |SELECT p.src, p.dst, p.c, p.p_e6, pi3.pi AS pi_dst_fp,
           |  round(cast(pi3.pi as double) / 1e12, 6) AS pi_dst
           |FROM p JOIN pi3 ON pi3.t = p.dst
           |ORDER BY p.src, p.dst""".stripMargin))

  // ---------------------------------------------------------------------
  // Heaps-law fit (vocabulary growth exponent)
  // ---------------------------------------------------------------------

  /** HEAPS-LAW fit — the growth EXPONENT on top of the raw vocabulary
    * curve (`ns_corpus_vocab_growth`): V(N) ≈ K·N^β, fit by exact-
    * integer least squares of ln V on ln N over ten cumulative deciles.
    * Natural text sits near β ≈ 0.5; this fixture's template vocabulary
    * saturates almost immediately, so β ≈ 0 — the single-scalar flag
    * that new data is not bringing new words (dedup/template leakage).
    *
    * The cumulative curve needs NO global sort: docs land in ten hash
    * deciles, each term keeps its MINIMUM decile, and both V(d) and
    * N(d) are 10-row cumulative sums over decile histograms.
    *
    * Scale: one (term → min decile) vocabulary-keyed aggregate + one
    * decile token histogram; the regression runs over 10 rows with the
    * `ns_profile_zipf` exact-bigint sums.
    */
  private val profileHeapsFit = Q(
    (s, dir) => {
      val d = TS(s, dir, "documents")
        .withColumn("dec", expr(
          "pmod(cast(conv(substring(md5(concat('hp:', cast(doc_id as string))), " +
            "1, 8), 16, 10) as bigint), 10)"))
        .withColumn("toks", split(col("text"), " "))
      val termMin = d.select(col("dec"), explode(col("toks")).as("t"))
        .groupBy(col("t")).agg(min(col("dec")).as("md"))
        .groupBy(col("md")).agg(count(lit(1)).as("nv"))
      val tokHist = d.groupBy(col("dec"))
        .agg(sum(size(col("toks"))).as("ntok"))
      val wC = Window.orderBy(col("dec"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val curve = tokHist
        .join(termMin.withColumnRenamed("md", "dec"), Seq("dec"), "left")
        .withColumn("nv", coalesce(col("nv"), lit(0L)))
        .withColumn("cum_toks", sum(col("ntok")).over(wC))
        .withColumn("cum_vocab", sum(col("nv")).over(wC))
        .withColumn("x", expr("cast(floor(ln(cast(cum_toks as double)) * 1000000) as bigint)"))
        .withColumn("y", expr("cast(floor(ln(cast(cum_vocab as double)) * 1000000) as bigint)"))
        .localCheckpoint(true)
      val fit = curve.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select(
          expr("cast(floor(cast(n * sxy - sx * sy as double) * 1000000 " +
            "/ cast(n * sxx - sx * sx as double)) as bigint)").as("beta_e6"))
      curve.crossJoin(broadcast(fit))
        .select(col("dec"), col("cum_toks"), col("cum_vocab"), col("beta_e6"))
        .orderBy(col("dec"))
    },
    Some("""WITH d AS (
           |  SELECT doc_id, string_split(text, ' ') AS toks,
           |    cast('0x' || substr(md5('hp:' || cast(doc_id as varchar)), 1, 8)
           |      as bigint) % 10 AS dec
           |  FROM documents
           |), tm AS (
           |  SELECT t, min(dec) AS md FROM (
           |    SELECT dec, unnest(toks) AS t FROM d
           |  ) GROUP BY t
           |), vh AS (SELECT md AS dec, cast(count(*) as bigint) AS nv FROM tm GROUP BY md
           |), th AS (
           |  SELECT dec, cast(sum(len(toks)) as bigint) AS ntok FROM d GROUP BY dec
           |), curve AS (
           |  SELECT th.dec, th.ntok, coalesce(vh.nv, 0) AS nv,
           |    cast(sum(th.ntok) OVER (ORDER BY th.dec
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS cum_toks,
           |    cast(sum(coalesce(vh.nv, 0)) OVER (ORDER BY th.dec
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS cum_vocab
           |  FROM th LEFT JOIN vh ON vh.dec = th.dec
           |), pts AS (
           |  SELECT dec, cum_toks, cum_vocab,
           |    cast(floor(ln(cast(cum_toks as double)) * 1000000) as bigint) AS x,
           |    cast(floor(ln(cast(cum_vocab as double)) * 1000000) as bigint) AS y
           |  FROM curve
           |), a AS (
           |  SELECT cast(count(*) as bigint) AS n, cast(sum(x) as bigint) AS sx,
           |    cast(sum(y) as bigint) AS sy, cast(sum(x * y) as bigint) AS sxy,
           |    cast(sum(x * x) as bigint) AS sxx
           |  FROM pts
           |), f AS (
           |  SELECT cast(floor(cast(n * sxy - sx * sy as double) * 1000000
           |    / cast(n * sxx - sx * sx as double)) as bigint) AS beta_e6
           |  FROM a
           |)
           |SELECT pts.dec, pts.cum_toks, pts.cum_vocab, f.beta_e6
           |FROM pts, f ORDER BY pts.dec""".stripMargin))

  // ---------------------------------------------------------------------
  // Dedup rate curve (threshold retention sweep)
  // ---------------------------------------------------------------------

  /** DEDUP RATE CURVE — "how aggressive can we afford to be": for each
    * Jaccard threshold 0.5..0.9, how many documents (and tokens) a
    * keep-smallest-id near-dup pass would drop. The LSH tune audit
    * (`ns_dedup_lsh_tune`) picks the banding; THIS picks the threshold —
    * the two knobs of a dedup rollout, each now with its own measured
    * curve. One pass computes candidate pairs (minhash band buckets) and
    * their EXACT Jaccard as e6 integers; each doc folds to its max
    * Jaccard against any smaller-id partner; the five thresholds read
    * off that per-doc scalar — the threshold-sweep property (more
    * thresholds cost nothing corpus-sized).
    *
    * Scale: the band-bucket candidate join is the minhash_lsh plan (no
    * all-pairs); the exact-Jaccard join carries only candidate pairs;
    * everything after the per-doc max is a 5×N-row conditional sum.
    */
  private val dedupRateCurve = Q(
    (s, dir) => {
      val docs = TS(s, dir, "documents")
        .withColumn("hs", expr(NorthStarQueries.hashedShinglesExpr))
        .select(col("doc_id"), array_distinct(col("hs")).as("hset"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
        .localCheckpoint(true)
      val bands = NorthStarQueries.minhashBands(s, dir)
      val b2 = bands.select(col("doc_id").as("b_id"), col("band"), col("bkey"))
      val pairs = bands.join(b2,
          bands("band") === b2("band") && bands("bkey") === b2("bkey") &&
            bands("doc_id") < col("b_id"))
        .select(col("doc_id").as("a_id"), col("b_id")).distinct()
      val a = docs.select(col("doc_id").as("a_id"), col("hset").as("a_h"))
      val b = docs.select(col("doc_id").as("b_id"), col("hset").as("b_h"))
      val maxj = pairs.join(a, Seq("a_id")).join(b, Seq("b_id"))
        .withColumn("inter", size(array_intersect(col("a_h"), col("b_h"))).cast("long"))
        .withColumn("jac_e6", expr(
          "(inter * 1000000) div (size(a_h) + size(b_h) - inter)"))
        .groupBy(col("b_id").as("doc_id"))
        .agg(max(col("jac_e6")).as("maxj_e6"))
      val scored = docs.join(maxj, Seq("doc_id"), "left")
        .withColumn("maxj_e6", coalesce(col("maxj_e6"), lit(0L)))
        .localCheckpoint(true)
      val ts = { import s.implicits._
        Seq(500000L, 600000L, 700000L, 800000L, 900000L).toDF("threshold_e6") }
      broadcast(ts).join(scored, col("maxj_e6") >= col("threshold_e6"), "left")
        .groupBy(col("threshold_e6"))
        .agg(count(col("doc_id")).as("n_dropped"),
          coalesce(sum(col("n_toks")), lit(0L)).as("toks_dropped"))
        .crossJoin(broadcast(
          docs.agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("toks_total"))))
        .select(col("threshold_e6"), col("n_dropped"), col("toks_dropped"),
          (col("n_docs") - col("n_dropped")).as("n_kept"),
          expr("((n_docs - n_dropped) * 1000000) div n_docs").as("kept_docs_ppm"),
          expr("((toks_total - toks_dropped) * 1000000) div toks_total")
            .as("kept_toks_ppm"))
        .orderBy(col("threshold_e6"))
    },
    Some(s"""WITH ${NorthStarQueries.minhashBandsSqlCtes}, pairs AS (
            |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            |  FROM bands a JOIN bands b
            |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
            |), hset AS (
            |  SELECT doc_id, list_distinct(hs) AS hset FROM hsh
            |), toks AS (
            |  SELECT doc_id, cast(len(string_split(text, ' ')) as bigint) AS n_toks
            |  FROM documents
            |), pj AS (
            |  SELECT p.b_id AS doc_id,
            |    max((cast(len(list_filter(ha.hset, x -> list_contains(hb.hset, x)))
            |        as bigint) * 1000000)
            |      // cast(len(ha.hset) + len(hb.hset)
            |        - len(list_filter(ha.hset, x -> list_contains(hb.hset, x)))
            |        as bigint)) AS maxj_e6
            |  FROM pairs p
            |  JOIN hset ha ON ha.doc_id = p.a_id
            |  JOIN hset hb ON hb.doc_id = p.b_id
            |  GROUP BY p.b_id
            |), scored AS (
            |  SELECT t.doc_id, t.n_toks, coalesce(pj.maxj_e6, 0) AS maxj_e6
            |  FROM toks t LEFT JOIN pj USING (doc_id)
            |), tot AS (
            |  SELECT cast(count(*) as bigint) AS n_docs,
            |    cast(sum(n_toks) as bigint) AS toks_total
            |  FROM scored
            |), th AS (SELECT unnest([500000, 600000, 700000, 800000, 900000])
            |          AS threshold_e6
            |)
            |SELECT cast(th.threshold_e6 as bigint) AS threshold_e6,
            |  cast(count(s.doc_id) as bigint) AS n_dropped,
            |  cast(coalesce(sum(s.n_toks), 0) as bigint) AS toks_dropped,
            |  tot.n_docs - cast(count(s.doc_id) as bigint) AS n_kept,
            |  ((tot.n_docs - cast(count(s.doc_id) as bigint)) * 1000000)
            |    // tot.n_docs AS kept_docs_ppm,
            |  ((tot.toks_total - cast(coalesce(sum(s.n_toks), 0) as bigint)) * 1000000)
            |    // tot.toks_total AS kept_toks_ppm
            |FROM th
            |LEFT JOIN scored s ON s.maxj_e6 >= th.threshold_e6, tot
            |GROUP BY th.threshold_e6, tot.n_docs, tot.toks_total
            |ORDER BY threshold_e6""".stripMargin))

  // ---------------------------------------------------------------------
  // Language-metadata confusion audit
  // ---------------------------------------------------------------------

  /** LANGID CONFUSION — does the DECLARED language metadata agree with
    * the CONTENT? The confusion matrix between the `lang` column and
    * the stopword-ratio detector (`ns_text_langid`'s heuristic), plus a
    * per-declared-language mismatch rate. On real crawls this is the
    * audit that catches mislabeled feeds and boilerplate-English pages
    * under foreign domains; on THIS fixture every document's text is
    * the same English-ish template regardless of its `lang` tag, so the
    * matrix shows en-detected mass under every declared language — the
    * metadata-contradicts-content flag at full strength, exactly what
    * the audit exists to catch.
    *
    * Scale: one map-only detector pass into a (declared, detected)
    * aggregate — |langs|×2 rows.
    */
  private val profileLangidConfusion = Q(
    (s, dir) => {
      val stopArr = "array('the','a','of','and','to','in','is','it')"
      val d = T(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("pred", when(
          expr(s"size(filter(toks, t -> array_contains($stopArr, t)))").cast("double") /
            size(col("toks")) >= 0.05, "en").otherwise("other"))
      val cm = d.groupBy(col("lang").as("declared"), col("pred").as("detected"))
        .agg(count(lit(1)).as("n"))
      val perLang = cm.groupBy(col("declared"))
        .agg(sum(col("n")).as("n_declared"),
          sum(when(col("declared") === col("detected"), col("n")).otherwise(0L))
            .as("n_agree"))
        .withColumn("mismatch_ppm",
          expr("((n_declared - n_agree) * 1000000) div n_declared"))
      cm.join(perLang, Seq("declared"))
        .select(col("declared"), col("detected"), col("n"), col("n_declared"),
          col("mismatch_ppm"))
        .orderBy(col("declared"), col("detected"))
    },
    Some("""WITH d AS (
           |  SELECT lang AS declared,
           |    CASE WHEN cast(len(list_filter(string_split(text, ' '),
           |        t -> list_contains(['the','a','of','and','to','in','is','it'], t)))
           |        as double) / len(string_split(text, ' ')) >= 0.05
           |      THEN 'en' ELSE 'other' END AS detected
           |  FROM documents
           |), cm AS (
           |  SELECT declared, detected, cast(count(*) as bigint) AS n
           |  FROM d GROUP BY declared, detected
           |), pl AS (
           |  SELECT declared, cast(sum(n) as bigint) AS n_declared,
           |    cast(sum(CASE WHEN declared = detected THEN n ELSE 0 END) as bigint)
           |      AS n_agree
           |  FROM cm GROUP BY declared
           |)
           |SELECT cm.declared, cm.detected, cm.n, pl.n_declared,
           |  ((pl.n_declared - pl.n_agree) * 1000000) // pl.n_declared AS mismatch_ppm
           |FROM cm JOIN pl USING (declared)
           |ORDER BY cm.declared, cm.detected""".stripMargin))

  // ---------------------------------------------------------------------
  // Krippendorff's alpha (3-rater agreement)
  // ---------------------------------------------------------------------

  /** KRIPPENDORFF'S ALPHA over THREE quality gates — the multi-rater
    * agreement read Cohen's kappa (`ns_quality_kappa`, strictly
    * pairwise) cannot give: the logistic classifier, the rule gate
    * (bad-term + quality-quartile), and the absolute score gate each
    * vote keep/drop per document; alpha = 1 − Do/De with observed
    * disagreement from per-unit discordant pairs (k(3−k) for k keeps of
    * 3) and expected disagreement from POOLED value frequencies with
    * the small-sample n(n−1) correction — Krippendorff's definition,
    * not kappa's per-rater marginals.
    *
    * Determinism: all counts exact; Do/De are e6 floor divs; alpha is
    * the shared sign-safe fdiv (alpha is legitimately negative when
    * gates anti-correlate).
    *
    * Scale: one scoring pass (the calibration class) narrowed to three
    * booleans, a broadcast percentile scalar, and a single-row rollup.
    */
  private val qualityKrippendorff = Q(
    (s, dir) => {
      val scored = TS(s, dir, "documents")
        .transform(qualityZ)
        .withColumn("r1", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6) >= 0.5)
        .withColumn("quality", round(
          size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")).cast("double") * 0.5 +
            least(size(col("toks")).cast("double") / 100, lit(1.0)) * 0.5, 6))
        .withColumn("bad", col("text").rlike("(^| )(dup|slow)( |$)"))
        .withColumn("r3", col("quality") >= 0.5)
        .select(col("r1"), col("quality"), col("bad"), col("r3"))
        .localCheckpoint(true)
      val thr = scored.agg(round(expr("percentile(quality, 0.25)"), 6).as("q25"))
      scored.crossJoin(broadcast(thr))
        .withColumn("r2", !col("bad") && col("quality") >= col("q25"))
        .withColumn("k", expr(
          "cast(IF(r1, 1, 0) + IF(r2, 1, 0) + IF(r3, 1, 0) as bigint)"))
        .agg(count(lit(1)).as("n_units"),
          sum(when(col("r1"), 1L).otherwise(0L)).as("keep_r1"),
          sum(when(col("r2"), 1L).otherwise(0L)).as("keep_r2"),
          sum(when(col("r3"), 1L).otherwise(0L)).as("keep_r3"),
          sum(expr("k * (3 - k)")).as("discord"),
          sum(col("k")).as("keeps"))
        .withColumn("do_e6", expr("(discord * 1000000) div (3 * n_units)"))
        .withColumn("de_e6", expr(
          "(2 * keeps * (3 * n_units - keeps) * 1000000) " +
            "div ((3 * n_units) * (3 * n_units - 1))"))
        .withColumn("alpha_e6", expr(
          "CASE WHEN de_e6 = 0 THEN 0 ELSE " +
            fdivSpark("(de_e6 - do_e6) * 1000000", "de_e6") + " END"))
        .select(col("n_units"), col("keep_r1"), col("keep_r2"), col("keep_r3"),
          col("discord"), col("do_e6"), col("de_e6"), col("alpha_e6"))
    },
    Some(s"""WITH $qualityZSqlCtes, sc AS (
           |  SELECT
           |    (round(1.0 / (1.0 + exp(-z)), 6) >= 0.5) AS r1,
           |    round(cast(len(list_distinct(toks)) as double) / len(toks) * 0.5
           |      + least(cast(len(toks) as double) / 100, 1.0) * 0.5, 6) AS quality,
           |    regexp_matches(text, '(^| )(dup|slow)( |$$)') AS bad
           |  FROM f
           |), thr AS (
           |  SELECT round(quantile_cont(quality, 0.25), 6) AS q25 FROM sc
           |), g AS (
           |  SELECT cast(CASE WHEN r1 THEN 1 ELSE 0 END
           |    + CASE WHEN (NOT bad AND quality >= q25) THEN 1 ELSE 0 END
           |    + CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END as bigint) AS k,
           |    r1, (NOT bad AND quality >= q25) AS r2, quality >= 0.5 AS r3
           |  FROM sc, thr
           |), a AS (
           |  SELECT cast(count(*) as bigint) AS n_units,
           |    cast(sum(CASE WHEN r1 THEN 1 ELSE 0 END) as bigint) AS keep_r1,
           |    cast(sum(CASE WHEN r2 THEN 1 ELSE 0 END) as bigint) AS keep_r2,
           |    cast(sum(CASE WHEN r3 THEN 1 ELSE 0 END) as bigint) AS keep_r3,
           |    cast(sum(k * (3 - k)) as bigint) AS discord,
           |    cast(sum(k) as bigint) AS keeps
           |  FROM g
           |), d AS (
           |  SELECT a.*,
           |    (discord * 1000000) // (3 * n_units) AS do_e6,
           |    (2 * keeps * (3 * n_units - keeps) * 1000000)
           |      // ((3 * n_units) * (3 * n_units - 1)) AS de_e6
           |  FROM a
           |)
           |SELECT n_units, keep_r1, keep_r2, keep_r3, discord, do_e6, de_e6,
           |  cast(CASE WHEN de_e6 = 0 THEN 0 ELSE """.stripMargin +
      fdivSql("(de_e6 - do_e6) * 1000000", "de_e6") +
      """ END as bigint) AS alpha_e6
        |FROM d""".stripMargin))

  // ---------------------------------------------------------------------
  // Greedy k-center seeding (farthest-point index init)
  // ---------------------------------------------------------------------

  /** K-CENTER greedy seeding (Gonzalez farthest-point traversal) — the
    * DETERMINISTIC index-initialization read: starting from vector 0,
    * each round picks the vector farthest (exact fixed-point squared
    * distance ‖a‖² + ‖b‖² − 2⟨a,b⟩, all scaled_dot bigints) from the
    * chosen set, 8 rounds; the COVERAGE RADIUS after each pick (max
    * min-distance) is the curve that says how many coarse centroids an
    * IVF index actually needs — the 2-approximation guarantee of
    * k-center makes the radius column an honest capacity bound, which
    * hash-seeded or k-means++ inits can't promise.
    *
    * Scale: each round is one broadcast join against the ≤8-row chosen
    * set, a per-vector min, and a global top-1 (TakeOrdered) — k corpus
    * passes total, each map-bounded; the oracle unrolls all 8 rounds.
    */
  private val embedKcenterInit = Q(
    (s, dir) => {
      val e = TS(s, dir, "embeddings")
        .withColumn("nrm", expr("scaled_dot(embedding, embedding)"))
        .select(col("vec_id"), col("embedding"), col("nrm"))
        .localCheckpoint(true)
      var chosen = e.where(col("vec_id") === 0)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
          col("nrm").as("c_nrm"))
        .localCheckpoint(true)
      val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
      (1 to 8).foreach { r =>
        val mind = e.join(broadcast(chosen), lit(true))
          .withColumn("d2", expr("nrm + c_nrm - 2 * scaled_dot(embedding, c_emb)"))
          .groupBy(col("vec_id")).agg(min(col("d2")).as("mind"))
        // the radius IS the picked row's own min-distance (it's the
        // argmax), so one TakeOrdered collect serves both — halves the
        // driver round-trips vs a separate max() job per round
        val top = mind.orderBy(col("mind").desc, col("vec_id")).limit(1)
          .collect()(0)
        val pick = top.getLong(0)
        val radius = top.getLong(1)
        out += ((r, pick, radius))
        if (r < 8) {
          chosen = chosen.unionAll(
            e.where(col("vec_id") === pick)
              .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
                col("nrm").as("c_nrm"))).localCheckpoint(true)
        }
      }
      import s.implicits._
      out.toSeq.toDF("pick_order", "picked_id", "radius_fp")
        .orderBy(col("pick_order"))
    },
    Some {
      val dot = scaledDotSql("e.embedding", "c.c_emb")
      def md(prev: String) =
        s"""SELECT e.vec_id, cast(min(e.nrm + c.c_nrm - 2 * cast(($dot) as bigint))
           |    as bigint) AS mind
           |  FROM e JOIN $prev c ON true GROUP BY e.vec_id""".stripMargin
      def pick(m: String) =
        s"(SELECT vec_id FROM $m ORDER BY mind DESC, vec_id LIMIT 1)"
      val rounds = (1 to 8).map { r =>
        s"""md$r AS MATERIALIZED (
           |  ${md(s"c$r")}
           |), p$r AS MATERIALIZED (
           |  SELECT $r AS pick_order,
           |    cast(${pick(s"md$r")} as bigint) AS picked_id,
           |    cast((SELECT max(mind) FROM md$r) as bigint) AS radius_fp
           |)""".stripMargin + (if (r < 8)
          s""", c${r + 1} AS MATERIALIZED (
             |  SELECT * FROM c$r UNION ALL
             |  SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm
             |  FROM e WHERE vec_id = (SELECT picked_id FROM p$r)
             |)""".stripMargin
        else "")
      }.mkString(", ")
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, embedding,
         |    cast(${scaledDotSql("embedding", "embedding")} as bigint) AS nrm
         |  FROM embeddings
         |), c1 AS MATERIALIZED (
         |  SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm
         |  FROM e WHERE vec_id = 0
         |), $rounds
         |SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL
         |SELECT * FROM p3 UNION ALL SELECT * FROM p4 UNION ALL
         |SELECT * FROM p5 UNION ALL SELECT * FROM p6 UNION ALL
         |SELECT * FROM p7 UNION ALL SELECT * FROM p8
         |ORDER BY pick_order""".stripMargin
    })

  // ---------------------------------------------------------------------
  // Stratified k-fold assignment (cross-validation prep)
  // ---------------------------------------------------------------------

  /** STRATIFIED 5-FOLD assignment — the cross-validation harness a
    * quality-classifier trainer needs: within every source, documents
    * take folds round-robin in hash order (rank mod 5), so each
    * source's fold counts differ by AT MOST ONE — exact stratification,
    * not the in-expectation balance a plain hash split gives. The
    * output proves it: per-fold doc/token masses plus the worst
    * per-source fold-count spread, which is ≤ 1 BY CONSTRUCTION and
    * emitted as the audit column.
    *
    * Scale: one source-keyed rank window (in-partition, the gini
    * class), a (source, fold) grid aggregate, and two grid-sized
    * rollups.
    */
  private val corpusKfold = Q(
    (s, dir) => {
      val wS = Window.partitionBy(col("source")).orderBy(col("hkey"), col("doc_id"))
      val d = TS(s, dir, "documents")
        .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
        .withColumn("hkey", expr(
          "cast(conv(substring(md5(concat('kf:', cast(doc_id as string))), " +
            "1, 8), 16, 10) as bigint)"))
        .withColumn("fold", pmod(row_number().over(wS) - 1, lit(5)).cast("long"))
      val grid = d.groupBy(col("source"), col("fold"))
        .agg(count(lit(1)).as("n"), sum(col("n_toks")).as("toks"))
        .localCheckpoint(true)
      val spread = grid.groupBy(col("source"))
        .agg((max(col("n")) - min(col("n"))).as("sp"))
        .agg(max(col("sp")).as("max_source_spread"))
      grid.groupBy(col("fold"))
        .agg(sum(col("n")).as("n_docs"), sum(col("toks")).as("n_toks"),
          count(lit(1)).as("n_sources"))
        .crossJoin(broadcast(spread))
        .withColumn("balanced", col("max_source_spread") <= 1L)
        .orderBy(col("fold"))
    },
    Some("""WITH d AS (
           |  SELECT source, doc_id,
           |    cast(len(string_split(text, ' ')) as bigint) AS n_toks,
           |    cast('0x' || substr(md5('kf:' || cast(doc_id as varchar)), 1, 8)
           |      as bigint) AS hkey
           |  FROM documents
           |), f AS (
           |  SELECT source, n_toks,
           |    cast((row_number() OVER (PARTITION BY source ORDER BY hkey, doc_id)
           |      - 1) % 5 as bigint) AS fold
           |  FROM d
           |), grid AS (
           |  SELECT source, fold, cast(count(*) as bigint) AS n,
           |    cast(sum(n_toks) as bigint) AS toks
           |  FROM f GROUP BY source, fold
           |), sp AS (
           |  SELECT cast(max(mx - mn) as bigint) AS max_source_spread FROM (
           |    SELECT source, max(n) AS mx, min(n) AS mn FROM grid GROUP BY source)
           |)
           |SELECT fold, cast(sum(n) as bigint) AS n_docs,
           |  cast(sum(toks) as bigint) AS n_toks,
           |  cast(count(*) as bigint) AS n_sources,
           |  sp.max_source_spread, sp.max_source_spread <= 1 AS balanced
           |FROM grid, sp
           |GROUP BY fold, sp.max_source_spread
           |ORDER BY fold""".stripMargin))

  // ---------------------------------------------------------------------
  // Neyman sample allocation (variance-optimal stratified sampling)
  // ---------------------------------------------------------------------

  /** NEYMAN allocation — how a fixed labeling/eval budget SHOULD split
    * across sources: proportional-to-N_h·σ_h (the allocation that
    * minimizes the stratified estimator's variance), versus the naive
    * proportional-to-size split. Sources whose token lengths vary more
    * get more of the budget; near-constant sources get less — the
    * delta column is the read ("where naive sampling wastes labels").
    *
    * Determinism: per-stratum variance numerators are the exact
    * integer identity N·Σx² − (Σx)²; each σ takes ONE double sqrt
    * floored to e3; allocations are bigint mult-divs of a broadcast
    * total.
    *
    * Scale: one corpus aggregate to |sources| rows; everything after
    * is S-row arithmetic.
    */
  private val sampleNeyman = Q(
    (s, dir) => {
      val src = TS(s, dir, "documents")
        .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("nh"), sum(col("n_toks")).as("sx"),
          sum(col("n_toks") * col("n_toks")).as("sxx"))
        .withColumn("s_e3", expr(
          "cast(floor(sqrt(cast(nh * sxx - sx * sx as double) " +
            "/ cast(nh * (nh - 1) as double)) * 1000) as bigint)"))
        .withColumn("w", col("nh") * col("s_e3"))
        .localCheckpoint(true)
      val tot = src.agg(sum(col("w")).as("tw"), sum(col("nh")).as("tn"))
      src.crossJoin(broadcast(tot))
        .withColumn("alloc_neyman", expr("(1000 * w) div tw"))
        .withColumn("alloc_prop", expr("(1000 * nh) div tn"))
        .select(col("source"), col("nh"), col("s_e3"),
          col("alloc_neyman"), col("alloc_prop"),
          (col("alloc_neyman") - col("alloc_prop")).as("delta"))
        .orderBy(col("source"))
    },
    Some("""WITH src AS (
           |  SELECT source, cast(count(*) as bigint) AS nh,
           |    cast(sum(len(string_split(text, ' '))) as bigint) AS sx,
           |    cast(sum(len(string_split(text, ' ')) * len(string_split(text, ' ')))
           |      as bigint) AS sxx
           |  FROM documents GROUP BY source
           |), w AS (
           |  SELECT source, nh,
           |    cast(floor(sqrt(cast(nh * sxx - sx * sx as double)
           |      / cast(nh * (nh - 1) as double)) * 1000) as bigint) AS s_e3
           |  FROM src
           |), ww AS (SELECT w.*, nh * s_e3 AS wt FROM w
           |), tot AS (
           |  SELECT cast(sum(wt) as bigint) AS tw, cast(sum(nh) as bigint) AS tn
           |  FROM ww
           |)
           |SELECT ww.source, ww.nh, ww.s_e3,
           |  (1000 * ww.wt) // tot.tw AS alloc_neyman,
           |  (1000 * ww.nh) // tot.tn AS alloc_prop,
           |  (1000 * ww.wt) // tot.tw - (1000 * ww.nh) // tot.tn AS delta
           |FROM ww, tot ORDER BY ww.source""".stripMargin))

  // ---------------------------------------------------------------------
  // Sorted-neighborhood blocking dedup (merge/purge)
  // ---------------------------------------------------------------------

  /** SORTED-NEIGHBORHOOD dedup — the classic sort-merge alternative to
    * minhash banding (Hernandez/Stolfo merge-purge): normalize the text
    * to a sort key, order the corpus by it, and propose only pairs
    * within a sliding window of w=4 neighbors. Two passes with
    * complementary keys (normalized prefix, reversed-text prefix =
    * suffix key) so edits at either end of a document cannot hide a
    * near-dup from both orderings; candidates are then verified with
    * the EXACT shingle Jaccard (shared 3-gram pipeline), so the output
    * is an audited pair list: (pair, how many passes proposed it,
    * jac_e6, dup verdict at 0.5). On this fixture the prefix pass finds
    * every true near-dup (tail-perturbed copies) and the suffix pass
    * contributes only low-sim candidates — exactly the per-pass recall
    * attribution the audit exists to measure.
    *
    * Scale: each pass is one hash-shuffle on the 8-char block key with
    * a BOUNDED (w-row lead) window inside each block — never a
    * corpus-wide single-reducer window, never all-pairs; candidate
    * volume is <= 2*w*N rows, and the exact-Jaccard join touches only
    * candidates. The block prefix keeps sort locality (near keys share
    * the block), so at 100 TB this is two bounded-window passes plus a
    * candidate-sized verify join.
    */
  private val dedupSortedNeighborhood = Q(
    (s, dir) => {
      val keys = TS(s, dir, "documents")
        .withColumn("nrm", expr("regexp_replace(lower(text), '[^a-z0-9]', '')"))
        .select(col("doc_id"),
          expr("substring(nrm, 1, 32)").as("k1"),
          expr("substring(reverse(nrm), 1, 32)").as("k2"))
        .localCheckpoint(true)
      def pass(kcol: String, p: Int) = {
        val w = Window.partitionBy(expr(s"substring($kcol, 1, 8)"))
          .orderBy(col(kcol), col("doc_id"))
        keys.select(col("doc_id").as("a0"),
            array((1 to 4).map(k => lead(col("doc_id"), k).over(w)): _*).as("nb"))
          .select(col("a0"), explode(col("nb")).as("b0"))
          .where(col("b0").isNotNull)
          .select(least(col("a0"), col("b0")).as("a_id"),
            greatest(col("a0"), col("b0")).as("b_id"), lit(p).as("pass"))
      }
      val cand = pass("k1", 1).union(pass("k2", 2))
        .groupBy(col("a_id"), col("b_id"))
        .agg(countDistinct(col("pass")).as("n_passes"))
      val hs = TS(s, dir, "documents")
        .withColumn("hs", expr(NorthStarQueries.hashedShinglesExpr))
        .select(col("doc_id"), array_distinct(col("hs")).as("hset"))
        .localCheckpoint(true)
      cand
        .join(hs.select(col("doc_id").as("a_id"), col("hset").as("a_h")), Seq("a_id"))
        .join(hs.select(col("doc_id").as("b_id"), col("hset").as("b_h")), Seq("b_id"))
        .withColumn("inter", size(array_intersect(col("a_h"), col("b_h"))).cast("long"))
        .withColumn("jac_e6", expr(
          "coalesce((inter * 1000000) div nullif(size(a_h) + size(b_h) - inter, 0), 1000000)"))
        .select(col("a_id"), col("b_id"), col("n_passes"), col("jac_e6"),
          expr("cast(jac_e6 >= 500000 as bigint)").as("is_dup"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""WITH hsh AS (
            |  SELECT doc_id, ${NorthStarQueries.hashedShinglesSql} AS hs FROM documents
            |), d AS (
            |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nrm
            |  FROM documents
            |), keys AS (
            |  SELECT doc_id, substr(nrm, 1, 32) AS k1, substr(reverse(nrm), 1, 32) AS k2
            |  FROM d
            |), c1 AS (
            |  SELECT doc_id AS a0, [lead(doc_id, 1) OVER w1, lead(doc_id, 2) OVER w1,
            |    lead(doc_id, 3) OVER w1, lead(doc_id, 4) OVER w1] AS nb
            |  FROM keys WINDOW w1 AS (PARTITION BY substr(k1, 1, 8) ORDER BY k1, doc_id)
            |), c2 AS (
            |  SELECT doc_id AS a0, [lead(doc_id, 1) OVER w2, lead(doc_id, 2) OVER w2,
            |    lead(doc_id, 3) OVER w2, lead(doc_id, 4) OVER w2] AS nb
            |  FROM keys WINDOW w2 AS (PARTITION BY substr(k2, 1, 8) ORDER BY k2, doc_id)
            |), cand AS (
            |  SELECT least(a0, b0) AS a_id, greatest(a0, b0) AS b_id, 1 AS pass
            |  FROM (SELECT a0, unnest(nb) AS b0 FROM c1) WHERE b0 IS NOT NULL
            |  UNION ALL
            |  SELECT least(a0, b0), greatest(a0, b0), 2
            |  FROM (SELECT a0, unnest(nb) AS b0 FROM c2) WHERE b0 IS NOT NULL
            |), agg AS (
            |  SELECT a_id, b_id, cast(count(DISTINCT pass) as bigint) AS n_passes
            |  FROM cand GROUP BY 1, 2
            |), hset AS (SELECT doc_id, list_distinct(hs) AS hset FROM hsh),
            |j AS (
            |  SELECT g.a_id, g.b_id, g.n_passes,
            |    coalesce((cast(len(list_filter(ha.hset, x -> list_contains(hb.hset, x)))
            |        as bigint) * 1000000)
            |      // nullif(cast(len(ha.hset) + len(hb.hset)
            |        - len(list_filter(ha.hset, x -> list_contains(hb.hset, x)))
            |        as bigint), 0), 1000000) AS jac_e6
            |  FROM agg g JOIN hset ha ON ha.doc_id = g.a_id
            |  JOIN hset hb ON hb.doc_id = g.b_id
            |)
            |SELECT a_id, b_id, n_passes, jac_e6,
            |  cast(CASE WHEN jac_e6 >= 500000 THEN 1 ELSE 0 END as bigint) AS is_dup
            |FROM j ORDER BY a_id, b_id""".stripMargin))

  // ---------------------------------------------------------------------
  // Exact per-key EWMA smoothing (dyadic weights)
  // ---------------------------------------------------------------------

  /** EWMA SMOOTHING — per-user exponentially-weighted moving average of
    * the event value with a burst flag (value > 2x its smoothed level),
    * the standard low-latency baseline for per-entity rate/spend
    * monitoring. alpha = 1/2 truncated at 16 taps makes every weight a
    * POWER OF TWO, so the whole smoother is exact bigint arithmetic
    * (value -> decimal(18,4) -> e4 fixed point; numerator = sum of
    * lag_k * 2^(15-k); denominator = sum of the weights actually
    * present, so the warm-up ramp is exact too) — no float recursion,
    * bit-identical across engines, and the truncation error (< 2^-16 of
    * one tap) is BELOW the e4 quantum by construction.
    *
    * Scale: ONE hash-shuffle on user_id; the 16-lag window is bounded
    * in-partition state (16 longs per key), everything else is map-side
    * expression work — the plan is a single exchange at any corpus size.
    */
  private val tsEwmaSmooth = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val lags = (0 until 16).map { k =>
        val wgt = 1L << (15 - k)
        val lg = if (k == 0) col("v_e4") else lag(col("v_e4"), k).over(w)
        (coalesce(lg, lit(0L)) * lit(wgt),
          when(lg.isNotNull, lit(wgt)).otherwise(lit(0L)))
      }
      TS(s, dir, "events")
        .withColumn("v_e4", expr("cast(cast(value as decimal(18,4)) * 10000 as bigint)"))
        .withColumn("num", lags.map(_._1).reduce(_ + _))
        .withColumn("den", lags.map(_._2).reduce(_ + _))
        .withColumn("ewma_e4", expr("num div den"))
        .select(col("event_id"), col("user_id"), col("v_e4"), col("ewma_e4"),
          (col("v_e4") - col("ewma_e4")).as("dev_e4"),
          expr("cast(v_e4 > 2 * ewma_e4 as bigint)").as("is_burst"))
        .orderBy(col("event_id"))
    },
    Some {
      val num = (0 until 16).map { k =>
        val wgt = 1L << (15 - k)
        if (k == 0) s"v_e4 * $wgt" else s"coalesce(lag(v_e4, $k) OVER w, 0) * $wgt"
      }.mkString(" + ")
      val den = (0 until 16).map { k =>
        val wgt = 1L << (15 - k)
        if (k == 0) s"$wgt"
        else s"CASE WHEN lag(v_e4, $k) OVER w IS NOT NULL THEN $wgt ELSE 0 END"
      }.mkString(" + ")
      s"""WITH base AS (
         |  SELECT event_id, user_id, ts,
         |    cast(cast(value as decimal(18,4)) * 10000 as bigint) AS v_e4
         |  FROM events
         |), sm AS (
         |  SELECT event_id, user_id, v_e4,
         |    cast($num as bigint) AS num,
         |    cast($den as bigint) AS den
         |  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |)
         |SELECT event_id, user_id, v_e4, num // den AS ewma_e4,
         |  v_e4 - num // den AS dev_e4,
         |  cast(CASE WHEN v_e4 > 2 * (num // den) THEN 1 ELSE 0 END as bigint) AS is_burst
         |FROM sm ORDER BY event_id""".stripMargin
    })

  /** HTML -> VISIBLE-TEXT extraction — the step after
    * `ns_multimodal_warc_http` where a crawl response body becomes a
    * corpus document, and the single highest-frequency transform in any
    * web-scale pipeline (every Common Crawl document passes through
    * exactly this). [[graft.operators.HtmlText.extract]] is a one-pass
    * character state machine whose traps ARE the fixture: `<script>`
    * bodies that print fake `<p>` tags, `<style>` rules and comments
    * containing markup, attribute values with embedded `>` (quote-aware
    * tag scanning), named + numeric character references, uppercase tag
    * names, and markup-layout whitespace that must collapse out. The
    * oracle rebuilds the EXPECTED extracted text closed-form from the
    * same generation parameters and recomputes length + exact
    * char-code sum — a stripper that leaks script text, drops an
    * anchor's text, splits on a quoted `>`, or mis-decodes an entity
    * hash-fails. Structural truncation rejects whole-document
    * (HtmlTextSpec pins the reject boundaries).
    *
    * Scale: one narrow mapPartitions pass over document text — the
    * multimodal codec shape applied to markup; a title + five longs per
    * document leave the map side, bodies never shuffle.
    */
  private val textHtmlExtract = Q.scratch("htmlx")(
    (s, dir, base) => {
      import s.implicits._
      val docs = T(s, dir, "nation").select(col("n_nationkey")).collect()
        .map { r =>
          val k = r.getInt(0)
          (k.toLong, graft.operators.HtmlText.htmlPage(k, 2 + k % 3, 1 + k % 4))
        }.toSeq
      docs.toDF("file_id", "html").write.mode("overwrite").parquet(base)
      s.read.parquet(base)
        .select(col("file_id"), col("html")).as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, h) =>
            graft.operators.HtmlText.extract(h) match {
              case Some(e) =>
                (id, e.title, e.nLinks, e.nPara, e.text.length.toLong,
                  e.text.foldLeft(0L)(_ + _.toLong), true)
              case None => (id, "", 0L, 0L, 0L, 0L, false)
            }
          }
        }
        .toDF("file_id", "title", "n_links", "n_para", "text_chars",
          "text_sum", "valid")
        .orderBy(col("file_id"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(2 + n_nationkey % 3 as bigint) AS np,
           |    cast(1 + n_nationkey % 4 as bigint) AS nl
           |  FROM nation
           |), paras AS (
           |  SELECT k, string_agg('Section ' || i || ' of page ' || k ||
           |      ': alpha & beta <tag> A=A B=B.', ' ' ORDER BY i) AS ptxt
           |  FROM (SELECT k, unnest(generate_series(0, np - 1)) AS i FROM g)
           |  GROUP BY k
           |), links AS (
           |  SELECT k, string_agg('link ' || j || ' of page ' || k,
           |      ' ' ORDER BY j) AS ltxt
           |  FROM (SELECT k, unnest(generate_series(0, nl - 1)) AS j FROM g)
           |  GROUP BY k
           |), vis AS (
           |  SELECT g.k, g.np, g.nl,
           |    paras.ptxt || ' ' || links.ltxt ||
           |      ' trailing words of page ' || g.k AS v
           |  FROM g JOIN paras ON paras.k = g.k JOIN links ON links.k = g.k
           |)
           |SELECT k AS file_id, 'Crawl & Page ' || k AS title,
           |  nl AS n_links, np AS n_para,
           |  cast(length(v) as bigint) AS text_chars,
           |  cast(list_sum(list_transform(string_split(v, ''),
           |    c -> ascii(c))) as bigint) AS text_sum,
           |  true AS valid
           |FROM vis ORDER BY file_id""".stripMargin))

  /** robots.txt POLICY EVALUATION — the crawl-permission gate applied
    * before any URL becomes corpus bytes: [[graft.operators.Robots]]
    * implements RFC 9309 (lenient line grammar, group selection with
    * specific-agent-beats-`*`, `*` wildcards + trailing-`$` anchors
    * over path+query, LONGEST-pattern precedence with the allow
    * tie-break, empty-Disallow-matches-nothing). The fixture policy
    * exercises every precedence mechanism — a nested Allow carve-out
    * under a Disallow prefix, competing wildcard anchors at different
    * lengths, the `/private/`-vs-`/privatevalue` prefix boundary, a
    * query-string target that defeats a `$` anchor, and an unknown
    * directive (`Crawl-delay`) that must be ignored — and the oracle is
    * the RFC decision table derived BY HAND for all 10 targets under
    * both the specific-group and `*`-group agents (RobotsSpec re-derives
    * the same table case by case, plus the lenient-parse corners).
    *
    * Scale: parse once per (host, robots fetch), probe per URL map-side
    * — the decide pass runs inside one narrow mapPartitions over the
    * URL stream; nothing shuffles.
    */
  private val textRobots = Q(
    (s, dir) => {
      import s.implicits._
      val robotsTxt =
        """# graft crawl policy
          |User-agent: graftbot
          |Disallow: /private/
          |Allow: /private/public/
          |Disallow: /*.json$
          |Allow: /api/*.json$
          |
          |User-agent: *
          |Disallow: /tmp/
          |Allow: /
          |Crawl-delay: 2
          |""".stripMargin
      val paths = Vector("/", "/private/x", "/private/public/y",
        "/data/file.json", "/data/file.json?x=1", "/api/v1/data.json",
        "/tmp/scratch", "/privatevalue", "/private/public", "/a/b.json.txt")
      val agents = T(s, dir, "nation").select(col("n_nationkey")).collect()
        .map { r =>
          val k = r.getInt(0)
          (k.toLong, if (k % 2 == 0) "graftbot" else "otherbot")
        }.toSeq
      agents.toDF("file_id", "agent").as[(Long, String)]
        .mapPartitions { it =>
          val groups = graft.operators.Robots.parse(robotsTxt)
          it.flatMap { case (id, agent) =>
            paths.zipWithIndex.map { case (p, i) =>
              val (ok, len) = graft.operators.Robots.decide(groups, agent, p)
              (id, i.toLong, agent, p, ok, len.toLong)
            }
          }
        }
        .toDF("file_id", "path_idx", "agent", "path", "allowed", "rule_len")
        .orderBy(col("file_id"), col("path_idx"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    CASE WHEN n_nationkey % 2 = 0 THEN 'graftbot'
           |         ELSE 'otherbot' END AS agent
           |  FROM nation
           |), p AS (
           |  SELECT k, agent, cast(unnest(generate_series(0, 9)) as bigint) AS i
           |  FROM g
           |)
           |SELECT k AS file_id, i AS path_idx, agent,
           |  CASE i WHEN 0 THEN '/' WHEN 1 THEN '/private/x'
           |    WHEN 2 THEN '/private/public/y' WHEN 3 THEN '/data/file.json'
           |    WHEN 4 THEN '/data/file.json?x=1' WHEN 5 THEN '/api/v1/data.json'
           |    WHEN 6 THEN '/tmp/scratch' WHEN 7 THEN '/privatevalue'
           |    WHEN 8 THEN '/private/public' ELSE '/a/b.json.txt' END AS path,
           |  CASE WHEN agent = 'graftbot'
           |    THEN i NOT IN (1, 3, 8)
           |    ELSE i <> 6 END AS allowed,
           |  CASE WHEN agent = 'graftbot'
           |    THEN cast(CASE i WHEN 1 THEN 9 WHEN 2 THEN 16 WHEN 3 THEN 8
           |      WHEN 5 THEN 12 WHEN 8 THEN 9 ELSE 0 END as bigint)
           |    ELSE cast(CASE i WHEN 6 THEN 5 ELSE 1 END as bigint)
           |  END AS rule_len
           |FROM p ORDER BY file_id, path_idx""".stripMargin))

  /** Deterministic raw-URL fixture expression (Spark SQL) over an id
    * column — scheme/host case, default vs explicit vs non-default
    * port, query-param order, tracking params, fragments all perturbed
    * by the id's residues. Shared by [[dedupUrl]] (over doc_id) and
    * [[decontaminateUrl]] (over benchmark ids).
    */
  private def rawUrlSpark(id: String): String =
    s"""concat(
       |  CASE WHEN $id % 5 = 0 THEN 'HTTP' WHEN $id % 5 = 1 THEN 'http'
       |       WHEN $id % 5 = 2 THEN 'HTTPS' ELSE 'https' END,
       |  '://',
       |  CASE WHEN $id % 3 = 0
       |         THEN concat('WWW.Site', cast($id % 5 as string), '.Example.COM')
       |       WHEN $id % 3 = 1
       |         THEN concat('www.SITE', cast($id % 5 as string), '.example.com')
       |       ELSE concat('www.site', cast($id % 5 as string), '.example.com') END,
       |  CASE WHEN $id % 4 = 0
       |         THEN CASE WHEN $id % 5 <= 1 THEN ':80' ELSE ':443' END
       |       WHEN $id % 4 = 1 THEN ':8080' ELSE '' END,
       |  concat('/docs/', cast($id % 10 as string)),
       |  '?',
       |  CASE WHEN $id % 2 = 0 THEN 'p=1&q=2' ELSE 'q=2&p=1' END,
       |  CASE WHEN $id % 3 = 0 THEN '&utm_source=feed' ELSE '' END,
       |  CASE WHEN $id % 7 = 0 THEN concat('&gclid=g', cast($id as string)) ELSE '' END,
       |  CASE WHEN $id % 2 = 1 THEN concat('#sec', cast($id % 7 as string)) ELSE '' END
       |)""".stripMargin

  /** DuckDB twin of [[rawUrlSpark]]. */
  private def rawUrlSql(id: String): String =
    s"""(CASE WHEN $id % 5 = 0 THEN 'HTTP' WHEN $id % 5 = 1 THEN 'http'
       |      WHEN $id % 5 = 2 THEN 'HTTPS' ELSE 'https' END)
       ||| '://'
       ||| (CASE WHEN $id % 3 = 0
       |           THEN 'WWW.Site' || cast($id % 5 as varchar) || '.Example.COM'
       |         WHEN $id % 3 = 1
       |           THEN 'www.SITE' || cast($id % 5 as varchar) || '.example.com'
       |         ELSE 'www.site' || cast($id % 5 as varchar) || '.example.com' END)
       ||| (CASE WHEN $id % 4 = 0
       |           THEN CASE WHEN $id % 5 <= 1 THEN ':80' ELSE ':443' END
       |         WHEN $id % 4 = 1 THEN ':8080' ELSE '' END)
       ||| '/docs/' || cast($id % 10 as varchar)
       ||| '?'
       ||| (CASE WHEN $id % 2 = 0 THEN 'p=1&q=2' ELSE 'q=2&p=1' END)
       ||| (CASE WHEN $id % 3 = 0 THEN '&utm_source=feed' ELSE '' END)
       ||| (CASE WHEN $id % 7 = 0 THEN '&gclid=g' || cast($id as varchar) ELSE '' END)
       ||| (CASE WHEN $id % 2 = 1 THEN '#sec' || cast($id % 7 as varchar) ELSE '' END)""".stripMargin

  /** Add `url`, `canonical_url`, `tracked`, `frag` derived from
    * `urlExpr` — the crawl canonicalization contract: lowercase
    * scheme+host, strip fragment, strip the scheme's default port
    * only, drop tracking params, sort survivors. Pure native
    * expressions, no UDF.
    *
    * Plan shape matters here: a naive withColumn CHAIN re-inlines the
    * url construction into every downstream reference (CollapseProject),
    * so the canonical expression's codegen grows multiplicatively and
    * per-plan JIT dominates the wall. Binding the url (and then the
    * derived parts) as HIGHER-ORDER-FUNCTION lambda variables —
    * `transform(array(url), u -> ...)` — stops the expansion: lambda
    * variables are evaluated once per row, never re-inlined, so the
    * expression stays flat no matter how many consumers read it.
    */
  private[graft] def canonicalized(df: DataFrame, urlExpr: String): DataFrame =
    df.withColumn("c", expr(
      s"""element_at(transform(array($urlExpr), u ->
         #  element_at(transform(array(struct(
         #      lower(regexp_extract(u, '^([A-Za-z]+)://', 1)) AS sch,
         #      lower(regexp_extract(regexp_extract(u, '^[A-Za-z]+://([^/]+)', 1),
         #        '^([^:]+)', 1)) AS host,
         #      regexp_extract(regexp_extract(u, '^[A-Za-z]+://([^/]+)', 1),
         #        ':([0-9]+)$$', 1) AS port,
         #      regexp_extract(u, '^[A-Za-z]+://[^/]+([^?#]*)', 1) AS path,
         #      filter(split(regexp_extract(u, '\\\\?([^#]*)', 1), '&'),
         #        p -> p <> '') AS qparts,
         #      array_sort(filter(filter(split(regexp_extract(u, '\\\\?([^#]*)', 1), '&'),
         #          p -> p <> ''),
         #        p -> NOT (startswith(p, 'utm_') OR startswith(p, 'gclid=')
         #          OR startswith(p, 'fbclid=')))) AS kept)),
         #    q -> struct(
         #      u AS url,
         #      concat(q.sch, '://', q.host,
         #        CASE WHEN q.port = '' OR (q.sch = 'https' AND q.port = '443')
         #               OR (q.sch = 'http' AND q.port = '80') THEN ''
         #             ELSE concat(':', q.port) END,
         #        q.path,
         #        CASE WHEN size(q.kept) = 0 THEN ''
         #             ELSE concat('?', array_join(q.kept, '&')) END) AS canonical_url,
         #      size(q.kept) < size(q.qparts) AS tracked,
         #      instr(u, '#') > 0 AS frag)), 1)), 1)""".stripMargin('#')))
      .withColumn("url", col("c.url"))
      .withColumn("canonical_url", col("c.canonical_url"))
      .withColumn("tracked", col("c.tracked"))
      .withColumn("frag", col("c.frag"))
      .drop("c")

  /** DuckDB twin of [[canonicalized]]: a SELECT producing
    * (doc_id, url, canonical_url, tracked, frag) from a relation
    * `$src(doc_id, url)`.
    */
  private def canonSql(src: String): String =
    s"""SELECT doc_id, url,
       |    sch || '://' || host
       |    || (CASE WHEN port = '' OR (sch = 'https' AND port = '443')
       |               OR (sch = 'http' AND port = '80') THEN ''
       |             ELSE ':' || port END)
       |    || path
       |    || (CASE WHEN len(kq) = 0 THEN ''
       |             ELSE '?' || array_to_string(kq, '&') END) AS canonical_url,
       |    len(kq) < len(qparts) AS tracked,
       |    instr(url, '#') > 0 AS frag
       |  FROM (
       |    SELECT doc_id, url, sch, host, port, path, qparts,
       |      list_sort(list_filter(qparts, p -> NOT (starts_with(p, 'utm_')
       |        OR starts_with(p, 'gclid=') OR starts_with(p, 'fbclid=')))) AS kq
       |    FROM (
       |      SELECT doc_id, url,
       |        lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS sch,
       |        lower(regexp_extract(regexp_extract(url, '^[A-Za-z]+://([^/]+)', 1),
       |          '^([^:]+)', 1)) AS host,
       |        regexp_extract(regexp_extract(url, '^[A-Za-z]+://([^/]+)', 1),
       |          ':([0-9]+)$$', 1) AS port,
       |        regexp_extract(url, '^[A-Za-z]+://[^/]+([^?#]*)', 1) AS path,
       |        list_filter(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
       |          p -> p <> '') AS qparts
       |      FROM $src))""".stripMargin

  /** URL-CANONICALIZATION dedup — the FIRST dedup pass real crawl
    * pipelines run (CCNet/RefinedWeb class: URL-level dedup before any
    * content hash, because re-crawls and tracking-tagged share links
    * are the bulk of raw-crawl duplication). Each document carries a
    * deterministically perturbed raw URL (scheme/host case, default
    * vs explicit vs non-default port, query-parameter order, `utm_*`/
    * `gclid` tracking params, fragments); BOTH engines canonicalize
    * INDEPENDENTLY with their own native expressions — lowercase
    * scheme+host, strip the fragment, strip the scheme's default port
    * (keep `:8080`), drop tracking params, sort the survivors — and
    * the group census (dup count, keeper = min doc_id, how many
    * members carried tracking params / fragments) must agree. A
    * canonicalizer that sorts before dropping, strips `:8080`, or
    * lowercases the query hash-fails.
    *
    * Scale: canonicalization is a map-side codegen'd expression chain
    * (regexp part-split + array filter/sort — no UDF); the ONE shuffle
    * is the group-by on short canonical strings with map-side combine;
    * document text is never read. Replication multiplies group
    * occupancy, not group count — the exact-dedup scale shape.
    */
  private val dedupUrl = Q(
    (s, dir) => {
      canonicalized(T(s, dir, "documents").select(col("doc_id")),
        rawUrlSpark("doc_id"))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keeper"),
          sum(expr("cast(tracked as bigint)")).as("n_tracked"),
          sum(expr("cast(frag as bigint)")).as("n_fragment"))
        .orderBy(col("canonical_url"))
    },
    Some("""WITH u AS (
           |  SELECT doc_id,
           |    (CASE WHEN doc_id % 5 = 0 THEN 'HTTP' WHEN doc_id % 5 = 1 THEN 'http'
           |          WHEN doc_id % 5 = 2 THEN 'HTTPS' ELSE 'https' END)
           |    || '://'
           |    || (CASE WHEN doc_id % 3 = 0
           |               THEN 'WWW.Site' || cast(doc_id % 5 as varchar) || '.Example.COM'
           |             WHEN doc_id % 3 = 1
           |               THEN 'www.SITE' || cast(doc_id % 5 as varchar) || '.example.com'
           |             ELSE 'www.site' || cast(doc_id % 5 as varchar) || '.example.com' END)
           |    || (CASE WHEN doc_id % 4 = 0
           |               THEN CASE WHEN doc_id % 5 <= 1 THEN ':80' ELSE ':443' END
           |             WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END)
           |    || '/docs/' || cast(doc_id % 10 as varchar)
           |    || '?'
           |    || (CASE WHEN doc_id % 2 = 0 THEN 'p=1&q=2' ELSE 'q=2&p=1' END)
           |    || (CASE WHEN doc_id % 3 = 0 THEN '&utm_source=feed' ELSE '' END)
           |    || (CASE WHEN doc_id % 7 = 0 THEN '&gclid=g' || cast(doc_id as varchar) ELSE '' END)
           |    || (CASE WHEN doc_id % 2 = 1 THEN '#sec' || cast(doc_id % 7 as varchar) ELSE '' END)
           |    AS url
           |  FROM documents
           |), parts AS (
           |  SELECT doc_id, url,
           |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS sch,
           |    lower(regexp_extract(regexp_extract(url, '^[A-Za-z]+://([^/]+)', 1),
           |      '^([^:]+)', 1)) AS host,
           |    regexp_extract(regexp_extract(url, '^[A-Za-z]+://([^/]+)', 1),
           |      ':([0-9]+)$', 1) AS port,
           |    regexp_extract(url, '^[A-Za-z]+://[^/]+([^?#]*)', 1) AS path,
           |    list_filter(string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
           |      p -> p <> '') AS qparts
           |  FROM u
           |), kept AS (
           |  SELECT doc_id, url, sch, host, port, path, qparts,
           |    list_sort(list_filter(qparts, p -> NOT (starts_with(p, 'utm_')
           |      OR starts_with(p, 'gclid=') OR starts_with(p, 'fbclid=')))) AS kq
           |  FROM parts
           |), canon AS (
           |  SELECT doc_id,
           |    sch || '://' || host
           |    || (CASE WHEN port = '' OR (sch = 'https' AND port = '443')
           |               OR (sch = 'http' AND port = '80') THEN ''
           |             ELSE ':' || port END)
           |    || path
           |    || (CASE WHEN len(kq) = 0 THEN ''
           |             ELSE '?' || array_to_string(kq, '&') END) AS canonical_url,
           |    len(kq) < len(qparts) AS tracked,
           |    instr(url, '#') > 0 AS frag
           |  FROM kept
           |)
           |SELECT canonical_url, count(*) AS n_dups,
           |  min(doc_id) AS keeper,
           |  cast(sum(CASE WHEN tracked THEN 1 ELSE 0 END) as bigint) AS n_tracked,
           |  cast(sum(CASE WHEN frag THEN 1 ELSE 0 END) as bigint) AS n_fragment
           |FROM canon GROUP BY canonical_url
           |ORDER BY canonical_url""".stripMargin))

  /** The COMPLETE crawl front door in one plan — WARC container ->
    * gzip members -> WARC records -> HTTP messages -> HTML pages ->
    * corpus text: what a Common Crawl ingest actually runs, end to end.
    * [[graft.operators.Multimodal.warcHtmlTexts]] chains the verified
    * member walk, record framing, and both HTTP framings into
    * [[graft.operators.HtmlText.extract]]; the fixture makes the chain
    * itself the test — every ODD response is Transfer-Encoding:
    * chunked with 3-7 byte chunks, so tags and entities arrive SPLIT
    * MID-TOKEN and the extraction must be framing-invariant (the
    * closed-form oracle doesn't know which pages were chunked), 404
    * responses exercise the 200-only filter (zeroed rows, never
    * extracted), and request records interleave uncounted. Failure
    * granularity is the contract: a malformed HTML body fails THAT
    * document (html_ok = false), while container/HTTP grammar
    * violations still reject whole-file (ArchiveSpec).
    *
    * Scale: the parseAll narrow shape — one partition-mapped walk per
    * file, rows out are response-sized; payload bytes never shuffle.
    * On a cluster the gzip members are the split points.
    */
  private val multimodalWarcText = Q.media("warctext")(
    k => graft.operators.Multimodal.warcHtmlBytes(k, 3 + (k % 3)),
    (s, scanned) => {
      import s.implicits._
      scanned.select(col("file_id"), col("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.flatMap { case (id, bytes) =>
            graft.operators.Multimodal.warcHtmlTexts(bytes) match {
              case Some(rows) => rows.map { case (i, st, t, nl, np, tc, ts, ok) =>
                (id, i, st, t, nl, np, tc, ts, ok)
              }
              case None => Seq((id, -1L, 0L, "", 0L, 0L, 0L, 0L, false))
            }
          }
        }
        .toDF("file_id", "resp_idx", "status", "title", "n_links", "n_para",
          "text_chars", "text_sum", "html_ok")
        .orderBy(col("file_id"), col("resp_idx"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(3 + (n_nationkey % 3) as bigint) AS nr
           |  FROM nation
           |), r AS (
           |  SELECT k, cast(unnest(generate_series(0, nr - 1)) as bigint) AS p
           |  FROM g
           |), pg AS (
           |  SELECT k, p, (p % 3 <> 1) AS ok,
           |    k * 10 + p AS seed,
           |    2 + (k + p) % 3 AS np,
           |    1 + (k + p) % 4 AS nl
           |  FROM r
           |), paras AS (
           |  SELECT k, p, string_agg('Section ' || i || ' of page ' || seed ||
           |      ': alpha & beta <tag> A=A B=B.', ' ' ORDER BY i) AS ptxt
           |  FROM (SELECT k, p, seed, unnest(generate_series(0, np - 1)) AS i
           |        FROM pg WHERE ok)
           |  GROUP BY k, p
           |), links AS (
           |  SELECT k, p, string_agg('link ' || j || ' of page ' || seed,
           |      ' ' ORDER BY j) AS ltxt
           |  FROM (SELECT k, p, seed, unnest(generate_series(0, nl - 1)) AS j
           |        FROM pg WHERE ok)
           |  GROUP BY k, p
           |), vis AS (
           |  SELECT pg.k, pg.p, pg.seed, pg.np, pg.nl,
           |    paras.ptxt || ' ' || links.ltxt ||
           |      ' trailing words of page ' || pg.seed AS v
           |  FROM pg JOIN paras ON paras.k = pg.k AND paras.p = pg.p
           |    JOIN links ON links.k = pg.k AND links.p = pg.p
           |  WHERE pg.ok
           |)
           |SELECT pg.k AS file_id, pg.p AS resp_idx,
           |  cast(CASE WHEN pg.ok THEN 200 ELSE 404 END as bigint) AS status,
           |  CASE WHEN pg.ok THEN 'Crawl & Page ' || pg.seed ELSE '' END AS title,
           |  CASE WHEN pg.ok THEN pg.nl ELSE 0 END AS n_links,
           |  CASE WHEN pg.ok THEN pg.np ELSE 0 END AS n_para,
           |  cast(CASE WHEN pg.ok THEN length(vis.v) ELSE 0 END as bigint)
           |    AS text_chars,
           |  cast(CASE WHEN pg.ok THEN list_sum(list_transform(
           |    string_split(vis.v, ''), c -> ascii(c))) ELSE 0 END as bigint)
           |    AS text_sum,
           |  pg.ok AS html_ok
           |FROM pg LEFT JOIN vis ON vis.k = pg.k AND vis.p = pg.p
           |ORDER BY file_id, resp_idx""".stripMargin))

  /** CRAWL-FRONTIER politeness scheduling — between `ns_text_robots`
    * (may I fetch) and the WARC chain (what I fetched) sits WHEN: a
    * polite crawler fetches at most ONE url per host per round, so the
    * frontier schedule is exactly a per-host priority rank. Each
    * document derives its crawl url's host (doc_id-keyed) and a
    * priority (n_chars — fetch fat pages first); fetch round = rank
    * within host by (priority desc, doc_id). The round census reports
    * the crawl's shape: how many fetches land in each round (the
    * declining active-host curve), how many hosts FINISH that round,
    * and the exact priority volume fetched — the numbers that size a
    * crawl's wall-clock and reveal hot-host skew (one giant host =
    * max-round tail; the makespan IS the biggest host).
    *
    * Scale: one shuffle (hash by host) feeds the rank window —
    * per-host sort volume stays in-partition; the round census is a
    * second short-key agg on (round) whose cardinality is the MAX
    * host size, not the corpus. Replication multiplies host occupancy
    * (rounds), not host count — the politeness stress axis.
    */
  private val pipelineCrawlFrontier = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("host"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val ranked = T(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .withColumn("host", expr("concat('h', cast(doc_id % 40 as string))"))
        .withColumn("round", row_number().over(w).cast("long"))
      val perHost = ranked.groupBy(col("host"))
        .agg(max(col("round")).as("host_rounds"))
      ranked.join(perHost, Seq("host"))
        .groupBy(col("round"))
        .agg(count(lit(1)).as("n_fetched"),
          sum(expr("cast(round = host_rounds as bigint)")).as("n_hosts_done"),
          sum(col("n_chars")).as("priority_volume"))
        .orderBy(col("round"))
    },
    Some("""WITH ranked AS (
           |  SELECT doc_id, n_chars,
           |    'h' || cast(doc_id % 40 as varchar) AS host,
           |    cast(row_number() OVER (PARTITION BY doc_id % 40
           |      ORDER BY n_chars DESC, doc_id) as bigint) AS round
           |  FROM documents
           |), per_host AS (
           |  SELECT host, max(round) AS host_rounds
           |  FROM ranked GROUP BY host
           |)
           |SELECT r.round, count(*) AS n_fetched,
           |  cast(sum(CASE WHEN r.round = p.host_rounds THEN 1 ELSE 0 END)
           |    as bigint) AS n_hosts_done,
           |  cast(sum(r.n_chars) as bigint) AS priority_volume
           |FROM ranked r JOIN per_host p ON p.host = r.host
           |GROUP BY r.round ORDER BY r.round""".stripMargin))

  /** ISO BMFF (MP4) BOX CENSUS — the video-container front door:
    * essentially all crawl video arrives as MP4/MOV, and the structural
    * read (brand, track count + handler types, movie timescale/duration,
    * media payload volume) is what a pipeline needs BEFORE deciding to
    * spend decode cycles. [[graft.operators.Multimodal.mp4BoxStats]]
    * really walks the box tree — u32-BE sizes, the 64-bit `size==1`
    * largesize form (the >4 GiB header real video ships — fixtures
    * cycle it), the `size==0` to-EOF form (legal only for the last
    * top-level box), container recursion (moov/trak/mdia), full-box
    * version handling in mvhd (v0 and v1 layouts) — and rejects any
    * size overrunning its parent, a late/missing ftyp, or a missing
    * moov. Duration is reported both raw and as the exact integer
    * `ms = duration * 1000 div timescale` both engines replay.
    *
    * Scale: the parseAll narrow shape — one partition-mapped walk, a
    * string + 8 longs per file leave the map side; payload bytes never
    * shuffle (the census never touches mdat content).
    */
  private val multimodalMp4Boxes = Q.media("mp4box")(
    k => graft.operators.Multimodal.mp4Bytes(
      k, 1 + k % 3, 1000L * (1 + k % 4), 1500L + 137L * k,
      64 + 16 * k, largesize = k % 4 == 0,
      toEof = k % 4 != 0 && k % 5 == 4),
    (s, scanned) => {
      import s.implicits._
      scanned.select(col("file_id"), col("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            graft.operators.Multimodal.mp4BoxStats(bytes) match {
              case Some((br, nt, tr, nv, na, ts, du, mb)) =>
                (id, br, nt, tr, nv, na, ts, du, mb, true)
              case None => (id, "", 0L, 0L, 0L, 0L, 0L, 0L, 0L, false)
            }
          }
        }
        .toDF("file_id", "brand", "n_top", "n_tracks", "n_video", "n_audio",
          "timescale", "duration", "mdat_bytes", "valid")
        .withColumn("dur_ms", expr("(duration * 1000) div timescale"))
        .select(col("file_id"), col("brand"), col("n_top"), col("n_tracks"),
          col("n_video"), col("n_audio"), col("timescale"), col("duration"),
          col("dur_ms"), col("mdat_bytes"), col("valid"))
        .orderBy(col("file_id"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(1 + n_nationkey % 3 as bigint) AS tr,
           |    cast(1000 * (1 + n_nationkey % 4) as bigint) AS ts,
           |    cast(1500 + 137 * n_nationkey as bigint) AS du
           |  FROM nation
           |)
           |SELECT k AS file_id, 'isom' AS brand, cast(4 as bigint) AS n_top,
           |  tr AS n_tracks, (tr + 1) // 2 AS n_video, tr // 2 AS n_audio,
           |  ts AS timescale, du AS duration, (du * 1000) // ts AS dur_ms,
           |  cast(64 + 16 * k as bigint) AS mdat_bytes, true AS valid
           |FROM g ORDER BY file_id""".stripMargin))

  /** EXIF METADATA extraction — the curation signals image pipelines
    * read WITHOUT decoding pixels: orientation (the rotate-before-
    * resize bit every thumbnailer needs) and the declared
    * PixelX/YDimension from the EXIF sub-IFD.
    * [[graft.operators.Multimodal.exifStats]] walks the JPEG marker
    * stream to APP1, verifies the `Exif\0\0` preamble, and then walks
    * the EMBEDDED TIFF (either byte order — fixtures cycle II/MM; all
    * offsets relative to the embedded header, the classic
    * off-by-APP1-start bug) through IFD0 into the pointed sub-IFD.
    * Every fixture is ALSO a real decodable JPEG (the APP1 splices into
    * the shared baseline gradient), and every sixth file ships with NO
    * EXIF — absence rejects (valid = false), the reader never invents
    * defaults.
    *
    * Scale: the parseAll narrow shape — marker walk + two IFDs per
    * file, no pixel decode, no shuffle of payload bytes.
    */
  private val multimodalExif = Q.media("exif")(
    k => {
      val w = 16 + (k % 3) * 8
      val h = 8 + (k % 2) * 8
      if (k % 6 == 5) graft.operators.Multimodal.jpegBytes(w, h)
      else graft.operators.Multimodal.exifJpegBytes(
        w, h, littleEndian = k % 2 == 0, orientation = 1 + k % 8)
    },
    (s, scanned) => {
      import s.implicits._
      scanned.select(col("file_id"), col("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            graft.operators.Multimodal.exifStats(bytes) match {
              case Some((le, o, px, py)) =>
                (id, if (le) "II" else "MM", o, px, py, true)
              case None => (id, "", 0L, 0L, 0L, false)
            }
          }
        }
        .toDF("file_id", "byte_order", "orientation", "pixel_x", "pixel_y",
          "valid")
        .orderBy(col("file_id"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k FROM nation
           |)
           |SELECT k AS file_id,
           |  CASE WHEN k % 6 = 5 THEN ''
           |       WHEN k % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
           |  cast(CASE WHEN k % 6 = 5 THEN 0 ELSE 1 + k % 8 END as bigint)
           |    AS orientation,
           |  cast(CASE WHEN k % 6 = 5 THEN 0 ELSE 16 + (k % 3) * 8 END as bigint)
           |    AS pixel_x,
           |  cast(CASE WHEN k % 6 = 5 THEN 0 ELSE 8 + (k % 2) * 8 END as bigint)
           |    AS pixel_y,
           |  k % 6 <> 5 AS valid
           |FROM g ORDER BY file_id""".stripMargin))

  /** MP3 FRAME CENSUS — the audio-container census that answers
    * duration/bitrate/integrity WITHOUT decoding samples (the triage
    * read before an audio corpus spends decode cycles, completing the
    * container triad: MP4 for video, BMFF boxes + this for sound).
    * [[graft.operators.Multimodal.mp3FrameStats]] really walks the
    * frame grammar: optional ID3v2 preamble (syncsafe size — a set
    * high bit rejects), every header validated (sync / MPEG-1 /
    * Layer III / real bitrate index / non-reserved rate), frames
    * stepped by the exact `144 * bitrate / rate + padding` length with
    * bitrate VARYING per frame (the VBR reality) and the padding bit
    * cycling, the sample rate held consistent across frames (real VBR
    * varies bitrate, never rate — a mid-stream rate change rejects),
    * and an optional trailing ID3v1 tag. Desync or truncation rejects
    * whole-file — never a partial frame count. Duration is the exact
    * integer `nFrames * 1152 * 1000 div rate` both engines replay.
    *
    * Scale: the parseAll narrow shape — one header walk per file, six
    * small values out; audio bytes never shuffle.
    */
  private val multimodalMp3Frames = Q.media("mp3f")(
    k => graft.operators.Multimodal.mp3Bytes(
      k, 5 + k % 6, k % 3, id3v2 = k % 2 == 0, id3v1 = k % 3 == 0),
    (s, scanned) => {
      import s.implicits._
      scanned.select(col("file_id"), col("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            graft.operators.Multimodal.mp3FrameStats(bytes) match {
              case Some((nf, sr, kb, ms, v2, v1)) =>
                (id, nf, sr, ms, kb, v2, v1, true)
              case None => (id, 0L, 0L, 0L, 0L, false, false, false)
            }
          }
        }
        .toDF("file_id", "n_frames", "sample_rate", "dur_ms", "kbps_sum",
          "has_id3v2", "has_id3v1", "valid")
        .orderBy(col("file_id"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(5 + n_nationkey % 6 as bigint) AS nf,
           |    cast(CASE n_nationkey % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
           |      ELSE 32000 END as bigint) AS sr
           |  FROM nation
           |), f AS (
           |  SELECT k, nf, sr, unnest(generate_series(0, nf - 1)) AS i FROM g
           |), kb AS (
           |  SELECT k, nf, sr,
           |    CASE cast(1 + (k + i) % 14 as int)
           |      WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48 WHEN 4 THEN 56
           |      WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96 WHEN 8 THEN 112
           |      WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192
           |      WHEN 12 THEN 224 WHEN 13 THEN 256 ELSE 320 END AS kbps
           |  FROM f
           |)
           |SELECT k AS file_id, nf AS n_frames, sr AS sample_rate,
           |  (nf * 1152 * 1000) // sr AS dur_ms,
           |  cast(sum(kbps) as bigint) AS kbps_sum,
           |  k % 2 = 0 AS has_id3v2, k % 3 = 0 AS has_id3v1, true AS valid
           |FROM kb GROUP BY k, nf, sr ORDER BY file_id""".stripMargin))

  /** OUTLINK HOST GRAPH — the link-level census crawl ranking feeds on
    * (host in-degree is the oldest quality prior on the web): pages go
    * through the REAL HTML extractor ([[graft.operators.HtmlText]] now
    * returns href values — entity-decoded, all three quote forms), and
    * the fixture plants the trap that separates an extractor from a
    * regex: a `<script>` body printing a fake high-degree anchor that
    * must NOT count. Absolute links resolve to lowercase hosts (case
    * perturbed in the fixture); relative links stay internal and are
    * excluded from the host census. Output per target host: in-degree
    * and distinct linking pages.
    *
    * Scale: extraction is the narrow mapPartitions codec pass; the
    * explode carries (host, page) pairs — never page bodies — into ONE
    * group-by with map-side combine. At crawl scale this is the
    * host-graph build that feeds PageRank-class ranking; the heavy side
    * (pages) never shuffles.
    */
  private val textLinkGraph = Q.scratch("linkgraph")(
    (s, dir, base) => {
      import s.implicits._
      val docs = T(s, dir, "nation").select(col("n_nationkey")).collect()
        .map { r =>
          val k = r.getInt(0)
          val sb = new StringBuilder("<html><body>\n")
          sb.append("<script>document.write('<a href=\"https://evil.example/x\">');</script>\n")
          for (j <- 0 until (2 + k % 3))
            sb.append(s"""<a href="https://H${(k + j) % 8}.Example.com/p/$j">out $j</a>\n""")
          sb.append(s"""<a href="/local/$k">internal</a>\n</body></html>\n""")
          (k.toLong, sb.toString)
        }.toSeq
      docs.toDF("page_id", "html").write.mode("overwrite").parquet(base)
      val links = s.read.parquet(base)
        .select(col("page_id"), col("html")).as[(Long, String)]
        .mapPartitions { it =>
          it.flatMap { case (id, h) =>
            graft.operators.HtmlText.extract(h).toSeq
              .flatMap(_.hrefs.map(u => (id, u)))
          }
        }
        .toDF("page_id", "href")
      links
        .where(col("href").startsWith("http"))
        .withColumn("host",
          expr("lower(regexp_extract(href, '^https?://([^/]+)', 1))"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("in_degree"),
          countDistinct(col("page_id")).as("n_pages"))
        .orderBy(col("host"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(2 + n_nationkey % 3 as bigint) AS nl
           |  FROM nation
           |), l AS (
           |  SELECT k, 'h' || cast((k + j) % 8 as varchar) || '.example.com'
           |      AS host
           |  FROM (SELECT k, nl, unnest(generate_series(0, nl - 1)) AS j FROM g)
           |)
           |SELECT host, count(*) AS in_degree,
           |  count(DISTINCT k) AS n_pages
           |FROM l GROUP BY host ORDER BY host""".stripMargin))

  /** REGISTRABLE-DOMAIN (eTLD+1) census — the KEY real pipelines cap,
    * dedup, and attribute by: `site3.co.uk`, not `www.site3.co.uk` and
    * not `uk` (a naive last-label or last-two-labels split gets both
    * multi-label suffixes and bare TLDs wrong — the public-suffix
    * problem). The longest-matching-suffix rule runs as a pure
    * native-expression chain in BOTH engines: filter the suffix list to
    * those the host ends with, rank by length (lpad-prefix trick so a
    * plain max picks the longest), strip, take the one label left of
    * the suffix. Hosts vary subdomain depth (none / `www.` /
    * `cdn.a.`) and cycle single- and multi-label suffixes; the census
    * groups by registrable domain with distinct-host and doc counts.
    *
    * Scale: the suffix list is a broadcast literal (the real
    * public-suffix list is ~9k entries — same shape, a literal array or
    * a broadcast join); the derivation is map-side codegen'd array ops
    * (no UDF), and the ONE shuffle groups short domain strings with
    * map-side combine.
    */
  private val profileEtld1 = Q(
    (s, dir) => {
      val suffixes = "array('co.uk','org.uk','com','org','net','io','uk')"
      T(s, dir, "documents").select(col("doc_id"))
        .withColumn("host", expr(
          """concat(
            |  CASE doc_id % 3 WHEN 0 THEN 'www.' WHEN 1 THEN 'cdn.a.' ELSE '' END,
            |  'site', cast(doc_id % 7 as string),
            |  CASE doc_id % 4 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com'
            |       WHEN 2 THEN '.org.uk' ELSE '.io' END)""".stripMargin))
        .withColumn("sfx", expr(
          s"substring(array_max(transform(filter($suffixes, " +
            "sf -> endswith(host, concat('.', sf))), " +
            "sf -> concat(lpad(cast(length(sf) as string), 3, '0'), sf))), 4)"))
        .withColumn("etld1", expr(
          "concat(element_at(split(substring(host, 1, " +
            "length(host) - length(sfx) - 1), '\\\\.'), -1), '.', sfx)"))
        .groupBy(col("etld1"))
        .agg(countDistinct(col("host")).as("n_hosts"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("etld1"))
    },
    Some("""WITH h AS (
           |  SELECT doc_id,
           |    (CASE doc_id % 3 WHEN 0 THEN 'www.' WHEN 1 THEN 'cdn.a.'
           |      ELSE '' END)
           |    || 'site' || cast(doc_id % 7 as varchar)
           |    || (CASE doc_id % 4 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com'
           |        WHEN 2 THEN '.org.uk' ELSE '.io' END) AS host
           |  FROM documents
           |), m AS (
           |  SELECT doc_id, host,
           |    substring(list_max(list_transform(
           |      list_filter(['co.uk','org.uk','com','org','net','io','uk'],
           |        s -> ends_with(host, '.' || s)),
           |      s -> lpad(cast(len(s) as varchar), 3, '0') || s)), 4) AS sfx
           |  FROM h
           |), e AS (
           |  SELECT doc_id, host,
           |    string_split(substring(host, 1, len(host) - len(sfx) - 1),
           |      '.')[-1] || '.' || sfx AS etld1
           |  FROM m
           |)
           |SELECT etld1, count(DISTINCT host) AS n_hosts,
           |  count(*) AS n_docs
           |FROM e GROUP BY etld1 ORDER BY etld1""".stripMargin))

  /** SITEMAP CENSUS — the crawl-discovery side robots.txt points at:
    * per host, what the site DECLARES it has (url inventory, freshness
    * from lastmod, crawl-priority mass). The fixtures are real
    * sitemaps.org XML documents (namespace attribute, changefreq noise
    * fields) and the read is Spark's NATIVE XML source (`format("xml")`,
    * rowTag `url`, explicit schema — the Spark-first answer; no
    * hand-rolled XML parsing anywhere). Freshness aggregates: newest
    * lastmod, urls modified on/after the cutoff, and the exact
    * priority mass as a x10 integer (the sitemaps 0.0-1.0 priority
    * scale carried without floats).
    *
    * Scale: each sitemap file is an independent split (real sitemaps
    * cap at 50k urls/file and shard themselves — the format is
    * cluster-friendly by construction); rows out are url-sized; the
    * census is one host-keyed map-side-combined aggregate.
    */
  private val pipelineSitemap = Q.scratch("sitemap")(
    (s, dir, base) => {
      val p = java.nio.file.Paths.get(base)
      T(s, dir, "nation").select(col("n_nationkey")).collect() // 25-row dim
        .foreach { r =>
          val k = r.getInt(0)
          val n = 3 + k % 4
          val sb = new StringBuilder(
            "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
              "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n")
          for (i <- 0 until n) {
            val day = 1 + (k * 3 + i) % 28
            sb.append(s"  <url><loc>https://h$k.example.com/p/$i</loc>" +
              f"<lastmod>2024-03-$day%02d</lastmod>" +
              "<changefreq>daily</changefreq>" +
              s"<priority>0.${5 + i % 5}</priority></url>\n")
          }
          sb.append("</urlset>\n")
          java.nio.file.Files.write(p.resolve(f"sm_$k%02d.xml"),
            sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("loc",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lastmod",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("priority",
          org.apache.spark.sql.types.StringType)))
      s.read.schema(schema)
        .format("xml").option("rowTag", "url").load(base)
        .withColumn("host", expr("regexp_extract(loc, '^https://([^/]+)', 1)"))
        .withColumn("file_id",
          expr("cast(regexp_extract(host, '^h(\\\\d+)\\\\.', 1) as bigint)"))
        .withColumn("prio_e1", expr(
          "cast(substring(priority, 3, 1) as bigint)"))
        .groupBy(col("file_id"), col("host"))
        .agg(count(lit(1)).as("n_urls"),
          max(col("lastmod")).as("newest"),
          sum(expr("cast(lastmod >= '2024-03-15' as bigint)")).as("n_recent"),
          sum(col("prio_e1")).as("prio_sum_e1"))
        .orderBy(col("file_id"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(3 + n_nationkey % 4 as bigint) AS n
           |  FROM nation
           |), u AS (
           |  SELECT k, n, i, 1 + (k * 3 + i) % 28 AS day,
           |    cast(5 + i % 5 as bigint) AS prio_e1
           |  FROM (SELECT k, n, unnest(generate_series(0, n - 1)) AS i FROM g)
           |)
           |SELECT k AS file_id, 'h' || k || '.example.com' AS host,
           |  n AS n_urls,
           |  max('2024-03-' || lpad(cast(day as varchar), 2, '0')) AS newest,
           |  cast(sum(CASE WHEN day >= 15 THEN 1 ELSE 0 END) as bigint)
           |    AS n_recent,
           |  cast(sum(prio_e1) as bigint) AS prio_sum_e1
           |FROM u GROUP BY k, n ORDER BY file_id""".stripMargin))

  /** URL-LEVEL DECONTAMINATION — the cheapest decontamination pass and
    * the one benchmark curators publish for (eval sets ship source-URL
    * lists precisely so pipelines can block them): corpus URLs and the
    * benchmark blocklist BOTH canonicalize through
    * [[canonicalized]], and the match happens on canonical forms.
    * The fixture is the trap: blocklist entries are written in
    * DIFFERENT surface spellings than the corpus re-crawls of the same
    * page (ids 21/27/34 — same canonical residues as corpus ids
    * ≡ 1/7/14 mod 20, different case/order/tracking perturbations), so
    * a raw-string matcher finds only the 1-per-group literal
    * coincidence while the canonical matcher blocks the whole group —
    * `n_raw_exact` vs `n_blocked` makes the gap a gate-checked OUTPUT,
    * not a claim.
    *
    * Scale: the blocklist broadcasts (benchmark URL lists are
    * thousands of rows against a corpus of billions); the corpus side
    * is one map-side canonicalize + a broadcast hash join — no
    * corpus-keyed shuffle anywhere.
    */
  private val decontaminateUrl = Q(
    (s, dir) => {
      import s.implicits._
      val corpus = canonicalized(T(s, dir, "documents").select(col("doc_id")),
        rawUrlSpark("doc_id"))
        .select(col("doc_id"), col("url"), col("canonical_url"))
      val bench = canonicalized(Seq(21L, 27L, 34L).toDF("doc_id"),
        rawUrlSpark("doc_id"))
        .select(col("canonical_url"), col("url").as("bench_url"))
      corpus.join(broadcast(bench), Seq("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_blocked"),
          sum(expr("cast(url = bench_url as bigint)")).as("n_raw_exact"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("canonical_url"))
    },
    // '#'-margin: the interpolated SQL fragments contain '||' concat
    // lines that a '|' stripMargin would eat
    Some(s"""WITH corpus_u AS (
            #  SELECT doc_id, ${rawUrlSql("doc_id")} AS url FROM documents
            #), corpus AS (
            #  ${canonSql("corpus_u")}
            #), bench_u AS (
            #  SELECT doc_id, ${rawUrlSql("doc_id")} AS url
            #  FROM (SELECT cast(unnest([21, 27, 34]) as bigint) AS doc_id)
            #), bench AS (
            #  ${canonSql("bench_u")}
            #)
            #SELECT c.canonical_url, count(*) AS n_blocked,
            #  cast(sum(CASE WHEN c.url = b.url THEN 1 ELSE 0 END) as bigint)
            #    AS n_raw_exact,
            #  min(c.doc_id) AS first_doc
            #FROM corpus c JOIN bench b ON b.canonical_url = c.canonical_url
            #GROUP BY c.canonical_url ORDER BY c.canonical_url""".stripMargin('#')))

  /** FILL-IN-THE-MIDDLE transform — the pretraining-data rearrangement
    * code models train on (Bavarian et al.: move a middle span after
    * the suffix so the model learns infilling as ordinary next-token
    * prediction): documents selected at the configured FIM rate by a
    * seeded md5 coin (never `rand()` — reproducibility is the
    * contract) split at EXACT integer char boundaries (n/3, 2n/3) and
    * re-emit as `<PRE>prefix<SUF>suffix<MID>middle`; unselected docs
    * pass through verbatim. The audit is conservation + determinism:
    * per source, transformed char mass must equal original mass plus
    * exactly 15 sentinel chars per FIM doc, and the md5 fingerprint
    * sum over TRANSFORMED texts pins every byte of the rearrangement
    * (an off-by-one boundary or swapped span order changes the
    * fingerprint, not just the lengths).
    *
    * Scale: one map-only pass (substring arithmetic + md5 — all
    * codegen'd); the rollup shuffles five longs per source; text never
    * shuffles.
    */
  private val corpusFim = Q(
    (s, dir) => {
      val coin = "cast(conv(substring(md5(concat('fim:', cast(doc_id as string))), 1, 8), 16, 10) as bigint) % 100"
      T(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .withColumn("is_fim", expr(s"$coin < 50"))
        .withColumn("a", expr("length(text) div 3"))
        .withColumn("b", expr("(2 * length(text)) div 3"))
        .withColumn("out", expr(
          """CASE WHEN is_fim THEN concat(
            |  '<PRE>', substring(text, 1, a),
            |  '<SUF>', substring(text, b + 1),
            |  '<MID>', substring(text, a + 1, b - a))
            |ELSE text END""".stripMargin))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("cast(is_fim as bigint)")).as("n_fim"),
          sum(expr("length(text)")).as("chars_in"),
          sum(expr("length(out)")).as("chars_out"),
          sum(expr("cast(conv(substring(md5(out), 1, 10), 16, 10) as bigint)"))
            .as("fp_sum"))
        .withColumn("conserved",
          expr("chars_out = chars_in + 15 * n_fim"))
        .orderBy(col("source"))
    },
    Some("""WITH f AS (
           |  SELECT source, text,
           |    cast('0x' || substr(md5('fim:' || cast(doc_id as varchar)), 1, 8)
           |      as bigint) % 100 < 50 AS is_fim,
           |    len(text) // 3 AS a, (2 * len(text)) // 3 AS b
           |  FROM documents
           |), t AS (
           |  SELECT source, text, is_fim,
           |    CASE WHEN is_fim THEN
           |      '<PRE>' || substring(text, 1, a)
           |      || '<SUF>' || substring(text, b + 1)
           |      || '<MID>' || substring(text, a + 1, b - a)
           |    ELSE text END AS out
           |  FROM f
           |)
           |SELECT source, count(*) AS n_docs,
           |  cast(sum(CASE WHEN is_fim THEN 1 ELSE 0 END) as bigint) AS n_fim,
           |  cast(sum(len(text)) as bigint) AS chars_in,
           |  cast(sum(len(out)) as bigint) AS chars_out,
           |  cast(sum(cast('0x' || substr(md5(out), 1, 10) as bigint))
           |    as bigint) AS fp_sum,
           |  sum(len(out)) = sum(len(text))
           |    + 15 * sum(CASE WHEN is_fim THEN 1 ELSE 0 END) AS conserved
           |FROM t GROUP BY source ORDER BY source""".stripMargin))

  /** WebP HEADER CENSUS — the dominant modern web image format (the
    * largest single share of image bytes in recent crawls), read at
    * the header level the way [[multimodalMp4Boxes]] reads video: RIFF
    * framing VERIFIED (declared size vs actual — a lying RIFF header
    * rejects), then the first chunk parsed per variant — `VP8 ` lossy
    * (keyframe bit + the 0x9d012a sync code + 14-bit dims), `VP8L`
    * lossless (0x2f signature, 14-bit minus-one dims, the alpha bit),
    * `VP8X` extended (feature flags with reserved bits enforced zero,
    * 24-bit minus-one canvas dims, alpha + animation flags). Fixtures
    * cycle all three variants with alpha/animation schedules; the
    * oracle replays every column from the construction. No pixel
    * decode is claimed — this is the route/size/alpha/animation triage
    * read (the VP8 entropy decode is out of scope, spec'd as such).
    *
    * Scale: the parseAll narrow shape — fixed-offset header reads per
    * file, payload bytes never touched or shuffled.
    */
  private val multimodalWebpInfo = Q.media("webp")(
    k => graft.operators.Multimodal.webpBytes(
      k % 3, 16 + k, 10 + k % 7, alpha = k % 2 == 0,
      anim = k % 4 == 0, tag = k),
    (s, scanned) => {
      import s.implicits._
      scanned.select(col("file_id"), col("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            graft.operators.Multimodal.webpInfo(bytes) match {
              case Some((v, w, h, a, an)) => (id, v, w, h, a, an, true)
              case None => (id, "", 0L, 0L, false, false, false)
            }
          }
        }
        .toDF("file_id", "variant", "width", "height", "has_alpha",
          "animated", "valid")
        .orderBy(col("file_id"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k FROM nation
           |)
           |SELECT k AS file_id,
           |  CASE k % 3 WHEN 0 THEN 'lossy' WHEN 1 THEN 'lossless'
           |    ELSE 'extended' END AS variant,
           |  cast(16 + k as bigint) AS width,
           |  cast(10 + k % 7 as bigint) AS height,
           |  CASE WHEN k % 3 = 0 THEN false ELSE k % 2 = 0 END AS has_alpha,
           |  (k % 3 = 2 AND k % 4 = 0) AS animated,
           |  true AS valid
           |FROM g ORDER BY file_id""".stripMargin))

  /** FLAC STREAMINFO census — the lossless-audio companion of the MP3
    * frame walk and the last member of the container set: the `fLaC`
    * metadata block chain walked per spec (STREAMINFO required FIRST
    * and exactly 34 bytes; 24-bit block lengths; the last-flag ends
    * the chain; the invalid type 127 rejects), its packed bitfields
    * decoded exactly — 20-bit sample rate, 3-bit channels-1, 5-bit
    * bps-1, 36-bit total samples spanning a byte boundary — and
    * duration reported as the exact integer
    * `totalSamples * 1000 div rate`. Frame data after the chain is
    * never read (the MP4-census altitude). Fixtures interleave a
    * vorbis-comment and a padding block so the walk is a real chain,
    * not a fixed offset.
    *
    * Scale: the parseAll narrow shape — one metadata walk per file,
    * six longs out; audio bytes never shuffle.
    */
  private val multimodalFlacInfo = Q.media("flac")(
    k => {
      val rate = Seq(44100, 48000, 96000)(k % 3)
      graft.operators.Multimodal.flacBytes(
        rate, 1 + k % 3, if (k % 2 == 0) 16 else 24,
        88200L + 997L * k, k)
    },
    (s, scanned) => {
      import s.implicits._
      scanned.select(col("file_id"), col("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            graft.operators.Multimodal.flacInfo(bytes) match {
              case Some((r2, ch, bp, tot, nb, ms)) =>
                (id, r2, ch, bp, tot, nb, ms, true)
              case None => (id, 0L, 0L, 0L, 0L, 0L, 0L, false)
            }
          }
        }
        .toDF("file_id", "sample_rate", "channels", "bits_per_sample",
          "total_samples", "n_meta_blocks", "dur_ms", "valid")
        .orderBy(col("file_id"))
    },
    Some("""WITH g AS (
           |  SELECT cast(n_nationkey as bigint) AS k,
           |    cast(CASE n_nationkey % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
           |      ELSE 96000 END as bigint) AS sr,
           |    cast(88200 + 997 * n_nationkey as bigint) AS tot
           |  FROM nation
           |)
           |SELECT k AS file_id, sr AS sample_rate,
           |  cast(1 + k % 3 as bigint) AS channels,
           |  cast(CASE WHEN k % 2 = 0 THEN 16 ELSE 24 END as bigint)
           |    AS bits_per_sample,
           |  tot AS total_samples, cast(3 as bigint) AS n_meta_blocks,
           |  (tot * 1000) // sr AS dur_ms, true AS valid
           |FROM g ORDER BY file_id""".stripMargin))

  val all: Map[String, Q] = Map(
    "ts_ewma_smooth" -> tsEwmaSmooth,
    "ns_multimodal_mp4_boxes" -> multimodalMp4Boxes,
    "ns_multimodal_exif" -> multimodalExif,
    "ns_multimodal_mp3_frames" -> multimodalMp3Frames,
    "ns_multimodal_webp_info" -> multimodalWebpInfo,
    "ns_multimodal_flac_info" -> multimodalFlacInfo,
    "ns_text_link_graph" -> textLinkGraph,
    "ns_profile_etld1" -> profileEtld1,
    "ns_pipeline_sitemap" -> pipelineSitemap,
    "ns_decontaminate_url" -> decontaminateUrl,
    "ns_corpus_fim" -> corpusFim,
    "ns_text_html_extract" -> textHtmlExtract,
    "ns_text_robots" -> textRobots,
    "ns_dedup_url" -> dedupUrl,
    "ns_multimodal_warc_text" -> multimodalWarcText,
    "ns_pipeline_crawl_frontier" -> pipelineCrawlFrontier,
    "ns_dedup_sorted_neighborhood" -> dedupSortedNeighborhood,
    "ns_corpus_kfold" -> corpusKfold,
    "ns_sample_neyman" -> sampleNeyman,
    "ns_quality_krippendorff" -> qualityKrippendorff,
    "ns_embed_kcenter_init" -> embedKcenterInit,
    "ns_dedup_rate_curve" -> dedupRateCurve,
    "ns_profile_langid_confusion" -> profileLangidConfusion,
    "ts_markov_transitions" -> tsMarkovTransitions,
    "ns_profile_heaps_fit" -> profileHeapsFit,
    "ns_multimodal_image_stats" -> multimodalImageStats,
    "ns_multimodal_png_types" -> multimodalPngTypes,
    "ns_multimodal_png_filters" -> multimodalPngFilters,
    "ns_multimodal_png_alpha" -> multimodalPngAlpha,
    "ns_multimodal_png_adam7" -> multimodalPngAdam7,
    "ns_multimodal_bmp_stats" -> multimodalBmpStats,
    "ns_multimodal_tiff_stats" -> multimodalTiffStats,
    "ns_multimodal_sniff_route" -> multimodalSniffRoute,
    "ns_multimodal_pdf_text" -> multimodalPdfText,
    "ns_multimodal_archive_census" -> multimodalArchiveCensus,
    "ns_multimodal_warc_census" -> multimodalWarcCensus,
    "ns_multimodal_warc_http" -> multimodalWarcHttp,
    "ns_multimodal_tiff_lzw" -> multimodalTiffLzw,
    "ns_multimodal_data_uri" -> multimodalDataUri,
    "ns_sim_maxsim_ivf" -> simMaxsimIvf,
    "ns_sim_maxsim_plaid" -> simMaxsimPlaid,
    "ns_sim_plaid_curve" -> simPlaidCurve,
    "ns_dedup_exact_substr" -> dedupExactSubstr,
    "ns_dedup_substr_incr" -> dedupSubstrIncr,
    "ns_multimodal_jpeg_dc" -> multimodalJpegDc,
    "ns_multimodal_jpeg_color" -> multimodalJpegColor,
    "ns_multimodal_jpeg_420" -> multimodalJpeg420,
    "ns_multimodal_jpeg_422" -> multimodalJpeg422,
    "ns_multimodal_jpeg_411" -> multimodalJpeg411,
    "ns_multimodal_jpeg_prog" -> multimodalJpegProg,
    "ns_multimodal_gif_stats" -> multimodalGifStats,
    "ns_multimodal_gif_anim" -> multimodalGifAnim,
    "ns_multimodal_audio_depths" -> multimodalAudioDepths,
    "ns_multimodal_audio_g711" -> multimodalAudioG711,
    "ns_multimodal_audio_float" -> multimodalAudioFloat,
    "ns_multimodal_audio_stereo" -> multimodalAudioStereo,
    "ns_quality_rank_normalize" -> qualityRankNormalize,
    "ns_sample_histogram_match" -> sampleHistogramMatch,
    "ns_profile_distinct_ngrams" -> profileDistinctNgrams,
    "ns_dedup_span_flow" -> dedupSpanFlow,
    "ns_multimodal_audio_vad" -> multimodalAudioVad,
    "ns_dedup_substr_rewrite" -> dedupSubstrRewrite,
    "ns_sample_uncertainty" -> sampleUncertainty,
    "ns_corpus_prefix_share" -> corpusPrefixShare,
    "ts_cusum_changepoint" -> tsCusumChangepoint,
    "ns_text_ocr_artifacts" -> textOcrArtifacts,
    "ns_dedup_substr_curve" -> dedupSubstrCurve,
    "ns_multimodal_pixel_dedup" -> multimodalPixelDedup,
    "ts_seasonality_profile" -> tsSeasonalityProfile,
    "ns_quality_gate_venn" -> qualityGateVenn,
    "ns_pipeline_order_audit" -> pipelineOrderAudit,
    "ns_text_unk_rate" -> textUnkRate,
    "ts_cusum_stream" -> tsCusumStream,
    "ts_disorder_profile" -> tsDisorderProfile,
    "ns_sim_recall_curve" -> simRecallCurve,
    "ns_sim_maxsim" -> simMaxsim,
    "ns_corpus_ipf_mix" -> corpusIpfMix,
    "ts_session_dynamic_gap" -> tsSessionDynamicGap,
    "ts_anomaly_mad" -> tsAnomalyMad,
    "ns_text_compressibility" -> textCompressibility,
    "ns_text_nfc_audit" -> textNfcAudit,
    "ns_dedup_agreement" -> dedupAgreement,
    "ns_dedup_agreement_semantic" -> dedupAgreementSemantic,
    "ns_dedup_bbit_minhash" -> dedupBbitMinhash,
    "ns_sample_gumbel_topk" -> sampleGumbelTopk,
    "ns_text_entropy_rate" -> textEntropyRate,
    "ns_text_trigram_match" -> textTrigramMatch,
    "ns_text_fts_query" -> textFtsQuery,
    "ns_text_fts_parse" -> textFtsParse,
    "ns_text_trigram_join" -> textTrigramJoin,
    "ns_text_fts_stream" -> textFtsStream,
    "ns_text_rank_cd" -> textRankCd,
    "ns_text_rank_weighted" -> textRankWeighted,
    "ns_text_fts_prefix" -> textFtsPrefix,
    "ns_text_fts_distance" -> textFtsDistance,
    "ns_text_fts_stemmed" -> textFtsStemmed,
    "ns_text_unaccent" -> textUnaccent,
    "ns_text_headline" -> textHeadline,
    "ns_text_editdist_join" -> textEditDistJoin,
    "ns_quality_isotonic" -> qualityIsotonic,
    "ns_dedup_exact_substr_bpe" -> dedupExactSubstrBpe,
    "ns_dedup_exact_substr_bpe50" -> dedupExactSubstrBpe50,
    "ns_corpus_grpo_groups" -> corpusGrpoGroups,
    "ns_corpus_best_of_n" -> corpusBestOfN,
    "ns_corpus_split_js" -> corpusSplitJs,
    "ns_sim_sq_ladder" -> simSqLadder,
    "ns_sim_binary_quant" -> simBinaryQuant,
    "ts_ab_lift" -> tsAbLift,
    "src_csv_malformed" -> srcCsvMalformed,
    "ns_multimodal_audio_stats" -> multimodalAudioStats,
    "ns_embed_hits" -> embedHits,
    "ns_pipeline_observed" -> pipelineObserved,
    "ns_corpus_anneal_mix" -> corpusAnnealMix,
    "ns_sim_bitext_mining" -> simBitextMining,
    "ns_profile_burstiness" -> profileBurstiness,
    "ns_sketch_kmv_overlap" -> sketchKmvOverlap,
    "ns_corpus_embargo_split" -> corpusEmbargoSplit,
    "ns_quality_bradley_terry" -> qualityBradleyTerry,
    "ns_text_readability" -> textReadability,
    "ns_sample_reservoir" -> sampleReservoir,
    "ns_profile_zipf" -> profileZipf,
    "ns_corpus_interleave" -> corpusInterleave,
    "ns_sim_ivf_delete" -> simIvfDelete,
    "ns_sim_ivf_compact" -> simIvfCompact,
    "ns_quality_kappa" -> qualityKappa,
    "ns_profile_datacard" -> profileDatacard,
    "ns_pipeline_manifest_diff" -> pipelineManifestDiff,
    "ns_pipeline_quarantine" -> pipelineQuarantine,
    "ns_corpus_length_binning" -> corpusLengthBinning,
    "ns_corpus_trajectories_stream" -> corpusTrajectoriesStream,
    "ns_decontaminate_semantic" -> decontaminateSemantic,
    "ns_sample_cluster_balance" -> sampleClusterBalance,
    "ns_text_memorization" -> textMemorization,
    "ns_profile_gini" -> profileGini,
    "ns_corpus_pref_pairs" -> corpusPrefPairs,
    "ns_pipeline_integrity" -> pipelineIntegrity,
    "ns_sketch_heavy_hitters" -> sketchHeavyHitters,
    "ns_sketch_hh_stream" -> sketchHhStream,
    "ns_profile_kanon" -> profileKanon,
    "ns_text_fertility" -> textFertility,
    "ns_embed_knn_triangles" -> embedKnnTriangles,
    "ns_quality_skyline" -> qualitySkyline,
    "ns_dedup_lines_stream" -> dedupLinesStream,
    "ns_sim_jl_recall" -> simJlRecall,
    "ns_sim_ivf_filtered" -> simIvfFiltered,
    "ns_quality_calibration" -> qualityCalibration,
    "ns_corpus_sft_masks" -> corpusSftMasks,
    "ns_embed_drift" -> embedDrift,
    "ns_corpus_reshard" -> corpusReshard,
    "ns_corpus_shard_bloom" -> corpusShardBloom,
    "ns_quality_ranker_ndcg" -> qualityRankerNdcg,
    "ns_profile_source_kl" -> profileSourceKl,
    "ns_corpus_trajectories" -> corpusTrajectories,
    "ns_dedup_lines" -> dedupLines,
    "ns_sample_domain_cap" -> sampleDomainCap,
    "ns_text_normalize" -> textNormalize,
    "ns_corpus_upsert" -> corpusUpsert,
    "ns_corpus_curriculum" -> corpusCurriculum,
    "ns_sim_ivf_balance" -> simIvfBalance,
    "ns_corpus_pack_greedy" -> corpusPackGreedy,
    "ns_pipeline_step_attribution" -> pipelineStepAttribution,
    "ns_corpus_chunk_overlap" -> corpusChunkOverlap,
    "ns_sample_allocation" -> sampleAllocation,
    "ns_corpus_epoch_schedule" -> corpusEpochSchedule,
    "ns_quality_threshold_sweep" -> qualityThresholdSweep,
    "ns_sketch_cms" -> sketchCms,
    "ns_dedup_winnow" -> dedupWinnow,
    "ns_corpus_vocab_growth" -> corpusVocabGrowth,
    "ns_dedup_rewrite" -> dedupRewrite,
    "ns_dedup_containment" -> dedupContainment,
    "ns_text_bpe_apply" -> textBpeApply,
    "ns_embed_outliers" -> embedOutliers,
    "ns_corpus_dsir" -> corpusDsir,
    "ns_embed_label_prop" -> embedLabelProp,
    "ns_sim_matryoshka" -> simMatryoshka,
    "ns_dedup_lsh_tune" -> dedupLshTune,
    "ns_pipeline_delta_stream" -> pipelineDeltaStream,
    "ns_multimodal_frames" -> multimodalFrames,
    "ns_multimodal_mp4_samples" -> multimodalMp4Samples,
    "ns_multimodal_zstd_census" -> multimodalZstdCensus,
    "ns_pipeline_zstd_jsonl" -> pipelineZstdJsonl,
    "ns_corpus_ppl_buckets" -> corpusPplBuckets,
    "ns_corpus_shuffle" -> corpusShuffle,
    "ns_corpus_shard_manifest" -> corpusShardManifest,
    "ns_text_novelty" -> textNovelty,
    "ns_corpus_compact" -> corpusCompact,
    "ns_corpus_ctx_profile" -> corpusCtxProfile,
    "ns_sim_range_search" -> simRangeSearch,
    "ns_text_entropy" -> textEntropy,
    "ns_corpus_split" -> corpusSplit,
    "ns_corpus_split_leakage" -> corpusSplitLeakage,
    "ns_pipeline_delta" -> pipelineDelta,
    "ns_text_bpe_merges" -> textBpeMerges,
    "ns_sim_sq8_recall" -> simSq8Recall,
    "ns_sim_ivfpq" -> simIvfPq,
    "ns_sim_ivfpq_persisted" -> simIvfPqPersisted,
    "ns_sim_ivf_append" -> simIvfAppend,
    "ns_sim_ivf_append_stream" -> simIvfAppendStream,
    "ns_embed_pca_power" -> embedPcaPower,
    "ns_sim_knn_2hop" -> simKnn2Hop,
    "ns_embed_pca_project" -> embedPcaProject,
    "ns_quality_logreg" -> qualityLogreg
  )
}
