package graft
import org.apache.spark.sql.functions._

import graft.queries.Q

/** Scale probe: multiplies the lineitem fixture in-plan (crossJoin with
  * a replica range, keys remapped to keep cardinality ratios) and times
  * the headline operator shapes at Nx the bench scale. Evidence that the
  * plans scale linearly rather than an official gate — run manually:
  * `runMain graft.ScaleProbe /root/testdata/sf0.1 10`.
  *
  * `SPARK_GRAFT_PROBE_ONLY=name1,name2` (substring match) restricts the
  * run to the named probes — fixture multiplication for a group is
  * skipped entirely when none of its probes are selected, so a single
  * operator can be re-measured in isolation.
  *
  * The corpus tables are replicated with [[ScaleFixture.replicate]] into
  * one `graft-scaleprobe-*` tree under `java.io.tmpdir`, deleted when the
  * run ends, failed or not.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def enabled(name: String): Boolean = only.forall(_.exists(name.contains))
    val spark = SessionTuning.local(defaultCpus = 32)
    // spill accounting per probe — the constrained-heap evidence that
    // agg/join/sort fall back to disk instead of OOMing under memory
    // pressure (run with SPARK_DRIVER_MEM=4g to force it at 18M rows)
    val stages = StageMetrics.install(spark.sparkContext)
    def spillTag(): String = {
      // drain the async listener bus first, or onTaskEnd events from this
      // probe can land after the read and bleed into the next probe's tag
      org.apache.spark.graftbench.ListenerFlush.drain(spark.sparkContext)
      val mb = stages.byStage.map(_._2.spillBytes).sum >> 20
      stages.reset()
      if (mb > 0) s" [spilled ${mb} MB]" else ""
    }

    val factNames = Seq(
      "hash_agg_pricing", "high_card_groupby", "window_topk_per_suppkey",
      "global_topk")
    if (factNames.exists(enabled)) {
      val reps = spark.range(mult).select(col("id").as("rep"))
      val big = Tables.load(spark, sfDir, "lineitem")
        .crossJoin(broadcast(reps))
        .withColumn("l_orderkey", col("l_orderkey") * mult + col("rep"))
        .withColumn("l_partkey", col("l_partkey") * mult + col("rep"))
      big.createOrReplaceTempView("big_lineitem")
      val n = big.count()

      def time(name: String)(f: => Unit): Unit = if (enabled(name)) {
        val t0 = System.nanoTime()
        f
        println(f"[scaleprobe] $name x$mult (${n} rows): ${(System.nanoTime() - t0) / 1e9}%.2f s" + spillTag())
      }

      time("hash_agg_pricing") {
        big.where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity").cast("decimal(18,4)")), count(lit(1)))
          .write.mode("overwrite").format("noop").save()
      }
      time("high_card_groupby") {
        big.groupBy(col("l_orderkey"))
          .agg(count(lit(1)), sum(col("l_quantity").cast("decimal(18,4)")))
          .write.mode("overwrite").format("noop").save()
      }
      time("window_topk_per_suppkey") {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_suppkey")).orderBy(col("l_extendedprice").desc, col("l_orderkey"))
        big.withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
          .write.mode("overwrite").format("noop").save()
      }
      time("global_topk") {
        big.orderBy(col("l_extendedprice").desc, col("l_orderkey")).limit(100)
          .write.mode("overwrite").format("noop").save()
      }
    }

    // --- LLM-pipeline operator probes over a multiplied documents table.
    // The fixture is written (doc_ids remapped) to a temp dir and the
    // REAL registered queries run against it — the production code path,
    // not a re-declared shape. Replication multiplies every document
    // `docMult` times, which is a dedup STRESS case: each LSH bucket and
    // each connected component grows by the factor, so cluster
    // resolution sees both more edges and larger components.
    val docMult = args.lift(2).map(_.toInt).getOrElse(mult * 10)
    val docNames = Seq(
      "ns_dedup_clusters", "ns_decontaminate", "ns_text_tfidf",
      "ns_text_pack", "ns_dedup_chunks", "ns_text_ngram_lm",
      "ns_dedup_bloom", "ns_text_boilerplate", "ns_pipeline_manifest",
      "ns_dedup_incremental", "ns_text_bm25", "ns_corpus_token_budget",
      "ns_dedup_simhash_hamming", "ns_corpus_temperature",
      // r11: production width — same banded plan with 65536-way band
      // keys, so bucket occupancy under replication should grow SLOWER
      // than the 8-bit-band variant above
      "ns_dedup_simhash64",
      // r10: entropy + BPE stress the (doc,char)/(pair)-keyed aggs with
      // docMult-times the text volume; delta doubles the corpus into the
      // full-outer diff; split is the map-only hash-coin floor case
      "ns_text_entropy", "ns_text_bpe_merges", "ns_pipeline_delta",
      "ns_corpus_split", "ns_quality_logreg",
      // r10: all three banding layouts generate in one inline pass, so
      // the stress axis is the single (cfg, band, bkey) count shuffle;
      // the stream delta classifies docMult-times the arrivals against
      // an equally-multiplied static side
      "ns_dedup_lsh_tune", "ns_pipeline_delta_stream",
      "ns_corpus_ppl_buckets", "ns_multimodal_frames", "ns_corpus_shuffle",
      // r10 fourth wave: dsir's corpus-sized work is the feature explode
      // into the B-bounded bucket aggregates (the ratio table broadcast
      // is corpus-independent), so wall should track text volume
      "ns_corpus_dsir",
      // r10 fifth wave: bpe apply's fold chain runs per DISTINCT word, so
      // replication (which multiplies counts, not vocabulary) should
      // leave the tokenize stage flat and grow only the word-keyed join
      "ns_text_bpe_apply",
      // r10 sixth wave: replication clones every doc docMult times, so
      // the rewrite's per-chunk-hash window partitions and the
      // containment's clone-group pair explosion (docMult² per group,
      // df-capped at 16) are both stressed directly
      "ns_dedup_rewrite", "ns_dedup_containment",
      // r11: cms stresses the vocab aggregate (counter table is 256 rows
      // at any corpus size); vocab growth adds the per-term min(doc_id)
      // agg — both should track text volume linearly
      "ns_sketch_cms", "ns_corpus_vocab_growth",
      // r11: code-switch is pure map-side (in-array chunk transform, no
      // shuffle at all) — the floor case, expected linear in text volume
      "ns_text_code_switch",
      // r11: winnow's window explode is a bounded w-fold expansion (linear
      // in text volume); replication clones every doc, so each selected
      // fingerprint's df multiplies by docMult and the df<=16 boilerplate
      // cap prunes clone groups HARDER as the corpus grows — pair volume
      // should grow sublinearly, same mechanism as containment above
      "ns_dedup_winnow",
      // r13: packing's one shuffle is the source-keyed ordered window
      // (docMult-times the rows per source partition — the fat-source
      // axis); the epoch schedule's corpus-sized work is the per-source
      // rollup, everything after is O(sources) — expected ~linear floors
      "ns_corpus_pack_greedy", "ns_corpus_epoch_schedule",
      // r13: the sweep's corpus-sized work is one decile-keyed agg (11
      // groups); the cutoff expansion is a 9x11 literal join — flat
      "ns_quality_threshold_sweep",
      // r14: the shard writer's corpus work is the block-decomposed rank
      // + the S-way partitioned write + the read-back S-group agg —
      // expected ~linear in corpus volume with flat manifest cost; the
      // novelty probe stresses the (doc, gram) distinct and gram-keyed
      // first-occurrence agg (replication multiplies every gram's df);
      // ctx profile is the single-pass 4-group agg floor case
      "ns_corpus_shard_manifest", "ns_text_novelty", "ns_corpus_ctx_profile",
      // r14 second wave: domain cap's one shuffle is the (source, lang)
      // top-CAP window (replication multiplies rows per domain — the
      // WindowGroupLimit map-side prune is the claim under test); upsert
      // stresses the changeset full-outer join + the touched-shard
      // rewrite (replication grows every shard by the factor); the
      // curriculum is a map-only score + percentile + 4-group agg floor
      "ns_sample_domain_cap", "ns_corpus_upsert", "ns_corpus_curriculum",
      // r14: normalization is a map-only text transform + source rollup —
      // a linear-in-text-volume floor case like code_switch
      "ns_text_normalize",
      // r14: line dedup's corpus work is the checkpointed line explode +
      // the distinct-collapsed line-df agg; replication multiplies every
      // line's df by the factor (every cloned body line crosses df >= 3,
      // so ~all lines flag as boilerplate — the worst-case removal rate)
      // while the broadcast recurring set saturates at the DISTINCT-line
      // count, which clones don't grow — wall should track line volume
      "ns_dedup_lines",
      // r14: calibration = one map-only double-scoring pass narrowed to
      // 16 bytes/doc before the checkpoint; percentile + <=10-group
      // rollup both read the checkpoint — the curriculum floor class
      "ns_quality_calibration",
      // r14: sft masks = one map-only ~n/32-row turn explode absorbed by
      // the source-group partial agg (doc facts ride the i=0 row, no
      // doc-keyed shuffle) — the ctx_profile floor class
      "ns_corpus_sft_masks",
      // r14: reshard = a x24 md5-weight explode per doc absorbed by the
      // partial max_by agg; downstream is 48 + 2 groups — the per-doc
      // hashing (24 md5s/doc) is the wall, expected linear in docs
      "ns_corpus_reshard",
      // r14: shard bloom = one sha256 pass + the Array[BloomFilter]
      // treeAggregate (driver state S x bloom bytes at any corpus size);
      // capacity re-sizes to the replicated per-shard count so the
      // bounded booleans must stay true at every tier
      "ns_corpus_shard_bloom",
      // r14: ndcg = one scoring pass into a 4-int checkpoint; the three
      // rank windows share one source-keyed exchange — per-source sort
      // volume is the stress axis (replication multiplies rows/source)
      "ns_quality_ranker_ndcg",
      // r14: source KL = one corpus tokenize+count; the grid is vocab x
      // sources, which replication does NOT grow (clones multiply counts,
      // not vocabulary) — wall should track the tokenize pass
      "ns_profile_source_kl",
      // r14: the streaming line gate replays the multiplied corpus as two
      // real micro-batches; per-batch work is one line-keyed FMGWS
      // exchange and state is one long per distinct line (which clones
      // don't grow) — wall should track line volume plus file-sink cost
      "ns_dedup_lines_stream",
      // r14 late wave: pref pairs = one map-only scoring pass into the
      // (source, lang)-keyed max_by/min_by agg (4 longs per group) — the
      // ctx_profile floor class; heavy hitters = the MG sketch pass
      // (<=32 rows shuffled per partition) + the candidate-semi-join
      // recount, so the wall is two narrow corpus scans and replication
      // must NOT grow the shuffle (clones multiply counts, not keys);
      // kanon = two shrinking aggs (docs -> QI classes -> size
      // histogram); fertility = the token-counts HOF fold into a
      // |langs|-group agg — both floor cases
      "ns_corpus_pref_pairs", "ns_sketch_heavy_hitters",
      "ns_profile_kanon", "ns_text_fertility",
      // r14 late wave 2: memorization = the 8-gram (doc, gram) distinct
      // collapse + gram-df agg + df join-back (replication multiplies
      // every gram's df — the novelty stress axis); gini = one
      // source-keyed exchange shared by the rank window and the rollup
      // (the ndcg class; per-source sort volume is the axis)
      "ns_text_memorization", "ns_profile_gini",
      // r14 late wave 3: quarantine = one map-only 5-validator pass into
      // a single-row conditional-sum agg + a literal 6-row stack — the
      // curriculum floor class; length binning = two block-decomposed
      // rank windows ((bucket, blk) and (blk) — no window sees more than
      // one block) + two shrinking aggs off one checkpointed narrow base
      "ns_pipeline_quarantine", "ns_corpus_length_binning",
      // r14 late wave 4: datacard = one ~30-byte/doc checkpoint feeding
      // three shrinking aggs (source rollup w/ exact percentile, the
      // (source, lang) mix, the (source, hash) distinct collapse) —
      // replication multiplies dup counts, not languages; manifest diff
      // = one narrow pass into an S-row conditional-sum manifest
      "ns_profile_datacard", "ns_pipeline_manifest_diff",
      // r14 late wave 4: kappa = the calibration floor class (one
      // double-scoring pass -> 2 booleans -> single-row confusion agg)
      "ns_quality_kappa",
      // r14 late wave 5: reservoir = hash-key TakeOrdered (O(k) per
      // partition — wall should be the scan); zipf = the top_terms
      // vocab agg + an O(100) regression (clones multiply counts, not
      // vocabulary — flat); interleave = one source-keyed rank window +
      // a global top-48 TakeOrdered by the progress key
      "ns_sample_reservoir", "ns_profile_zipf", "ns_corpus_interleave",
      // r14: skyline's corpus work is the map-only criteria pass + two
      // broadcast anti probes; clones are identical triples (mutually
      // non-dominating), so survivors grow with the clone factor — the
      // stress axis is the exact phase's bounded self-join
      "ns_quality_skyline",
      // r14: bradley-terry's corpus work is one bucket-keyed lead()
      // window (one comparison per doc — linear) + an O(|sources|^2)
      // matrix; the 3 MM rounds never touch the corpus. readability is
      // a map-only regex-count pass into a source-keyed partial agg
      "ns_quality_bradley_terry", "ns_text_readability",
      // r14: kmv overlap's corpus work is the shingle explode + two
      // distinct collapses; sketches are 64 rows/source, pair merges
      // |sources|^2 x 64. The exact audit twin's shingle join is the
      // stress axis (clones multiply each shingle's source fan-in)
      "ns_sketch_kmv_overlap",
      // r14: burstiness = two vocabulary-keyed aggs + a 25-row rank
      // cut (clones multiply counts, not vocabulary — flat). bitext
      // joins BOTH fixtures (doc langs onto vectors), so it runs in the
      // dual-fixture group below, not here
      "ns_profile_burstiness",
      // r14: the observed gate is ONE scan with CollectMetrics riding
      // it (the no-second-pass accounting claim — wall should track the
      // scoring scan); anneal mix collapses the corpus to S rows in one
      // agg and every allocation derives from that frame
      "ns_pipeline_observed", "ns_corpus_anneal_mix",
      // r14: csv_malformed writes the corpus as CSV + the corrupt file
      // in-plan, reads both PERMISSIVE, and folds a lang census — wall
      // should track the write+parse volume (full-parallel file I/O)
      "src_csv_malformed",
      // r14: entropy rate = two vocabulary-keyed aggs (unigram+bigram)
      // into S rows; clones multiply counts, not vocabulary
      "ns_text_entropy_rate",
      // r14: IPF mix = one corpus agg to the SxL grid; all fitting
      // rounds and audits are grid-sized — flat
      "ns_corpus_ipf_mix",
      // r14: heaps fit = one (term -> min decile) vocab agg + a decile
      // token histogram; the regression is 10 rows. Clones multiply
      // counts, not vocabulary — flat
      "ns_profile_heaps_fit",
      // r14: rate curve = the minhash band-bucket candidate join (the
      // lsh stress axis: clone groups multiply pair volume) + an exact
      // per-pair Jaccard + a 5-threshold conditional rollup; confusion
      // = one map-only detector pass into a |langs|x2 agg
      "ns_dedup_rate_curve", "ns_profile_langid_confusion",
      // r14: krippendorff = the calibration scoring pass narrowed to
      // three booleans + a 1-row rollup
      "ns_quality_krippendorff",
      // r14: kfold = one source-keyed rank window + grid rollups;
      // neyman = one corpus agg to S rows + S-row arithmetic
      "ns_corpus_kfold", "ns_sample_neyman",
      // r14: sorted-neighborhood = two block-keyed bounded lead windows
      // (candidates <= 2*w*N) + the candidate-sized exact-Jaccard join;
      // clone groups share normalized keys, so replication packs blocks
      // denser — the window-sort and verify-join volume is the axis
      "ns_dedup_sorted_neighborhood",
      // r15: exact-substr = one tokenize pass into (site, gram-hash)
      // rows; replication multiplies every gram's occurrence count so
      // ~ALL positions flag as duplicated (worst-case coverage) — the
      // gram-keyed stats agg and the site⋈stats join volume is the axis
      "ns_dedup_exact_substr",
      // r15: span flow = the exact-substr frame + two doc-keyed joins;
      // replication makes every span non-first (clones), so the flow
      // rollup sees the worst-case edge volume
      "ns_dedup_span_flow",
      // r15: rank normalize = one score pass + per-(source, score)
      // counts; replication multiplies counts but NOT distinct score
      // values, so the cumulative window's input stays flat — the
      // claim under test
      "ns_quality_rank_normalize",
      // r15: histogram match = bin counts broadcast onto a map-only
      // coin pass — the dsir floor class, expected ~linear
      "ns_sample_histogram_match",
      // r15: distinct-n = one inline 3-way gram expansion into a
      // (source, n, gram)-keyed count; replication multiplies counts
      // but not types, so the distinct collapse output stays flat
      "ns_profile_distinct_ngrams",
      // r15: substr rewrite = the span frame collapsed to per-doc
      // removal arrays + one doc-keyed join + in-array HOF rebuild;
      // replication makes every clone's spans non-first — worst-case
      // removal volume
      "ns_dedup_substr_rewrite",
      // r15: uncertainty = one map-only score pass into a global
      // top-50 TakeOrdered — the floor class
      "ns_sample_uncertainty",
      // r15: prefix share = 3 (k, prefix-hash) rows per doc into a
      // keyed count; replication multiplies group sizes, not groups
      "ns_corpus_prefix_share",
      // r15: ocr artifacts = pure map-side in-array HOF counting, no
      // shuffle before the gate sort — the code_switch floor class
      "ns_text_ocr_artifacts",
      // r15: the L curve = one tokenize expanding THREE gram orders
      // (3x the exact-substr row volume, same keyed-stats shape);
      // replication drives worst-case duplicated coverage at all three L
      "ns_dedup_substr_curve",
      // r15: gate venn = map-only integer gates into an 8-group agg —
      // the floor class
      "ns_quality_gate_venn",
      // r15: order audit = score+hash pass, sha-keyed group agg, two
      // group-sized doc-keyed joins; replication grows every sha group
      // by the factor (every clone group's rescue structure invariant)
      "ns_pipeline_order_audit",
      // r15: unk rate = term counts collapsed to the count-of-counts
      // frame; replication multiplies counts (shifting levels), not
      // types — the level frame stays heavy-tail bounded
      "ns_text_unk_rate",
      // r16: trigram match = distinct-title index (replication collapses
      // — clone titles dedup into one signature, the claim under test)
      // + a probe-bounded prefix join; wall should stay near-flat
      "ns_text_trigram_match",
      // r16: BPE-id spans = the two-level tokenize (vocab flat under
      // replication — the bpe_apply claim) + the id-gram frame at the
      // exact-substr worst case (every id-gram duplicated by clones)
      "ns_dedup_exact_substr_bpe",
      // r16: grpo = one score pass + two group aggs + a group-keyed
      // join; clones multiply group sizes, not groups — ~linear floor
      "ns_corpus_grpo_groups",
      // r16: streaming heavy hitters = two real micro-batches over the
      // multiplied corpus; per-shard MG state is k counters regardless
      // of volume, so wall should track token volume + fixed sink cost
      "ns_sketch_hh_stream",
      // r16: split JS = one token pass into (split, term) counts;
      // replication multiplies counts, not vocabulary — the pair joins
      // and entropy folds run over the flat term table
      "ns_corpus_split_js",
      // r17: FTS = query-vocabulary postings (replication multiplies
      // postings linearly) through one doc-keyed window+agg exchange —
      // expected ~linear in text volume
      "ns_text_fts_query",
      // r17: the percolator twin = two real micro-batches of stateless
      // map-only matching + the file-sink replay — wall should track
      // doc volume plus the fixed stream-harness cost (the hh_stream
      // class)
      "ns_text_fts_stream",
      // r17: incremental span gate = store build over base + arrival
      // probe; replication multiplies BOTH sides of the gk join and
      // every gram's df — the exact-substr stress class
      "ns_dedup_substr_incr",
      // r17: the published L=50 point — same frame as the L=20 probe
      // above; gram count per doc shrinks by L-1, so the id-gram volume
      // should sit BELOW the L=20 row at the same multiplier
      "ns_dedup_exact_substr_bpe50",
      // r17: symmetric trigram join = distinct-collapse makes the
      // entity table replication-INVARIANT (clone titles dedup into one
      // signature), so the candidate self-join should be near-flat —
      // the same claim the probe-vs-index r16 row proved, now for the
      // self-join
      "ns_text_trigram_join",
      // r17: rank_cd = the fts postings discipline + doc-bounded lag
      // windows + TakeOrdered heaps — expected ~linear in postings
      "ns_text_rank_cd",
      // r17: isotonic = the calibration corpus pass + grid-sized
      // minimax algebra; replication multiplies bin counts, not bins —
      // expected the calibration floor class
      "ns_quality_isotonic",
      // r17: best-of-n = one score pass into ONE group aggregate (the
      // four tiers are conditional aggregates in the same pass) —
      // expected the grpo floor class
      "ns_corpus_best_of_n",
      // r17: compressibility = one mapPartitions deflate pass (text
      // never shuffles) + a source-median split — expected ~linear in
      // text volume (deflate is the per-row cost)
      "ns_text_compressibility",
      // r17: method agreement = BOTH band-keyed candidate generators
      // under replication — the minhash_lsh stress class squared
      // (every band bucket grows by the factor on both sides)
      "ns_dedup_agreement",
      // r17: gumbel = one map-only key pass + TakeOrdered heaps — the
      // sampleHash floor class
      "ns_sample_gumbel_topk",
      // r18: weighted ts_rank = the bm25 postings discipline with doc
      // length riding the posting rows — expected ~linear in postings
      "ns_text_rank_weighted",
      // r18: prefix tsquery = the same postings discipline with a
      // startsWith map-side filter — expected ~linear in postings
      "ns_text_fts_prefix",
      // r18: headline = the rank_cd frame + a top-k-sized snippet join
      // (only 30 winning docs' texts re-read) — expected ~linear in
      // postings with the snippet stage corpus-independent
      "ns_text_headline",
      // r18: <N> distance = one postings pass into per-doc position
      // arrays + in-array HOFs — expected ~linear in postings
      "ns_text_fts_distance",
      // r18: edit-distance join = broadcast probes x distinct-collapsed
      // title index (replication-proof) under the length-band prefilter
      // — expected near-flat (the trigram probe class)
      "ns_text_editdist_join",
      // r18: nfc audit = one narrow mapPartitions normalize pass (text
      // never shuffles; 3 longs/doc to the source rollup) — the
      // compressibility class, expected ~linear in text volume
      "ns_text_nfc_audit",
      // r18: step attribution = the pack frame's cumsum shuffle + a
      // 3-row broadcast probe join — the pack_greedy class
      "ns_pipeline_step_attribution",
      // r18: chunk overlap = map-only window explode into an md5-keyed
      // df agg (32-char keys shuffle, text doesn't) — expected ~linear
      // in chunk volume; replication drives every chunk to df >= 2
      // (the dedup-accounting stress case)
      "ns_corpus_chunk_overlap",
      // r18: allocation = one source rollup + sources-sized rank — the
      // temperature floor class
      "ns_sample_allocation",
      // r19: stemming = map-side CASE chains over the vocabulary-filtered
      // postings — expected postings-linear like the other FTS rows
      "ns_text_fts_stemmed",
      // r19: b-bit audit = the band-bucket candidate stress axis (the
      // agreement audit's minhash side) + two sig-table joins; the six
      // widths fold from one inline pass, so growth should track the
      // candidate volume
      "ns_dedup_bbit_minhash",
      // r19: url dedup = map-side regexp/array canonicalization into ONE
      // group-by on short canonical strings; replication (identical
      // doc_id remaps mod the url scheme) multiplies group occupancy,
      // not group count — expected ~flat beyond the map pass
      "ns_dedup_url",
      // r19: crawl frontier = one host-keyed rank window + a round-keyed
      // census; replication multiplies per-host rows (rounds), the
      // politeness stress axis — per-host sort stays in-partition
      "ns_pipeline_crawl_frontier",
      // r19: etld1 = map-side array-expression suffix match into one
      // short-key group-by; the registrable-domain key space is
      // replication-invariant — expected ~flat beyond the map pass
      "ns_profile_etld1",
      // r19: url decontamination = map-side canonicalize + a broadcast
      // hash join vs the 3-row blocklist — the decontaminate floor class
      "ns_decontaminate_url",
      // r19: fim = one map-only substring+md5 pass into a source rollup
      // — the normalize/compressibility floor class, linear in text
      "ns_corpus_fim")
    val tmp = Q.scratchDir("scaleprobe")
    try {
      // one corpus table replicated into the probe tree; returns its row count
      def replicated(name: String): Long = {
        ScaleFixture.replicate(name, Tables.load(spark, sfDir, name), docMult)
          .write.mode("overwrite").parquet(s"$tmp/$name.parquet")
        spark.read.parquet(s"$tmp/$name.parquet").count()
      }
      // hybrid RRF reads BOTH fixture tables: write the documents fixture
      // (without timing any doc probe) when only the rrf probe is selected
      val needDocsFixture = docNames.exists(enabled) || enabled("ns_sim_hybrid_rrf") ||
        enabled("ns_pipeline_integrity") || enabled("ns_sim_bitext_mining") ||
        enabled("ns_dedup_agreement_semantic")
      if (needDocsFixture) {
        val nDocs = replicated("documents")

        def timeDoc(name: String): Unit = if (enabled(name)) {
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, tmp).write.mode("overwrite").format("noop").save()
          println(f"[scaleprobe] $name x$docMult (${nDocs} docs): ${(System.nanoTime() - t0) / 1e9}%.2f s" + spillTag())
        }
        // cluster resolution logs its rounds-to-convergence on stderr ([cc])
        docNames.foreach(timeDoc)
      }

      // --- Event-stream probes over a multiplied events table: user_id
      // remap gives every clone its own users, so per-user session SHAPE
      // is invariant and growth isolates event volume (the window + the
      // session agg both scale with rows, never with rows-per-user).
      val evtNames = Seq(
        // r14: trajectories = one user-keyed window + the (user, session)
        // agg with in-aggregate rebuild — expected ~linear in events
        "ns_corpus_trajectories",
        // r14 late wave 2: the streaming twin replays the multiplied events
        // as two real time-split micro-batches; per-batch work is one
        // user-keyed FMGWS exchange and state is O(1) per user (clone
        // users multiply state linearly but each entry is ~5 fields) —
        // wall should track event volume plus the fixed sink cost
        "ns_corpus_trajectories_stream",
        // r14: embargo split = two map-side-combined aggregates (span
        // min/max; user rollup) + map-only tagging — expected ~linear in
        // events with no sort anywhere
        "ns_corpus_embargo_split",
        // r14: ab lift = one user-keyed agg + a 2-group rollup; clone
        // users multiply groups linearly, per-user work is invariant
        "ts_ab_lift",
        // r14: dynamic-gap sessions = one user-keyed session agg (the
        // native operator); clone users keep per-user session shape
        // invariant, growth isolates event volume
        "ts_session_dynamic_gap",
        // r14: disorder profile = one user-keyed running-max window + a
        // 1-row percentile rollup
        "ts_disorder_profile",
        // r14: markov = one user-keyed lag window + a |types|^2 agg;
        // the power iterations are 25-row frames
        "ts_markov_transitions",
        // r14: ewma = one user-keyed 16-lag window (bounded in-partition
        // state) + map-side dyadic arithmetic; clone users keep per-user
        // tap depth invariant, growth isolates event volume
        "ts_ewma_smooth",
        // r15: cusum = (type, hour) count agg first (the corpus collapse),
        // then two per-type windows over HOURLY buckets — replication
        // multiplies counts, not buckets, so window input stays flat
        "ts_cusum_changepoint",
        // r15: seasonality = one (type, dow, hour) collapse to <= 168
        // cells/type; the peak window is grid-sized
        "ts_seasonality_profile",
        // r15: the streaming cusum twin replays hour-split files through
        // FMGWS; replication multiplies per-bucket counts, state stays
        // O(1) per type
        "ts_cusum_stream",
        // r17: MAD = the cusum collapse (calendar-bounded hourly counts)
        // then percentile/flag rollups over hours-per-type rows —
        // replication multiplies counts, not buckets
        "ts_anomaly_mad",
        // r19: concurrency peak = the sessionization shuffle + a
        // day-partitioned delta window (fat partitions bounded by a day's
        // sessions) + a span-bounded carry explode — replication multiplies
        // sessions per day, the day-window stress axis
        "ts_concurrency_peak")
      if (evtNames.exists(enabled)) {
        val nEv = replicated("events")
        evtNames.foreach { name =>
          if (enabled(name)) {
            val t0 = System.nanoTime()
            SparkEntry.queries(name)(spark, tmp).write.mode("overwrite").format("noop").save()
            println(f"[scaleprobe] $name x$docMult (${nEv} events): ${(System.nanoTime() - t0) / 1e9}%.2f s" + spillTag())
          }
        }
      }

      // --- Embedding probes over a multiplied embeddings table: k-means
      // assignment stays map-only (centroid literals), so only the
      // (cluster, dim) update agg and the within-cluster pair join grow.
      // CATALOG-keyed names only (each resolves via SparkEntry.queries);
      // probes with custom harnesses live in customVecProbes below.
      val vecNames = Seq(
        "ns_embed_kmeans", "ns_sim_pq", "ns_sim_pq_adc", "ns_embed_covariance",
        "ns_embed_pagerank", "ns_sim_hard_negatives", "ns_embed_cluster_purity",
        "ns_sim_mmr_rerank", "ns_sim_hybrid_rrf", "ns_sim_pq_rerank",
        // r10: sq8 adds a second full-width distance per candidate pair
        // (same broadcast-query join); ivfpq's scored set is the probed
        // 2/16 of the corpus; pca's corpus-sized axis is the Gram build
        "ns_sim_sq8_recall", "ns_sim_ivfpq", "ns_embed_pca_power",
        "ns_embed_pca_project", "ns_sim_knn_2hop", "ns_sim_range_search",
        // r10 fourth wave: label prop's stress axis is seed-bucket
        // occupancy (same bucket^2 family as pagerank, 4x smaller build
        // side); matryoshka runs TWO broadcast-query passes so it should
        // track 2x the cosine-topk growth
        "ns_embed_label_prop", "ns_sim_matryoshka",
        // r10 fifth wave: outliers = the kmeans map-only assignment plus a
        // k-row threshold broadcast — expected ~linear with kmeans itself
        "ns_embed_outliers",
        // r14: cell-balance audit = one broadcast-centroid assignment pass
        // + a C-group count — expected ~linear with the assignment scan;
        // the incremental append writes 0.9N + 0.1N index rows per run, so
        // its wall should track the persisted build's
        "ns_sim_ivf_balance", "ns_sim_ivf_append",
        // r14: JL projection is map-only vs the sign-matrix literal; the
        // two broadcast-query searches track matryoshka's growth, and the
        // distortion pass is queries x 5 pairs — corpus-independent
        "ns_sim_jl_recall",
        // r14: filtered IVF = the ivfTopk skeleton with the label predicate
        // in the join condition; replication multiplies per-cell matching
        // candidates, so the shortfall rate should FALL as the corpus grows
        "ns_sim_ivf_filtered",
        // r14: drift = one posexplode into a 64-group exact-integer agg —
        // the dim-keyed floor case (shuffle carries 64 partial sums per
        // partition at any corpus size)
        "ns_embed_drift",
        // r14: triangles = the bucket-equi edge build (bucket^2 stress
        // axis under replication, like pagerank) + degree-bounded wedge
        // and closure joins — edge volume is the wall
        "ns_embed_knn_triangles",
        // r14 late wave: integrity reads BOTH multiplied fixtures (the
        // doc_id / vec_id remaps are identical, so per-replica match
        // structure is invariant); each side distinct-collapses before the
        // full-outer join, so the join carries one row per distinct key
        "ns_pipeline_integrity",
        // r14 late wave 2: semantic decontamination is the broadcast-query
        // cosine pass (16 eval rows vs the corpus scan) into a 16-group
        // packed-key max_by agg — the cosine_topk growth class; cluster
        // balance is the shared centroid assignment + a per-cell rank cut
        // (WindowGroupLimit prunes to 24/cell map-side) + a C-group census
        "ns_decontaminate_semantic", "ns_sample_cluster_balance",
        // r14 late wave 4: tombstone delete = the persisted build + one
        // broadcast anti-join on the probed slice — wall should track the
        // persisted build's (the index write dominates)
        "ns_sim_ivf_delete",
        // r14: bitext mining reads BOTH multiplied fixtures (langs join
        // onto vectors by the identical id remap); the scored pass is the
        // broadcast-anchor cosine class with the anchor set growing with
        // the en-side replicas — the margin agg stays 4 rows/anchor
        "ns_sim_bitext_mining",
        // r14: HITS shares pagerank's bucket-equi edge build (the bucket^2
        // stress axis); each half-round is one edge join + keyed agg over
        // the checkpointed O(N·k) edge list — edge-linear per round
        "ns_embed_hits", "ns_sim_maxsim", "ns_embed_kcenter_init",
        // r14: the recall curve runs BOTH the exact audit pass and the
        // bucket-matched LSH pass; replication multiplies bucket occupancy
        // (the LSH side's stress axis) while the k expansion stays 4 rows
        "ns_sim_recall_curve",
        // r14: two-stage maxsim = broadcast-centroid assignment +
        // cell-keyed shortlist join paying the native kernel, plus the
        // exact audit join; shortlist occupancy grows with replication
        "ns_sim_maxsim_ivf",
        // r15: sub-vector (PLAID) routing = the map-side (vector x slot)
        // assignment vs the 128-row broadcast sub-centroid table + a
        // cell-keyed shortlist join; replication multiplies per-cell
        // membership, so shortlist growth is the stress axis (the
        // maxsim_ivf class with an 8x denser index)
        "ns_sim_maxsim_plaid",
        // r16: the plaid curve runs the plaid shape at FOUR operating
        // points off one dot pass; replication multiplies cell membership
        // at every config — expected ~4x the single-point growth
        "ns_sim_plaid_curve",
        // r16: the SQ ladder = sq8_recall with two extra quantized grids
        // off the same calibration/quantize pass — expected to track
        // sq8_recall's growth (the top-5 passes dominate)
        "ns_sim_sq_ladder",
        // r16: streaming IVF ingest = the append build through the file
        // sink (two micro-batches) + the partition-pruned serve; wall
        // should track ns_sim_ivf_append's (write volume dominates)
        "ns_sim_ivf_append_stream",
        // r19: compaction = the persisted build + a touched-cells-only
        // dynamic-overwrite rewrite + the unfiltered serve; wall should
        // track ivf_delete's (build/write dominates), with the rewrite
        // sized by tombstone spread, not the corpus
        "ns_sim_ivf_compact")
      // probes over the embeddings fixture that do NOT resolve through the
      // query catalog (custom parameterization below)
      val customVecProbes = Seq("ns_dedup_semantic_kprop",
        "ns_dedup_agreement_semantic", "kprop_route")
      if ((vecNames ++ customVecProbes).exists(enabled)) {
        val nVecs = replicated("embeddings")
        def timeVec(name: String): Unit = if (enabled(name)) {
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, tmp).write.mode("overwrite").format("noop").save()
          println(f"[scaleprobe] $name x$docMult (${nVecs} vecs): ${(System.nanoTime() - t0) / 1e9}%.2f s" + spillTag())
        }
        timeVec("ns_embed_kmeans")
        timeVec("ns_sim_pq")
        // ADC search end-to-end (encode + broadcast distance-table join +
        // partial-agg sum + map-side top-k): the r8 probe covered only the
        // encode phase; this times the search join at Nx corpus.
        timeVec("ns_sim_pq_adc")
        // covariance: shuffle is dim^2-bounded, so wall should track the
        // map-side pair expansion (linear in vectors) with no agg growth
        timeVec("ns_embed_covariance")
        // pagerank: replication multiplies LSH bucket occupancy, so the
        // knn-edge join is the stress axis (bucket^2); the three rank
        // rounds themselves are edge-linear
        timeVec("ns_embed_pagerank")
        // the three audit ops whose corpus-sized work is one broadcast-
        // anchor (or broadcast-centroid) pass — expected ~linear
        timeVec("ns_sim_hard_negatives")
        timeVec("ns_embed_cluster_purity")
        timeVec("ns_sim_mmr_rerank")
        // needs the documents fixture too (see needDocsFixture above)
        timeVec("ns_sim_hybrid_rrf")
        // two-stage retrieval: ADC shortlist + corpus-independent re-rank
        timeVec("ns_sim_pq_rerank")
        // r10: sq8 = two broadcast-query passes (exact + int8 grid), both
        // rank windows map-side-pruned; ivfpq scores only the probed 2/16
        // cells; pca's corpus-sized axis is the dim^2-bounded Gram build
        timeVec("ns_sim_sq8_recall")
        timeVec("ns_sim_ivfpq")
        timeVec("ns_embed_pca_power")
        // r10 second half: projection is map-only vs loading literals;
        // 2-hop's stress axis is bucket occupancy (seeds AND edges both
        // grow with replication — the same bucket^2 axis as pagerank)
        timeVec("ns_embed_pca_project")
        timeVec("ns_sim_knn_2hop")
        // range search: one broadcast-query map-only pass, no rank window —
        // replication grows the candidate stream AND the in-range counts
        // linearly; the aggregate stays 16 query rows
        timeVec("ns_sim_range_search")
        timeVec("ns_embed_label_prop")
        timeVec("ns_sim_matryoshka")
        timeVec("ns_embed_outliers")
        timeVec("ns_sim_ivf_balance")
        timeVec("ns_sim_ivf_append")
        timeVec("ns_sim_jl_recall")
        timeVec("ns_sim_ivf_filtered")
        timeVec("ns_embed_drift")
        timeVec("ns_embed_knn_triangles")
        timeVec("ns_pipeline_integrity")
        timeVec("ns_decontaminate_semantic")
        timeVec("ns_sample_cluster_balance")
        timeVec("ns_sim_ivf_delete")
        timeVec("ns_sim_ivf_compact")
        timeVec("ns_sim_bitext_mining")
        timeVec("ns_embed_hits")
        // maxsim: the broadcast-query class with 64 sub-dots per pair in
        // one codegen'd HOF expression — expected ~linear in candidates
        timeVec("ns_sim_maxsim")
        timeVec("ns_sim_recall_curve")
        timeVec("ns_sim_maxsim_ivf")
        timeVec("ns_sim_maxsim_plaid")
        timeVec("ns_sim_plaid_curve")
        timeVec("ns_sim_sq_ladder")
        timeVec("ns_sim_ivf_append_stream")
        // kcenter: 8 rounds, each one broadcast join vs <=8 centers + a
        // global top-1 — k corpus passes, map-bounded
        timeVec("ns_embed_kcenter_init")

        // Semantic dedup at the PRODUCTION configuration: k ∝ N (one
        // cluster per ~2500 vectors), seeds stride-spaced so they are k
        // DISTINCT original vectors under replication. The gate query's
        // fixed k = 8 is the fixture contract; under replication fixed k
        // makes the within-cluster pair join grow quadratically — this
        // probe is the measurement that k ∝ N keeps pair work linear.
        // One assignment pass (iters = 1): Lloyd refinement cost is
        // ns_embed_kmeans's story; the claim under test here is the pair
        // phase.
        if (enabled("ns_dedup_semantic_kprop")) {
          // seedStride = docMult picks original vec_ids 0..k-1, so k cannot
          // exceed the ORIGINAL vector count (nVecs / docMult) — beyond it
          // kmeansAssign would silently seed fewer centroids than reported
          val k = math.min(math.max(8, (nVecs / 2500L).toInt),
            math.max(1, (nVecs / docMult).toInt))
          val asg = graft.queries.NorthStarQueries
            .kmeansAssign(spark, tmp, iters = 1, k = k, seedStride = docMult.toLong)
            .select(col("vec_id"), col("cl"))
          val t0 = System.nanoTime()
          graft.queries.NorthStarQueries.semanticPairStats(spark, tmp, asg)
            .write.mode("overwrite").format("noop").save()
          println(f"[scaleprobe] ns_dedup_semantic_kprop k=$k x$docMult (${nVecs} vecs): " +
            f"${(System.nanoTime() - t0) / 1e9}%.2f s" + spillTag())
        }
        // r19: the set-vs-semantic agreement audit GATE is now
        // self-parameterizing (kmeansAssignKprop: k = max(8, N/250),
        // distinct-vector seeds — replication-proof without any
        // seedStride plumbing), so the probe times the registered query
        // directly; it reads BOTH multiplied fixtures through the shared
        // id remap.
        timeVec("ns_dedup_agreement_semantic")
        // r20: assignment-SHAPE probe at FIXED N — the claim under test
        // is the two-level route's O(N·√k) vs the flat argmin's O(N·k):
        // time both shapes over the SAME vectors at k and 4k. Flat should
        // grow ~4x between the k points; routed ~2x (√4). This is the
        // verdict's last 100x ceiling: under k ∝ N the flat pass is
        // O(N²/occupancy) while the route stays O(N^1.5).
        if (enabled("kprop_route")) {
          val v = graft.queries.NorthStarQueries.kmeansQuantizedIndex(spark, tmp)
          def centsOf(k: Int): Seq[(Int, Seq[Long])] = v
            .groupBy(col("xq")).agg(min(col("vec_id")).as("mv"))
            .orderBy(col("mv")).limit(k).collect()
            .sortBy(_.getLong(1)).zipWithIndex
            .map { case (r, j) => (j, r.getSeq[Long](0)) }.toSeq
          // untimed warm-up: JIT + codegen caches, so the measured points
          // compare shapes, not first-run compilation
          centsOf(64) match {
            case w if w.size == 64 =>
              graft.queries.NorthStarQueries.kmeansAssignRouted(v, w)
                .select("vec_id", "cl", "d")
                .write.mode("overwrite").format("noop").save()
              graft.queries.NorthStarQueries.kmeansAssignTo(v, w.take(63))
                .select("vec_id", "cl", "d")
                .write.mode("overwrite").format("noop").save()
            case _ => ()
          }
          for (k <- Seq(128, 1152)) {
            val cents = centsOf(k)
            if (cents.size == k) {
              for ((tag, asg) <- Seq(
                  "flat" -> graft.queries.NorthStarQueries.kmeansAssignTo(v, cents),
                  "routed" -> graft.queries.NorthStarQueries.kmeansAssignRouted(v, cents))) {
                val t0 = System.nanoTime()
                asg.select("vec_id", "cl", "d")
                  .write.mode("overwrite").format("noop").save()
                println(f"[scaleprobe] kprop_route_$tag k=$k x$docMult (${nVecs} vecs): " +
                  f"${(System.nanoTime() - t0) / 1e9}%.2f s" + spillTag())
              }
            } else println(s"[scaleprobe] kprop_route k=$k skipped " +
              s"(only ${cents.size} distinct vectors)")
          }
        }
      }
    } finally Q.scratchDelete(tmp)
    spark.stop()
  }
}
