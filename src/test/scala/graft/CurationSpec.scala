package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the round-10 curation operators — properties
  * the DuckDB hash diff can't articulate (bounds, partition-of-corpus,
  * status algebra), checked on the sf0.001 fixture.
  */
class CurationSpec extends SparkSpec {

  private def run(name: String) =
    SparkEntry.queries(name)(spark, sfDir)

  test("entropy: bounds hold — 0 <= H <= log2(distinct), top-char frac sane") {
    val rows = run("ns_text_entropy").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nDistinct = r.getAs[Long]("n_distinct")
      val topFrac = r.getAs[Double]("top_char_frac")
      val h = r.getAs[Double]("entropy_bits")
      assert(h >= -1e-6, s"negative entropy: $r")
      assert(h <= math.log(nDistinct.toDouble) / math.log(2.0) + 1e-6,
        s"entropy above log2(alphabet): $r")
      assert(topFrac >= 1.0 / nDistinct - 1e-6 && topFrac <= 1.0, s"top frac: $r")
    }
  }

  test("Hamilton allocation sums EXACTLY to the budget, every source seated") {
    val rows = run("ns_sample_allocation").collect()
    assert(rows.nonEmpty)
    // the apportionment's defining property: never over- or under-spends
    assert(rows.map(_.getAs[Long]("alloc")).sum == 1000L)
    // floor shares are never exceeded by more than the one leftover seat
    rows.foreach { r =>
      val d = r.getAs[Long]("alloc") - r.getAs[Long]("base")
      assert(d == 0L || d == 1L, s"allocation drifted from its floor: $r")
    }
  }

  test("step attribution: each probed full window is exactly 512 tokens") {
    val rows = run("ns_pipeline_step_attribution").collect()
    assert(rows.nonEmpty)
    // probe windows that exist before a source's final partial window
    // must be exactly full — the interval-intersection identity
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    bySrc.foreach { case (_, rs) =>
      val seqs = rs.map(r => r.getAs[Long]("seq_id") -> r.getAs[Long]("toks_in_seq"))
      val maxSeq = seqs.map(_._1).max
      seqs.filter(_._1 < maxSeq).foreach { case (sq, t) =>
        assert(t == 512L, s"non-final window $sq underfilled: $t")
      }
    }
  }

  test("chunk overlap: window schedule covers every token exactly once at stride boundaries") {
    // chunk_tokens >= doc tokens (overlap re-counts), and every doc
    // contributes at least one chunk
    val rows = run("ns_corpus_chunk_overlap").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_chunks") >= r.getAs[Long]("n_docs"), s"$r")
      assert(r.getAs[Long]("repeated_tokens") <= r.getAs[Long]("chunk_tokens"), s"$r")
    }
  }

  test("entropy: a single-character document scores exactly zero bits") {
    // run the same expression pipeline on a planted degenerate doc
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ent").toString
    Seq((0L, "aaaaaaaa", "xx", "synthetic", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = SparkEntry.queries("ns_text_entropy")(spark, tmp).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Double]("entropy_bits") == 0.0)
    assert(r.head.getAs[Double]("top_char_frac") == 1.0)
    assert(r.head.getAs[Long]("n_distinct") == 1L)
  }

  test("corpus split: splits partition the corpus and train dominates") {
    val rows = run("ns_corpus_split").collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val expected = Tables.load(spark, sfDir, "documents").count()
    assert(total == expected, "split rows must partition the corpus exactly")
    val bySplit = rows.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    // 90% coin at n docs: 4-sigma band (same tolerance idiom as
    // ns_sample_stratified's oracle)
    val n = expected.toDouble
    assert(math.abs(bySplit("train") - 0.9 * n) <= 4 * math.sqrt(0.9 * 0.1 * n) + 1)
  }

  test("pipeline delta: status counts follow the snapshot derivation exactly") {
    val docs = Tables.load(spark, sfDir, "documents")
    val removed = docs.where(col("doc_id") % 10 === 3).count()
    val added = docs.where(col("doc_id") % 13 === 0).count()
    val changed = docs.where(col("doc_id") % 10 =!= 3 && col("doc_id") % 7 === 0).count()
    val unchanged = docs.count() - removed - changed
    val byStatus = run("ns_pipeline_delta").collect()
      .groupBy(_.getAs[String]("status"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(byStatus.getOrElse("removed", 0L) == removed)
    assert(byStatus.getOrElse("added", 0L) == added)
    assert(byStatus.getOrElse("changed", 0L) == changed)
    assert(byStatus.getOrElse("unchanged", 0L) == unchanged)
    // every added doc lands in the shifted id space
    run("ns_pipeline_delta").where(col("status") === "added").collect()
      .foreach(r => assert(r.getAs[Long]("min_id") >= 1000000L))
  }

  test("bpe merges: dense ranks, non-increasing counts, true top pair") {
    val rows = run("ns_text_bpe_merges").collect()
    assert(rows.map(_.getAs[Int]("rnk")).toSeq == (1 to rows.length))
    val occ = rows.map(_.getAs[Long]("n_occ"))
    assert(occ.zip(occ.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      assert(r.getAs[String]("pair").length == 2)
      assert(r.getAs[Long]("n_words") <= r.getAs[Long]("n_occ"))
    }
    // cross-check rank 1 against an independent count of one pair
    val docs = Tables.load(spark, sfDir, "documents")
    val top = rows.head.getAs[String]("pair")
    val independent = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2)
      .select(expr(s"size(filter(transform(sequence(1, length(w)), " +
        s"i -> substring(w, i, 2)), p -> p = '${top.replace("'", "\\'")}'))").as("k"))
      .agg(sum(col("k"))).collect().head.getLong(0)
    assert(independent == rows.head.getAs[Long]("n_occ"),
      s"rank-1 pair '$top' count mismatch")
  }

  test("sq8 recall: bounded in [0,1], 16 queries, identical-grid search is sane") {
    val rows = run("ns_sim_sq8_recall").collect()
    assert(rows.length == 16, "one recall row per query vector")
    rows.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0 && hits <= 5, s"n_hits out of range: $r")
      assert(math.abs(r.getAs[Double]("recall_at5") - hits / 5.0) < 1e-12)
    }
    // int8 quantization at 64 dims rarely reorders a top-5 badly;
    // demand a non-degenerate aggregate recall rather than per-query 1.0
    val mean = rows.map(_.getAs[Long]("n_hits")).sum / (5.0 * rows.length)
    assert(mean >= 0.5, s"SQ8 mean recall collapsed to $mean — quantizer broken")
  }

  test("ivfpq: results are a subset of single-cell ADC with plausible ranks") {
    val rows = run("ns_sim_ivfpq").collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == 16, "one result group per query")
    byQ.values.foreach { g =>
      assert(g.map(_.getAs[Int]("rnk")).sorted.toSeq == (1 to g.length))
      val ds = g.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("adc_d"))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b },
        "ADC distance must be non-decreasing in rank")
      g.foreach(r => assert(r.getAs[Long]("q_id") != r.getAs[Long]("c_id")))
    }
  }

  test("lsh tune: candidate volume and threshold move oppositely across configs") {
    val rows = run("ns_dedup_lsh_tune").collect()
      .map(r => r.getAs[String]("cfg") ->
        (r.getAs[Long]("n_candidate_pairs"), r.getAs[Double]("est_threshold"))).toMap
    assert(rows.keySet == Set("8x1", "4x2", "2x4"))
    // more bands with shorter keys -> more collisions (recall) but more pairs (cost)
    assert(rows("8x1")._1 >= rows("4x2")._1)
    assert(rows("4x2")._1 >= rows("2x4")._1)
    assert(rows("8x1")._2 < rows("4x2")._2 && rows("4x2")._2 < rows("2x4")._2)
    assert(math.abs(rows("8x1")._2 - 0.125) < 1e-9)
    assert(math.abs(rows("4x2")._2 - 0.5) < 1e-9)
    // the 4x2 row audits the SAME layout ns_dedup_minhash_lsh ships:
    // its candidate-pair total must equal the per-band pair sum there
    val lshPairs = run("ns_dedup_minhash_lsh").collect()
      .map(_.getAs[Long]("n_cand_pairs")).sum
    assert(rows("4x2")._1 == lshPairs,
      s"4x2 audit (${rows("4x2")._1}) != production band pairs ($lshPairs)")
  }

  test("delta stream: classification matches the batch derivation, removed observed") {
    val docs = Tables.load(spark, sfDir, "documents")
    val added = docs.where(col("doc_id") % 13 === 0).count()
    val removed = docs.where(col("doc_id") % 10 === 3).count()
    val changed = docs.where(col("doc_id") % 10 =!= 3 && col("doc_id") % 7 === 0).count()
    val kept = docs.where(col("doc_id") % 10 =!= 3).count()
    val byStatus = run("ns_pipeline_delta_stream").collect()
      .groupBy(_.getAs[String]("status"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    // the watermark sweep turns absence into an event: old-only groups
    // finalize as `removed` (and the sentinel's open window never emits)
    assert(byStatus.getOrElse("removed", 0L) == removed)
    assert(byStatus.getOrElse("added", 0L) == added)
    assert(byStatus.getOrElse("changed", 0L) == changed)
    assert(byStatus.getOrElse("unchanged", 0L) == kept - changed)
  }

  test("range search: bounds hold and count matches an independent recount") {
    val rows = run("ns_sim_range_search").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_in_range") >= 1)
      val (mx, mn) = (r.getAs[Double]("max_cos"), r.getAs[Double]("min_cos"))
      assert(mx >= mn && mn >= 0.25 - 1e-6, s"radius violated: $r")
    }
    val q0 = rows.head.getAs[Long]("q_id")
    val e = Tables.load(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "embedding", "scaled_dot(embedding, embedding) AS nrm")
    val qv = e.where(col("vec_id") === q0).collect().head
    val recount = e.where(col("vec_id") =!= q0)
      .crossJoin(broadcast(spark.createDataFrame(java.util.List.of(qv), qv.schema)
        .selectExpr("embedding AS q_emb", "nrm AS nq")))
      .where(expr("cast(scaled_dot(q_emb, embedding) as double)") /
        (sqrt(col("nq").cast("double")) * sqrt(col("nrm").cast("double"))) >= 0.25)
      .count()
    assert(recount == rows.head.getAs[Long]("n_in_range"),
      s"independent recount for q=$q0 differs")
  }

  test("leakage split: cluster-aware coin never straddles, volumes reconcile") {
    val rows = run("ns_corpus_split_leakage").collect()
    assert(rows.nonEmpty)
    val splits = rows.map(_.getAs[String]("split")).toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
    rows.foreach { r =>
      assert(r.getAs[Long]("leak_pairs_cluster") == 0L,
        s"cluster-aware split leaked: $r")
    }
    val total = Tables.load(spark, sfDir, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    // clusters partition across splits: per-split distinct-cluster counts
    // must sum to the corpus-wide cluster count
    val nClusters = run("ns_dedup_clusters").count()
    assert(rows.map(_.getAs[Long]("n_clusters")).sum == nClusters)
  }

  test("corpus shuffle: positions are a permutation and sources interleave") {
    val rows = run("ns_corpus_shuffle").collect()
    val total = Tables.load(spark, sfDir, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    assert(rows.map(_.getAs[Long]("min_pos")).min == 1L)
    assert(rows.map(_.getAs[Long]("max_pos")).max == total)
    // a uniform interleave puts every source's mean position near the
    // corpus midpoint; 4-sigma of a uniform sample mean = (N/sqrt(12n))*4
    val mid = (total + 1) / 2.0
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val tol = 4.0 * total / math.sqrt(12.0 * n) + 1
      assert(math.abs(r.getAs[Double]("mean_pos") - mid) <= tol,
        s"source ${r.getAs[String]("source")} clusters in the epoch: $r")
    }
  }

  test("ppl buckets: partition the corpus, score-ordered, empty = bigram-less docs") {
    val rows = run("ns_corpus_ppl_buckets").collect()
      .map(r => r.getAs[String]("bucket") -> r).toMap
    val docs = Tables.load(spark, sfDir, "documents")
    val total = docs.count()
    assert(rows.values.map(_.getAs[Long]("n_docs")).sum == total)
    val emptyExpected = docs
      .where(size(split(col("text"), " ")) < 2).count()
    assert(rows.get("empty").map(_.getAs[Long]("n_docs")).getOrElse(0L) == emptyExpected)
    for (b <- Seq("head", "middle", "tail"))
      assert(rows.contains(b), s"missing bucket $b")
    // buckets are score-ordered intervals
    assert(rows("head").getAs[Long]("min_q_avg") >= rows("middle").getAs[Long]("max_q_avg"))
    assert(rows("middle").getAs[Long]("min_q_avg") >= rows("tail").getAs[Long]("max_q_avg"))
  }

  test("multimodal frames: gated twin agrees with the mapPartitions operator") {
    // the r20 re-point: the gate runs the REAL sampleFrames over MP4
    // movies with sample tables; this twin rebuilds the same fixtures
    // and compares the operator output byte-for-byte, and also checks
    // the non-MP4 fallback still slices (NorthStarSpec covers its law)
    import graft.operators.Multimodal
    val tmp = java.nio.file.Files.createTempDirectory("frames-twin")
    (0 until 25).foreach { k =>
      java.nio.file.Files.write(tmp.resolve(f"v_$k%02d.bin"),
        Multimodal.mp4MovieBytes(k, 6 + k % 5, 2 + k % 3, 3 + k % 4))
    }
    val scanned = spark.read.format("binaryFile").load(tmp.toString)
      .select(regexp_extract(col("path"), "v_(\\d+)\\.", 1).cast("long")
        .as("doc_id"), col("content").as("payload"))
    val fromOp = Multimodal.sampleFrames(scanned).collect()
      .map(f => (f.docId, f.frameIdx) ->
        f.frame.map("%02x".format(_)).mkString).toMap
    val gated = run("ns_multimodal_frames").collect()
    assert(gated.nonEmpty)
    gated.foreach { r =>
      val key = (r.getAs[Long]("file_id"), r.getAs[Int]("frame_idx"))
      assert(fromOp.contains(key), s"gated frame $key missing from operator output")
      assert(fromOp(key) == r.getAs[String]("frame_hex"),
        s"frame bytes diverge at $key")
    }
    assert(gated.length == fromOp.size, "row expansion counts differ")
    // every keyframe slice must be REAL mdat bytes: the fixture pattern
    fromOp.foreach { case ((id, _), hx) =>
      assert(hx.length == 16 && hx.grouped(2).toSet.size == 1,
        s"keyframe bytes for $id are not the constant sample pattern: $hx")
    }
    tmp.toFile.listFiles.foreach(_.delete()); tmp.toFile.delete()
  }

  test("sq8 recall: both top-5 branches prune map-side (WindowGroupLimit)") {
    val q = SparkEntry.catalog("ns_sim_sq8_recall").fn(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    val prunes = "WindowGroupLimit".r.findAllIn(plan).size
    assert(prunes >= 2,
      s"expected a map-side rank prune per branch (exact + sq8), got $prunes:\n$plan")
  }

  test("ivfpq: candidate scoring is cell-keyed, distance tables broadcast") {
    val q = SparkEntry.catalog("ns_sim_ivfpq").fn(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    // the probe restriction and the (m, code) table lookups both ride
    // broadcast joins — the corpus is never shuffled for scoring
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast probe/dtab joins:\n$plan")
    val shuffles = q.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // allowed shuffles: the (q_id, c_id) ADC aggregate, the top-k
    // window, and the final orderBy — never a corpus-wide join shuffle
    assert(shuffles.size <= 4, s"unexpected shuffle count ${shuffles.size}:\n$plan")
  }

  test("knn 2-hop: dense ranks, non-increasing cosine, no self-matches") {
    val rows = run("ns_sim_knn_2hop").collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    byQ.foreach { case (q, g) =>
      assert(q >= 0 && q < 16)
      assert(g.map(_.getAs[Int]("rnk")).sorted.toSeq == (1 to g.length))
      val cs = g.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("cos_sim"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b - 1e-9 })
      g.foreach(r => assert(r.getAs[Long]("c_id") != q))
    }
  }

  test("pca projection: top-10 extremes agree with the published loadings") {
    val proj = run("ns_embed_pca_project").collect()
    assert(proj.map(_.getAs[Int]("rnk")).toSeq == (1 to proj.length))
    val ps = proj.map(r => math.abs(r.getAs[Long]("p")))
    assert(ps.zip(ps.tail).forall { case (a, b) => a >= b })
    // recompute the rank-1 projection independently from the pca_power
    // loadings (a separate public query) and the quantized vector
    val loadings = run("ns_embed_pca_power").collect()
      .sortBy(_.getAs[Int]("dim")).map(_.getAs[Long]("loading"))
    val topVec = proj.head.getAs[Long]("vec_id")
    val xq = Tables.load(spark, sfDir, "embeddings")
      .where(col("vec_id") === topVec)
      .selectExpr("transform(embedding, x -> cast(floor(cast(x as double) * 16384) as bigint)) AS xq")
      .collect().head.getSeq[Long](0)
    val expected = xq.zip(loadings).map { case (x, v) => x * v }.sum
    assert(expected == proj.head.getAs[Long]("p"),
      "projection disagrees with loadings-vector dot product")
  }

  test("quality logreg: probabilities bounded, threshold consistent, digits punished") {
    import spark.implicits._
    run("ns_quality_logreg").collect().foreach { r =>
      val p = r.getAs[Double]("keep_prob")
      assert(p > 0.0 && p < 1.0)
      assert(r.getAs[Boolean]("keep") == (p >= 0.5))
    }
    val tmp = java.nio.file.Files.createTempDirectory("lr").toString
    Seq(
      (0L, "the cat sat on the mat and it is a fine day in the sun", "en", "s", 10L),
      (1L, "4821 9983 2210 7432 5591 0042 8876 1204 9crc 77aa", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("ns_quality_logreg")(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("keep_prob")).toMap
    assert(out(0L) > out(1L), s"digit-heavy doc must score lower: $out")
  }

  test("pca power iteration: loadings are dim-complete, normalized, non-trivial") {
    val rows = run("ns_embed_pca_power").collect()
    assert(rows.map(_.getAs[Int]("dim")).toSeq == (1 to 64))
    val loadings = rows.map(_.getAs[Long]("loading"))
    assert(loadings.map(math.abs).max == 16384L,
      "rescale fixes max |loading| at exactly 2^14")
    assert(loadings.count(_ != 0L) > 1, "degenerate eigenvector")
    // Rayleigh check: the dominant direction must explain more energy
    // than a coordinate axis — compare quadratic forms under the same
    // integer matrix the query iterated on
    val m = Tables.load(spark, sfDir, "embeddings")
      .selectExpr("transform(embedding, x -> cast(floor(cast(x as double) * 16384) as bigint)) AS xq")
      .selectExpr("posexplode(xq) AS (i0, xi)", "xq")
      .selectExpr("i0 + 1 AS i", "xi", "posexplode(slice(xq, i0 + 1, size(xq) - i0)) AS (dj, xj)")
      .selectExpr("i", "i + dj AS j", "xi * xj AS p")
      .groupBy("i", "j").agg(sum("p").as("sp"), count(lit(1)).as("n"))
      .collect()
      .flatMap { r =>
        val c = Math.floorDiv(r.getAs[Long]("sp"), r.getAs[Long]("n"))
        val (i, j) = (r.getAs[Int]("i"), r.getAs[Int]("j"))
        if (i == j) Seq(((i, j), c)) else Seq(((i, j), c), ((j, i), c))
      }.toMap
    def quad(v: Array[Long]): BigInt =
      (1 to 64).map(i => (1 to 64).map(j =>
        BigInt(m.getOrElse((i, j), 0L)) * v(j - 1) * v(i - 1)).sum).sum
    def norm2(v: Array[Long]): BigInt = v.map(x => BigInt(x) * x).sum
    val axis = Array.tabulate(64)(i => if (i == 0) 16384L else 0L)
    val rl = quad(loadings) * norm2(axis)
    val ra = quad(axis) * norm2(loadings)
    assert(rl >= ra, "power-iteration direction loses to a coordinate axis")
  }

  test("dsir: top decile selected, en docs outscore the corpus mean") {
    val rows = run("ns_corpus_dsir").collect()
    val total = Tables.load(spark, sfDir, "documents").count()
    assert(rows.length == total, "every doc must be scored")
    val nSel = rows.count(_.getAs[Boolean]("selected"))
    // strict > against an interpolated 0.9 percentile: at most 10% pass,
    // and on a 500-doc fixture the decile is never empty
    assert(nSel <= (total / 10) + 1 && nSel > 0, s"selected=$nSel of $total")
    // the target-likelihood ratio must actually tilt toward the target:
    // mean score of en docs > mean score of non-en docs
    val (en, rest) = rows.partition(_.getAs[String]("lang") == "en")
    def mean(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getAs[Double]("dsir_score")).sum / rs.length
    assert(mean(en) > mean(rest),
      f"en mean ${mean(en)}%.4f not above non-en ${mean(rest)}%.4f")
    // selection is exactly the score order's top tail: min(selected
    // score) >= max(unselected score) never violated by > 1e-6
    val minSel = rows.filter(_.getAs[Boolean]("selected"))
      .map(_.getAs[Double]("dsir_score")).min
    val maxUnsel = rows.filterNot(_.getAs[Boolean]("selected"))
      .map(_.getAs[Double]("dsir_score")).max
    assert(minSel >= maxUnsel - 1e-6, s"selection not a score threshold")
  }

  test("label prop: only unlabeled vectors, <=3 voters, correct consistent") {
    val rows = run("ns_embed_label_prop").collect()
    val nUnlabeled = Tables.load(spark, sfDir, "embeddings")
      .where(col("vec_id") % 4 =!= 0).count()
    assert(rows.length == nUnlabeled, "one row per held-out vector")
    rows.foreach { r =>
      assert(r.getAs[Long]("vec_id") % 4 != 0, s"seed leaked into output: $r")
      val nv = r.getAs[Long]("n_voters")
      assert(nv >= 0 && nv <= 3, s"voter count out of range: $r")
      val pred = Option(r.get(r.fieldIndex("label_pred")))
      assert(pred.nonEmpty == (nv > 0), s"prediction without voters: $r")
      val correct = r.getAs[Boolean]("correct")
      val expected = pred.contains(r.getAs[Int]("label_true"))
      assert(correct == expected, s"correct flag inconsistent: $r")
    }
    // propagation must beat the 1/|labels| random-guess floor on the
    // covered subset (labels are cluster-correlated in the fixture)
    val covered = rows.filter(_.getAs[Long]("n_voters") > 0)
    val acc = covered.count(_.getAs[Boolean]("correct")).toDouble / covered.length
    val nLabels = Tables.load(spark, sfDir, "embeddings")
      .select(col("label")).distinct().count()
    assert(acc > 1.0 / nLabels, f"accuracy $acc%.3f at or below chance")
  }

  test("bpe apply: token counts bounded by chars and words, planted merge collapses") {
    val rows = run("ns_text_bpe_apply").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nw = r.getAs[Long]("n_words")
      val nc = r.getAs[Long]("n_chars_w")
      val nt = r.getAs[Long]("n_tokens")
      assert(nt <= nc, s"merges can only shrink the token count: $r")
      assert(nt >= nw, s"every word is at least one token: $r")
      assert(math.abs(r.getAs[Double]("chars_per_token") - nc.toDouble / nt) < 1e-6, r.toString)
    }
    // planted corpus: the only learnable merge is (a,b) -> "ab", so the
    // 2-char word tokenizes to ONE token and chars/token = 2.0 exactly
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpe").toString
    Seq((0L, "ab ab ab", "xx", "synthetic", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val p = SparkEntry.queries("ns_text_bpe_apply")(spark, tmp).collect()
    assert(p.length == 1)
    assert(p.head.getAs[Long]("n_tokens") == 3L, s"planted merge failed: ${p.head}")
    assert(p.head.getAs[Double]("chars_per_token") == 2.0)
  }

  test("embed outliers: every vector flagged consistently at ~decile rate") {
    val rows = run("ns_embed_outliers").collect()
    val total = Tables.load(spark, sfDir, "embeddings").count()
    assert(rows.length == total, "one row per vector")
    rows.foreach(r => assert(r.getAs[Long]("d_scaled") >= 0L, r.toString))
    // strict > against an interpolated per-cluster 0.9 percentile: at
    // most ~10% of each cluster flags, and flags exist somewhere
    val byCluster = rows.groupBy(_.getAs[Long]("cluster"))
    byCluster.foreach { case (cl, members) =>
      val flagged = members.count(_.getAs[Boolean]("is_outlier"))
      assert(flagged <= members.length / 10 + 1,
        s"cluster $cl flags $flagged of ${members.length}")
      // threshold consistency: every flagged distance exceeds every
      // unflagged distance within the cluster
      if (flagged > 0 && flagged < members.length) {
        val minOut = members.filter(_.getAs[Boolean]("is_outlier"))
          .map(_.getAs[Long]("d_scaled")).min
        val maxIn = members.filterNot(_.getAs[Boolean]("is_outlier"))
          .map(_.getAs[Long]("d_scaled")).max
        assert(minOut >= maxIn, s"cluster $cl outlier below an inlier")
      }
    }
    assert(rows.count(_.getAs[Boolean]("is_outlier")) > 0, "no outliers flagged anywhere")
  }

  test("dedup rewrite: unique docs survive byte-identical, a clone rebuilds empty") {
    val rows = run("ns_dedup_rewrite").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_chunks"), r.toString)
      assert(r.getAs[Long]("n_toks_kept") <= r.getAs[Long]("n_toks"), r.toString)
    }
    // globally, kept occurrences == distinct chunk hashes (keep-first
    // keeps exactly one occurrence per hash)
    val distinctHashes = SparkEntry.queries("ns_text_chunks_cdc")(spark, sfDir)
      .select(col("chunk_md5")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_kept")).sum == distinctHashes)
    // planted: doc 0 and doc 1 are byte-identical; doc 2 shares nothing.
    // Keep-first ⇒ doc 0 survives whole (rebuilt == original text), the
    // clone rebuilds to the empty string, the unique doc is untouched.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("rw").toString
    val t0 = (1 to 60).map(i => s"w$i").mkString(" ")
    val t2 = (1 to 60).map(i => s"u$i").mkString(" ")
    Seq((0L, t0, "xx", "synthetic", t0.length.toLong),
        (1L, t0, "xx", "synthetic", t0.length.toLong),
        (2L, t2, "xx", "synthetic", t2.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val p = SparkEntry.queries("ns_dedup_rewrite")(spark, tmp)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(p(0L).getAs[String]("rebuilt_md5") == md5hex(t0), "canonical doc changed")
    assert(p(0L).getAs[Long]("n_kept") == p(0L).getAs[Long]("n_chunks"))
    assert(p(1L).getAs[Long]("n_kept") == 0L, "clone kept a chunk")
    assert(p(1L).getAs[String]("rebuilt_md5") == md5hex(""), "clone not emptied")
    assert(p(2L).getAs[String]("rebuilt_md5") == md5hex(t2), "unique doc changed")
  }

  test("containment: bounds hold, a planted subset-duplicate pair surfaces") {
    val rows = run("ns_dedup_containment").collect()
    assert(rows.length <= 20)
    rows.foreach { r =>
      val (ns, na, nb) = (r.getAs[Long]("n_shared"),
        r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"), r.toString)
      assert(ns <= math.min(na, nb), r.toString)
      val c = r.getAs[Double]("containment")
      assert(c > 0.0 && c <= 1.0, r.toString)
      assert(math.abs(c - ns.toDouble / math.min(na, nb)) < 1e-6, r.toString)
    }
    // planted: doc 11 is a strict prefix of doc 12 (A ⊂ B). CDC
    // boundaries are content-defined, so every chunk of A except
    // (possibly) its trailing one reappears in B — Jaccard's length-band
    // blocking would never even pair these.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("cont").toString
    val a = (1 to 120).map(i => s"a$i").mkString(" ")
    val b = a + " " + (1 to 80).map(i => s"b$i").mkString(" ")
    val c = (1 to 120).map(i => s"c$i").mkString(" ")
    Seq((11L, a, "xx", "synthetic", a.length.toLong),
        (12L, b, "xx", "synthetic", b.length.toLong),
        (13L, c, "xx", "synthetic", c.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val p = SparkEntry.queries("ns_dedup_containment")(spark, tmp).collect()
    assert(p.length == 1, s"expected exactly the planted pair: ${p.mkString(";")}")
    assert(p.head.getAs[Long]("doc_a") == 11L && p.head.getAs[Long]("doc_b") == 12L)
    assert(p.head.getAs[Double]("containment") > 0.5,
      s"prefix containment should dominate: ${p.head}")
  }

  test("shard writer: partitioned layout on disk, contiguous slices, full coverage") {
    // Re-run the shard assignment standalone (same expressions as the
    // gated query) and WRITE it, then assert the physical layout a
    // training job consumes: one shard_id=K directory per shard, every
    // doc in exactly one shard, shard = its training-order slice.
    val S = 8
    val base = graft.queries.Q.scratchDir("shardspec")
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        md5(concat(lit("shuf:"), col("doc_id").cast("string"))).as("k"))
    val n = docs.count()
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("k"), col("doc_id"))
    // oracle-shaped single-window rank is fine at spec scale
    val assigned = docs.withColumn("pos", row_number().over(w))
      .withColumn("shard_id", expr(s"(pos - 1) * $S div $n"))
    assigned.write.mode("overwrite").partitionBy("shard_id").parquet(base)
    val dirs = new java.io.File(base).listFiles()
      .filter(_.getName.startsWith("shard_id=")).map(_.getName).sorted
    assert(dirs.toSeq == (0 until S).map(i => s"shard_id=$i"),
      s"expected $S partition dirs, got ${dirs.mkString(",")}")
    val back = spark.read.parquet(base)
    assert(back.count() == n, "read-back must cover every doc exactly once")
    // each shard's positions form a contiguous range and ranges tile [1, n]
    val spans = back.groupBy("shard_id")
      .agg(min("pos").as("lo"), max("pos").as("hi"), count(lit(1)).as("c"))
      .orderBy("shard_id").collect()
      .map(r => (r.getAs[Number]("shard_id").longValue(),
        r.getAs[Int]("lo").toLong, r.getAs[Int]("hi").toLong, r.getAs[Long]("c")))
    spans.foreach { case (sid, lo, hi, c) =>
      assert(hi - lo + 1 == c, s"shard $sid not contiguous: [$lo,$hi] count $c") }
    assert(spans.head._2 == 1L && spans.last._3 == n)
    spans.sliding(2).foreach {
      case Array((_, _, hi1, _), (_, lo2, _, _)) =>
        assert(lo2 == hi1 + 1, "shard ranges must tile the order with no gap")
      case _ =>
    }
    // and the gated manifest agrees with this ground truth
    val manifest = run("ns_corpus_shard_manifest").collect()
    assert(manifest.length == S)
    manifest.foreach(r => assert(r.getAs[Boolean]("contiguous"), s"manifest: $r"))
    val bySid = spans.map(s => s._1 -> s).toMap
    manifest.foreach { r =>
      val sid = r.getAs[Long]("shard_id")
      assert(r.getAs[Long]("n_docs") == bySid(sid)._4, s"doc count diverges: $r")
      assert(r.getAs[Long]("min_pos") == bySid(sid)._2 &&
        r.getAs[Long]("max_pos") == bySid(sid)._3, s"span diverges: $r")
    }
    graft.queries.Q.scratchDelete(base)
  }

  test("compaction collapses the fragmented shard store to one file per shard") {
    // replicate the gated query's two writes and assert the PHYSICAL
    // claim the oracle can't see: frag has many files, compact has
    // exactly one per shard, and row counts survive both rewrites
    val S = 8
    val base = graft.queries.Q.scratchDir("compactspec")
    val docs = Tables.load(spark, sfDir, "documents")
      .withColumn("shard_id",
        pmod(expr("cast(conv(substring(md5(concat('shard:', cast(doc_id as string))), 1, 8), 16, 10) as bigint)"), lit(S.toLong)))
    val n = docs.count()
    docs.repartition(32).write.mode("overwrite").partitionBy("shard_id").parquet(s"$base/frag")
    spark.read.parquet(s"$base/frag")
      .repartition(S, col("shard_id"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(s"$base/compact")
    def filesPerShard(root: String): Map[String, Int] =
      new java.io.File(root).listFiles()
        .filter(_.getName.startsWith("shard_id="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val frag = filesPerShard(s"$base/frag")
    val compact = filesPerShard(s"$base/compact")
    assert(frag.values.sum > compact.values.sum,
      s"fragmentation setup failed: frag=$frag compact=$compact")
    assert(compact.values.forall(_ == 1),
      s"compaction must leave one file per shard: $compact")
    assert(spark.read.parquet(s"$base/compact").count() == n)
    // and the gated query's fingerprint gate passes end-to-end
    val rows = run("ns_corpus_compact").collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == n)
    graft.queries.Q.scratchDelete(base)
  }

  test("upsert: rewrites ONLY touched shard partitions, others keep their files") {
    import org.apache.spark.sql.functions._
    val base = graft.queries.Q.scratchDir("upsert-spec")
    val docs = Tables.load(spark, sfDir, "documents")
    val store = docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        sha2(col("text"), 256).as("sha"))
      .withColumn("shard", (col("doc_id") % 4).cast("int"))
    store.write.mode("overwrite").partitionBy("shard").parquet(base)
    def shardFiles(shard: Int): Map[String, Long] = {
      val d = new java.io.File(s"$base/shard=$shard")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = (0 to 3).map(shardFiles)
    // a changeset touching ONLY shard 1: one update (doc 1) + one delete (doc 5)
    import spark.implicits._
    val ch = Seq(
      (1L, "upsert", "patched", 3L, "f" * 64, 1),
      (5L, "delete", null: String, 0L, null: String, 1))
      .toDF("doc_id", "op", "source", "n_toks", "sha", "shard")
    val touched = graft.queries.CurationQueries.upsertShardStore(spark, base, ch)
    assert(touched == Seq(1), s"expected only shard 1 touched, got $touched")
    val after = (0 to 3).map(shardFiles)
    for (sh <- Seq(0, 2, 3))
      assert(after(sh) == before(sh),
        s"untouched shard $sh was rewritten: before=${before(sh)} after=${after(sh)}")
    assert(after(1) != before(1), "touched shard 1 must have new files")
    // and the merged content is exactly old minus doc 5, with doc 1 patched
    val rb = spark.read.parquet(base)
    assert(rb.where(col("doc_id") === 5L).count() == 0, "deleted doc survived")
    assert(rb.where(col("doc_id") === 1L).select("source").as[String].head() == "patched")
    assert(rb.count() == docs.count() - 1)
    graft.queries.Q.scratchDelete(base)
  }

  test("upsert: gate query reports every shard consistent with the rebuild") {
    val rows = run("ns_corpus_upsert").collect()
    assert(rows.length == 16, "one row per shard")
    assert(rows.forall(_.getAs[Boolean]("consistent")),
      "merge path diverged from the full rebuild")
  }

  test("curriculum: phases partition the corpus with contiguous position spans") {
    val rows = run("ns_corpus_curriculum").collect()
    val n = Tables.load(spark, sfDir, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == n, "phases must partition")
    var expectLo = 1L
    rows.sortBy(_.getAs[Long]("phase")).foreach { r =>
      assert(r.getAs[Long]("pos_lo") == expectLo, s"gap in curriculum order: $r")
      expectLo = r.getAs[Long]("pos_hi") + 1
      assert(r.getAs[Long]("mean_kp_e6") >= 0 && r.getAs[Long]("mean_kp_e6") <= 1000000)
    }
    // quality must be non-increasing across phases (phase 0 trains first)
    val means = rows.sortBy(_.getAs[Long]("phase")).map(_.getAs[Long]("mean_kp_e6"))
    assert(means.zip(means.tail).forall { case (a, b) => a >= b },
      s"phase quality not monotone: ${means.toSeq}")
  }

  test("domain cap: kept counts bounded by cap, drops only above it") {
    val rows = run("ns_sample_domain_cap").collect()
    rows.foreach { r =>
      val (nd, nk, drop) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"),
        r.getAs[Long]("n_dropped"))
      assert(nk <= 4, s"cap violated: $r")
      assert(nk == math.min(nd, 4L), s"kept != min(n, cap): $r")
      assert(drop == nd - nk, s"drop accounting broken: $r")
    }
  }

  test("ivf balance: shares sum to ~1e6 and occupancy covers the corpus") {
    val rows = run("ns_sim_ivf_balance").collect()
    assert(rows.length == 16, "one row per coarse cell")
    val n = Tables.load(spark, sfDir, "embeddings").count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == n, "cells must partition")
    val shareSum = rows.map(_.getAs[Long]("share_e6")).sum
    assert(shareSum > 1000000L - 16 && shareSum <= 1000000L,
      s"floor-div shares should sum to just under 1e6: $shareSum")
  }

  test("ivf append: base index files survive byte-identical, arrivals only add") {
    import org.apache.spark.sql.functions._
    val v = graft.queries.NorthStarQueries.kmeansQuantizedIndex(spark, sfDir)
    val cellSorted = graft.queries.CurationQueries.ivfCellSortedExpr(v)
    val vc = v.withColumn("cell", expr(s"element_at($cellSorted, 1).j"))
    val cb = graft.queries.NorthStarQueries.pqCodebook(v)
    val base = graft.queries.Q.scratchDir("ivfappend-spec")
    graft.queries.CurationQueries
      .ivfPqIndexRows(vc.where(col("vec_id") % 10 =!= 0), cb)
      .write.mode("overwrite").partitionBy("cell").parquet(base)
    def files(): Map[String, (Long, Long)] = {
      val b = new java.io.File(base)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(b).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> (f.length(), f.lastModified())).toMap
    }
    val before = files()
    val baseRows = spark.read.parquet(base).count()
    graft.queries.CurationQueries
      .ivfPqIndexRows(vc.where(col("vec_id") % 10 === 0), cb)
      .write.mode("append").partitionBy("cell").parquet(base)
    val after = files()
    // every pre-append file is still there, same bytes, untouched mtime
    before.foreach { case (path, stat) =>
      assert(after.get(path).contains(stat),
        s"append rewrote a base index file: $path")
    }
    assert(after.size > before.size, "append must add files")
    val total = spark.read.parquet(base).count()
    val arrivals = vc.where(col("vec_id") % 10 === 0).count() * 8 // PQ_M rows/vec
    assert(total == baseRows + arrivals,
      s"appended store rows: $total != $baseRows + $arrivals")
    graft.queries.Q.scratchDelete(base)
  }

  test("ivf compaction: untouched cells keep their files, tombstones leave disk") {
    import org.apache.spark.sql.functions._
    val v = graft.queries.NorthStarQueries.kmeansQuantizedIndex(spark, sfDir)
    val cellSorted = graft.queries.CurationQueries.ivfCellSortedExpr(v)
    val vc = v.withColumn("cell", expr(s"element_at($cellSorted, 1).j"))
    val cb = graft.queries.NorthStarQueries.pqCodebook(v)
    val base = graft.queries.Q.scratchDir("ivfcompact-spec")
    graft.queries.CurationQueries.ivfPqIndexRows(vc, cb)
      .write.mode("overwrite").partitionBy("cell").parquet(base)
    def files(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(base)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> (f.length(), f.lastModified())).toMap
    }
    val before = files()
    val rowsBefore = spark.read.parquet(base).count()
    val tomb = v.where(col("vec_id") % 7 === 3)
      .select(col("vec_id").as("c_id")).localCheckpoint(true)
    val nTomb = tomb.count()
    assert(nTomb > 0, "fixture must tombstone something")
    val touched = graft.queries.CurationQueries.compactIvfStore(spark, base, tomb)
    assert(touched.nonEmpty)
    val after = files()
    // untouched cells: exact same physical files (size + mtime)
    val touchedDirs = touched.map(c => s"cell=$c").toSet
    before.foreach { case (path, stat) =>
      val inTouched = touchedDirs.exists(d => path.contains(s"/$d/"))
      if (!inTouched)
        assert(after.get(path).contains(stat),
          s"compaction disturbed an untouched cell's file: $path")
    }
    // tombstoned rows are GONE from disk, survivors intact
    val rb = spark.read.parquet(base)
    assert(rb.join(tomb, Seq("c_id"), "left_semi").count() == 0,
      "a tombstoned id survived compaction on disk")
    assert(rb.count() == rowsBefore - nTomb * 8, // PQ_M rows per vector
      "compaction must remove exactly the tombstoned rows")
    graft.queries.Q.scratchDelete(base)
  }

  test("ivf compaction: a fully-tombstoned cell's files are deleted from disk") {
    // dynamic partition overwrite only rewrites partitions PRESENT in
    // the survivors frame — a cell whose rows are ALL tombstoned must
    // have its directory deleted explicitly, or the ids resurrect in
    // the unfiltered serve path
    import org.apache.spark.sql.functions._
    val v = graft.queries.NorthStarQueries.kmeansQuantizedIndex(spark, sfDir)
    val cellSorted = graft.queries.CurationQueries.ivfCellSortedExpr(v)
    val vc = v.withColumn("cell", expr(s"element_at($cellSorted, 1).j"))
    val cb = graft.queries.NorthStarQueries.pqCodebook(v)
    val base = graft.queries.Q.scratchDir("ivfcompact-full")
    graft.queries.CurationQueries.ivfPqIndexRows(vc, cb)
      .write.mode("overwrite").partitionBy("cell").parquet(base)
    // tombstone EVERY vector of the most populated cell
    val target = vc.groupBy(col("cell").cast("long").as("cell")).count()
      .orderBy(desc("count"), asc("cell")).limit(1)
      .collect()(0).getLong(0)
    val tomb = vc.where(col("cell").cast("long") === target)
      .select(col("vec_id").as("c_id")).localCheckpoint(true)
    val nTomb = tomb.count()
    assert(nTomb > 0, "fixture must fully tombstone a populated cell")
    val rowsBefore = spark.read.parquet(base).count()
    val touched = graft.queries.CurationQueries.compactIvfStore(spark, base, tomb)
    assert(touched.contains(target))
    // the emptied cell's partition directory is GONE, not merely empty
    assert(!new java.io.File(base, s"cell=$target").exists(),
      s"fully-tombstoned cell $target's partition directory survived")
    // nothing resurrects in an unfiltered read; exactly the tombstoned
    // rows left
    val rb = spark.read.parquet(base)
    assert(rb.join(tomb, Seq("c_id"), "left_semi").count() == 0,
      "a tombstoned id resurrected after full-cell compaction")
    assert(rb.count() == rowsBefore - nTomb * 8) // PQ_M rows per vector
    graft.queries.Q.scratchDelete(base)
  }

  test("reshard: rendezvous never moves a doc between two OLD shards") {
    // the consistent-hashing guarantee the audit's movement numbers rest
    // on: growing 16 -> 24 only ever moves a doc to a NEW shard (its
    // old-16 argmax is unchanged by adding candidates, so if the 24-wide
    // argmax differs it must be one of shards 16..23). Recomputed here
    // doc-by-doc with the query's exact weight function.
    import org.apache.spark.sql.functions._
    val S = 16
    val S2 = 24
    val w = "cast(conv(substring(md5(concat(cast(doc_id as string), ':', " +
      "cast(j as string))), 1, 15), 16, 10) as bigint)"
    val moved = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, ${S2 - 1}), j -> $w)"))
          .as(Seq("j", "wt")))
      .groupBy(col("doc_id"))
      .agg(
        expr(s"max_by(CASE WHEN j < $S THEN j END, CASE WHEN j < $S THEN wt END)")
          .as("rdv_old"),
        expr("max_by(j, wt)").as("rdv_new"))
      .where(col("rdv_old") =!= col("rdv_new"))
      .collect()
    assert(moved.nonEmpty, "16 -> 24 must move someone")
    moved.foreach { r =>
      assert(r.getAs[Int]("rdv_new") >= S,
        s"doc ${r.get(0)} moved old -> old (${r.get(1)} -> ${r.get(2)}): " +
          "rendezvous invariant broken")
    }
    // and the audit's own rows agree with theory: mod moves ~2/3,
    // rendezvous ~1/3 (wide tolerance — 500-doc fixture)
    val audit = run("ns_corpus_reshard").collect()
      .map(r => r.getAs[String]("strategy") -> r.getAs[Long]("moved_frac_e6")).toMap
    assert(audit("mod") > 550000 && audit("mod") < 750000, s"mod frac: $audit")
    assert(audit("rendezvous") > 233000 && audit("rendezvous") < 433000,
      s"rendezvous frac: $audit")
  }

  test("streaming line gate drops a subset of what the batch rewrite drops") {
    // a stream drops an occurrence iff the CUMULATIVE df at arrival has
    // reached the threshold; batch drops iff the FINAL df has. Cumulative
    // <= final, so stream-drop implies batch-drop: per source the stream
    // can never drop more, and (with any line crossing the threshold only
    // in batch 2) drops strictly less in total — the no-retraction gap
    // the Scaladoc documents.
    val st = run("ns_dedup_lines_stream").collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_dropped")).toMap
    val ba = run("ns_dedup_lines").collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_removed")).toMap
    st.foreach { case (src, d) =>
      assert(d <= ba(src), s"stream dropped more than batch for $src: $d > ${ba(src)}")
    }
    assert(st.values.sum < ba.values.sum,
      s"expected the no-retraction gap: stream ${st.values.sum} vs batch ${ba.values.sum}")
  }

  test("streaming trajectories equal the batch sessions minus each user's open tail") {
    // the gate closes a session only when a later event proves the gap,
    // so the stream's output must be EXACTLY the batch sessionization
    // with each user's last (still-open) session removed — including
    // identical counts, floor-second durations, and capped payload md5s
    // for sessions that straddle the micro-batch cut.
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx"),
        r.getAs[Long]("n_events"), r.getAs[Long]("duration_s"),
        r.getAs[Long]("n_kept"), r.getAs[String]("traj_md5"),
        r.getAs[String]("last_kept_type"))
    val stream = run("ns_corpus_trajectories_stream").collect().map(key).toSet
    val batch = run("ns_corpus_trajectories").collect().map(key)
    val lastIdx = batch.groupBy(_._1).map { case (u, ss) => u -> ss.map(_._2).max }
    val closed = batch.filter(s => s._2 < lastIdx(s._1)).toSet
    assert(stream == closed,
      s"stream/batch diverged: only-stream=${(stream -- closed).take(3)}, " +
        s"only-batch=${(closed -- stream).take(3)}")
    assert(stream.nonEmpty, "no closed sessions — the fixture split produced none")
  }

  test("streaming IVF append serves the batch twin's exact results") {
    // the r16 exactly-once streaming ingest: the same top-3 lists must
    // come back whether the arrival tenth was appended by the batch
    // writer or streamed through the file sink (replay-zero is required
    // loudly inside the streaming query itself)
    val batch = run("ns_sim_ivf_append").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val stream = run("ns_sim_ivf_append_stream").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(batch.nonEmpty && batch.sameElements(stream),
      s"stream-ingested index diverged from batch append: " +
        s"batch=${batch.take(3).toSeq} stream=${stream.take(3).toSeq}")
  }

  test("matryoshka: 16 queries, recall bounded, truncation loses something") {
    val rows = run("ns_sim_matryoshka").collect()
    assert(rows.length == 16, "one row per fixed query")
    rows.foreach { r =>
      val h = r.getAs[Long]("n_hits")
      assert(h >= 0 && h <= 5, s"hits out of range: $r")
      assert(math.abs(r.getAs[Double]("recall_at5") - h / 5.0) < 1e-9, s"recall != hits/5: $r")
    }
    val meanRecall = rows.map(_.getAs[Double]("recall_at5")).sum / rows.length
    // sanity band: truncated-dim search should keep some signal (not 0)
    // without being a perfect proxy on random-ish fixtures (not 1)
    assert(meanRecall > 0.0, "truncated search found nothing — wiring bug")
  }

  test("gumbel top-k: weights dominate, ranks deterministic across runs") {
    import spark.implicits._
    // a planted heavy doc (weight ~1000x the rest) must rank first:
    // its Gumbel key ln(w) + g beats any light doc unless the light
    // doc's gumbel exceeds ln(1000) ~ 6.9 — probability < 1e-3 per doc,
    // and the seeded uniforms here are fixed, so the assertion is exact
    val tmp = java.nio.file.Files.createTempDirectory("gum").toString
    val heavy = (0L, ("x " * 50000).trim, "xx", "s", 1L)
    val light = (1L to 60L).map(i => (i, "a b c", "xx", "s", 1L))
    (heavy +: light).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r1 = SparkEntry.queries("ns_sample_gumbel_topk")(spark, tmp).collect()
    assert(r1.head.getAs[Long]("doc_id") == 0L,
      s"the 50000-token doc must win rank 1: ${r1.head}")
    assert(r1.head.getAs[Long]("weight_tokens") == 50000L)
    // determinism: a second evaluation returns identical rows
    val r2 = SparkEntry.queries("ns_sample_gumbel_topk")(spark, tmp).collect()
    assert(r1.toSeq == r2.toSeq, "seeded sample must be reproducible")
    // without replacement: all sampled ids distinct, keys strictly ordered
    val ids = r1.map(_.getAs[Long]("doc_id"))
    assert(ids.distinct.length == ids.length)
    val keys = r1.map(_.getAs[Long]("key_e6"))
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b })
  }

  test("incremental ExactSubstr: sequential probe+append protocol — " +
      "cross-cohort catch, read-only probe, replay equality") {
    import spark.implicits._
    import graft.queries.CurationQueries.{substrGramStats, substrIncrProbe}
    val L = 8
    // planted single-gram spans: S (8 tokens) first published by base
    // doc 1; U (8 tokens) first published by cohort-A doc 4; all filler
    // tokens globally unique so no accidental grams duplicate
    val S = (1 to 8).map("s" + _).mkString(" ")
    val U = (1 to 8).map("u" + _).mkString(" ")
    val base = Seq(
      (1L, s"f1 f2 $S f3 f4"), // S at pos 2
      (2L, (1 to 9).map("g" + _).mkString(" "))).toDF("doc_id", "text")
    val cohortA = Seq((4L, s"$S a1 a2 $U")).toDF("doc_id", "text") // S@0, U@10
    val cohortB = Seq((8L, s"b1 $U b2 $S")).toDF("doc_id", "text") // U@1, S@10
    val store = java.nio.file.Files.createTempDirectory("xsincr").toString
    substrGramStats(base, L).write.mode("overwrite").parquet(store)
    def fileHashes() = new java.io.File(store).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => (f.getName, f.length(),
        java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f.toPath))))
      .toSeq
    val preProbe = fileHashes()
    // ---- cohort A probes the base store ----
    val fa = substrIncrProbe(cohortA, spark.read.parquet(store), L)
      .orderBy("doc_id", "span_start").collect()
    assert(fileHashes() == preProbe, "probe must leave the store untouched")
    assert(fa.length == 1, s"cohort A: ${fa.toSeq}")
    assert(fa(0).getAs[Long]("doc_id") == 4L &&
      fa(0).getAs[Long]("span_start") == 0L &&
      fa(0).getAs[Long]("span_end") == 7L &&
      fa(0).getAs[Long]("owner_fk") == 1L * 4294967296L + 2L &&
      !fa(0).getAs[Boolean]("is_first"),
      s"S dup vs base with doc-1 ownership: ${fa(0)}")
    // U is new to the world at cohort A time: no span for it yet
    // ---- cohort A's stats APPEND to the store (mergeable fold) ----
    substrGramStats(cohortA, L).write.mode("append").parquet(store)
    // ---- cohort B probes the grown store ----
    val probeB = substrIncrProbe(cohortB, spark.read.parquet(store), L)
      .orderBy("doc_id", "span_start")
    val fb = probeB.collect()
    assert(fb.length == 2, s"cohort B: ${fb.toSeq}")
    // U: the CROSS-COHORT catch — only the append makes it visible
    assert(fb(0).getAs[Long]("span_start") == 1L &&
      fb(0).getAs[Long]("span_end") == 8L &&
      fb(0).getAs[Long]("owner_fk") == 4L * 4294967296L + 10L &&
      !fb(0).getAs[Boolean]("is_first"),
      s"U dup vs cohort A with doc-4 ownership: ${fb(0)}")
    assert(fb(1).getAs[Long]("span_start") == 10L &&
      fb(1).getAs[Long]("owner_fk") == 1L * 4294967296L + 2L,
      s"S ownership stays with base doc 1 through the merge: ${fb(1)}")
    // negative control: against the UN-appended base store, the U span
    // is invisible — the append is what makes span dedup continuous
    val baseOnly = java.nio.file.Files.createTempDirectory("xsbase").toString
    substrGramStats(base, L).write.mode("overwrite").parquet(baseOnly)
    val fbBase = substrIncrProbe(cohortB, spark.read.parquet(baseOnly), L)
      .collect()
    assert(fbBase.length == 1 && fbBase(0).getAs[Long]("span_start") == 10L,
      s"base-only probe must miss U: ${fbBase.toSeq}")
    // replay equality: the same probe over the same store state is
    // deterministic row-for-row
    val fb2 = probeB.collect()
    assert(fb.toSeq == fb2.toSeq, "replayed probe diverged")
  }

  test("suffix stemmer: rule-by-rule corners beyond the fixture vocabulary") {
    import graft.queries.CurationQueries._
    val words = Seq(
      // the judge's unification triple
      "running" -> "run", "runs" -> "run", "run" -> "run",
      // step 1a: sses -> ss, ies -> i, ss kept, bare s kept (len 1)
      "classes" -> "class", "ponies" -> "poni", "fuss" -> "fuss", "s" -> "s",
      // 1b vowel gate: no vowel in the stem -> no strip
      "bed" -> "bed", "ing" -> "ing", "sing" -> "sing",
      // 1b + undouble, with the l/s/z exclusions
      "hopping" -> "hop", "falling" -> "fall", "missed" -> "miss",
      "buzzing" -> "buzz",
      // 1b + at/bl/iz -> +e
      "conflated" -> "conflate", "troubling" -> "trouble",
      "sized" -> "size",
      // plain strips
      "jumped" -> "jump", "lineing" -> "line", "mergeed" -> "merge")
    val df = spark.createDataFrame(words.map(w => Tuple1(w._1)))
      .toDF("m")
      .withColumn("st1", expr(stem1aSql("m")))
      .withColumn("sp", expr(stem1bStripSql("st1")))
      .withColumn("stem",
        expr(s"CASE WHEN sp = st1 THEN st1 ELSE ${stemPostSql("sp")} END"))
    val got = df.select("m", "stem").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    words.foreach { case (w, want) =>
      assert(got(w) == want, s"stem($w) = ${got(w)}, want $want")
    }
  }

  test("stemmed FTS unifies every lexeme's surface forms; df never shrinks") {
    val rows = run("ns_text_fts_stemmed").collect()
    assert(rows.length == 11, s"one row per query lexeme: ${rows.length}")
    rows.foreach { r =>
      // the fixture morph corpus plants up to 4 forms; every lexeme with
      // enough postings must unify more than one (the dictionary's point)
      assert(r.getAs[Long]("n_surface_forms") >= 2, s"no unification: $r")
      // the stemmed index can only ADD recall over raw exact match
      assert(r.getAs[Long]("df_docs") >= r.getAs[Long]("df_docs_raw"),
        s"stemming lost documents: $r")
    }
  }

  test("tsquery parse path reproduces the six hard-coded FTS shapes byte-identically") {
    // the r19 verdict's contract: the data-supplied parser must realize
    // the SAME semantics the six fixed shapes hand-encode
    val fixed = SparkEntry.queries("ns_text_fts_query")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val parsed = SparkEntry.queries("ns_text_fts_parse")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val pairs = Seq("q1_and" -> "q01_and", "q2_phrase" -> "q02_phrase",
      "q3_andnot" -> "q03_andnot", "q4_or" -> "q04_or",
      "q5_phrase_not" -> "q05_phrase_not", "q6_mixed" -> "q06_mixed")
    pairs.foreach { case (f, pq) =>
      val a = fixed.filter(_._1 == f).map(_._2).sorted.toSeq
      val b = parsed.filter(_._1 == pq).map(_._2).sorted.toSeq
      assert(a.nonEmpty, s"$f matched nothing — vacuous pin")
      assert(a == b, s"$f vs $pq diverged: ${a.size} vs ${b.size} docs")
    }
    // and the websearch dialect realizes the same semantics as its
    // to_tsquery counterparts (both PG parsing surfaces, one evaluator)
    val webPairs = Seq("q01_and" -> "q13_web_and", "q04_or" -> "q14_web_or",
      "q03_andnot" -> "q15_web_neg", "q06_mixed" -> "q16_web_mixed")
    webPairs.foreach { case (tq, wq) =>
      val a = parsed.filter(_._1 == tq).map(_._2).sorted.toSeq
      val b = parsed.filter(_._1 == wq).map(_._2).sorted.toSeq
      assert(a.nonEmpty && a == b, s"$tq vs $wq diverged")
    }
  }
}
