package graft.plans

import graft.SparkSpecBase

/** Job-count regression pins for the iterative family — the
  * host-noise-free barrier metric (`graft.Profile jobs` is the manual
  * tool; this spec is its CI form, on the same counter). Every Spark
  * job is a blocking driver barrier, so the job count is the
  * scheduling cost that wall-clock benchmarks on a shared host keep
  * mis-measuring — and, unlike wall time, it is exactly reproducible
  * per fixture.
  *
  * These pins also close PlanGuardSpec's acknowledged blind spot for
  * eagerly-staged subtrees (PlanGuardSpec.scala:38-45): the graph
  * queries stage their edge list DURING query construction, so a
  * cartesian product or stray barrier introduced into edge derivation
  * executes before the walked plan exists and PlanGuard never sees
  * it — but it cannot hide from the job counter, because a cartesian
  * over the fixture inflates the stage/job structure immediately.
  *
  * Bounds are the sf0.001 fixture's measured counts +20% headroom
  * (round counts are graph-structure-deterministic, so the measured
  * numbers are stable; the headroom absorbs benign Spark-internal
  * scheduling differences, not structural regressions). Measured on
  * the round-9 barrier-reduction work: representatives 40 (was ~111
  * shape-equivalent before AQE-off co-partitioned staging), pagerank
  * 15, mmr 53, kmeans 11, semdedup 14, clusters 27.
  */
class JobCountSpec extends SparkSpecBase {

  private def countJobs(name: String): Int =
    graft.Profile.countJobs(spark, name, sfDir).jobs

  private val bounds = Seq(
    // measured +20%, rounded up
    "q_dedup_representatives" -> 48,
    "q_sim_pagerank" -> 18,
    "q_knn_mmr" -> 64,
    "q_sim_kmeans" -> 14,
    "q_sim_semdedup" -> 17,
    "q_sim_clusters" -> 33,
    // r9-continuation additions with construction-time collects (the
    // NB class constants, the BPE per-round argmaxes) — the pin bounds
    // their metadata-collect budget the same way it bounds the graph
    // family's loop barriers
    "q_text_nb_classify" -> 30,
    "q_text_bpe_merges" -> 26,
    "q_text_bpe_tokens" -> 28,
    "q_dedup_incremental" -> 11,
    // round-9 layout/warehouse/sketch additions (measured via
    // the job counter at sf0.001: 6 / 8 / 5 / 5 / 18) — flat pipelines whose
    // only legitimate barriers are the broadcast stats frames and, for
    // triangles, the shared staged pair generation
    "q_layout_zorder" -> 8,
    "q_index_bloom" -> 10,
    "q_events_scd2" -> 6,
    "q_corpus_cms_topk" -> 6,
    "q_sim_triangles" -> 22,
    // r10: kCore reworked onto the CC/PR loop discipline (AQE-off
    // co-partitioned rounds; convergence read off the staged edge
    // count) — 90 jobs before the rework, 36 measured after
    "q_sim_kcore" -> 44,
    // r10 additions (measured 6 / 13 / 17 / 6): balanced_sample carries
    // the Lloyd centroid collects, compaction the staged manifest +
    // partition-sum collect + target collect — the pins bound those
    // metadata collects like the rest of the construction-time family
    "q_media_phash_pairs" -> 8,
    "q_sim_balanced_sample" -> 16,
    "q_layout_compaction" -> 17, // 14 after the staged-manifest fix
    "q_events_anomaly" -> 8,
    // r10 second wave (measured 21 / 9): LPA is 4 fixed rounds on the
    // shared loop discipline (one vote + one update barrier per round
    // over the staged sym edges); HLL is a flat two-level aggregation
    "q_sim_lpa" -> 26,
    "q_corpus_distinct_hll" -> 11,
    // measured 14 / 8: recall carries the IVF leg's centroid collects;
    // the histogram sketch is a flat two-level aggregation + a bounded
    // per-source window
    "q_knn_recall" -> 17,
    "q_corpus_hist_pctl" -> 10,
    // measured 4: one narrow flatMap stage over the media scan + the
    // ordered sink — frame sampling must never shuffle
    "q_media_frame_sample" -> 5,
    // measured 41: the query runs CC TWICE by construction (it must
    // first build yesterday's corpus-only assignment before exercising
    // the label-contraction update; production persists the labels)
    "q_sim_clusters_incremental" -> 50,
    // measured 15: the build's staged tokenization + two index writes
    // dominate; the probe itself is the pruned-scan scoring join
    "q_search_bm25_index" -> 18,
    // measured 4: five checks, ONE scan + one aggregate — the whole
    // point of the declarative expectations engine
    "q_validate_expectations" -> 5,
    // measured 5: one two-phase bounded aggregation + the ordered
    // sink — per-group top-k must never plan a window sort
    "q_group_topk" -> 6,
    // measured 10 (r10) / 9 after the one-job fold of the two side
    // sketches: the remaining barriers are the folded sketch collect
    // (metadata-scale) + the exact-audit join
    "q_rel_join_card" -> 12,
    // r11 (measured 9 / 5 / 8): epoch shuffle is MintRank's two-pass
    // rank (count + stamp) + the 1-row count frame; json props is one
    // partial-combined aggregate; robust normalization is two bounded
    // per-source aggregates + their broadcasts
    "q_corpus_epoch_shuffle" -> 11,
    "q_events_json_props" -> 6,
    "q_text_quality_robust" -> 10,
    // measured 17: two MintRank passes (count + stamp, twice) + the
    // staged metadata-scale mixture frame and its broadcast
    "q_corpus_mix_order" -> 21)

  // The persisted-index calls of the serving path, each counted on a
  // warm session (schemas and quantizers memoized, as a serving process
  // probes) with the query frame local, as a serving request arrives.
  // Measured 4 / 2 / 5; the window/broadcast-join probe tails and the
  // distinct-and-broadcast upsert they replaced ran 7 / 5 / 12 here.
  private def tmpDir(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString + "/ix"
  private lazy val emb = graft.Tables.embeddings(spark, sfDir)
  private def localVectors(ids: Seq[Long], idBase: Long) = {
    import spark.implicits._
    emb.filter(org.apache.spark.sql.functions.col("vec_id").isin(ids: _*))
      .orderBy("vec_id").collect().zipWithIndex.toSeq
      .map { case (r, i) => (idBase - i, r.getAs[Seq[Float]]("embedding").toArray) }
      .toDF("vec_id", "embedding")
  }
  private def pin(label: String, bound: Int)(call: => Unit): Unit = {
    call // warm
    val n = graft.Profile.countJobsOf(spark, label)(call).jobs
    info(s"$label: $n jobs")
    assert(n > 0, s"$label launched no jobs — counter broken?")
    assert(n <= bound, s"$label launched $n jobs (bound $bound)")
  }

  test("a BM25 index probe stays within 4 driver barriers") {
    val ix = tmpDir("jobs-bm25")
    graft.ops.InvertedIndex.save(graft.Tables.documents(spark, sfDir),
      "doc_id", "text", ix)
    pin("bm25-probe", 4) {
      graft.ops.InvertedIndex.bm25TopK(spark, ix,
        Seq("dup", "spark", "merge"), 10).collect()
    }
  }

  test("an ANN index probe stays within 2 driver barriers") {
    val ix = tmpDir("jobs-ann")
    graft.ops.AnnIndex.save(emb, ix)
    val query = localVectors(Seq(100L), -1L)
    pin("ann-probe", 2) {
      graft.ops.AnnIndex.topK(spark, ix, emb, query, 10).collect()
    }
  }

  test("an 8-vector ANN index upsert stays within 7 driver barriers") {
    val ix = tmpDir("jobs-upsert")
    graft.ops.AnnIndex.save(emb, ix)
    // new ids, copies of corpus vectors; built before the count
    val batches = Iterator.from(1).map(b =>
      localVectors((1L to 8L).map(_ * 10 + b), 1000000L * b)).take(2).toSeq
    var next = 0
    pin("ann-upsert", 7) {
      graft.ops.AnnIndex.upsert(batches(next), ix)
      next += 1
    }
  }

  bounds.foreach { case (name, bound) =>
    test(s"$name stays within $bound driver barriers on the fixture") {
      val n = countJobs(name)
      assert(n > 0, s"$name launched no jobs — counter broken?")
      assert(n <= bound,
        s"$name launched $n jobs (bound $bound): a barrier regression " +
          "— look for new eager materializations, lost co-partitioning " +
          "in the loop stages, or a cartesian in edge derivation")
    }
  }
}
