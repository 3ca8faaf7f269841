package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, sum, xxhash64}

/** Benchmark harness (driver contract): runs the headline query set on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line.
  *
  * Each query is fully materialized through the `noop` sink — `count()`
  * would let Catalyst prune expensive aggregate/projection work and
  * under-report. Headline set mirrors BASELINE.md: CDC battery, master
  * upsert, ordered-group pipeline, window battery, validation battery,
  * plus the training-data additions (dedup, knn, text analysis).
  *
  * Two scale points are recorded so scaling regressions are visible
  * round-over-round, not just wall time at one size: the primary
  * SPARK_GRAFT_SF_DIR timing plus a smaller sf0.01 pass
  * (`queries_small`), and per-query output rows (`rows`, counted
  * untimed) so rows/s can be derived per scale.
  */
object Bench {

  private val headline = Seq(
    "q_rel_pricing_summary", "q_rel_revenue_by_nation", "q_rel_top_customers",
    "q_cdc_process_list", "q_cdc_counts", "q_upsert_master",
    "q_group_ordered_concat", "q_group_renumber",
    "q_window_neighbor_fill", "q_window_proportional",
    "q_validate_coverage", "q_master_merge",
    "q_dedup_minhash_pairs", "q_dedup_simhash", "q_knn_brute",
    "q_text_stats", "q_text_quality",
    "q_events_windowed", "q_events_sessions",
    "q_pipe_chunks")

  /** Round-5 additions, timed as a SEPARATE labeled section so the
    * frozen headline `total` stays comparable round-over-round: the new
    * ANN/compression paths, the corpus-hygiene battery, and the capstone
    * full export (now oracle-checked, worth a perf trendline). */
  private[graft] val extras = Seq(
    "q_knn_pq", "q_knn_ivfpq", "q_sim_quantize",
    "q_corpus_repetition", "q_corpus_decontaminate", "q_corpus_pii_redact",
    "q_corpus_sample", "q_corpus_quota", "q_corpus_mix",
    "q_pipe_full_export", "q_enrich_cost_report",
    "q_search_bm25", "q_corpus_unigram_nll", "q_corpus_pack",
    "q_sim_kmeans", "q_sim_semdedup",
    "q_events_asof", "q_rel_rollup", "q_corpus_temperature",
    "q_corpus_length_pctl", "q_corpus_vocab_entropy",
    "q_corpus_split", "q_corpus_zipf", "q_corpus_line_dedup",
    "q_corpus_bigram_nll",
      "q_corpus_soft_filter", "q_corpus_budget_select",
      "q_corpus_curate", "q_sim_pagerank", "q_events_funnel",
      "q_dedup_representatives",
      "q_search_hybrid_rrf", "q_corpus_dsir", "q_dedup_substring",
      "q_pipe_retrieve", "q_shard_manifest",
      "q_events_retention", "q_corpus_distinct_kmv", "q_knn_mmr",
      "q_rel_bucketed_join", "q_corpus_curriculum",
      "q_corpus_drop_substrings", "q_corpus_curriculum_approx", "q_ocr_pages",
      // the production near-dup pair generator itself: it feeds pagerank/
      // representatives/clusters, and its cost was invisible until r7
      // found it dominating those queries at 21s steady (now ~4.7s)
      "q_sim_cosine_pairs",
      // r9 additions: trained NB classifier, incremental corpus
      // admission, and the persisted-index round trip (whose time is
      // dominated by the index WRITE — the build-once cost, reported so
      // the trendline covers both halves of the serving shape)
      "q_text_nb_classify", "q_dedup_incremental", "q_knn_ivfpq_index",
      "q_text_bpe_merges", "q_text_bpe_tokens",
      // r9 layout/warehouse/sketch additions: z-order bit math over the
      // full lineitem, the per-month Bloom skip index probe, SCD2
      // interval history, the CMS counter matrix, and triangle counting
      // over the adaptive pair graph
      "q_layout_zorder", "q_index_bloom", "q_events_scd2",
      "q_corpus_cms_topk", "q_sim_triangles",
      // r10 additions: perceptual-hash dedup over the media seam,
      // cluster-balanced selection, the compaction planner's two-pass
      // prefix sum, the exact-integer anomaly scan, and the k-core
      // peel (registered in r9's final commit, never benched)
      "q_media_phash_pairs", "q_sim_balanced_sample",
      "q_layout_compaction", "q_events_anomaly", "q_sim_kcore",
      // JL random projection: one codegen'd projection over embeddings
      "q_sim_rproj",
      // r10 second wave: label-propagation communities over the
      // adaptive pair graph, the HLL distinct-count report, the ANN
      // recall@k self-evaluation, and the log-histogram percentiles
      "q_sim_lpa", "q_corpus_distinct_hll",
      "q_knn_recall", "q_corpus_hist_pctl", "q_media_frame_sample",
      "q_sim_clusters_incremental", "q_search_bm25_index",
      "q_validate_expectations", "q_group_topk", "q_rel_join_card",
      // r11: deterministic epoch shuffle (MintRank rank + stripe),
      // schema-on-read JSON props, robust median/MAD normalization
      "q_corpus_epoch_shuffle", "q_events_json_props",
      "q_text_quality_robust", "q_corpus_mix_order",
      // r12: the ANN tuning curves (one shared scoring pass per knob —
      // five IVF probe depths; four PQ refine depths)
      "q_knn_tuning", "q_knn_tuning_pq",
      // r12 second wave: entity resolution (1-deletion-signature fuzzy
      // join + contracted-CC canonical entities) and DoReMi-lite
      // domain reweighting
      "q_er_pairs", "q_er_pairs_k2", "q_er_entities", "q_er_admission",
      "q_corpus_domain_reweight", "q_profile_columns", "q_knn_mips",
      // r12 third wave: lossless prefix-filter Jaccard join, blocklist
      // verdict scan, sorted-neighborhood ER blocking
      "q_dedup_prefix_jaccard", "q_dedup_prefix_incremental",
      "q_corpus_blocklist", "q_er_pairs_sn", "q_text_normalize",
      "q_events_kanon", "q_corpus_drift", "q_events_pseudo",
      // r12 fourth wave: content-hash snapshot diff, incremental
      // aggregate maintenance (three-slice merge), last-click
      // attribution (the stream-stream interval join's batch face),
      // and TF-IDF keyword extraction
      "q_refresh_diff", "q_agg_incremental",
      "q_events_attribution", "q_text_keywords",
      // r12 fourth wave, second half: sliding windows (the Expand-based
      // 1h/15m rolling metrics), the pairwise KMV contamination matrix,
      // and the column-pair mutual-information audit
      "q_events_sliding", "q_corpus_overlap_matrix", "q_profile_mi",
      // the widest relational plan (Q8-shaped 7-table market share)
      // and the CUBE grouping-set completion
      "q_rel_market_share", "q_rel_cube",
      // r13: the right-outer attribution face (unconverted clicks),
      // the deep-breadcrumb stack fold, and the incremental ANN upsert
      "q_events_attribution_unconverted", "q_sections_deep_breadcrumbs",
      "q_knn_index_incremental",
      // r13 second wave: the full-outer reconciliation feed and
      // contrastive hard-negative mining over the IVF probe
      "q_events_attribution_full", "q_knn_hard_negatives",
      // r13 third wave: embedding-space eval-set decontamination
      "q_knn_decontaminate",
      // r14: the cell-migrating replacement face of the index upsert,
      // incremental SemDeDup against the persisted index, and the
      // unigram-LM tokenizer pair (vocab EM + Viterbi token counts)
      "q_knn_index_upsert_replace", "q_sim_semdedup_incremental",
      "q_text_unigram_vocab", "q_text_unigram_tokens")

  /** The deep tier of the extras: the ~15 heaviest queries by the r12
    * adjudicated record, pinned so their trendline keeps 3-rep medians
    * while the long tail drops to one steady rep (r12 VERDICT #7: 101
    * extras at ~162 s adjudicated were swallowing the close-out; the
    * sustained-contention screen still re-measures any tail rep that
    * reads heavy, so a poisoned single rep cannot ship unadjudicated).
    * Queries NEW this round also get debut 3-rep medians (see
    * freshExtras). Revisit membership when the record shifts. */
  private[graft] val deepTier = Seq(
    "q_pipe_full_export", "q_layout_zorder", "q_sim_clusters_incremental",
    "q_dedup_representatives", "q_sim_triangles", "q_er_pairs_k2",
    "q_sim_lpa", "q_sim_pagerank", "q_er_entities", "q_pipe_retrieve",
    "q_knn_tuning", "q_layout_compaction", "q_sim_kcore",
    "q_knn_tuning_pq", "q_dedup_prefix_jaccard")

  /** Extras added THIS round — debut with full 3-rep medians so their
    * first committed number is trustworthy, then graduate to the tail
    * (or the deep tier, if they read heavy). The r13 debuts (attribution
    * outer faces, deep breadcrumbs, index incremental, hard negatives,
    * decontaminate) graduated to the tail with the r14 rotation. */
  private[graft] val freshExtras = Seq(
    "q_knn_index_upsert_replace", "q_sim_semdedup_incremental",
    "q_text_unigram_vocab", "q_text_unigram_tokens")

  /** Host-speed calibration (r12 VERDICT #1: the driver's core read
    * +35% round-over-round with ZERO adjudications — a uniform host-band
    * shift is invisible to the self-relative screens by construction).
    * A fixed, deterministic, CPU-bound job — 4·10⁹ range rows through a
    * 4-deep xxhash64 chain into one sum, no IO, no data dependence —
    * is timed as 1 untimed + 3 timed reps (median). `host_factor` =
    * calib_sec / [[CalibRefSec]]; `total_normalized` = total / factor
    * divides the band out so round-over-round comparisons read the
    * ENGINE's movement. The reference second is pinned to the r13
    * close-out host (factor 1.0 there by construction). */
  private val CalibRows = 4_000_000_000L
  private[graft] val CalibRefSec = 3.15

  private def calibrationSec(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      val h4 = xxhash64(xxhash64(xxhash64(xxhash64(col("id")))))
      spark.range(0, CalibRows, 1, spark.sparkContext.defaultParallelism)
        .select((h4 % lit(1048576L)).as("h"))
        .agg(sum(col("h"))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    once() // JIT/codegen warm, untimed
    val reps = (1 to 3).map(_ => once()).sorted
    reps(1)
  }

  /** IO-dimension companion to [[calibrationSec]] (added after the CPU
    * calib's first live round caught exactly its blind spot: a
    * post-close-out run read the core uniformly ~1.5× slow while CPU
    * calib read FAST — the pressure was page-cache/readback-side, which
    * a rangeless in-memory job cannot see). A fixed parquet scan of the
    * run's own lineitem through a hash-sum forces the bytes through the
    * read path; start-vs-end divergence (or a shift against the CPU
    * calib) is the band tell a reader checks before trusting
    * round-over-round movement. Diagnostic only — host_factor stays
    * anchored to the CPU job, whose reference is load-independent. */
  private def scanCalibrationSec(spark: SparkSession, sfDir: String): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      // hash EVERY column so the scan cannot prune: the probe must pay
      // the table's full read-path bytes (the fixture lineitem carries
      // no comment column — 11 numeric/date/flag columns is the width)
      val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      df.agg(sum(xxhash64(df.columns.map(col): _*) % lit(1048576L)))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    val reps = (1 to 3).map(_ => once()).sorted
    reps(1)
  }

  /** Time a query set at one scale dir: name → seconds (-1 = fail). */
  private def timeSet(spark: SparkSession, sfDir: String,
      names: Seq[String] = headline): Seq[(String, Double)] =
    names.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
    }

  /** Self-adjudicating steady timing: `reps` back-to-back runs per query,
    * reporting the per-query MEDIAN (and min). Two consecutive rounds of
    * the single-shot steady pass needed manual single-query noise
    * adjudication on this shared host (±25% single-run band; r5/r6
    * scheduler spikes read as 3-10× on individual queries) — the median
    * of 3 makes the reported number robust to a one-off spike without
    * hiding a real regression, which shifts all reps. */
  private def timeSetMedian(spark: SparkSession, sfDir: String,
      names: Seq[String], reps: Int): (Seq[(String, Double)], Seq[(String, Double)]) = {
    val timed = names.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0 }
        }
        // any failed rep reports -1, like the single-shot timeSet: a
        // crash is a loud signal, never averaged away into a clean-
        // looking median of the surviving reps
        val ok = times.sorted
        val median = if (times.exists(_ < 0)) -1.0 else ok(ok.length / 2)
        val min = if (times.exists(_ < 0)) -1.0 else ok.head
        (name -> median, name -> min)
      }
    }
    (timed.map(_._1), timed.map(_._2))
  }

  /** Locale-pinned: f"%.3f" would emit comma decimals (invalid JSON)
    * under a comma-decimal default locale. */
  private def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Self-adjudication of in-suite outliers (r9, after two rounds of
    * manual single-query re-measures): a steady median can be poisoned by
    * accumulated executor/GC/host pressure late in the suite —
    * BENCH_r08 recorded q_group_ordered_concat at 7.64s median while
    * the same HEAD measured 1.24s in isolation. Any query whose steady
    * median exceeds 2.5× its own same-run baseline by more than an
    * absolute 0.5s is re-measured at END of run — median of 3 fresh
    * reps after the rest of the suite has quiesced — and the isolated
    * number is reported alongside in `adjudicated`. The recorded
    * median is NOT overwritten: both numbers ship, so the trendline
    * stays honest and the outlier is explained in the same artifact.
    *
    * The baseline is the query's own MIN steady rep (for the frozen
    * core, min(cold, min-rep)) and the trigger is 2.5× — r9's rule
    * (3× of cold) let q_text_stats ship a 1.34s median that was 2.9×
    * its own 0.468s min because cold (0.616s) set the bar at 1.85s:
    * a single noise rep became the recorded number with no
    * `adjudicated` entry. Median-vs-min closes that: a genuinely slow
    * query has a slow min too (no spurious re-measure), while one
    * poisoned rep leaves the min fast and trips the trigger. */
  /** The selection rule alone, pure and spec-testable (BenchLogicSpec):
    * a query is re-measured iff its median is valid, it has a valid
    * baseline, AND it exceeds BOTH the 2.5× relative and the 0.5 s
    * absolute threshold — the absolute guard keeps sub-second queries
    * from burning end-of-run re-measures on noise. `measure` returns
    * the isolated number (or -1.0 for a failed re-measure, which ships
    * visibly in `adjudicated` but never enters the headline sum). */
  private[graft] def selectOutliers(
      medians: Seq[(String, Double)],
      baseline: Map[String, Double],
      measure: String => Option[Double]): Seq[(String, Double)] =
    medians.flatMap { case (name, med) =>
      val base = baseline.getOrElse(name, -1.0)
      if (med < 0 || base <= 0 || med <= 2.5 * base || med - base <= 0.5) None
      else measure(name).map(name -> _)
    }

  /** Sustained-contention screen (r12, after BENCH_r11's extras shipped
    * four contention phantoms): the min-base rule above catches a ONE-REP
    * spike, but host pressure that poisons ALL reps poisons the min too —
    * the trigger never fires (r11: q_events_anomaly median 14.0 s, min
    * 9.2 s, isolated re-measure 0.985 s; a reader saw a 28× regression
    * that never happened). So every query whose median is at least
    * `thresholdSec` buys ONE end-of-run confirmation rep after the suite
    * has quiesced; if that rep reads below `ratio`× the median, the
    * in-suite number was contention and the query earns the full
    * median-of-3 re-measure into `adjudicated`. Genuinely heavy queries
    * confirm at ≈ their median and cost exactly one extra rep; the
    * threshold keeps sub-2 s queries from burning end-of-run time. */
  private[graft] def selectSustained(
      medians: Seq[(String, Double)],
      alreadyAdjudicated: Set[String],
      thresholdSec: Double, ratio: Double,
      confirmRep: String => Option[Double],
      measure: String => Option[Double]): Seq[(String, Double)] =
    medians.flatMap { case (name, med) =>
      if (med < thresholdSec || alreadyAdjudicated(name)) None
      else confirmRep(name) match {
        case Some(c) if c >= 0 && c < ratio * med =>
          measure(name).map(name -> _)
        case _ => None
      }
    }

  /** Band-suspect verdict baked into the artifact (r13 VERDICT #2: the
    * driver's own r13 record fired the IO tell — scan calib 0.282 →
    * 0.667 with 21 extras adjudications — but nothing in the JSON SAID
    * "treat raw numbers with suspicion"; a reader had to know to compare
    * two fields). A run is suspect when either calibration pair diverges
    * start-vs-end by more than `ratio` (contention arrived or left
    * mid-run — CPU or IO dimension), or the adjudication screens fired
    * more than `maxAdjudications` times (broad re-measure pressure).
    * Suspect means: trust `adjudicated` and quiet-host re-runs, not the
    * raw in-suite medians. False on the r13 committed quiet record
    * (calib 3.15→3.16, scan 0.289→0.334, 0 adjudications — the spec pins
    * both faces). A failed calibration (-1) never counts as divergence:
    * the failure is its own loud signal. */
  private[graft] def bandSuspect(calibStart: Double, calibEnd: Double,
      scanStart: Double, scanEnd: Double, adjudications: Int,
      ratio: Double = 1.5, maxAdjudications: Int = 5): Boolean = {
    def diverges(a: Double, b: Double) =
      a > 0 && b > 0 && math.max(a, b) / math.min(a, b) > ratio
    diverges(calibStart, calibEnd) || diverges(scanStart, scanEnd) ||
      adjudications > maxAdjudications
  }

  /** Median of `n` fresh timed reps of one query (-1 on any failure) —
    * the re-measure primitive behind both adjudication rules. */
  private def timedMedian(spark: SparkSession, sfDir: String,
      name: String, n: Int): Option[Double] =
    SparkEntry.queries.get(name).map { fn =>
      val reps = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      }.sorted
      if (reps.exists(_ < 0)) -1.0 else reps(reps.length / 2)
    }

  private def adjudicateOutliers(spark: SparkSession, sfDir: String,
      medians: Seq[(String, Double)],
      baseline: Map[String, Double]): Seq[(String, Double)] =
    selectOutliers(medians, baseline,
      name => timedMedian(spark, sfDir, name, 3))

  private def jsonNum(results: Seq[(String, Double)]): String =
    results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    LogProfiles.quietBench()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.create(defaultCpus = 32)

    // Methodology "r7-cold+steady-median3" (ADOPTED in r7 — history:
    // r3 `total` compares to r4+ `total_cold`; r4-r6 ran ONE timed
    // steady pass, so r4-r6 `total` compares to r7+ `total` only up to
    // single-run noise; the `methodology` field in the JSON labels
    // each):
    //  1. one timed COLD pass at the primary scale (JIT/codegen cost
    //     included — `total_cold`/`queries_cold`),
    //  2. one untimed warm-up pass of the whole headline set at the
    //     smallest scale factor (finishes C2 compilation of every code
    //     path without touching the timed data's page cache),
    //  3. THREE timed steady reps per query at the primary scale,
    //     reported as the per-query MEDIAN (`total`/`queries`; mins in
    //     `queries_min`) — steady-state throughput extrapolates to a
    //     long-running cluster job, and the median self-adjudicates the
    //     ±25% single-run host-noise band that forced manual
    //     single-query re-measures in r5 (q_pipe_chunks 3.26s-vs-1.5s)
    //     and r6 (four frozen-core outliers). A real regression shifts
    //     all three reps; a scheduler spike shifts one.
    // Warm-up failures surface on stderr; only NonFatal is swallowed so
    // an OOM/fatal error still kills the run instead of poisoning the
    // timed numbers. A failed steady rep makes the query report -1.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val wd = if (new java.io.File(warmDir).isDirectory) warmDir else sfDir
    val cold = timeSet(spark, sfDir)
    val totalCold = cold.collect { case (_, v) if v >= 0 => v }.sum
    headline.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        try fn(spark, wd).write.format("noop").mode("overwrite").save()
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] warm-up $name failed: ${e.getMessage}") }
      }
    }

    // first calibration: right after warm-up, so it reads the band the
    // steady medians are about to be measured under
    val calibStart = calibrationSec(spark)
    val scanStart = scanCalibrationSec(spark, sfDir)

    val SteadyReps = 3
    val (results, resultsMin) = timeSetMedian(spark, sfDir, headline, SteadyReps)
    val total = results.collect { case (_, v) if v >= 0 => v }.sum

    // untimed output-row counts at the primary scale (rows/s denominators)
    val rows = headline.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        val n = try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
        "\"" + name + s"""":$n"""
      }
    }.mkString("{", ",", "}")

    // second scale point: sf0.01 when available and distinct
    val smallDir = "/root/testdata/sf0.01"
    val small =
      if (smallDir != sfDir && new java.io.File(smallDir).isDirectory)
        s""","sf_small":"$smallDir","queries_small":${jsonNum(timeSet(spark, smallDir))}"""
      else ""

    // the bucketed-table ingest is its own labeled number: the feature is
    // write-once/join-many, so the pay-once write must not pollute the
    // per-query join timings (q_rel_bucketed_join reuses the session
    // tables after its first rep)
    val tIngest0 = System.nanoTime()
    val ingestSec =
      try { graft.queries.Relational.bucketedIngest(spark, sfDir)
        (System.nanoTime() - tIngest0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] bucketed ingest failed: ${e.getMessage}")
        -1.0 }

    // round-5 extras: steady-state (post-warm JVM) at the primary scale,
    // in their own keys — NOT folded into the frozen `total`. Tiered by
    // default (r12 VERDICT #7): the pinned deep tier + this round's
    // debuts keep 3-rep medians; the long tail runs ONE steady rep
    // (SPARK_GRAFT_EXTRAS_MODE=full restores 3 reps everywhere). The
    // screens below still cover the tail — a heavy-reading single rep
    // buys the sustained confirmation + full re-measure.
    val extrasMode = sys.env.getOrElse("SPARK_GRAFT_EXTRAS_MODE", "tiered")
    val deepSet = (deepTier ++ freshExtras).toSet
    val (extraResults, extraMin) =
      if (extrasMode == "full") timeSetMedian(spark, sfDir, extras, SteadyReps)
      else {
        val (dR, dM) = timeSetMedian(spark, sfDir,
          extras.filter(deepSet), SteadyReps)
        val (tR, tM) = timeSetMedian(spark, sfDir,
          extras.filterNot(deepSet), 1)
        val (mR, mM) = ((dR ++ tR).toMap, (dM ++ tM).toMap)
        // keep the extras' declared order for stable artifact diffs
        (extras.flatMap(n => mR.get(n).map(n -> _)),
          extras.flatMap(n => mM.get(n).map(n -> _)))
      }
    val totalExtra = extraResults.collect { case (_, v) if v >= 0 => v }.sum

    // end-of-run outlier adjudication (see adjudicateOutliers): every
    // query baselines against its own min steady rep — for the frozen
    // core, min(cold, min-rep), so a cold pass that happened to be the
    // only clean measurement still anchors the trigger
    val coldMap = cold.toMap
    val coreBase = resultsMin.map { case (n, m) =>
      val c = coldMap.getOrElse(n, -1.0)
      n -> (if (m >= 0 && c >= 0) math.min(m, c) else math.max(m, c))
    }.toMap
    val spiked =
      adjudicateOutliers(spark, sfDir, results, coreBase) ++
      adjudicateOutliers(spark, sfDir, extraResults, extraMin.toMap)
    // the sustained screen runs LAST (the suite has fully quiesced, so
    // its confirmation reps are the cleanest measurements of the run),
    // over core and extras alike, skipping queries the min-base rule
    // already re-measured
    val SustainedThreshold = 2.0
    val SustainedRatio = 0.6
    val sustained = selectSustained(results ++ extraResults,
      spiked.map(_._1).toSet, SustainedThreshold, SustainedRatio,
      name => timedMedian(spark, sfDir, name, 1),
      name => timedMedian(spark, sfDir, name, 3))
    val adjudicated = spiked ++ sustained
    // the headline `value` uses the adjudicated number where one exists
    // (the isolated re-measure is the number that extrapolates to a
    // cluster job; the raw in-suite median stays visible in `queries`).
    // A FAILED re-measure reports -1 in `adjudicated` (visible) but
    // must not poison the sum — fall back to the raw median then.
    // second calibration AFTER the suite has quiesced (the same moment
    // the adjudication re-measures run). The MIN of the two readings is
    // the host's demonstrated capability this run — contention only ever
    // slows the fixed job — and divides the band out of the totals.
    val calibEnd = calibrationSec(spark)
    val scanEnd = scanCalibrationSec(spark, sfDir)
    val calibSec = math.min(calibStart, calibEnd)
    val hostFactor = calibSec / CalibRefSec

    val suspect = bandSuspect(calibStart, calibEnd, scanStart, scanEnd,
      adjudicated.size)
    // single-rep tail visibility (r13 ADVICE: min==median for a 1-rep
    // query, so the 2.5× min-base screen structurally cannot fire there
    // — only the sustained screen covers tail numbers; the artifact now
    // SAYS which queries those are instead of leaving it to the reader)
    val tailNames =
      if (extrasMode == "full") Seq.empty[String]
      else extras.filterNot(deepSet)

    val adjMap = adjudicated.toMap.filter(_._2 >= 0)
    val totalAdj = results
      .collect { case (n, v) if v >= 0 => adjMap.getOrElse(n, v) }.sum
    // extras get the same adjudicated-total treatment the core always
    // had — BENCH_r11's raw extras total (138 s vs 102) read as a
    // regression that four isolated re-measures disproved
    val totalExtraAdj = extraResults
      .collect { case (n, v) if v >= 0 => adjMap.getOrElse(n, v) }.sum

    val methodology =
      s"r13-cold+steady-median$SteadyReps+adjudicate-minbase2.5x+sustained${SustainedThreshold}s+hostcalib+extras-$extrasMode"
    val normNote = "host_factor = min(two fixed 4e9-row xxhash64-chain " +
      s"calibration medians) / $CalibRefSec (the r13 close-out host); " +
      "total_normalized divides the host band out of the adjudicated core. " +
      "calib_scan_sec_* is the IO-dimension tell: a run whose scan calib " +
      "(or calib start-vs-end) diverges began under cache/readback " +
      "pressure the CPU factor cannot see. band_suspect bakes the " +
      "heuristic in: true when either calib pair diverges >1.5x " +
      "start-vs-end or >5 adjudications fired — treat raw in-suite " +
      "medians with suspicion then; tail_single_rep lists the tiered " +
      "tail queries whose min==median (only the sustained screen covers " +
      "them)"
    val tierNote =
      if (extrasMode == "full") "extras mode full: 3-rep medians everywhere"
      else s"extras tiered: ${deepTier.size} pinned heaviest + " +
        s"${freshExtras.count(extras.contains)} debuts at 3-rep medians; " +
        "the long tail at ONE steady rep (sustained screen still covers it)"
    val line = s"""{"metric":"total","value":${f3(totalAdj)},"unit":"sec","queries":${jsonNum(results)},"queries_min":${jsonNum(resultsMin)},"steady_reps":$SteadyReps,"total_raw":${f3(total)},"host_factor":${f3(hostFactor)},"total_normalized":${f3(totalAdj / hostFactor)},"calib_sec":${f3(calibSec)},"calib_sec_start":${f3(calibStart)},"calib_sec_end":${f3(calibEnd)},"calib_scan_sec_start":${f3(scanStart)},"calib_scan_sec_end":${f3(scanEnd)},"band_suspect":$suspect,"tail_single_rep":[${tailNames.map("\"" + _ + "\"").mkString(",")}],"adjudicated":${jsonNum(adjudicated)},"total_cold":${f3(totalCold)},"queries_cold":${jsonNum(cold)},"methodology":"$methodology","norm_note":"$normNote","warmup":{"passes":1,"dir":"$wd","timed_pass":"steady-median"},"rows":$rows,"queries_extra":${jsonNum(extraResults)},"queries_extra_min":${jsonNum(extraMin)},"total_extra":${f3(totalExtra)},"total_extra_adj":${f3(totalExtraAdj)},"total_extra_adj_normalized":${f3(totalExtraAdj / hostFactor)},"extras_mode":"$extrasMode","deep_tier":[${(deepTier ++ freshExtras.filter(extras.contains)).map("\"" + _ + "\"").mkString(",")}],"tier_note":"$tierNote","bucketed_ingest_sec":${f3(ingestSec)},"extras_note":"r5+ additions, steady medians, excluded from the frozen total; adjudication (min-base spikes AND the 2s/0.6 sustained-contention screen) covers extras too — total_extra_adj is the trustworthy extras number; bucketed ingest timed separately","sf":"$sfDir"$small}"""
    // The full-detail line goes ONLY to BENCH_LAST.json — r7 proved it
    // outgrows the driver's ~2000-char stdout tail window, and r8 proved
    // that printing BOTH a full and a compact line leaves a first-match
    // parser grabbing the truncation-prone one. stdout carries exactly
    // ONE JSON line (the compact summary below), so first-match and
    // last-match parsers agree.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LAST.json"), line + "\n")
    catch { case _: Throwable => () }
    val compact = s"""{"metric":"total","value":${f3(totalAdj)},"unit":"sec","compact":true,"queries":${jsonNum(results)},"adjudicated":${jsonNum(adjudicated)},"steady_reps":$SteadyReps,"total_raw":${f3(total)},"host_factor":${f3(hostFactor)},"total_normalized":${f3(totalAdj / hostFactor)},"calib_sec":${f3(calibSec)},"band_suspect":$suspect,"tail_single_rep_count":${tailNames.size},"total_cold":${f3(totalCold)},"total_extra":${f3(totalExtra)},"total_extra_adj":${f3(totalExtraAdj)},"total_extra_adj_normalized":${f3(totalExtraAdj / hostFactor)},"extras_mode":"$extrasMode","bucketed_ingest_sec":${f3(ingestSec)},"methodology":"$methodology","sf":"$sfDir","full":"BENCH_LAST.json"}"""
    println(compact)
    spark.stop()
  }
}
