package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Similarity

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * exact brute-force cosine top-k, LSH-bucketed near-dup pairs and
  * top-k, IVF cell-probe top-k, PQ ADC top-k with exact refine, the
  * IVF-PQ composition, and int8 storage quantization. EVERY variant is
  * oracle-checked: the md5-derived hyperplanes, the exact-decimal Lloyd
  * steps, and the subspace-ordered ADC folds are deterministic, so
  * DuckDB rebuilds buckets/centroids/codebooks bit-for-bit (recall
  * quality is separately pinned by the ScalaTest recall specs).
  */
object SimilarityQueries extends QueryModule {

  private val K = 5

  /** Every 100th vector is a query. */
  private def queryVecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") % 100 === 0)

  /** Exact top-5 cosine neighbors per query vector. */
  def knnBrute(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(
      Tables.embeddings(spark, dir), queryVecs(spark, dir), K)
      .orderBy(col("query_id"), col("rk"))

  /** MIPS recall@5: norm-augmented IVF probe (4 of 16 cells over
    * [x ; √(M²−‖x‖²)] vectors) against exact brute inner-product top-5 —
    * the reduction that lets the whole cosine ANN stack serve
    * inner-product retrieval. */
  def knnMips(spark: SparkSession, dir: String): DataFrame =
    knnMipsScale(spark, dir).transform(orderedSmall(_, col("query_id")))

  /** The MIPS operator frame BEFORE the orderedSmall staging boundary —
    * the plan-guard seam: orderedSmall's lazy localCheckpoint truncates
    * the registered plan at a LogicalRDD, so PlanGuardSpec walks THIS
    * subtree for the probe-set-broadcast shape it polices (the r14
    * staging landed without moving the guard; the suite was red at the
    * r15 handoff — fixed here). */
  private[graft] def knnMipsScale(spark: SparkSession, dir: String): DataFrame =
    Similarity.mipsRecall(Tables.embeddings(spark, dir),
      queryVecs(spark, dir), K)

  /** LSH-bucketed approximate top-5 (8 hyperplanes → 256 buckets). */
  def knnLsh(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      Similarity.lshTopK(
        Tables.embeddings(spark, dir), queryVecs(spark, dir), K),
      col("query_id"), col("rk"))

  /** IVF-bucketed approximate top-5 (16 cells, probe 4). */
  def knnIvf(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      Similarity.ivfTopK(
        Tables.embeddings(spark, dir), queryVecs(spark, dir), K),
      col("query_id"), col("rk"))

  /** Product-quantization ADC top-5 (8 subspaces × 16 codes — vectors
    * compressed 32×, queries scan the code table only). */
  def knnPq(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(knnPqScale(spark, dir), col("query_id"), col("rk"))

  /** The PQ operator frame before the orderedSmall staging boundary —
    * plan-guard seam (see [[knnMipsScale]]). */
  private[graft] def knnPqScale(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqTopK(
      Tables.embeddings(spark, dir), queryVecs(spark, dir), K)

  /** Embedding near-dup candidate pairs at cosine ≥ 0.35: CORPUS-ADAPTIVE
    * LSH-bucketed candidates, exact-verified — the scale path (no
    * all-pairs cross join, no constant bucket count). Bucket depth b =
    * ⌈log₂(n/64)⌉ (constant expected occupancy) and the table count
    * T(b) = ⌈ln(0.01)/ln(1−p^b)⌉ compensates recall to ≥0.99 at this
    * threshold (p≈0.61 at θ≈69°; PipelineSpec measures ≥0.95 against the
    * exact all-pairs result). The DuckDB oracle computes the SAME b from
    * its own COUNT(*) and gates the same masked bucket expressions, so
    * the result stays value-checked at whichever scale the harness runs
    * (driver gate: sf0.01, n=500 → b=4, T=31; local sf0.1 Verify runs
    * exercise the deeper-b branch at n=2000 → b=5, T=51 — the fixture
    * embedding tables stop at 2000 rows, so b=6..7 legs are generated
    * but exercised only by corpora above 4,096 vectors). */
  def cosinePairs(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(cosinePairsScale(spark, dir), col("vec_a"), col("vec_b"))

  /** The adaptive pair generator BEFORE the orderedSmall staging
    * boundary — the plan-guard seam (see [[knnMipsScale]]): the ids-only
    * candidate-exchange property is asserted on THIS subtree, which the
    * registered plan truncates at the staged LogicalRDD. */
  private[graft] def cosinePairsScale(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosinePairsAdaptive(Tables.embeddings(spark, dir), Threshold,
      targetOccupancy = Occupancy, targetRecall = Recall, maxPlanes = MaxB)

  private val Threshold = 0.35
  private val Occupancy = 64
  private val Recall = 0.99
  /** Mirror depth bound: the generated SQL has masked plane expressions
    * up to b=7, i.e. corpora up to 64·2^7 = 8,192 vectors (fixture max is
    * 5,000). The Spark side passes the same cap so both saturate alike. */
  private val MaxB = 7

  /** Verify-scoped pair staging (gate-cost lever, r10): when set — by
    * graft.Verify, right after the q_sim_cosine_pairs dump lands — the
    * five graph-family consumers (clusters, pagerank, triangles,
    * representatives, kcore) read that staged parquet instead of each
    * re-deriving the SAME adaptive pair set (5 extra derivations per
    * gate run). Outputs are hash-identical: the dump IS
    * `cosinePairsAdaptive`'s exact result, and its own oracle row
    * hash-verifies it against DuckDB's independent adaptive rebuild —
    * the same pre-verified-sibling composition the graph ORACLES
    * already use. Unset everywhere else (bench, specs, direct use), so
    * each query stays self-contained and PlanGuardSpec keeps walking
    * the full scale-path plan. */
  @volatile private[graft] var stagedPairs: Option[String] = None

  /** The adaptive near-dup pair set for the graph family: the staged
    * Verify dump when available, else the full scale-path derivation. */
  private def adaptivePairs(emb: DataFrame): DataFrame =
    stagedPairs match {
      case Some(path) =>
        emb.sparkSession.read.parquet(path)
          .select(col("vec_a"), col("vec_b"))
      case None =>
        Similarity.cosinePairsAdaptive(emb, Threshold,
          targetOccupancy = Occupancy, targetRecall = Recall,
          maxPlanes = MaxB)
          .select(col("vec_a"), col("vec_b"))
    }

  /** IVF-PQ composed top-5: probe 4 of 16 cells, ADC over 8×16 codes
    * within them, exact re-rank — the billion-scale production shape. */
  def knnIvfPq(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      Similarity.ivfPqTopK(
        Tables.embeddings(spark, dir), queryVecs(spark, dir), K),
      col("query_id"), col("rk"))

  /** Symmetric int8 quantization audit: per-vector scale, code
    * fingerprint, and max reconstruction error — the 4× storage
    * compression path next to PQ's 32×. */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame =
    Similarity.int8Quantize(Tables.embeddings(spark, dir))
      .orderBy(col("vec_id"))

  /** Label-centroid similarity: mean vector per label, then each label's
    * nearest other centroid — a coarse IVF-style structure report. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
    e.groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), round(avg(col("x").cast("double")), 6).as("mean_x"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_dims"),
        round(sum(col("mean_x") * col("mean_x")), 6).as("sq_norm"))
      .orderBy(col("label"))
  }

  /** Embedding-space cluster dedup: connected components over the
    * LSH-bucketed cosine-pair graph (≥ 0.35), min-id survivor per
    * cluster — the semantic-dedup step of a training-data pipeline. */
  def simClusters(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val pairs = adaptivePairs(emb)
    graft.ops.Dedup.connectedComponents(
      emb.select(col("vec_id")), "vec_id", pairs, "vec_a", "vec_b")
      .withColumn("is_survivor", col("vec_id") === col("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** Incremental cluster maintenance — the daily-refresh composition:
    * vectors with vec_id % 10 = 7 play today's incoming batch, the rest
    * yesterday's corpus. Yesterday's state is the CC assignment over
    * corpus-only pairs (one label row per vector); today's update runs
    * CC over those LABELS plus only the pairs touching the batch —
    * yesterday's full edge list is never re-shuffled. The oracle
    * recomputes reachability over the FULL pair graph from scratch, so
    * every gate run re-proves the incremental shortcut ≡ the full
    * recompute. */
  def incrementalClusters(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // staged LAZY: the corpus-pairs CC and the incremental-update CC
    // each stage THEIR filter of this frame (Graph.stagePairs), so
    // unstaged the adaptive candidate join + exact verification — the
    // expensive half of pair generation downstream of cosinePairsCore's
    // internal checkpoints — executed twice per run
    val pairs = graft.ops.Checkpoints.stage(
      adaptivePairs(emb), eager = false)
    val isNew = (c: org.apache.spark.sql.Column) => c % 10 === 7
    val corpusPairs = pairs.filter(
      !isNew(col("vec_a")) && !isNew(col("vec_b")))
    val newPairs = pairs.filter(
      isNew(col("vec_a")) || isNew(col("vec_b")))
    val corpusLabels = graft.ops.Dedup.connectedComponents(
      emb.select(col("vec_id")).filter(!isNew(col("vec_id"))), "vec_id",
      corpusPairs, "vec_a", "vec_b")
    graft.ops.Dedup.incrementalComponents(
      corpusLabels, "vec_id", "cluster_id",
      newPairs, "vec_a", "vec_b", emb.select(col("vec_id")))
      .withColumn("is_incoming", col("vec_id") % 10 === 7)
      .orderBy(col("vec_id"))
  }

  /** Full k-means clustering report (k=8, 3 exact-decimal Lloyd
    * iterations): per-vector cluster + squared distance. The mirror
    * unrolls the same three assign/mean steps as CTEs. */
  def kmeans(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      Similarity.kMeans(Tables.embeddings(spark, dir), KmK, KmIters),
      col("vec_id"))

  private val KmK = 8
  private val KmIters = 3

  /** Cluster-balanced selection: k-means cells (k=8, 3 exact-decimal
    * Lloyd iterations — the same quantizer as q_sim_kmeans) with a
    * per-cell budget of 20 kept by the deterministic uniform A-Res
    * key — the diversity-preserving pruning step that stops a dense
    * embedding region from dominating the kept set. */
  def balancedSample(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      Similarity.clusterBalancedSample(Tables.embeddings(spark, dir),
        KmK, KmIters, BalQuota),
      col("vec_id"))

  private val BalQuota = 20

  /** JL random projection 64 → 16 (±1 md5-derived signs, 1/4 scale):
    * every projected coordinate of every vector, value-exact — the
    * dimensionality-reduction step before a cheaper ANN pass. */
  def rproj(spark: SparkSession, dir: String): DataFrame =
    Similarity.randomProject(Tables.embeddings(spark, dir), RpK)
      .orderBy(col("vec_id"))

  private val RpK = 16

  /** SemDeDup: within-k-means-cluster cosine near-dup marking, min-id
    * survivors keep (k=16, 2 Lloyd iterations, cosine ≥ 0.35). */
  def semdedup(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      Similarity.semDedup(Tables.embeddings(spark, dir), Threshold,
        SemK, SemIters),
      col("vec_id"))

  private val SemK = 16
  private val SemIters = 2

  /** Incremental SemDeDup — the daily-refresh composition of the
    * persisted ANN index with the SemDeDup survivor rule (r13 VERDICT
    * #4): vectors with vec_id % 10 = 7 play today's incoming batch (the
    * incrementalClusters convention), the rest yesterday's corpus. The
    * committed index is built on the corpus (pinned quantizers: 16-cell
    * one-step Lloyd — the same recipe the ivf mirrors replay); the batch
    * is admitted by probing it — never by re-clustering the corpus.
    * A delta item is a dup if any CORPUS vector in its probed cells
    * reads cosine ≥ 0.35, or any SMALLER-ID delta item does (the
    * in-batch survivor rule). The mirror retrains the base-subset
    * quantizer CTEs and replays both legs as threshold scans — no
    * window anywhere. */
  def semdedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val ixDir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_ann_sdd_" + java.util.UUID.nameUUIDFromBytes(
        dir.getBytes("UTF-8")).toString.take(8) +
        "_p" + ProcessHandle.current().pid()).getAbsolutePath
    val emb = Tables.embeddings(spark, dir)
    val base = emb.filter(col("vec_id") % 10 =!= 7)
    val delta = emb.filter(col("vec_id") % 10 === 7)
    graft.ops.AnnIndex.save(base, ixDir)
    graft.ops.AnnIndex.semDedupIncremental(base, delta, ixDir, Threshold)
      .orderBy(col("vec_id"))
  }

  /** PageRank over the cosine-pair graph (3 power iterations, d = 0.85):
    * centrality = representativeness for cluster-survivor selection.
    * Edges come from the SCALE path — `cosinePairsAdaptive` (equi-join
    * on adaptive LSH buckets, no cartesian anywhere; PlanGuardSpec pins
    * it). The oracle is two-staged: composing the adaptive-bucket CTE
    * block with three unrolled power iterations exceeded DuckDB's
    * capacity, so the mirror reads the ALREADY-VERIFIED pair set — the
    * parquet that q_sim_cosine_pairs just dumped (its own oracle row
    * hash-checks those pairs against DuckDB's independent adaptive
    * rebuild), path-substituted by Verify at dump time. The graph
    * recurrence itself stays fully recomputed in SQL. */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val pairs = adaptivePairs(emb)
    graft.ops.Graph.pageRank(emb.select(col("vec_id")), "vec_id",
      pairs, "vec_a", "vec_b", PrIters, PrDamping)
      .orderBy(col("vec_id"))
  }

  private val PrIters = 3
  private val PrDamping = 0.85

  /** Per-vertex triangle counts over the SAME adaptive near-dup pair
    * graph as pagerank — the local-clustering signal (a vertex inside a
    * tight duplicate clique has many triangles; a chain of borderline
    * matches has none). Spark runs the degree-ordered wedge-closing
    * algorithm (Graph.triangleCounts); the mirror counts a < b < c
    * edge triples over the PRE-VERIFIED pair dump — an independent
    * formulation, so agreement checks the semantics, not the method. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val pairs = adaptivePairs(emb)
    graft.ops.Graph.triangleCounts(emb.select(col("vec_id")), "vec_id",
      pairs, "vec_a", "vec_b")
      .orderBy(col("vec_id"))
  }

  private val LpaRounds = 4

  /** Label-propagation communities over the SAME adaptive pair graph
    * (4 synchronous rounds, min-label ties): the density-sensitive
    * community view next to q_sim_clusters' reachability view — a
    * borderline pair that bridges two dense duplicate groups merges
    * them under CC but not under LPA. Output adds each community's
    * member count (bounded frame: one row per community). The mirror
    * unrolls the same 4 vote/adopt rounds as MATERIALIZED CTEs over
    * the pre-verified pair dump. */
  def lpa(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val labeled = graft.ops.Graph.labelPropagation(
      emb.select(col("vec_id")), "vec_id",
      adaptivePairs(emb), "vec_a", "vec_b", LpaRounds)
    val sizes = labeled.groupBy(col("community"))
      .agg(count(lit(1)).as("community_size"))
    labeled.join(sizes, "community")
      .select(col("vec_id"), col("community"), col("community_size"))
      .transform(orderedSmall(_, col("vec_id")))
  }

  /** Cluster-representative capstone: connected components + PageRank
    * over the SAME adaptive pair graph, keep the most central member per
    * cluster (ties → min vec_id) — the production "which near-dup do we
    * train on" decision. The mirror composes the cluster mirror's
    * recursive reach with the pagerank mirror's unrolled iterations,
    * over the same pre-verified pair parquet as q_sim_pagerank. */
  def representatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val pairs = adaptivePairs(emb)
    graft.ops.Graph.clusterRepresentatives(emb.select(col("vec_id")),
      "vec_id", pairs, "vec_a", "vec_b", PrIters, PrDamping)
      .orderBy(col("vec_id"))
  }

  /** ANN self-evaluation: recall@5 of the IVF probe against the exact
    * brute-force top-5, per query vector — the measurement every ANN
    * deployment runs before trusting an index (and the number the IVF
    * probe-count knob is tuned against). Both legs are the registered
    * operators themselves (ivfTopK, bruteForceTopK); the overlap count
    * is a plain (query, neighbor) equi-join, so the whole evaluation
    * scales with k·|queries|, never with the corpus. The mirror
    * composes the two legs' existing CTE chains and recounts. */
  def knnRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = queryVecs(spark, dir)
    val brute = Similarity.bruteForceTopK(emb, q, K)
      .select(col("query_id"), col("neighbor_id"))
    val ivf = Similarity.ivfTopK(emb, q, K)
      .select(col("query_id"), col("rk"), col("neighbor_id"))
    // r13 VERDICT #3: rank-quality legs next to the hit count — NDCG@5
    // (binary relevance = brute-top-k membership, ln9 gains, the ideal
    // crossing as one inlined literal) and the reciprocal rank of the
    // first true neighbor. DECIMAL partial sums; per-query output rows.
    val hits = ivf.join(brute, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hits"),
        sum(Similarity.dcgGain(col("rk")).cast("decimal(28,12)")).as("dcg"),
        min(col("rk")).as("first_hit"))
    q.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / lit(K.toDouble), 4)
          .as("recall_at_k"),
        round(coalesce(col("dcg").cast("double"), lit(0.0)) / lit(IdcgK), 6)
          .as("ndcg_at_k"),
        coalesce(round(lit(1.0) / col("first_hit"), 9), lit(0.0)).as("rr"))
      .orderBy(col("query_id"))
  }

  /** Ideal DCG@5 — one double literal shared verbatim by the Spark plan
    * and the generated mirrors (the MmrLambda convention). */
  private val IdcgK = Similarity.idcgAt(K)

  private val TuningProbes = Seq(1, 2, 4, 8, 16)

  /** ANN tuning curve: recall@5 and candidate cost per probe depth
    * (1/2/4/8/16 of 16 cells) — q_knn_recall measures ONE operating
    * point; this surfaces the whole knob. The deepest depth is
    * exhaustive, so its recall row anchors at exactly 1.0; KnnTuningSpec
    * pins recall monotone in nprobe. Mirror: the ivf cell block's full
    * cell ranking per query, one scored-candidate CTE filtered per
    * depth, the brute leg from the recall mirror, integer sums with one
    * final division. */
  def knnTuning(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfRecallSweep(Tables.embeddings(spark, dir),
      queryVecs(spark, dir), K, numCells = 16, TuningProbes)

  private val TuningRefines = Seq(1, 2, 5, 10)

  /** The PQ knob's tuning curve (companion to [[knnTuning]]'s nProbe):
    * recall@5 per ADC refine depth 1/2/5/10 — how many exact rescores
    * buy how much recall. One ADC ranking at depth 10 serves all four
    * rungs. q_knn_pq operates at refine 5; this row shows what moving
    * it costs/buys. */
  def knnTuningPq(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqRefineSweep(Tables.embeddings(spark, dir),
      queryVecs(spark, dir), K, refines = TuningRefines)

  private val MmrCandK = 20
  private val MmrLambda = 0.7

  /** MMR diversified top-5 retrieval per query vector: relevance from
    * the exact top-20 candidates, diversity from their pairwise
    * cosines, five greedy picks. The mirror unrolls the same five
    * argmax steps as CTEs (kmeans-style), reusing the exact `1−λ`
    * double literal so both engines subtract the same number. */
  def mmr(spark: SparkSession, dir: String): DataFrame =
    Similarity.mmrTopK(Tables.embeddings(spark, dir),
      queryVecs(spark, dir), K, MmrCandK, MmrLambda)
      .orderBy(col("query_id"), col("rk"))

  /** Persisted-index round trip: build + save the IVF-PQ index to a
    * cell-partitioned parquet layout, load it back, probe it. Results
    * are identical to q_knn_ivfpq by construction (both halves share
    * encodeIvfPq/ivfPqScore), so this verifies the persistence layer —
    * schema round-trip, partition-column typing, codebook ordering —
    * against the same independent DuckDB rebuild. The index dir is
    * keyed by the data dir so scale factors never collide. */
  def knnIvfPqIndex(spark: SparkSession, dir: String): DataFrame = {
    // keyed by data dir AND process: two processes running this query
    // concurrently (bench + verify) must not interleave one path's
    // four-step overwrite with the other's read; within one process,
    // sequential reps reuse/overwrite the same dir (no tmp growth)
    val ixDir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_ann_index_" + java.util.UUID.nameUUIDFromBytes(
        dir.getBytes("UTF-8")).toString.take(8) +
        "_p" + ProcessHandle.current().pid()).getAbsolutePath
    graft.ops.AnnIndex.save(Tables.embeddings(spark, dir), ixDir)
    graft.ops.AnnIndex.topK(spark, ixDir,
      Tables.embeddings(spark, dir), queryVecs(spark, dir), K)
      .orderBy(col("query_id"), col("rk"))
  }

  /** Incremental ANN index maintenance (r12 VERDICT #6): build the
    * persisted index on 90% of the corpus (vec_id % 10 <> 0), then
    * cell-level UPSERT the remaining 10% with the base build's PINNED
    * quantizers (no retrain; only touched cell partitions are written,
    * untouched cells chain via `_BASE` — AnnIndex.upsert), and probe the
    * layered index. The DuckDB mirror trains its k-means/PQ CTEs on the
    * SAME 90% subset but encodes and probes ALL vectors — exactly the
    * pinned-quantizer contract — so the hash compare proves the layered
    * probe equals a from-scratch encode under the frozen quantizers
    * (IncrementalIndexSpec additionally pins probe ≡ in-memory rebuild
    * inside Spark, newest-wins replacement, chain GC protection, and
    * the drift trigger). */
  def knnIndexIncremental(spark: SparkSession, dir: String): DataFrame = {
    val ixDir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_ann_inc_" + java.util.UUID.nameUUIDFromBytes(
        dir.getBytes("UTF-8")).toString.take(8) +
        "_p" + ProcessHandle.current().pid()).getAbsolutePath
    // sequential reps reuse the dir: each rep publishes a fresh full
    // build + its upsert layer, and the versioned GC sweeps everything
    // below the new chain (the chain-protection rule is exercised on
    // every rep — the layered build's ancestor survives, older pairs go)
    val emb = Tables.embeddings(spark, dir)
    graft.ops.AnnIndex.save(emb.filter(col("vec_id") % 10 =!= 0), ixDir)
    graft.ops.AnnIndex.upsert(emb.filter(col("vec_id") % 10 === 0), ixDir)
    graft.ops.AnnIndex.topK(spark, ixDir, emb, queryVecs(spark, dir), K)
      .orderBy(col("query_id"), col("rk"))
  }

  /** The REPLACEMENT face of the incremental index (r13 ADVICE high —
    * the cross-engine gate could not previously see it because
    * q_knn_index_incremental is append-only): build the index on the
    * FULL corpus, then upsert a delta that REPLACES every 100th vector
    * with its reversed embedding (same vec_id, deterministic in both
    * engines) — under the pinned quantizers a reversed vector generally
    * assigns to a DIFFERENT cell, so the upsert must rewrite the old
    * cells too or stale rows survive the chain. The replaced vectors
    * themselves are the probe queries. The mirror trains its quantizer
    * CTEs on the ORIGINAL corpus but encodes/probes/re-ranks the
    * post-replacement one — exactly the layered index's contract — so
    * a stale survivor (a duplicate vec_id with old codes) hash-fails
    * the gate. */
  def knnIndexUpsertReplace(spark: SparkSession, dir: String): DataFrame = {
    val ixDir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_ann_repl_" + java.util.UUID.nameUUIDFromBytes(
        dir.getBytes("UTF-8")).toString.take(8) +
        "_p" + ProcessHandle.current().pid()).getAbsolutePath
    val emb = Tables.embeddings(spark, dir)
    val repl = emb.filter(col("vec_id") % 100 === 0)
      .withColumn("embedding", reverse(col("embedding")))
    val emb2 = emb.filter(col("vec_id") % 100 =!= 0).unionByName(repl)
    graft.ops.AnnIndex.save(emb, ixDir)
    graft.ops.AnnIndex.upsert(repl, ixDir)
    graft.ops.AnnIndex.topK(spark, ixDir, emb2, repl, K)
      .orderBy(col("query_id"), col("rk"))
  }

  /** Hard-negative mining for contrastive training: per query vector,
    * the top-5 most similar CROSS-LABEL candidates from its probed IVF
    * cells (`Similarity.hardNegatives`) — the batch-mining step of
    * triplet/InfoNCE pipelines. The mirror reuses the verified IVF cell
    * CTEs and applies the same cross-label filter before the ranking
    * window. */
  def knnHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    graft.ops.Similarity.hardNegatives(emb, queryVecs(spark, dir), K)
      .transform(orderedSmall(_, col("query_id"), col("rk")))
  }

  /** Embedding-space eval-set decontamination
    * (`Similarity.embeddingDecontaminate`): every corpus vector with
    * cosine ≥ 0.8 to an eval probe inside the probe's IVF cells — the
    * semantic companion to q_corpus_decontaminate's n-gram screen (a
    * paraphrase shares no 8-gram but sits next to its source in
    * embedding space). Threshold semantics, not top-k: one leaked item
    * with 30 near-copies must surface all 30.
    *
    * The probe set is a synthetically CONTAMINATED eval set derived
    * from the corpus itself (every 100th vector, odd dimensions damped
    * ×0.99 — cos ≈ 0.99996 to its source, well below the bar to everything
    * else; probe_id = source + 10⁶): deterministic double arithmetic +
    * one float32 cast both engines replay bit-exactly, so each probe's
    * planted source is a REAL above-threshold hit the gate must find.
    * The mirror re-derives the perturbation, the probe's IVF cells, and
    * the threshold scan independently. */
  def knnDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val probes = queryVecs(spark, dir)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") *
            when(i % 2 === 0, lit(1.0)).otherwise(lit(0.99)))
            .cast("float")).as("embedding"))
    graft.ops.Similarity.embeddingDecontaminate(emb, probes, minCos = 0.8)
      .transform(orderedSmall(_, col("probe_id"), col("corpus_id")))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_knn_decontaminate" -> knnDecontaminate,
    "q_knn_hard_negatives" -> knnHardNegatives,
    "q_knn_mmr" -> mmr,
    "q_knn_ivfpq_index" -> knnIvfPqIndex,
    "q_knn_index_incremental" -> knnIndexIncremental,
    "q_knn_index_upsert_replace" -> knnIndexUpsertReplace,
    "q_sim_pagerank" -> pagerank,
    "q_sim_triangles" -> triangles,
    "q_sim_kcore" -> kcore,
    "q_sim_lpa" -> lpa,
    "q_dedup_representatives" -> representatives,
    "q_sim_kmeans" -> kmeans,
    "q_sim_balanced_sample" -> balancedSample,
    "q_sim_rproj" -> rproj,
    "q_sim_semdedup" -> semdedup,
    "q_sim_semdedup_incremental" -> semdedupIncremental,
    "q_knn_brute" -> knnBrute,
    "q_knn_mips" -> knnMips,
    "q_knn_recall" -> knnRecall,
    "q_knn_tuning" -> knnTuning,
    "q_knn_tuning_pq" -> knnTuningPq,
    "q_knn_lsh" -> knnLsh,
    "q_knn_ivf" -> knnIvf,
    "q_knn_pq" -> knnPq,
    "q_knn_ivfpq" -> knnIvfPq,
    "q_sim_quantize" -> quantizeInt8,
    "q_sim_cosine_pairs" -> cosinePairs,
    "q_sim_clusters" -> simClusters,
    "q_sim_clusters_incremental" -> incrementalClusters,
    "q_sim_label_centroids" -> labelCentroids)

  /** Shared CTE: vectors as doubles with norms, identical fold order. */
  private val normCte: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, v,
      |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      |  FROM e
      |)""".stripMargin

  private val dotSql =
    "list_sum(list_transform(range(1, 65), i -> a.v[i] * q.v[i]))"

  /** Per-table RHP bucket expressions with the plane weights inlined as
    * exact 3-decimal literals (they are integers/1000 by construction in
    * Similarity.planeWeights, so the SQL text is lossless). */
  /** Locale-pinned 3-decimal literal — f"%.3f" uses the JVM default
    * locale, and a comma-decimal locale would silently corrupt the
    * generated SQL. */
  private def f3(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))

  private def bucketExprs(numTables: Int, planes: Int): Seq[String] = {
    val w = Similarity.planeWeights(numTables * planes, 64)
    (0 until numTables).map { t =>
      (0 until planes).map { p =>
        val lits = w(t * planes + p).map(f3).mkString("[", ", ", "]")
        s"(CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ($lits)[i])) > 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString(" + ")
    }
  }

  /** Mirror of lshTopK: same buckets per table, candidate union over
    * tables, identical rounded-cosine ranking. */
  private def knnLshSql: String = {
    val unions = bucketExprs(8, 4).zipWithIndex.map {
      case (expr, t) => s"SELECT vec_id, $t AS tbl, $expr AS bucket FROM n"
    }.mkString("\n  UNION ALL ")
    normCte +
      s""", b AS (
         |  $unions
         |), qb AS (SELECT vec_id, tbl, bucket FROM b WHERE vec_id % 100 = 0
         |), cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, e.vec_id AS neighbor_id
         |  FROM b e JOIN qb q ON e.tbl = q.tbl AND e.bucket = q.bucket
         |    AND e.vec_id <> q.vec_id
         |), scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    ROUND($dotSql / (a.nrm * q.nrm), 4) AS cos
         |  FROM cand c JOIN n a ON a.vec_id = c.neighbor_id
         |    JOIN n q ON q.vec_id = c.query_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM scored)
         |SELECT query_id, rk, neighbor_id, cos FROM ranked
         |WHERE rk <= $K ORDER BY query_id, rk""".stripMargin
  }

  private val distSql = (a: String, b: String) =>
    s"list_sum(list_transform(range(1, 65), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** IVF cell CTE block (expects `n` from normCte): first-16 seeds, one
    * exact-decimal Lloyd step, argmin assignment (ties to the lower
    * cell, as the Scala loop keeps the first minimum). Exposes `ecell`
    * (vector → its cell) and `qprobe` (query → its 4 probed cells).
    * Shared verbatim by the IVF and IVF-PQ mirrors. `encodeRel` (the
    * pinned-quantizer replacement face): the relation the FINAL
    * assignment + query probes run over — training stays on `n`, the
    * original corpus, while encode/probe can target a post-replacement
    * variant (q_knn_index_upsert_replace's n2). */
  private def ivfCellCtes(trainPred: String = "TRUE",
      encodeRel: String = "n"): String =
    s"""iseeds AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, v
       |  FROM (SELECT vec_id, v FROM n WHERE $trainPred ORDER BY vec_id LIMIT 16)
       |), ixs AS (
       |  SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS dim,
       |         unnest(embedding) AS x
       |  FROM embeddings
       |), ia0 AS (
       |  SELECT e.vec_id, s.cell,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${distSql("e.v", "s.v")}, s.cell) AS rk
       |  FROM n e CROSS JOIN iseeds s
       |  WHERE ${trainPred.replace("vec_id", "e.vec_id")}
       |), icell0 AS (SELECT vec_id, cell FROM ia0 WHERE rk = 1
       |), irefined AS (
       |  SELECT c.cell, ixs.dim,
       |    CAST(SUM(CAST(CAST(ixs.x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
       |      / COUNT(*) AS m
       |  FROM icell0 c JOIN ixs ON ixs.vec_id = c.vec_id
       |  GROUP BY c.cell, ixs.dim
       |), icents0 AS (SELECT cell, list(m ORDER BY dim) AS cv FROM irefined GROUP BY cell
       |), icents AS (
       |  SELECT s.cell, COALESCE(c0.cv, s.v) AS cv
       |  FROM iseeds s LEFT JOIN icents0 c0 ON c0.cell = s.cell
       |), ia1 AS (
       |  SELECT e.vec_id, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${distSql("e.v", "c.cv")}, c.cell) AS rk
       |  FROM $encodeRel e CROSS JOIN icents c
       |), ecell AS (SELECT vec_id, cell FROM ia1 WHERE rk = 1
       |), qprobe AS (SELECT vec_id, cell FROM ia1 WHERE vec_id % 100 = 0 AND rk <= 4
       |)""".stripMargin

  /** Mirror of ivfTopK: the cell block + exact-cosine ranking over the
    * probed-cell candidates. */
  private def knnIvfSql: String = {
    normCte + ", " + ivfCellCtes() +
      s""", cand AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
         |  FROM qprobe q JOIN ecell e ON e.cell = q.cell AND e.vec_id <> q.vec_id
         |), scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    ROUND($dotSql / (a.nrm * q.nrm), 4) AS cos
         |  FROM cand c JOIN n a ON a.vec_id = c.neighbor_id
         |    JOIN n q ON q.vec_id = c.query_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM scored)
         |SELECT query_id, rk, neighbor_id, cos FROM ranked
         |WHERE rk <= $K ORDER BY query_id, rk""".stripMargin
  }

  /** DCG gain at rank `rk` — the same round9(ln2)/round9(ln(rk+1))
    * assembly as Similarity.dcgGain, re-rounded before the DECIMAL
    * partial sum. */
  private def dcgGainSql(rk: String): String =
    s"ROUND(ROUND(LN(2), 9) / ROUND(LN($rk + 1), 9), 9)"

  /** The ideal-DCG literal, suffixed e0 so DuckDB parses a DOUBLE (a
    * bare decimal literal would land as DECIMAL — the 1.4826e0 lesson
    * from q_text_quality_robust). */
  private def idcgLit: String = s"${IdcgK}e0"

  /** Recall mirror: the IVF cell block's top-K chain and the brute
    * top-K chain, joined on (query, neighbor) and recounted per query —
    * both legs are verbatim re-uses of the q_knn_ivf / q_knn_brute
    * mirror arithmetic, so a drift in either leg fails three gates at
    * once. r13 adds the rank-quality legs: per-query NDCG@5 over the
    * ln9 gains (DECIMAL sum, ideal inlined as one shared literal) and
    * the reciprocal first-hit rank. */
  private def knnRecallSql: String =
    normCte + ", " + ivfCellCtes() +
      s""", icand AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
         |  FROM qprobe q JOIN ecell e ON e.cell = q.cell AND e.vec_id <> q.vec_id
         |), iscored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    ROUND($dotSql / (a.nrm * q.nrm), 4) AS cos
         |  FROM icand c JOIN n a ON a.vec_id = c.neighbor_id
         |    JOIN n q ON q.vec_id = c.query_id
         |), iranked AS (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM iscored
         |), bscored AS (
         |  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    ROUND($dotSql / (a.nrm * q.nrm), 4) AS cos
         |  FROM n a, n q
         |  WHERE q.vec_id % 100 = 0 AND a.vec_id <> q.vec_id
         |), branked AS (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM bscored
         |), hits AS (
         |  SELECT i.query_id, COUNT(*) AS n_hits,
         |    SUM(CAST(${dcgGainSql("i.rk")} AS DECIMAL(28,12))) AS dcg,
         |    MIN(i.rk) AS first_hit
         |  FROM (SELECT query_id, neighbor_id, rk FROM iranked WHERE rk <= $K) i
         |  JOIN (SELECT query_id, neighbor_id FROM branked WHERE rk <= $K) b
         |    USING (query_id, neighbor_id)
         |  GROUP BY i.query_id)
         |SELECT q.vec_id AS query_id,
         |  COALESCE(h.n_hits, 0) AS n_hits,
         |  ROUND(COALESCE(h.n_hits, 0) / ${K.toDouble}, 4) AS recall_at_k,
         |  ROUND(COALESCE(CAST(h.dcg AS DOUBLE), 0.0) / $idcgLit, 6)
         |    AS ndcg_at_k,
         |  COALESCE(ROUND(1.0 / h.first_hit, 9), 0.0) AS rr
         |FROM (SELECT vec_id FROM n WHERE vec_id % 100 = 0) q
         |LEFT JOIN hits h ON h.query_id = q.vec_id
         |ORDER BY query_id""".stripMargin

  /** 65-dim distance for the norm-augmented space. */
  private val adistSql = (a: String, b: String) =>
    s"list_sum(list_transform(range(1, 66), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  private val adotSql =
    "list_sum(list_transform(range(1, 66), i -> a.v[i] * q.v[i]))"

  /** MIPS recall mirror: rebuilds the norm augmentation in single
    * precision from DuckDB's OWN MAX(norm) (the adaptive-depth
    * convention — the Spark side inlines the same scalar as a literal),
    * replays the IVF cell block over the 65-dim augmented space with a
    * SEPARATE query-probe ranking (queries augment with 0, not the
    * √(M²−‖x‖²) term, so they are NOT corpus members here), and counts
    * overlap against the brute inner-product leg. */
  private def knnMipsSql: String =
    normCte +
      s""", mmx AS (SELECT MAX(nrm) AS m FROM n
         |), af AS (
         |  SELECT vec_id,
         |    list_transform(list_append(v, sqrt(mmx.m * mmx.m - nrm * nrm)),
         |      x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS v
         |  FROM n, mmx
         |), aq AS (
         |  SELECT vec_id,
         |    list_transform(list_append(v, 0.0),
         |      x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS v
         |  FROM n WHERE vec_id % 100 = 0
         |), mseeds AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
         |    AS cell, v
         |  FROM (SELECT vec_id, v FROM af ORDER BY vec_id LIMIT 16)
         |), mxs AS (
         |  SELECT vec_id, unnest(generate_series(0, len(v) - 1)) AS dim,
         |         unnest(v) AS x
         |  FROM af
         |), ma0 AS (
         |  SELECT e.vec_id, s.cell,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${adistSql("e.v", "s.v")}, s.cell) AS rk
         |  FROM af e CROSS JOIN mseeds s
         |), mcell0 AS (SELECT vec_id, cell FROM ma0 WHERE rk = 1
         |), mrefined AS (
         |  SELECT c.cell, mxs.dim,
         |    CAST(SUM(CAST(mxs.x AS DECIMAL(28,12))) AS DOUBLE)
         |      / COUNT(*) AS m
         |  FROM mcell0 c JOIN mxs ON mxs.vec_id = c.vec_id
         |  GROUP BY c.cell, mxs.dim
         |), mcents0 AS (
         |  SELECT cell, list(m ORDER BY dim) AS cv FROM mrefined GROUP BY cell
         |), mcents AS (
         |  SELECT s.cell, COALESCE(c0.cv, s.v) AS cv
         |  FROM mseeds s LEFT JOIN mcents0 c0 ON c0.cell = s.cell
         |), ma1 AS (
         |  SELECT e.vec_id, c.cell,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${adistSql("e.v", "c.cv")}, c.cell) AS rk
         |  FROM af e CROSS JOIN mcents c
         |), mecell AS (SELECT vec_id, cell FROM ma1 WHERE rk = 1
         |), mq1 AS (
         |  SELECT q.vec_id, c.cell,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${adistSql("q.v", "c.cv")}, c.cell) AS rk
         |  FROM aq q CROSS JOIN mcents c
         |), mqprobe AS (SELECT vec_id, cell FROM mq1 WHERE rk <= 4
         |), afn AS (
         |  SELECT vec_id, v,
         |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
         |  FROM af
         |), aqn AS (
         |  SELECT vec_id, v,
         |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
         |  FROM aq
         |), mcand AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
         |  FROM mqprobe q JOIN mecell e
         |    ON e.cell = q.cell AND e.vec_id <> q.vec_id
         |), mscored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    ROUND($adotSql / (a.nrm * q.nrm), 4) AS cos
         |  FROM mcand c JOIN afn a ON a.vec_id = c.neighbor_id
         |    JOIN aqn q ON q.vec_id = c.query_id
         |), mranked AS (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM mscored
         |), pscored AS (
         |  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    ROUND($dotSql, 4) AS ip
         |  FROM n a, n q
         |  WHERE q.vec_id % 100 = 0 AND a.vec_id <> q.vec_id
         |), pranked AS (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY ip DESC, neighbor_id) AS rk
         |  FROM pscored
         |), mhits AS (
         |  SELECT i.query_id, COUNT(*) AS n_hits
         |  FROM (SELECT query_id, neighbor_id FROM mranked WHERE rk <= $K) i
         |  JOIN (SELECT query_id, neighbor_id FROM pranked WHERE rk <= $K) b
         |    USING (query_id, neighbor_id)
         |  GROUP BY i.query_id)
         |SELECT q.vec_id AS query_id,
         |  COALESCE(h.n_hits, 0) AS n_hits,
         |  ROUND(COALESCE(h.n_hits, 0) / ${K.toDouble}, 4) AS recall_at_k
         |FROM (SELECT vec_id FROM n WHERE vec_id % 100 = 0) q
         |LEFT JOIN mhits h ON h.query_id = q.vec_id
         |ORDER BY query_id""".stripMargin

  /** Tuning-curve mirror: ia1's per-query FULL cell ranking (the probe
    * order), every candidate scored once with its cell's rank, one
    * filter per probe depth, the brute leg verbatim from the recall
    * mirror, and integer totals divided exactly once at the end. */
  private def knnTuningSql: String =
    normCte + ", " + ivfCellCtes() +
      s""", qrank AS (
         |  SELECT vec_id AS query_id, cell, rk AS cell_rank
         |  FROM ia1 WHERE vec_id % 100 = 0
         |), sall AS (
         |  SELECT qr.query_id, qr.cell_rank, e.vec_id AS neighbor_id,
         |    ROUND($dotSql / (a.nrm * q.nrm), 4) AS cos
         |  FROM qrank qr
         |  JOIN ecell e ON e.cell = qr.cell AND e.vec_id <> qr.query_id
         |  JOIN n a ON a.vec_id = e.vec_id
         |  JOIN n q ON q.vec_id = qr.query_id
         |), probes AS (SELECT unnest([1, 2, 4, 8, 16]) AS np
         |), cand AS (
         |  SELECT p.np, s.query_id, s.neighbor_id, s.cos
         |  FROM sall s JOIN probes p ON s.cell_rank <= p.np
         |), counts AS (
         |  SELECT np, query_id, COUNT(*) AS n_cand FROM cand GROUP BY 1, 2
         |), ranked AS (
         |  SELECT np, query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY np, query_id
         |      ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM cand
         |), tk AS (SELECT np, query_id, neighbor_id, rk FROM ranked WHERE rk <= $K
         |), bscored AS (
         |  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    ROUND($dotSql / (a.nrm * q.nrm), 4) AS cos
         |  FROM n a, n q
         |  WHERE q.vec_id % 100 = 0 AND a.vec_id <> q.vec_id
         |), branked AS (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM bscored
         |), btk AS (SELECT query_id, neighbor_id FROM branked WHERE rk <= $K
         |), hits AS (
         |  SELECT t.np, t.query_id, COUNT(*) AS n_hits,
         |    SUM(CAST(${dcgGainSql("t.rk")} AS DECIMAL(28,12))) AS dcg,
         |    MIN(t.rk) AS first_hit
         |  FROM tk t JOIN btk b USING (query_id, neighbor_id)
         |  GROUP BY 1, 2
         |), qs AS (SELECT vec_id AS query_id FROM n WHERE vec_id % 100 = 0
         |), pq AS (SELECT np, query_id FROM probes, qs
         |), perq AS (
         |  SELECT pq.np, pq.query_id,
         |    COALESCE(c.n_cand, 0) AS n_cand,
         |    COALESCE(h.n_hits, 0) AS n_hits,
         |    COALESCE(h.dcg, CAST(0 AS DECIMAL(28,12))) AS dcg,
         |    CASE WHEN h.first_hit IS NULL THEN CAST(0 AS DECIMAL(28,12))
         |         ELSE CAST(ROUND(1.0 / h.first_hit, 9) AS DECIMAL(28,12))
         |    END AS rr
         |  FROM pq
         |  LEFT JOIN counts c ON c.np = pq.np AND c.query_id = pq.query_id
         |  LEFT JOIN hits h ON h.np = pq.np AND h.query_id = pq.query_id)
         |SELECT np AS nprobe, COUNT(*) AS n_queries,
         |  ROUND(CAST(SUM(n_cand) AS DOUBLE) / COUNT(*), 4) AS mean_candidates,
         |  ROUND(CAST(SUM(n_hits) AS DOUBLE) / (COUNT(*) * $K), 6) AS mean_recall,
         |  ROUND(CAST(MIN(n_hits) AS DOUBLE) / $K, 6) AS min_recall,
         |  ROUND(CAST(SUM(dcg) AS DOUBLE) / (COUNT(*) * $idcgLit), 6) AS mean_ndcg,
         |  ROUND(CAST(SUM(rr) AS DOUBLE) / COUNT(*), 6) AS mean_mrr
         |FROM perq GROUP BY np ORDER BY nprobe""".stripMargin

  private val dist8Sql = (a: String, b: String) =>
    s"list_sum(list_transform(range(1, 9), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** PQ code CTE block (expects `n` from normCte): per-subspace
    * codebooks seeded from the first 16 vectors, one exact-decimal Lloyd
    * step, argmin encoding (ties to the lower code), and per-query ADC
    * lookup tables. Exposes `codes` (vector × subspace → code) and `dt`
    * (query × subspace × code → distance). Shared verbatim by the PQ
    * and IVF-PQ mirrors. `encodeSub` mirrors ivfCellCtes' encodeRel:
    * the subvector relation the final encode + query tables run over
    * (training stays on `sub`). */
  private def pqCodeCtes(trainPred: String = "TRUE",
      encodeSub: String = "sub"): String =
    s"""ms AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS m
       |), sub AS (
       |  SELECT vec_id, ms.m,
       |    list_slice(v, ms.m*8 + 1, ms.m*8 + 8) AS sv
       |  FROM n, ms
       |), pseedv AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code, v
       |  FROM (SELECT vec_id, v FROM n WHERE $trainPred ORDER BY vec_id LIMIT 16)
       |), pseeds AS (
       |  SELECT s.code, ms.m, list_slice(s.v, ms.m*8 + 1, ms.m*8 + 8) AS sv
       |  FROM pseedv s, ms
       |), pa0 AS (
       |  SELECT sub.vec_id, sub.m, s.code,
       |    ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.m
       |      ORDER BY ${dist8Sql("sub.sv", "s.sv")}, s.code) AS rk
       |  FROM sub JOIN pseeds s ON s.m = sub.m
       |  WHERE ${trainPred.replace("vec_id", "sub.vec_id")}
       |), pc0 AS (SELECT vec_id, m, code FROM pa0 WHERE rk = 1
       |), pxs AS (
       |  SELECT c.m, c.code, dd.d, sub.sv[dd.d] AS x
       |  FROM pc0 c
       |  JOIN sub ON sub.vec_id = c.vec_id AND sub.m = c.m,
       |  (SELECT CAST(unnest(range(1, 9)) AS INT) AS d) dd
       |), prefined AS (
       |  SELECT m, code, d,
       |    CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mval
       |  FROM pxs GROUP BY m, code, d
       |), pcb0 AS (SELECT m, code, list(mval ORDER BY d) AS cv
       |           FROM prefined GROUP BY m, code
       |), pcb AS (
       |  SELECT s.m, s.code, COALESCE(c.cv, s.sv) AS cv
       |  FROM pseeds s LEFT JOIN pcb0 c ON c.m = s.m AND c.code = s.code
       |), pa1 AS (
       |  SELECT es.vec_id, es.m, b.code,
       |    ROW_NUMBER() OVER (PARTITION BY es.vec_id, es.m
       |      ORDER BY ${dist8Sql("es.sv", "b.cv")}, b.code) AS rk
       |  FROM $encodeSub es JOIN pcb b ON b.m = es.m
       |), codes AS (SELECT vec_id, m, code FROM pa1 WHERE rk = 1
       |), dt AS (
       |  SELECT q.vec_id AS query_id, b.m, b.code,
       |    ${dist8Sql("q.sv", "b.cv")} AS dist
       |  FROM $encodeSub q JOIN pcb b ON b.m = q.m
       |  WHERE q.vec_id % 100 = 0
       |)""".stripMargin

  /** Mirror of pqTopK: the code block + the approximate distance folded
    * in subspace order (list(… ORDER BY m) → list_sum, matching the
    * Scala m-ascending summation) rounded before ranking, ADC refine,
    * exact-cosine re-rank — exactly as the Spark side does. */
  private def knnPqSql: String = {
    normCte + ", " + pqCodeCtes() +
      s""", adc AS (
         |  SELECT dt.query_id, c.vec_id,
         |    ROUND(list_sum(list(dt.dist ORDER BY dt.m)), 6) AS adist
         |  FROM codes c JOIN dt ON dt.m = c.m AND dt.code = c.code
         |  WHERE c.vec_id <> dt.query_id
         |  GROUP BY dt.query_id, c.vec_id
         |), cand AS (
         |  SELECT query_id, vec_id AS neighbor_id, adist,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY adist, vec_id) AS ark
         |  FROM adc
         |), rescored AS (
         |  SELECT c.query_id, c.neighbor_id, c.adist,
         |    ROUND($dotSql / (a.nrm * q.nrm), 4) AS cos
         |  FROM cand c JOIN n a ON a.vec_id = c.neighbor_id
         |    JOIN n q ON q.vec_id = c.query_id
         |  WHERE c.ark <= $K * $PqRefine
         |), ranked AS (
         |  SELECT query_id, neighbor_id, adist, cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM rescored)
         |SELECT query_id, rk, neighbor_id, adist, cos FROM ranked
         |WHERE rk <= $K ORDER BY query_id, rk""".stripMargin
  }

  /** ADC refine factor mirrored between Similarity.pqTopK's default and
    * the generated SQL. */
  private val PqRefine = 5

  /** PQ refine-depth tuning mirror: the PQ code block's full ADC
    * ranking (cand/ark, verbatim from the q_knn_pq mirror), every
    * kept candidate exact-rescored once at the deepest depth, one
    * prefix filter per refine rung, the brute leg, integer totals. */
  private def knnTuningPqSql: String = {
    val maxR = 10
    normCte + ", " + pqCodeCtes() +
      s""", adc AS (
         |  SELECT dt.query_id, c.vec_id,
         |    ROUND(list_sum(list(dt.dist ORDER BY dt.m)), 6) AS adist
         |  FROM codes c JOIN dt ON dt.m = c.m AND dt.code = c.code
         |  WHERE c.vec_id <> dt.query_id
         |  GROUP BY dt.query_id, c.vec_id
         |), acand AS (
         |  SELECT query_id, vec_id AS neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY adist, vec_id) AS ark
         |  FROM adc
         |), sall AS (
         |  SELECT c.query_id, c.ark, c.neighbor_id,
         |    ROUND($dotSql / (a.nrm * q.nrm), 4) AS cos
         |  FROM acand c JOIN n a ON a.vec_id = c.neighbor_id
         |    JOIN n q ON q.vec_id = c.query_id
         |  WHERE c.ark <= $K * $maxR
         |), refines AS (SELECT unnest([1, 2, 5, 10]) AS rf
         |), cand AS (
         |  SELECT r.rf, s.query_id, s.neighbor_id, s.cos
         |  FROM sall s JOIN refines r ON s.ark <= $K * r.rf
         |), counts AS (
         |  SELECT rf, query_id, COUNT(*) AS n_cand FROM cand GROUP BY 1, 2
         |), ranked AS (
         |  SELECT rf, query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY rf, query_id
         |      ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM cand
         |), tk AS (SELECT rf, query_id, neighbor_id, rk FROM ranked WHERE rk <= $K
         |), bscored AS (
         |  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    ROUND($dotSql / (a.nrm * q.nrm), 4) AS cos
         |  FROM n a, n q
         |  WHERE q.vec_id % 100 = 0 AND a.vec_id <> q.vec_id
         |), branked AS (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM bscored
         |), btk AS (SELECT query_id, neighbor_id FROM branked WHERE rk <= $K
         |), hits AS (
         |  SELECT t.rf, t.query_id, COUNT(*) AS n_hits,
         |    SUM(CAST(${dcgGainSql("t.rk")} AS DECIMAL(28,12))) AS dcg,
         |    MIN(t.rk) AS first_hit
         |  FROM tk t JOIN btk b USING (query_id, neighbor_id)
         |  GROUP BY 1, 2
         |), qs AS (SELECT vec_id AS query_id FROM n WHERE vec_id % 100 = 0
         |), pq AS (SELECT rf, query_id FROM refines, qs
         |), perq AS (
         |  SELECT pq.rf, pq.query_id,
         |    COALESCE(c.n_cand, 0) AS n_cand,
         |    COALESCE(h.n_hits, 0) AS n_hits,
         |    COALESCE(h.dcg, CAST(0 AS DECIMAL(28,12))) AS dcg,
         |    CASE WHEN h.first_hit IS NULL THEN CAST(0 AS DECIMAL(28,12))
         |         ELSE CAST(ROUND(1.0 / h.first_hit, 9) AS DECIMAL(28,12))
         |    END AS rr
         |  FROM pq
         |  LEFT JOIN counts c ON c.rf = pq.rf AND c.query_id = pq.query_id
         |  LEFT JOIN hits h ON h.rf = pq.rf AND h.query_id = pq.query_id)
         |SELECT rf AS refine, COUNT(*) AS n_queries,
         |  ROUND(CAST(SUM(n_cand) AS DOUBLE) / COUNT(*), 4) AS mean_candidates,
         |  ROUND(CAST(SUM(n_hits) AS DOUBLE) / (COUNT(*) * $K), 6) AS mean_recall,
         |  ROUND(CAST(MIN(n_hits) AS DOUBLE) / $K, 6) AS min_recall,
         |  ROUND(CAST(SUM(dcg) AS DOUBLE) / (COUNT(*) * $idcgLit), 6) AS mean_ndcg,
         |  ROUND(CAST(SUM(rr) AS DOUBLE) / COUNT(*), 6) AS mean_mrr
         |FROM perq GROUP BY rf ORDER BY refine""".stripMargin
  }

  /** Mirror of ivfPqTopK: the IVF cell block and the PQ code block —
    * the SAME fragment texts that verify q_knn_ivf and q_knn_pq —
    * composed: ADC runs only over (query, vector) pairs whose cells
    * meet in the probe set, then the refine re-rank. `encodeRel`/
    * `encodeSub`/`extraCtes` support the replacement face: training
    * stays on the original `n`/`sub`, while encode + probe + re-rank
    * run over a post-replacement corpus injected by `extraCtes`. */
  private def knnIvfPqSql(trainPred: String = "TRUE",
      encodeRel: String = "n", encodeSub: String = "sub",
      extraCtes: String = ""): String = {
    normCte + extraCtes + ", " + ivfCellCtes(trainPred, encodeRel) +
      ", " + pqCodeCtes(trainPred, encodeSub) +
      s""", adc AS (
         |  SELECT dt.query_id, c.vec_id,
         |    ROUND(list_sum(list(dt.dist ORDER BY dt.m)), 6) AS adist
         |  FROM codes c
         |  JOIN ecell ec ON ec.vec_id = c.vec_id
         |  JOIN qprobe qp ON qp.cell = ec.cell
         |  JOIN dt ON dt.query_id = qp.vec_id AND dt.m = c.m AND dt.code = c.code
         |  WHERE c.vec_id <> qp.vec_id
         |  GROUP BY dt.query_id, c.vec_id
         |), cand AS (
         |  SELECT query_id, vec_id AS neighbor_id, adist,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY adist, vec_id) AS ark
         |  FROM adc
         |), rescored AS (
         |  SELECT c.query_id, c.neighbor_id, c.adist,
         |    ROUND($dotSql / (a.nrm * q.nrm), 4) AS cos
         |  FROM cand c JOIN $encodeRel a ON a.vec_id = c.neighbor_id
         |    JOIN $encodeRel q ON q.vec_id = c.query_id
         |  WHERE c.ark <= $K * $PqRefine
         |), ranked AS (
         |  SELECT query_id, neighbor_id, adist, cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM rescored)
         |SELECT query_id, rk, neighbor_id, adist, cos FROM ranked
         |WHERE rk <= $K ORDER BY query_id, rk""".stripMargin
  }

  /** Post-replacement corpus CTEs for the upsert-replace mirror: every
    * 100th vector's embedding REVERSED (the float payload unchanged,
    * order flipped — deterministic in both engines, and under the
    * PINNED quantizers the reversed vector generally assigns to a
    * DIFFERENT cell, exercising the migration face the r13 ADVICE
    * found). Doubles, norms, and 8-dim subspace slices recomputed over
    * the stored (reversed) order. */
  private val replacedCtes: String =
    """, r2 AS (
      |  SELECT vec_id,
      |    CASE WHEN vec_id % 100 = 0 THEN list_reverse(embedding)
      |         ELSE embedding END AS embedding
      |  FROM embeddings
      |), e2 AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM r2
      |), n2 AS (
      |  SELECT vec_id, v,
      |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      |  FROM e2
      |), ms2 AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS m
      |), sub2 AS (
      |  SELECT vec_id, ms2.m,
      |    list_slice(v, ms2.m*8 + 1, ms2.m*8 + 8) AS sv
      |  FROM n2, ms2
      |)""".stripMargin

  /** Adaptive-parameter CTEs + masked per-table bucket legs, mirroring
    * `cosinePairsAdaptive` exactly:
    *  - `nn.b` is the bucket depth ⌈log₂(n/64)⌉ clamped to [4, MaxB] —
    *    CEIL(LOG2(...)) agrees with the Scala integer loop because the
    *    fixture counts sit far from the power-of-two boundaries (and AT
    *    a boundary log2 of an exact power of two is exact in IEEE);
    *  - `tt.t` is the table count T(b), generated as a CASE from the SAME
    *    `Similarity.adaptiveTables` the Spark side calls (no cross-engine
    *    float: the lookup is baked into the SQL text);
    *  - each of the T(MaxB) table legs is gated by `tt.t > <t>`, and each
    *    plane bit inside a leg by `<p> < nn.b`, so DuckDB evaluates the
    *    identical bucket set for whatever n it finds. */
  private def adaptiveBucketCtes(threshold: Double): String = {
    val maxT = Similarity.adaptiveTables(threshold, MaxB, Recall)
    val tCase = (4 to MaxB).map(b =>
      s"WHEN $b THEN ${Similarity.adaptiveTables(threshold, b, Recall)}")
      .mkString(" ")
    val legs = (0 until maxT).map { t =>
      val expr = (0 until MaxB).map { p =>
        val lits = Similarity.planeWeightsTP(t, p, 64)
          .map(f3).mkString("[", ", ", "]")
        s"(CASE WHEN $p < nn.b AND list_sum(list_transform(range(1, 65), i -> v[i] * ($lits)[i])) > 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS tbl, $expr AS bucket FROM n, nn, tt WHERE tt.t > $t"
    }.mkString("\n  UNION ALL ")
    s""", nn AS (
       |  SELECT GREATEST(4, LEAST($MaxB,
       |    CAST(CEIL(LOG2(GREATEST(CAST(COUNT(*) AS DOUBLE), 1.0) / $Occupancy)) AS INT))) AS b
       |  FROM embeddings
       |), tt AS (SELECT CASE b $tCase ELSE ${maxT} END AS t FROM nn
       |), b AS (
       |  $legs
       |)""".stripMargin
  }

  /** Mirror of cosinePairsAdaptive: same adaptive buckets, same candidate
    * join, same exact verification. */
  private def cosinePairsSql(threshold: Double): String = {
    normCte + adaptiveBucketCtes(threshold) +
      s""", cand AS (
         |  SELECT DISTINCT l.vec_id AS va, r.vec_id AS vb
         |  FROM b l JOIN b r ON l.tbl = r.tbl AND l.bucket = r.bucket
         |    AND l.vec_id < r.vec_id
         |)
         |SELECT a.vec_id AS vec_a, q.vec_id AS vec_b,
         |  ROUND($dotSql / (a.nrm * q.nrm), 4) AS cos
         |FROM cand c JOIN n a ON a.vec_id = c.va JOIN n q ON q.vec_id = c.vb
         |WHERE ROUND($dotSql / (a.nrm * q.nrm), 4) >= $threshold
         |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Recursive transitive closure over the cosine-pair graph, read from
    * the PRE-VERIFIED q_sim_cosine_pairs sibling dump (the same
    * two-staged composition as pagerank/triangles/kcore — the dump's
    * own oracle row independently rebuilds the adaptive derivation).
    * Until r10 this mirror re-derived the pairs inline, and DuckDB
    * re-evaluates non-materialized CTEs referenced from a RECURSIVE
    * term on EVERY fixpoint iteration — the full bucket + dot-product
    * chain ran once per closure step, 172s of the gate's wall-clock
    * for this one oracle (the gate-cost class behind the empty
    * CORRECTNESS_r09). Reading the dump makes the re-evaluated
    * subtree a parquet scan: 172s → ~2s, byte-identical result. */
  private def simClustersSql: String =
    s"""WITH RECURSIVE gpr AS (
       |  SELECT CAST(vec_a AS BIGINT) AS va, CAST(vec_b AS BIGINT) AS vb
       |  FROM read_parquet('${QueryModule.VerifyOutToken}/q_sim_cosine_pairs/*.parquet')),
       |sym AS (SELECT va AS s, vb AS d FROM gpr WHERE va <> vb
       |        UNION SELECT vb, va FROM gpr WHERE va <> vb),
       |reach AS (
       |  SELECT vec_id AS src, vec_id AS dst FROM embeddings
       |  UNION
       |  SELECT r.src, e2.d FROM reach r JOIN sym e2 ON e2.s = r.dst)
       |SELECT src AS vec_id, MIN(dst) AS cluster_id,
       |  src = MIN(dst) AS is_survivor
       |FROM reach GROUP BY src ORDER BY vec_id""".stripMargin

  /** Incremental-clusters mirror: reachability over the FULL pair dump,
    * from scratch — deliberately NOT the incremental formulation, so a
    * drift in the label-contraction shortcut (a dropped label edge, a
    * wrong split of old vs new pairs) mismatches the ground truth
    * instead of reproducing its own bug. */
  private def incrementalClustersSql: String =
    s"""WITH RECURSIVE gpr AS (
       |  SELECT CAST(vec_a AS BIGINT) AS va, CAST(vec_b AS BIGINT) AS vb
       |  FROM read_parquet('${QueryModule.VerifyOutToken}/q_sim_cosine_pairs/*.parquet')),
       |sym AS (SELECT va AS s, vb AS d FROM gpr WHERE va <> vb
       |        UNION SELECT vb, va FROM gpr WHERE va <> vb),
       |reach AS (
       |  SELECT vec_id AS src, vec_id AS dst FROM embeddings
       |  UNION
       |  SELECT r.src, e2.d FROM reach r JOIN sym e2 ON e2.s = r.dst)
       |SELECT src AS vec_id, MIN(dst) AS cluster_id,
       |  src % 10 = 7 AS is_incoming
       |FROM reach GROUP BY src ORDER BY vec_id""".stripMargin

  /** Unrolled Lloyd CTE chain (expects `n` from normCte): seeds =
    * first `k` by vec_id, `iters` assign/mean steps with DECIMAL(28,12)
    * exact means and COALESCE previous-centroid fallback for emptied
    * cells — the literal SQL restatement of Similarity.lloydCentroids.
    * Exposes `${p}asg` (vec_id, cell, d2 under the final centroids). */
  private def lloydCtes(k: Int, iters: Int, p: String): String = {
    val dims =
      s"""${p}xs AS (
         |  SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS dim,
         |         unnest(embedding) AS x
         |  FROM embeddings),
         |${p}cents0 AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
         |    v AS cv
         |  FROM (SELECT vec_id, v FROM n ORDER BY vec_id LIMIT $k))""".stripMargin
    val steps = (1 to iters).map { i =>
      s""",
         |${p}a$i AS (
         |  SELECT e.vec_id, c.cell,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${distSql("e.v", "c.cv")}, c.cell) AS rk
         |  FROM n e CROSS JOIN ${p}cents${i - 1} c),
         |${p}m$i AS (
         |  SELECT a.cell, x.dim,
         |    CAST(SUM(CAST(CAST(x.x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
         |      / COUNT(*) AS m
         |  FROM (SELECT vec_id, cell FROM ${p}a$i WHERE rk = 1) a
         |  JOIN ${p}xs x USING (vec_id) GROUP BY 1, 2),
         |${p}cl$i AS (
         |  SELECT cell, list(m ORDER BY dim) AS cv FROM ${p}m$i GROUP BY cell),
         |${p}cents$i AS (
         |  SELECT pv.cell, COALESCE(cc.cv, pv.cv) AS cv
         |  FROM ${p}cents${i - 1} pv LEFT JOIN ${p}cl$i cc USING (cell))""".stripMargin
    }.mkString
    val fin =
      s""",
         |${p}fin AS (
         |  SELECT e.vec_id, c.cell, ${distSql("e.v", "c.cv")} AS d2,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${distSql("e.v", "c.cv")}, c.cell) AS rk
         |  FROM n e CROSS JOIN ${p}cents$iters c),
         |${p}asg AS (SELECT vec_id, cell, d2 FROM ${p}fin WHERE rk = 1)""".stripMargin
    dims + steps + fin
  }

  private def kmeansSql: String =
    normCte + ", " + lloydCtes(KmK, KmIters, "k") +
      """
        |SELECT vec_id, cell AS cluster, ROUND(d2, 6) AS d2
        |FROM kasg ORDER BY vec_id""".stripMargin

  /** JL mirror: the ±1 sign vectors inlined as lossless int literals
    * (the planeWeights exact-literal convention), the same
    * left-to-right list_sum fold as every other dot product, /4 exact. */
  private def rprojSql: String = {
    val signs = Similarity.rpSigns(RpK, 64)
    val cols = (0 until RpK).map { j =>
      val litList = signs(j).map(s => if (s > 0) "1" else "-1")
        .mkString("[", ",", "]")
      s"""  ROUND(list_sum(list_transform(range(1, 65),
         |    d -> v[d] * ($litList)[d])) / 4, 6) AS p$j""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings)
       |SELECT vec_id,
       |$cols
       |FROM e ORDER BY vec_id""".stripMargin
  }

  /** Balanced-sample mirror: the SAME Lloyd chain as q_sim_kmeans (so
    * the two verify the one quantizer twice), the weighted-sample
    * oracle's exact ln(u) key with weight 1, and a per-cell
    * ROW_NUMBER — a plain window is fine here, it's the oracle. */
  private def balancedSampleSql: String =
    normCte + ", " + lloydCtes(KmK, KmIters, "cb") +
      s""",
         |keyed AS (
         |  SELECT vec_id, cell AS cluster,
         |    ROUND(ln(
         |      (CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
         |        AS BIGINT) + 1) / 1152921504606846976.0), 9) AS skey
         |  FROM cbasg),
         |ranked AS (
         |  SELECT vec_id, cluster,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY cluster
         |      ORDER BY skey DESC, vec_id) AS BIGINT) AS rk, skey
         |  FROM keyed)
         |SELECT vec_id, cluster, rk, skey FROM ranked
         |WHERE rk <= $BalQuota ORDER BY vec_id""".stripMargin

  private def semdedupSql: String =
    normCte + ", " + lloydCtes(SemK, SemIters, "s") +
      s""", sdup AS (
         |  SELECT a.vec_id, COUNT(*) AS n_dups
         |  FROM sasg a
         |  JOIN sasg b ON b.cell = a.cell AND b.vec_id < a.vec_id
         |  JOIN n na ON na.vec_id = a.vec_id
         |  JOIN n nb ON nb.vec_id = b.vec_id
         |  WHERE ROUND(
         |    list_sum(list_transform(range(1, 65), i -> na.v[i] * nb.v[i]))
         |      / (na.nrm * nb.nrm), 4) >= $Threshold
         |  GROUP BY a.vec_id)
         |SELECT s.vec_id, s.cell AS cluster,
         |  d.n_dups IS NULL AS keep,
         |  COALESCE(d.n_dups, 0) AS n_dups
         |FROM sasg s LEFT JOIN sdup d USING (vec_id)
         |ORDER BY vec_id""".stripMargin

  /** Mirror of Graph.pageRank over the adaptive pair graph, two-staged:
    * the edge list is the PRE-VERIFIED q_sim_cosine_pairs parquet dump
    * (hash-checked by its own oracle row against DuckDB's independent
    * adaptive rebuild — composing that CTE block with the unrolled
    * iterations below is beyond DuckDB's capacity in one statement),
    * then `PrIters` unrolled contribution/update steps (9-rounded
    * terms, DECIMAL sums — the Graph.scala contract restated in SQL).
    * `__GRAFT_VERIFY_OUT__` is substituted by Verify at dump time. */
  private def pagerankCtes: String = {
    val d = PrDamping
    val steps = (1 to PrIters).map { i =>
      s""", c$i AS (
         |  SELECT e.d AS id,
         |    SUM(CAST(ROUND(p.r / p.deg, 9) AS DECIMAL(28,12))) AS cin
         |  FROM pr${i - 1} p JOIN gsym e ON e.s = p.id GROUP BY e.d
         |), pr$i AS (
         |  SELECT v.id, v.deg,
         |    ROUND((1 - $d) / nv.cnt
         |      + $d * COALESCE(CAST(c$i.cin AS DOUBLE), 0.0), 9) AS r
         |  FROM pr${i - 1} v LEFT JOIN c$i ON c$i.id = v.id, nv)""".stripMargin
    }.mkString
    normCte +
      s""", gpr AS (
         |  SELECT CAST(vec_a AS BIGINT) AS va, CAST(vec_b AS BIGINT) AS vb
         |  FROM read_parquet('${QueryModule.VerifyOutToken}/q_sim_cosine_pairs/*.parquet')
         |), gsym AS (SELECT va AS s, vb AS d FROM gpr
         |            UNION ALL SELECT vb, va FROM gpr),
         |gdeg AS (SELECT s, COUNT(*) AS deg FROM gsym GROUP BY s),
         |nv AS (SELECT COUNT(*) AS cnt FROM n),
         |pr0 AS (
         |  SELECT n.vec_id AS id, COALESCE(gdeg.deg, 0) AS deg,
         |    ROUND(1.0 / nv.cnt, 9) AS r
         |  FROM n LEFT JOIN gdeg ON gdeg.s = n.vec_id, nv)$steps""".stripMargin
  }

  /** 2-core membership over the same adaptive pair graph: iterative
    * peeling of degree-<2 vertices until fixpoint (Graph.kCore) —
    * cliquey duplicate clusters survive, chain/tree artifacts of
    * borderline thresholds peel away. The mirror unrolls the peeling
    * rounds as CTEs over the pre-verified pair dump. */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    graft.ops.Graph.kCore(emb.select(col("vec_id")), "vec_id",
      adaptivePairs(emb), "vec_a", "vec_b", k = 2)
      .orderBy(col("vec_id"))
  }

  private val KcoreUnrolledRounds = 16

  /** k-core mirror: 16 unrolled peel rounds (the sf0.01 fixture graph
    * peels to fixpoint in 10 — the r9 constant of 8 under-converged and
    * failed the gate; converged rounds are no-ops, so any depth ≤ 16
    * verifies exactly) PLUS a convergence sentinel: `chk` re-derives the
    * would-be peel set from the FINAL round's survivors, and a non-empty
    * `chk` (a deeper-than-unrolled graph) unions a poison row
    * (vec_id = -1, in_core = -1) that no Spark output can ever contain —
    * under-convergence is a guaranteed loud mismatch, never a plausible
    * near-miss. The round CTEs are MATERIALIZED: each r$i references
    * r${i-1} twice (once via bad$i, once directly), so DuckDB's default
    * CTE inlining duplicates the chain 2^rounds times — at 16 rounds
    * that is ~65k inlined copies of the parquet-glob scan, which
    * exhausts file handles and fails as a bogus "No files found"
    * (observed on DuckDB 1.0.0 the moment the r9 depth of 8 was raised).
    * Materialization makes the mirror linear in rounds (0.09s). */
  private def kcoreSql: String = {
    val rounds = (1 to KcoreUnrolledRounds).map { i =>
      s""", bad$i AS MATERIALIZED (
         |  SELECT v FROM (SELECT unnest([a, b]) AS v FROM r${i - 1})
         |  GROUP BY v HAVING COUNT(*) < 2),
         |r$i AS MATERIALIZED (
         |  SELECT a, b FROM r${i - 1}
         |  WHERE a NOT IN (SELECT v FROM bad$i)
         |    AND b NOT IN (SELECT v FROM bad$i))""".stripMargin
    }.mkString
    s"""WITH gpr AS MATERIALIZED (
       |  SELECT CAST(vec_a AS BIGINT) AS va, CAST(vec_b AS BIGINT) AS vb
       |  FROM read_parquet('${QueryModule.VerifyOutToken}/q_sim_cosine_pairs/*.parquet')),
       |r0 AS MATERIALIZED (
       |  SELECT LEAST(va, vb) AS a, GREATEST(va, vb) AS b
       |  FROM gpr WHERE va <> vb GROUP BY 1, 2)$rounds,
       |surv AS (
       |  SELECT DISTINCT unnest([a, b]) AS id FROM r$KcoreUnrolledRounds),
       |chk AS (
       |  SELECT v FROM (SELECT unnest([a, b]) AS v FROM r$KcoreUnrolledRounds)
       |  GROUP BY v HAVING COUNT(*) < 2)
       |SELECT vec_id, in_core FROM (
       |  SELECT emb.vec_id,
       |    CASE WHEN s.id IS NOT NULL THEN 1 ELSE 0 END AS in_core
       |  FROM embeddings emb LEFT JOIN surv s ON s.id = emb.vec_id
       |  UNION ALL
       |  SELECT CAST(-1 AS BIGINT) AS vec_id, -1 AS in_core
       |  WHERE EXISTS (SELECT 1 FROM chk))
       |ORDER BY vec_id""".stripMargin
  }

  /** LPA mirror: 4 unrolled vote/adopt rounds over the pre-verified
    * pair dump — per round, count each vertex's incoming neighbor
    * labels, adopt the (count DESC, label ASC) winner, keep the old
    * label when no neighbors vote. MATERIALIZED for the same reason as
    * the kcore mirror: each round references its predecessor twice
    * (votes + the keep-old left join), so default inlining would
    * duplicate the chain 2^rounds times. */
  private def lpaSql: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s""", c$i AS MATERIALIZED (
         |  SELECT e.d AS id, l.lbl, COUNT(*) AS n
         |  FROM l${i - 1} l JOIN gsym e ON e.s = l.id GROUP BY 1, 2),
         |a$i AS MATERIALIZED (
         |  SELECT id, lbl FROM (
         |    SELECT id, lbl,
         |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY n DESC, lbl) AS rn
         |    FROM c$i) WHERE rn = 1),
         |l$i AS MATERIALIZED (
         |  SELECT v.id, COALESCE(a.lbl, v.lbl) AS lbl
         |  FROM l${i - 1} v LEFT JOIN a$i a USING (id))""".stripMargin
    }.mkString
    s"""WITH gpr AS MATERIALIZED (
       |  SELECT CAST(vec_a AS BIGINT) AS va, CAST(vec_b AS BIGINT) AS vb
       |  FROM read_parquet('${QueryModule.VerifyOutToken}/q_sim_cosine_pairs/*.parquet')),
       |gsym AS MATERIALIZED (
       |  SELECT va AS s, vb AS d FROM gpr
       |  UNION ALL SELECT vb, va FROM gpr),
       |l0 AS MATERIALIZED (
       |  SELECT vec_id AS id, vec_id AS lbl FROM embeddings)$rounds,
       |sizes AS (
       |  SELECT lbl, COUNT(*) AS community_size
       |  FROM l$LpaRounds GROUP BY lbl)
       |SELECT l.id AS vec_id, l.lbl AS community, s.community_size
       |FROM l$LpaRounds l JOIN sizes s ON s.lbl = l.lbl
       |ORDER BY vec_id""".stripMargin
  }

  /** Triangle mirror: canonical a < b edges from the pre-verified pair
    * dump, then the classic e(a,b) ⋈ e(b,c) ⋈ e(a,c) triple join with
    * a < b < c — each triangle once — exploded back onto its three
    * vertices. */
  private def trianglesSql: String =
    s"""WITH gpr AS (
       |  SELECT CAST(vec_a AS BIGINT) AS va, CAST(vec_b AS BIGINT) AS vb
       |  FROM read_parquet('${QueryModule.VerifyOutToken}/q_sim_cosine_pairs/*.parquet')),
       |e AS (
       |  SELECT LEAST(va, vb) AS a, GREATEST(va, vb) AS b
       |  FROM gpr WHERE va <> vb GROUP BY 1, 2),
       |t AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM e e1 JOIN e e2 ON e2.a = e1.b
       |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       |pv AS (SELECT unnest([x, y, z]) AS id FROM t),
       |cnt AS (SELECT id, COUNT(*) AS n_triangles FROM pv GROUP BY 1)
       |SELECT emb.vec_id, COALESCE(cnt.n_triangles, 0) AS n_triangles
       |FROM embeddings emb LEFT JOIN cnt ON cnt.id = emb.vec_id
       |ORDER BY vec_id""".stripMargin

  private def pagerankSql: String =
    pagerankCtes +
      s"""
         |SELECT id AS vec_id, CAST(deg AS BIGINT) AS degree,
         |  ROUND(r, 6) AS pagerank
         |FROM pr$PrIters ORDER BY vec_id""".stripMargin

  /** Mirror of Graph.clusterRepresentatives: the pagerank CTE chain +
    * the recursive transitive closure over the SAME gsym edge list, then
    * the per-cluster max-pagerank (tie → min id) keep decision on the
    * 6-rounded ranks — a window here is fine, it's the oracle. */
  private def representativesSql: String =
    (pagerankCtes +
      s""",
         |reach AS (
         |  SELECT vec_id AS src, vec_id AS dst FROM n
         |  UNION
         |  SELECT r.src, e2.d FROM reach r JOIN gsym e2 ON e2.s = r.dst),
         |clus AS (SELECT src AS vec_id, MIN(dst) AS cluster_id
         |         FROM reach GROUP BY src),
         |fin AS (
         |  SELECT c.vec_id, c.cluster_id, CAST(p.deg AS BIGINT) AS degree,
         |    ROUND(p.r, 6) AS pagerank
         |  FROM clus c JOIN pr$PrIters p ON p.id = c.vec_id),
         |rk AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
         |    ORDER BY pagerank DESC, vec_id) AS rn
         |  FROM fin)
         |SELECT vec_id, cluster_id, degree, pagerank,
         |  rn = 1 AS is_representative
         |FROM rk ORDER BY vec_id""".stripMargin)
      .replaceFirst("WITH ", "WITH RECURSIVE ")

  /** Unrolled MMR mirror: exact top-20 candidates, pairwise candidate
    * cosines, then five argmax CTE steps each excluding the already
    * selected set and subtracting the penalty with the SAME `1−λ`
    * double literal Spark computes (0.7 → 0.30000000000000004). */
  private def mmrSql: String = {
    val lam = MmrLambda.toString
    val oneMinus = (1 - MmrLambda).toString
    val steps = (1 to K).map { j =>
      val prev = s"selall${j - 1}"
      s""", ms$j AS (
         |  SELECT p.query_id, p.a_id AS cand_id, MAX(p.sim) AS ms
         |  FROM psim p JOIN $prev s
         |    ON s.query_id = p.query_id AND s.cand_id = p.b_id
         |  GROUP BY 1, 2
         |), scored$j AS (
         |  SELECT c.query_id, c.cand_id, c.rel,
         |    -- + 0.0 normalizes -0.0: Spark's BigDecimal round always
         |    -- emits +0.0, DuckDB's ROUND keeps the sign of a tiny
         |    -- negative score (the dsir sf0.1 escape class)
         |    ROUND($lam * c.rel - $oneMinus * COALESCE(m.ms, 0.0), 6) + 0.0 AS score
         |  FROM cand c
         |  LEFT JOIN ms$j m ON m.query_id = c.query_id AND m.cand_id = c.cand_id
         |  WHERE NOT EXISTS (SELECT 1 FROM $prev s
         |    WHERE s.query_id = c.query_id AND s.cand_id = c.cand_id)
         |), sel$j AS (
         |  SELECT query_id, cand_id, rel, score, CAST($j AS BIGINT) AS rk FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, cand_id) AS rn
         |    FROM scored$j) WHERE rn = 1
         |), selall$j AS (
         |  SELECT * FROM selall${j - 1} UNION ALL SELECT * FROM sel$j)""".stripMargin
    }.mkString("\n")
    normCte +
      s""", cand0 AS (
         |  SELECT q.vec_id AS query_id, a.vec_id AS cand_id,
         |    ROUND($dotSql / (a.nrm * q.nrm), 4) AS rel
         |  FROM n a, n q
         |  WHERE q.vec_id % 100 = 0 AND a.vec_id <> q.vec_id
         |), cand AS (
         |  SELECT query_id, cand_id, rel FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, cand_id) AS rn FROM cand0)
         |  WHERE rn <= $MmrCandK
         |), psim AS (
         |  SELECT c1.query_id, c1.cand_id AS a_id, c2.cand_id AS b_id,
         |    ROUND(list_sum(list_transform(range(1, 65),
         |      i -> va.v[i] * vb.v[i])) / (va.nrm * vb.nrm), 4) AS sim
         |  FROM cand c1
         |  JOIN cand c2 ON c1.query_id = c2.query_id AND c1.cand_id <> c2.cand_id
         |  JOIN n va ON va.vec_id = c1.cand_id
         |  JOIN n vb ON vb.vec_id = c2.cand_id
         |), selall0 AS (
         |  SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS cand_id,
         |    CAST(NULL AS DOUBLE) AS rel, CAST(NULL AS DOUBLE) AS score,
         |    CAST(NULL AS BIGINT) AS rk WHERE 1 = 0)
         |$steps
         |SELECT query_id, rk, cand_id, rel, score FROM selall$K
         |ORDER BY query_id, rk""".stripMargin
  }

  override def oracle: Map[String, String] = Map(
    "q_knn_mmr" -> mmrSql,
    "q_sim_pagerank" -> pagerankSql,
    "q_sim_triangles" -> trianglesSql,
    "q_sim_kcore" -> kcoreSql,
    "q_sim_lpa" -> lpaSql,
    "q_dedup_representatives" -> representativesSql,
    "q_sim_kmeans" -> kmeansSql,
    "q_sim_balanced_sample" -> balancedSampleSql,
    "q_sim_rproj" -> rprojSql,
    "q_sim_semdedup" -> semdedupSql,
    // the base-subset-trained IVF cell block (the q_knn_index_incremental
    // pinned-quantizer convention), then both admission legs as THRESHOLD
    // scans over probe-vs-assigned cell joins — delta against the corpus,
    // delta against smaller-id delta — no window anywhere
    "q_sim_semdedup_incremental" -> (normCte + ", " +
      ivfCellCtes("vec_id % 10 <> 7") +
      s""", bcell AS (SELECT vec_id, cell FROM ia1 WHERE rk = 1 AND vec_id % 10 <> 7
         |), dcell AS (SELECT vec_id, cell FROM ia1 WHERE rk = 1 AND vec_id % 10 = 7
         |), dprobe AS (SELECT vec_id, cell FROM ia1 WHERE rk <= 4 AND vec_id % 10 = 7
         |), bhits AS (
         |  SELECT d.vec_id, COUNT(*) AS n
         |  FROM dprobe d JOIN bcell b ON b.cell = d.cell
         |  JOIN n na ON na.vec_id = d.vec_id
         |  JOIN n nb ON nb.vec_id = b.vec_id
         |  WHERE ROUND(list_sum(list_transform(range(1, 65),
         |      i -> na.v[i] * nb.v[i])) / (na.nrm * nb.nrm), 4) >= $Threshold
         |  GROUP BY d.vec_id
         |), dhits AS (
         |  SELECT a.vec_id, COUNT(*) AS n
         |  FROM dprobe a JOIN dcell b ON b.cell = a.cell AND b.vec_id < a.vec_id
         |  JOIN n na ON na.vec_id = a.vec_id
         |  JOIN n nb ON nb.vec_id = b.vec_id
         |  WHERE ROUND(list_sum(list_transform(range(1, 65),
         |      i -> na.v[i] * nb.v[i])) / (na.nrm * nb.nrm), 4) >= $Threshold
         |  GROUP BY a.vec_id)
         |SELECT d.vec_id, d.cell,
         |  bh.n IS NULL AND dh.n IS NULL AS keep,
         |  COALESCE(bh.n, 0) AS n_dups_base,
         |  COALESCE(dh.n, 0) AS n_dups_delta
         |FROM dcell d
         |LEFT JOIN bhits bh ON bh.vec_id = d.vec_id
         |LEFT JOIN dhits dh ON dh.vec_id = d.vec_id
         |ORDER BY d.vec_id""".stripMargin),
    "q_sim_clusters" -> simClustersSql,
    "q_sim_clusters_incremental" -> incrementalClustersSql,
    "q_knn_brute" -> (normCte +
      s""", scored AS (
         |  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    ROUND($dotSql / (a.nrm * q.nrm), 4) AS cos
         |  FROM n a, n q
         |  WHERE q.vec_id % 100 = 0 AND a.vec_id <> q.vec_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM scored)
         |SELECT query_id, rk, neighbor_id, cos FROM ranked
         |WHERE rk <= $K ORDER BY query_id, rk""".stripMargin),
    // independent rebuild: the perturbed probe set (DuckDB's index
    // lambda is 1-based — i%2=1 keeps where Spark's 0-based i%2==0
    // keeps), the probes' own IVF cell ranking against the verified
    // icents, then the 0.8 threshold as a scan predicate — no window
    // at all (threshold, not top-k)
    "q_knn_decontaminate" -> (normCte + ", " + ivfCellCtes() +
      s""", pr AS (
         |  SELECT vec_id + 1000000 AS vec_id,
         |    list_transform(embedding, (x, i) ->
         |      CAST(CAST(x AS DOUBLE) *
         |        (CASE WHEN i % 2 = 1 THEN 1.0 ELSE 0.99 END) AS FLOAT))
         |      AS embedding
         |  FROM embeddings WHERE vec_id % 100 = 0
         |), pe AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
         |    AS v FROM pr
         |), pn AS (
         |  SELECT vec_id, v,
         |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
         |  FROM pe
         |), pp AS (
         |  SELECT p.vec_id, c.cell,
         |    ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${distSql("p.v", "c.cv")}, c.cell) AS rk
         |  FROM pn p CROSS JOIN icents c
         |), pcells AS (SELECT vec_id, cell FROM pp WHERE rk <= 4
         |), cand AS (
         |  SELECT pc.vec_id AS probe_id, e.vec_id AS corpus_id
         |  FROM pcells pc JOIN ecell e
         |    ON e.cell = pc.cell AND e.vec_id <> pc.vec_id
         |), scored AS (
         |  SELECT c.probe_id, c.corpus_id,
         |    ROUND($dotSql / (a.nrm * q.nrm), 4) AS cos
         |  FROM cand c JOIN n a ON a.vec_id = c.corpus_id
         |    JOIN pn q ON q.vec_id = c.probe_id)
         |SELECT probe_id, corpus_id, cos FROM scored
         |WHERE cos >= 0.8 ORDER BY probe_id, corpus_id""".stripMargin),
    // the verified IVF cell block + the cross-label filter BEFORE the
    // ranking window — the hardest negatives in the probed region
    "q_knn_hard_negatives" -> (normCte + ", " + ivfCellCtes() +
      s""", lab AS (SELECT vec_id, label FROM embeddings
         |), cand AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
         |  FROM qprobe q JOIN ecell e ON e.cell = q.cell AND e.vec_id <> q.vec_id
         |), scored AS (
         |  SELECT c.query_id, ql.label AS query_label, c.neighbor_id,
         |    nl.label AS neighbor_label,
         |    ROUND($dotSql / (a.nrm * q.nrm), 4) AS cos
         |  FROM cand c JOIN n a ON a.vec_id = c.neighbor_id
         |    JOIN n q ON q.vec_id = c.query_id
         |    JOIN lab ql ON ql.vec_id = c.query_id
         |    JOIN lab nl ON nl.vec_id = c.neighbor_id
         |  WHERE nl.label <> ql.label
         |), ranked AS (
         |  SELECT query_id, query_label, neighbor_id, neighbor_label, cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM scored)
         |SELECT query_id, query_label, rk, neighbor_id, neighbor_label, cos
         |FROM ranked WHERE rk <= $K ORDER BY query_id, rk""".stripMargin),
    "q_knn_lsh" -> knnLshSql,
    "q_knn_ivf" -> knnIvfSql,
    "q_knn_recall" -> knnRecallSql,
    "q_knn_mips" -> knnMipsSql,
    "q_knn_tuning" -> knnTuningSql,
    "q_knn_tuning_pq" -> knnTuningPqSql,
    "q_knn_pq" -> knnPqSql,
    "q_knn_ivfpq" -> knnIvfPqSql(),
    // the persisted-index round trip must reproduce the in-memory
    // composition bit-for-bit, so it shares its mirror
    "q_knn_ivfpq_index" -> knnIvfPqSql(),
    // same mirror with the k-means/PQ TRAINING restricted to the base
    // 90% — encode/probe still cover all vectors: the pinned-quantizer
    // upsert contract
    "q_knn_index_incremental" -> knnIvfPqSql("vec_id % 10 <> 0"),
    // the replacement face: train on the ORIGINAL corpus (the save()),
    // encode/probe/re-rank the post-replacement one (the upsert) — a
    // stale pre-replacement row surviving in its old cell hash-fails
    "q_knn_index_upsert_replace" -> knnIvfPqSql(
      encodeRel = "n2", encodeSub = "sub2", extraCtes = replacedCtes),
    "q_sim_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale
        |  FROM e
        |), c AS (
        |  SELECT vec_id, scale, v,
        |    list_transform(v, x -> CASE WHEN scale = 0 THEN 0
        |      ELSE CAST(ROUND(x / scale * 127.0) AS INT) END) AS codes
        |  FROM q
        |), r AS (
        |  SELECT vec_id, scale, codes,
        |    list_max(list_transform(range(1, len(v) + 1), i ->
        |      abs(v[CAST(i AS INT)]
        |        - CAST(codes[CAST(i AS INT)] AS DOUBLE) * scale / 127.0))) AS err
        |  FROM c)
        |SELECT vec_id, ROUND(scale, 9) AS scale,
        |  CAST(len(codes) AS INT) AS n_dims,
        |  md5(array_to_string(codes, ',')) AS codes_fp,
        |  ROUND(err, 9) AS max_err
        |FROM r ORDER BY vec_id""".stripMargin,
    "q_sim_cosine_pairs" -> cosinePairsSql(Threshold),
    "q_sim_label_centroids" ->
      """WITH dims AS (
        |  SELECT label, unnest(generate_series(0, len(embedding) - 1)) AS dim,
        |         unnest(embedding) AS x
        |  FROM embeddings
        |), centroid AS (
        |  SELECT label, dim, COUNT(*) AS n,
        |    ROUND(AVG(CAST(x AS DOUBLE)), 6) AS mean_x
        |  FROM dims GROUP BY label, dim)
        |SELECT label, COUNT(*) AS n_dims,
        |  ROUND(CAST(SUM(mean_x * mean_x) AS DOUBLE), 6) AS sq_norm
        |FROM centroid GROUP BY label ORDER BY label""".stripMargin)
}
