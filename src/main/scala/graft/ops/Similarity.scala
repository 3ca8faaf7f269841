package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search: exact baselines and four approximate
  * (ANN) paths over (vec_id, embedding) frames.
  *
  *  - Exact: [[bruteForceTopK]] (cosine) and [[mipsTopK]] (inner
  *    product), O(Q·N) against a broadcast query set — the baseline every
  *    ANN path's recall is measured against.
  *  - LSH: multi-table random-hyperplane signatures ([[lshTopK]],
  *    [[cosinePairsBucketed]], [[cosinePairsAdaptive]]); candidates are
  *    an equi-join on (table, bucket), so all-pairs becomes per-bucket
  *    work. Hyperplanes are md5-derived constants, so any engine (or the
  *    DuckDB oracle) rebuilds them bit-for-bit.
  *  - IVF: a deterministic coarse quantizer ([[ivfCentroids]]) routes
  *    each vector to one cell and a query scans its nProbe nearest cells
  *    ([[ivfTopK]], [[hardNegatives]], [[embeddingDecontaminate]],
  *    [[ivfRecallSweep]]); k-means and SemDeDup share its Lloyd trainer.
  *  - PQ: per-subspace codebooks compress each vector to byte codes,
  *    scored with per-query ADC lookup tables, then an exact-cosine
  *    refine ([[pqTopK]], [[pqRefineSweep]]).
  *  - IVF-PQ: cells for routing, PQ codes within them ([[ivfPqTopK]]);
  *    its build and query halves also back the persisted [[AnnIndex]].
  *
  * Every path calls one copy of each kernel: the squared-L2 centroid
  * argmin [[nearestCellDist]] and probe order [[nearestCells]] (ties to
  * the lower cell), the PQ encoder [[pqEncode]], the ADC gather
  * [[adcDist]], the rounded cosine column [[roundedCos]] and the
  * per-query `row_number` top-k [[topKPerQuery]]. Cosine math runs as
  * codegen'd array expressions; the quantizer kernels run in UDFs built
  * by one constructor each ([[assignU]], [[probesU]], [[pqEncodeU]]).
  */
object Similarity {

  /** Float array → double array (all cosine math in double). */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** L2 norm of a double array (left-to-right fold — portable order).
    * Native codegen'd expression; Spark's `aggregate`/`zip_with` HOFs are
    * CodegenFallback (interpreted per element), which dominated the
    * pair-verification inner loops. Same arithmetic, same bits. */
  def norm(v: Column): Column = graft.functions.GraftFunctions.norm(v)

  /** Dot product of two double arrays (left-to-right fold). */
  def dot(a: Column, b: Column): Column = graft.functions.GraftFunctions.dot(a, b)

  /** Project (id, vec float array) → (id, v double array, norm). */
  def withNorm(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))

  /** Deterministic hyperplane weights: plane p, dim d →
    * (h32("p<p>_<d>") mod 2001 − 1000) / 1000 ∈ [−1, 1].
    * Same md5 derivation as Dedup.h32, computed driver-side (constants). */
  def planeWeights(numPlanes: Int, dims: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(numPlanes, dims) { (p, d) =>
      val hex = md.digest(s"p${p}_$d".getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L) / 1000.0
    }
  }

  /** Per-(table, plane) hyperplane weights, seeded independently of the
    * planes-per-table setting: dim d of plane p in table t derives from
    * md5("t<t>_p<p>_<d>"). Independence is what makes the ADAPTIVE pair
    * generator oracle-able: the bucket depth b can grow with the corpus
    * without shifting any other table's planes (the flat array above,
    * sliced by b, would re-seed everything whenever b changes). */
  def planeWeightsTP(t: Int, p: Int, dims: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dims) { d =>
      val hex = md.digest(s"t${t}_p${p}_$d".getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L) / 1000.0
    }
  }

  /** Corpus-adaptive bucket depth: the smallest b ≥ minPlanes with
    * targetOccupancy · 2^b ≥ n (= ⌈log₂(n/targetOccupancy)⌉ clamped).
    * Expected bucket occupancy stays ≤ targetOccupancy as the corpus
    * grows, so per-table candidate pairs stay ~linear in n — a CONSTANT
    * b means occupancy Θ(n) and quadratic candidates at 100× scale.
    * Pure integer arithmetic: no float log, so any engine agrees at the
    * power-of-two boundaries. */
  def adaptivePlanes(n: Long, targetOccupancy: Int = 64,
      minPlanes: Int = 4, maxPlanes: Int = 24): Int = {
    var b = minPlanes
    while (b < maxPlanes && (targetOccupancy.toLong << b) < n) b += 1
    b
  }

  /** Tables needed for pair recall ≥ targetRecall at `threshold` with
    * b-plane buckets: ⌈ln(1−R)/ln(1−p^b)⌉ with p = 1 − acos(s)/π — the
    * recall-compensation knob that pairs with `adaptivePlanes` (deeper
    * buckets lower per-table collision probability; more tables buy it
    * back; total candidate work stays ~T(b)·n·occupancy). */
  def adaptiveTables(threshold: Double, planes: Int,
      targetRecall: Double = 0.99, maxTables: Int = 512): Int = {
    val t = adaptiveTablesUnclamped(threshold, planes, targetRecall)
    val clamped = math.min(maxTables, math.max(1, t))
    if (clamped < t) {
      val achieved = achievedRecall(threshold, planes, clamped)
      log.warn(f"adaptiveTables clamped $t -> $clamped tables at " +
        f"threshold=$threshold%.3f b=$planes: achieved pair recall " +
        f"$achieved%.4f < target $targetRecall%.2f — raise maxTables, " +
        "lower b, or accept the degraded recall explicitly")
    }
    clamped
  }

  private lazy val log = org.apache.log4j.Logger.getLogger(getClass)

  private def adaptiveTablesUnclamped(threshold: Double, planes: Int,
      targetRecall: Double): Int = {
    val p = 1.0 - math.acos(threshold) / math.Pi
    math.ceil(math.log(1.0 - targetRecall) /
      math.log(1.0 - math.pow(p, planes))).toInt
  }

  /** Pair recall actually delivered by T tables of b-plane buckets at
    * `threshold`: 1 − (1 − p^b)^T with p = 1 − acos(s)/π. Exposed so
    * callers (and AdaptiveLshSpec) can DETECT a degraded operating point
    * instead of trusting the ≥targetRecall contract after the maxTables
    * clamp — at deep b × low threshold the unclamped T explodes and the
    * clamp silently costs tens of recall points. */
  def achievedRecall(threshold: Double, planes: Int, tables: Int): Double = {
    val p = 1.0 - math.acos(threshold) / math.Pi
    1.0 - math.pow(1.0 - math.pow(p, planes), tables)
  }

  /** Random-hyperplane signature: bit p of the result = 1 iff
    * dot(v, plane_p) > 0. Buckets cosine-similar vectors together. */
  def rhpBucket(v: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (w, p) =>
      val planeCol = array(w.toIndexedSeq.map(lit): _*)
      when(dot(v, planeCol) > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Exact top-k neighbors of each query vector by cosine (descending,
    * vec_id tiebreak), self-matches excluded. `cosRound` decimal places
    * are applied BEFORE ranking so results are rank-stable across engines. */
  def bruteForceTopK(emb: DataFrame, queries: DataFrame, k: Int,
      cosRound: Int = 4): DataFrame = {
    val e = withNorm(emb, "vec_id", "embedding")
    val q = withNorm(queries, "vec_id", "embedding")
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    neighborsByCos(e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", roundedCos("v", "qv", "nrm", "qn", cosRound)), k)
  }

  /** The rounded cosine `round(dot(a, b) / (na · nb), scale)` of two
    * double-array columns and their norms — the one score every exact
    * and approximate cosine path ranks or thresholds by. */
  private[ops] def roundedCos(a: String, b: String, na: String, nb: String,
      scale: Int = 4): Column =
    round(dot(col(a), col(b)) / (col(na) * col(nb)), scale)

  /** Each query's best `k` rows of `scored`: `rank` = row_number over
    * `by` (the query id, after any extra keys) ordered by `order`, kept
    * where `rank <= k`. The per-query tail of every ranked ANN path. */
  private def topKPerQuery(scored: DataFrame, k: Int, order: Seq[Column],
      rank: String = "rk", by: Seq[String] = Seq("query_id")): DataFrame =
    scored
      .withColumn(rank, row_number().over(
        Window.partitionBy(by.map(col): _*).orderBy(order: _*)))
      .filter(col(rank) <= k)

  /** The cosine top-k tail of the exact, LSH and IVF paths: (cos DESC,
    * vec_id) per query → (query_id, rk, neighbor_id, cos). */
  private def neighborsByCos(scored: DataFrame, k: Int): DataFrame =
    topKPerQuery(scored, k, Seq(col("cos").desc, col("vec_id")))
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"),
        col("cos"))

  /** Exact max-inner-product top-k (brute) — the MIPS oracle surface.
    * Inner product, unlike cosine, rewards magnitude (the
    * recommendation/reward-model retrieval metric: score = u·v, not
    * angle), so it gets its own ranking: round-4 ip, descending, vec_id
    * tiebreak, self-matches excluded. */
  def mipsTopK(emb: DataFrame, queries: DataFrame, k: Int,
      ipRound: Int = 4): DataFrame = {
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = queries.select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("qv"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("ip", round(dot(col("v"), col("qv")), ipRound))
    topKPerQuery(scored, k, Seq(col("ip").desc, col("vec_id")))
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"),
        col("ip"))
  }

  /** MIPS → cosine reduction (the Bachrach et al. 2014 norm
    * augmentation), probed with the SAME IVF machinery, reported as
    * recall@k against the exact brute MIPS: corpus vector x becomes
    * [x ; √(M²−‖x‖²)] (M = max corpus norm — every augmented vector has
    * norm exactly M), query q becomes [q ; 0], so cos(u(x), u(q)) =
    * (x·q)/(M‖q‖) — COSINE ranking of augmented vectors IS inner-product
    * ranking, and the whole existing ANN stack (cells, probes, persisted
    * indexes) applies to MIPS unchanged. Augmented coordinates are
    * float-rounded (the fixture embedding convention) so the mirror
    * rebuilds them in single precision; M travels as one driver-side
    * scalar (the centroid-matrix convention), recomputed by the mirror
    * from its own MAX(norm). Scale: one norm pass + the IVF path —
    * candidates/query ≈ N·nProbe/cells, never N². */
  def mipsRecall(emb: DataFrame, queries: DataFrame, k: Int,
      numCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val brute = mipsTopK(emb, queries, k)
      .select(col("query_id"), col("neighbor_id"))
    val e = withNorm(emb, "vec_id", "embedding")
    val m = e.agg(max(col("nrm"))).collect()(0).getDouble(0)
    val augE = e.select(col("vec_id"),
      transform(concat(col("v"),
        array(sqrt(lit(m) * lit(m) - col("nrm") * col("nrm")))),
        x => x.cast("float")).as("embedding"))
    val augQ = withNorm(queries, "vec_id", "embedding")
      .select(col("vec_id"),
        transform(concat(col("v"), array(lit(0.0))),
          x => x.cast("float")).as("embedding"))
    val ivf = ivfTopK(augE, augQ, k, numCells, nProbe)
      .select(col("query_id"), col("neighbor_id"))
    val hits = ivf.join(brute, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    queries.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / lit(k.toDouble), 4)
          .as("recall_at_k"))
  }

  /** Maximal-marginal-relevance diversified top-k: greedily picks k of
    * the `candK` most relevant candidates, each step maximizing
    * λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) (ties → smaller id) — the
    * standard RAG-retrieval diversification that stops near-duplicate
    * chunks from crowding out coverage.
    *
    * Shape at scale: the candidate set per query is a CONSTANT candK
    * (here from exact top-k; swap in `ivfPqTopK` for the ANN leg at
    * corpus scale), so the pair-sim frame is candK² rows per query and
    * every join/window below is keyed by query_id — queries process in
    * parallel, and the greedy loop is k fixed dataframe steps with
    * checkpointed lineage (same pattern as [[graft.ops.Graph.pageRank]]).
    * All scores are 6-rounded doubles over 4-rounded cosines; the
    * mirror replays the identical k steps as unrolled CTEs, including
    * the `1−λ` double literal verbatim. */
  def mmrTopK(emb: DataFrame, queries: DataFrame, k: Int, candK: Int,
      lambda: Double, cosRound: Int = 4): DataFrame = {
    val cands = Checkpoints.stage(
      bruteForceTopK(emb, queries, candK, cosRound)
        .select(col("query_id"), col("neighbor_id").as("cand_id"),
          col("cos").as("rel")),
      eager = true)
    val e = withNorm(emb, "vec_id", "embedding")
    val va = e.select(col("vec_id").as("a_id"), col("v").as("av"),
      col("nrm").as("an"))
    val vb = e.select(col("vec_id").as("b_id"), col("v").as("bv"),
      col("nrm").as("bn"))
    val psim = Checkpoints.stage(
      cands.select(col("query_id"), col("cand_id").as("a_id"))
        .join(cands.select(col("query_id"), col("cand_id").as("b_id")),
          Seq("query_id"))
        .filter(col("a_id") =!= col("b_id"))
        .join(va, "a_id").join(vb, "b_id")
        .select(col("query_id"), col("a_id"), col("b_id"),
          roundedCos("av", "bv", "an", "bn", cosRound).as("sim")),
      eager = true)
    val empty = cands
      .select(col("query_id"), col("cand_id"), col("rel"),
        lit(0.0).as("score"), lit(0L).as("rk"))
      .limit(0)
    val selected = (1 to k).foldLeft(empty) { (sel, j) =>
      val ms = psim
        .join(sel.select(col("query_id"), col("cand_id").as("b_id")),
          Seq("query_id", "b_id"))
        .groupBy(col("query_id"), col("a_id")).agg(max(col("sim")).as("ms"))
        .withColumnRenamed("a_id", "cand_id")
      val scored = cands
        .join(sel.select(col("query_id"), col("cand_id")),
          Seq("query_id", "cand_id"), "left_anti")
        .join(ms, Seq("query_id", "cand_id"), "left")
        .withColumn("score",
          round(lit(lambda) * col("rel") -
            lit(1 - lambda) * coalesce(col("ms"), lit(0.0)), 6))
      val pick = topKPerQuery(scored, 1, Seq(col("score").desc, col("cand_id")),
          "rn")
        .select(col("query_id"), col("cand_id"), col("rel"), col("score"),
          lit(j.toLong).as("rk"))
      val next = Checkpoints.stage(sel.unionByName(pick), eager = true)
      // the eager restage has materialized; the predecessor selection
      // frame is dead — free its blocks now rather than letting k dead
      // frames pile up until the periodic cleaner (the CC/PageRank loop
      // convention). NEVER on step 1: `empty` is a projection of the
      // shared `cands` stage, which every later step's scoring join
      // still reads — releasing through it would free live blocks
      // (exactly the composite-frame hazard release() now rejects;
      // `empty` is single-LogicalRDD so the guard alone can't see it).
      if (sel ne empty) Checkpoints.release(sel)
      next
    }
    // the final selection was staged eagerly, so the per-call candidate
    // and pair-sim stages are dead the moment the fold returns — unless
    // k == 0 left `selected` as the empty projection OVER cands
    if (k >= 1) { Checkpoints.release(cands); Checkpoints.release(psim) }
    selected.select(col("query_id"), col("rk"), col("cand_id"), col("rel"),
      col("score"))
  }

  /** Explode a normed frame into one row per (table, bucket): the
    * multi-table RHP signature used by both `lshTopK` and
    * `cosinePairsBucketed`. All T bucket values come from ONE loop-based
    * [[graft.functions.RhpSignature]] kernel call (posexplode position =
    * table index) rather than T×b separate `when(dot…)` expressions —
    * the adaptive path's T reaches the hundreds, and the inlined-dot
    * formulation overflowed janino's 64 KB method limit there, silently
    * dropping candidate generation out of whole-stage codegen (caught by
    * the ladder run's CodeGenerator errors; same buckets bit-for-bit). */
  private def tableBucketsWith(df: DataFrame, numTables: Int,
      planesPerTable: Int, weights: (Int, Int) => Array[Double]): DataFrame = {
    val flat = Array.tabulate(numTables * planesPerTable)(i =>
      weights(i / planesPerTable, i % planesPerTable))
    val sig = graft.functions.GraftFunctions
      .rhpSignature(col("v"), flat, planesPerTable)
    df.select(col("*"), posexplode(sig).as(Seq("table", "bucket")))
  }

  private def tableBuckets(df: DataFrame, numTables: Int,
      planesPerTable: Int, dims: Int): DataFrame = {
    val allPlanes = planeWeights(numTables * planesPerTable, dims)
    tableBucketsWith(df, numTables, planesPerTable,
      (t, p) => allPlanes(t * planesPerTable + p))
  }

  /** LSH-bucketed approximate top-k: multi-table random-hyperplane hashing
    * (`numTables` tables × `planesPerTable` bits — single-table signatures
    * are far too selective when neighbors sit at wide angles). A vector is
    * a candidate for a query iff they share a bucket in ANY table; the
    * candidate union is deduped, then ranked exactly like brute force.
    * Recall/selectivity trade-off is (1-(1-p^b)^T with p = 1-θ/π.
    * The bucket join key is (table, bucket) — at scale this is one shuffle
    * of T×N rows instead of the N×Q cross product. */
  def lshTopK(emb: DataFrame, queries: DataFrame, k: Int,
      numTables: Int = 8, planesPerTable: Int = 4, dims: Int = 64): DataFrame = {
    val e = tableBuckets(withNorm(emb, "vec_id", "embedding"),
      numTables, planesPerTable, dims)
    val q = tableBuckets(withNorm(queries, "vec_id", "embedding"),
      numTables, planesPerTable, dims)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("table"), col("bucket"))
    val candidates = e.join(broadcast(q), Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("v"), col("nrm"),
        col("qv"), col("qn"))
      .dropDuplicates("query_id", "vec_id")
    neighborsByCos(
      candidates.withColumn("cos", roundedCos("v", "qv", "nrm", "qn")), k)
  }

  /** Squared L2 distance from `v` to centroid `cv`, summed in
    * dimension order (the float coordinates widen to double). */
  private def centroidD2(cv: Array[Double], v: Seq[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < cv.length) { val x = v(i) - cv(i); d += x * x; i += 1 }
    d
  }

  /** The cells nearest to `v` by [[centroidD2]], the first `nProbe` of
    * them, distance ties to the lower cell (a stable sort): the probe set
    * of every IVF path and of its DuckDB mirrors' `ORDER BY dist, cell`.
    * Its head is [[nearestCell]], so a vector's own cell is its query's
    * first probe. */
  private[ops] def nearestCells(cs: Array[Array[Double]], nProbe: Int)
      (v: Seq[Float]): Array[Int] =
    cs.zipWithIndex.map { case (cv, c) => (c, centroidD2(cv, v)) }
      .sortBy(_._2).take(nProbe).map(_._1)

  /** The nearest centroid to `v` and its squared distance, ties to the
    * lower cell: the assignment of every coarse quantizer (IVF cells,
    * Lloyd steps, k-means, SemDeDup, the index drift distance). */
  private[ops] def nearestCellDist(cs: Array[Array[Double]])
      (v: Seq[Float]): (Int, Double) = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cs.length) {
      val d = centroidD2(cs(c), v)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    (best, bestD)
  }

  private[ops] def nearestCell(cs: Array[Array[Double]])(v: Seq[Float]): Int =
    nearestCellDist(cs)(v)._1

  /** UDF: a float vector's cell under `cs` ([[nearestCell]]). */
  private[ops] def assignU(cs: Array[Array[Double]]) =
    udf((v: Seq[Float]) => nearestCell(cs)(v))

  /** UDF: a float vector's (cell, squared distance) as a struct
    * (`_1`, `_2`) ([[nearestCellDist]]). */
  private[ops] def assignDistU(cs: Array[Array[Double]]) =
    udf((v: Seq[Float]) => nearestCellDist(cs)(v))

  /** UDF: a float vector's `nProbe` probe cells ([[nearestCells]]). */
  private[ops] def probesU(cs: Array[Array[Double]], nProbe: Int) =
    udf((v: Seq[Float]) => nearestCells(cs, nProbe)(v))

  /** (id, v, nrm) of [[withNorm]] plus each vector's `cell` under `cs`:
    * the assigned (corpus) side of every IVF candidate join. */
  private[ops] def withNormCell(df: DataFrame,
      cs: Array[Array[Double]]): DataFrame =
    withNorm(df, "vec_id", "embedding")
      .withColumn("cell", assignU(cs)(col("v").cast("array<float>")))

  /** Deterministic coarse quantizer shared by ivfTopK and ivfPqTopK:
    * seeds = first `numCells` vectors by id, then ONE Lloyd iteration
    * whose means are exact decimal sums divided by counts —
    * order-independent, so the centroids (and every argmin computed from
    * them) are bit-identical across partitionings, runs, and engines
    * (the DuckDB mirror). Centroids are metadata-scale (C×dims doubles)
    * and legitimately live on the driver. */
  private[ops] def ivfCentroids(emb: DataFrame, numCells: Int): Array[Array[Double]] =
    lloydCentroids(emb, numCells, iters = 1)

  /** First-`k`-by-id seed vectors as doubles — ONE TakeOrdered collect,
    * shared by the IVF and PQ trainers when a caller (AnnIndex.save)
    * needs both: the two standalone trainers each collected the same
    * first-16 rows, paying the seed job twice per index build. */
  private[graft] def seedVectors(emb: DataFrame, k: Int): Array[Array[Double]] =
    emb.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(k)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)

  /** `iters` exact-decimal Lloyd iterations from first-`k`-by-id seeds.
    * A cell that loses all members keeps its PREVIOUS centroid (the
    * COALESCE in the mirror SQL). Each iteration is one distributed
    * assign + one (cell, dim) mean aggregation; only the k×dims centroid
    * matrix ever reaches the driver. */
  private[graft] def lloydCentroids(emb: DataFrame, k: Int,
      iters: Int): Array[Array[Double]] =
    lloydCentroidsFrom(emb, seedVectors(emb, k), k, iters)

  /** Lloyd refinement from PRE-COLLECTED seeds (see [[seedVectors]]). */
  private[graft] def lloydCentroidsFrom(emb: DataFrame,
      seeds: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    (1 to iters).foldLeft(seeds) { (cents, _) =>
      val assign = assignU(cents)
      // UDF evaluated BELOW the generator (localCheckpoint would be
      // overkill; the distinct Dataset boundary keeps the projection from
      // collapsing into the Generate) — in one projection with posexplode
      // the assignment re-runs once per EXPLODED row, a silent 64× blowup
      val assigned = emb
        .select(assign(col("embedding")).as("cell"), col("embedding"))
      val refined = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg((sum(col("x").cast("double").cast("decimal(28,12)")).cast("double") /
          count(lit(1))).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
        }
      (0 until k).map(c => refined.getOrElse(c, cents(c))).toArray
    }
  }

  /** Full k-means clustering report: per-vector cluster assignment and
    * squared distance after `iters` deterministic Lloyd iterations.
    * Same argmin convention as IVF (ties to the lower cell); d2 summed
    * in dimension order on both engines, rounded to 6 for the compare.
    * Scale: the assignment is a scan-side projection against a
    * broadcast k×dims matrix — no shuffle at all in the final pass. */
  def kMeans(emb: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val cents = lloydCentroids(emb, k, iters)
    emb.select(col("vec_id"), assignDistU(cents)(col("embedding")).as("a"))
      .select(col("vec_id"), col("a._1").as("cluster"),
        round(col("a._2"), 6).as("d2"))
  }

  /** Deterministic ±1 Johnson-Lindenstrauss signs: output dim j, input
    * dim d → sign from the parity of md5("rp<j>_<d>")'s first 32 bits —
    * the same md5-constant derivation as the LSH hyperplanes, computed
    * driver-side (k·dims ints, metadata-scale). */
  def rpSigns(k: Int, dims: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(k, dims) { (j, d) =>
      val hex = md.digest(s"rp${j}_$d".getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
    }
  }

  /** Johnson-Lindenstrauss random projection 64 → k dims (±1 signs,
    * scaled 1/√k) — the cheap dimensionality-reduction step before an
    * ANN index or pairwise sweep when the full embedding width is the
    * cost driver. Pure per-row projection (k codegen'd dot products
    * against literal sign vectors — no shuffle, no UDF); deterministic,
    * so the mirror recomputes every output with the sign literals
    * inlined losslessly (they are ±1 by construction — the
    * planeWeights exact-literal convention). k must keep √k exact in
    * double (the default 16 → /4.0) so both engines divide by the
    * identical constant. */
  def randomProject(emb: DataFrame, k: Int = 16): DataFrame = {
    val dims = 64
    require(math.sqrt(k) == math.floor(math.sqrt(k)),
      s"k=$k: use a perfect square so the 1/sqrt(k) scale is exact")
    val signs = rpSigns(k, dims)
    val v = asDouble(col("embedding"))
    val cols = (0 until k).map { j =>
      round(dot(v, typedLit(signs(j).toSeq)) / math.sqrt(k), 6).as(s"p$j")
    }
    emb.select(col("vec_id") +: cols: _*)
  }

  /** Cluster-balanced selection — the diversity-preserving pruning step
    * of a training-data pipeline (the shape of cluster-based data
    * selection à la SemDeDup/D4: embed, cluster, take a per-cluster
    * budget so no dense region dominates the kept set). K-means cells
    * from the deterministic exact-decimal Lloyd path; within each cell
    * a uniform A-Res draw (the ln(u) key from the portable md5 hash —
    * the same key family as CorpusFilters.weightedSample, weight 1)
    * keeps the top `quota`.
    *
    * Scale shape: the per-cell top-quota NEVER windows a raw cell —
    * cells are corpus-scale (k is small) and a bare
    * Window.partitionBy(cluster) would funnel each cell into one task.
    * Instead a salted pre-prune (per-(cell, salt) row_number, bounded
    * output quota·preSalts per cell) feeds the final per-cell window,
    * which therefore sees at most quota·preSalts rows per cell — the
    * KeywordSearch discipline (global windows only over top-k-limited
    * frames) applied per group. Correct because every member of a
    * cell's true top-quota is also in its own salt-slice's top-quota. */
  def clusterBalancedSample(emb: DataFrame, k: Int = 8, iters: Int = 3,
      quota: Int = 20, preSalts: Int = 16): DataFrame = {
    val asg = kMeans(emb, k, iters)
    val hv = conv(substring(md5(col("vec_id").cast("string").cast("binary")),
      1, 15), 16, 10).cast("long") + lit(1L)
    val u = hv.cast("double") / lit(1152921504606846976.0) // 2^60, exact
    val keyed = asg.withColumn("skey",
        round(org.apache.spark.sql.functions.log(u), 9))
      .withColumn("salt", pmod(col("vec_id"), lit(preSalts)))
    val wPre = Window.partitionBy(col("cluster"), col("salt"))
      .orderBy(col("skey").desc, col("vec_id"))
    val pre = keyed.withColumn("prn", row_number().over(wPre))
      .filter(col("prn") <= quota)
    val wFin = Window.partitionBy(col("cluster"))
      .orderBy(col("skey").desc, col("vec_id"))
    pre.withColumn("rk", row_number().over(wFin).cast("long"))
      .filter(col("rk") <= quota)
      .select(col("vec_id"), col("cluster"), col("rk"), col("skey"))
  }

  /** IVF-style approximate top-k: a coarse quantizer (deterministic
    * one-iteration Lloyd refinement of the first `numCells` vectors as
    * seeds) buckets vectors into inverted cells; a query scans only its
    * `nProbe` nearest cells. The scan side never shuffles — candidates
    * come from an equi-join on the cell id.
    * Scale: candidates/query ≈ N·nProbe/C, tunable independently of N. */
  def ivfTopK(emb: DataFrame, queries: DataFrame, k: Int,
      numCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val centroids = ivfCentroids(emb, numCells)
    val e = withNormCell(emb, centroids)
    val q = withNorm(queries, "vec_id", "embedding")
      .withColumn("cell",
        explode(probesU(centroids, nProbe)(col("v").cast("array<float>"))))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell"))
    neighborsByCos(e.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", roundedCos("v", "qv", "nrm", "qn")), k)
  }

  /** Hard-negative mining for contrastive training (the batch-mining
    * step of triplet/InfoNCE pipelines — Schroff et al. CVPR'15 calls
    * these "semi-hard" when bounded by the positive margin; here we mine
    * the top-k hardest cross-label candidates outright): per query, the
    * `k` most similar vectors whose LABEL DIFFERS from the query's —
    * near-duplicates of the anchor that the loss must learn to push
    * away. Same IVF probe machinery as [[ivfTopK]] (a coarse quantizer
    * buckets the corpus; the query scans its nProbe nearest cells), with
    * the label carried through the candidate join and the cross-label
    * filter applied BEFORE the per-query top-k window, so the mined
    * negatives are the hardest in the probed region, not post-filtered
    * leftovers of an unlabeled top-k.
    *
    * Scale shape: identical to ivfTopK — candidates/query ≈ N·nProbe/C
    * via one equi-join on the cell id (the corpus side never shuffles);
    * labels ride the scan projection; per-query windows are
    * candidate-bounded. Output: (query_id, query_label, rk, neighbor_id,
    * neighbor_label, cos). */
  def hardNegatives(emb: DataFrame, queries: DataFrame, k: Int,
      labelCol: String = "label", numCells: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val centroids = ivfCentroids(emb, numCells)
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"),
      col(labelCol).as("neighbor_label"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("cell", assignU(centroids)(col("v").cast("array<float>")))
    val q = queries.select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("qv"), col(labelCol).as("query_label"))
      .withColumn("qn", norm(col("qv")))
      .withColumn("cell",
        explode(probesU(centroids, nProbe)(col("qv").cast("array<float>"))))
    val scored = e.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id") &&
        col("neighbor_label") =!= col("query_label"))
      .withColumn("cos", roundedCos("v", "qv", "nrm", "qn"))
    topKPerQuery(scored, k, Seq(col("cos").desc, col("vec_id")))
      .select(col("query_id"), col("query_label"), col("rk"),
        col("vec_id").as("neighbor_id"), col("neighbor_label"), col("cos"))
  }

  /** Embedding-space eval-set decontamination: every (probe, corpus)
    * pair with cosine ≥ `minCos` among the probe's IVF cells — the
    * semantic companion to n-gram decontamination
    * (`CorpusFilters.decontaminate`): a paraphrased eval item shares no
    * 8-gram with its source but sits next to it in embedding space.
    * Same probe machinery as [[ivfTopK]] with a THRESHOLD instead of a
    * top-k window — decontamination needs every hit above the bar, not
    * the k nearest (one leaked eval item with 30 near-copies must
    * surface all 30).
    *
    * Scale shape: candidates/probe ≈ N·nProbe/C via one equi-join on
    * the cell id (the corpus side never shuffles, no window at all —
    * the threshold filter is a scan predicate over the candidate join);
    * output is O(contamination), not O(corpus). Probes are an eval-set
    * (bounded, broadcast). */
  def embeddingDecontaminate(emb: DataFrame, probes: DataFrame,
      minCos: Double, numCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val centroids = ivfCentroids(emb, numCells)
    val e = withNormCell(emb, centroids)
    val q = withNorm(probes, "vec_id", "embedding")
      .select(col("vec_id").as("probe_id"), col("v").as("qv"),
        col("nrm").as("qn"))
      .withColumn("cell",
        explode(probesU(centroids, nProbe)(col("qv").cast("array<float>"))))
    e.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", roundedCos("v", "qv", "nrm", "qn"))
      .filter(col("cos") >= minCos)
      .select(col("probe_id"), col("vec_id").as("corpus_id"), col("cos"))
  }

  /** Stateless near-dup ADMISSION candidates against a pinned-quantizer
    * corpus frame — the shared candidate generator behind
    * [[AnnIndex.semDedupIncremental]] and its streaming face: each
    * arriving delta row computes its own probe cells from the broadcast
    * centroid constants (no driver-side collect of the delta), equi-joins
    * `baseWithCells` on the cell key, and emits every pair at cosine ≥
    * `minCos` as (vec_id, base_id, cos). THRESHOLD semantics like
    * [[embeddingDecontaminate]] — admission needs every above-bar hit,
    * not a top-k.
    *
    * `baseWithCells` is (vec_id, embedding, cell) with cells assigned
    * under the SAME centroids — in the index composition they come from
    * the persisted codes layout (partition-pruned), never from
    * re-assigning the corpus. Works on a batch OR STREAMING delta (the
    * probe udf and the stream-static cell equi-join are both
    * stateless); no broadcast hint on either side — the delta is a
    * daily batch that grows with the corpus, so the honest plan is the
    * cell-keyed shuffle join. */
  def semDedupAdmitCandidates(delta: DataFrame, baseWithCells: DataFrame,
      centroids: Array[Array[Double]], minCos: Double,
      nProbe: Int = 4): DataFrame = {
    val b = baseWithCells
      .select(col("vec_id").as("base_id"), col("cell"),
        asDouble(col("embedding")).as("bv"))
      .withColumn("bn", norm(col("bv")))
    val q = delta
      .select(col("vec_id"), asDouble(col("embedding")).as("dv"))
      .withColumn("dn", norm(col("dv")))
      .withColumn("cell",
        explode(probesU(centroids, nProbe)(col("dv").cast("array<float>"))))
    q.join(b, Seq("cell"))
      .filter(col("base_id") =!= col("vec_id"))
      .withColumn("cos", roundedCos("dv", "bv", "dn", "bn"))
      .filter(col("cos") >= minCos)
      .select(col("vec_id"), col("base_id"), col("cos"))
  }

  /** IVF recall/cost tuning curve: recall@k and mean candidate count of
    * the IVF probe against the exact top-k, for every probe depth in
    * `probes` — the report an ANN deployment reads to pick nProbe (the
    * r11 verdict: recall was MEASURED at one fixed operating point but
    * the tradeoff curve itself was not surfaced).
    *
    * One scoring pass serves every probe depth: each query ranks ALL
    * `numCells` cells by centroid distance once (ties to the lower
    * cell, same as [[ivfTopK]]'s probe order), every (query, candidate)
    * cosine is scored once carrying the candidate cell's per-query rank,
    * and depth p just filters `cell_rank <= p` before the per-query
    * top-k — so the sweep costs ONE candidate generation at the deepest
    * depth, not |probes| of them. The deepest depth p = numCells is the
    * exhaustive end of the curve (recall 1.0 by construction — the
    * anchor that proves the evaluation itself is sound).
    *
    * Aggregates stay on integers until one final division (total hits /
    * (k·queries)) so both engines compute the identical double — the
    * q_text_quality_robust lesson. Scale: this is a tuning REPORT, run
    * over a query SAMPLE (here the 1%-stride queryVecs); its deepest rung
    * deliberately scores sample × corpus, which is the price of the
    * exact-recall anchor, bounded by the sample size. */
  def ivfRecallSweep(emb: DataFrame, queries: DataFrame, k: Int,
      numCells: Int = 16,
      probes: Seq[Int] = Seq(1, 2, 4, 8, 16)): DataFrame = {
    val cents = ivfCentroids(emb, numCells)
    // every cell with its 1-based probe rank: the full probe order, so
    // rank r is the r-th probe of ivfTopK and of the mirror
    val rankCells = udf((v: Seq[Float]) =>
      nearestCells(cents, cents.length)(v).zipWithIndex
        .map { case (c, r) => (c, r + 1) }.toSeq)
    val e = withNormCell(emb, cents)
    val qr = withNorm(queries, "vec_id", "embedding")
      .withColumn("cr", explode(rankCells(col("v").cast("array<float>"))))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cr._1").as("cell"),
        col("cr._2").as("cell_rank"))
    // every candidate scored ONCE; staged because |probes| top-k passes
    // and |probes| count passes all re-read it
    val scoredAll = Checkpoints.stage(
      e.join(broadcast(qr), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", roundedCos("v", "qv", "nrm", "qn"))
        .select(col("query_id"), col("cell_rank").as("_depth"),
          col("vec_id").as("neighbor_id"), col("cos")),
      eager = false)
    recallCurve(scoredAll, emb, queries, k, "nprobe", probes, identity)
  }

  /** PQ refine-depth tuning curve — the second ANN knob next to
    * [[ivfRecallSweep]]'s nProbe: recall@k of [[pqTopK]] per refine
    * depth (how many k·refine ADC candidates earn the exact-cosine
    * rescore). One ADC ranking at the DEEPEST depth serves every rung
    * (depth r just filters the ADC rank prefix `ark <= k·r`), so the
    * sweep pays one code scan and one rescore join. Recall is monotone
    * in refine by construction (a deeper prefix is a superset, and the
    * exact re-rank of a superset can only keep or gain brute top-k
    * members — KnnTuningSpec pins it). mean_candidates here counts the
    * EXACT RESCORES bought — the cost axis of the refine knob. */
  def pqRefineSweep(emb: DataFrame, queries: DataFrame, k: Int,
      numSubspaces: Int = 8, codebookSize: Int = 16, dims: Int = 64,
      refines: Seq[Int] = Seq(1, 2, 5, 10)): DataFrame = {
    val cand = pqCandidates(emb, queries, k * refines.max, numSubspaces,
      codebookSize, dims)
      .select(col("query_id"), col("neighbor_id"), col("ark"))
    val scoredAll = Checkpoints.stage(
      rescored(cand, emb, queries)
        .select(col("query_id"), col("ark").as("_depth"),
          col("neighbor_id"), col("cos")),
      eager = false)
    recallCurve(scoredAll, emb, queries, k, "refine", refines, r => k * r)
  }

  /** The ADC candidate stage of [[pqTopK]] and [[pqRefineSweep]]: train
    * the codebooks on `emb`, encode it, score every (code, query) pair
    * through the query's ADC table (self-matches excluded, adist rounded
    * to 6) and keep each query's first `depth` by (adist ASC, vec_id) as
    * `ark`. Output: (query_id, neighbor_id, adist, ark). */
  private def pqCandidates(emb: DataFrame, queries: DataFrame, depth: Int,
      numSubspaces: Int, codebookSize: Int, dims: Int): DataFrame = {
    val subDims = dims / numSubspaces
    require(subDims * numSubspaces == dims, "dims must split evenly")
    val cbs = pqCodebooks(emb, numSubspaces, codebookSize, subDims)
    val encode = pqEncodeU(cbs, subDims)
    val dtables = pqDtables(queries, cbs, subDims)
    val adistU = udf((codes: Seq[Int], qid: Long) =>
      adcDist(dtables(qid), codes))
    val scored = emb.select(col("vec_id"), encode(col("embedding")).as("codes"))
      .crossJoin(broadcast(queries.select(col("vec_id").as("query_id"))))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adist", round(adistU(col("codes"), col("query_id")), 6))
    topKPerQuery(scored, depth, Seq(col("adist").asc, col("vec_id")), "ark")
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adist"),
        col("ark"))
  }

  /** PQ candidates (query_id, neighbor_id, …) joined to their raw
    * vectors in `emb` and the queries' for the exact cosine `cos`. */
  private def rescored(cand: DataFrame, emb: DataFrame,
      queries: DataFrame): DataFrame = {
    val e = withNorm(emb, "vec_id", "embedding")
    val q = withNorm(queries, "vec_id", "embedding")
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    cand.join(e.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos", roundedCos("v", "qv", "nrm", "qn"))
  }

  /** Rank-r binary-relevance DCG gain 1/log2(r+1), built as
    * round9(ln 2)/round9(ln(r+1)) — the ln9 contract, so both engines
    * assemble the identical double — then 9-rounded again before the
    * order-independent DECIMAL(28,12) partial sum. */
  private[graft] def dcgGain(rk: Column): Column = {
    // `ln` by full path: the object's private log4j `log` member shadows
    // functions.log inside this scope
    val ln = org.apache.spark.sql.functions.log(_: Column)
    round(round(ln(lit(2.0)), 9) / round(ln(rk.cast("double") + 1), 9), 9)
  }

  /** The ideal DCG@k for binary relevance with ≥k relevant items —
    * Σ_{r=1..k} 1/log2(r+1) over the SAME round9 gain terms, summed at
    * DECIMAL(28,12) like the engines sum per-hit gains. A constant for
    * fixed k, so it crosses both engines as ONE inlined double literal
    * (the MmrLambda convention) rather than a re-derivation. */
  private[graft] def idcgAt(k: Int): Double = {
    def r9(d: Double) = java.math.BigDecimal.valueOf(d)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    (1 to k).map { r =>
      java.math.BigDecimal.valueOf(r9(r9(math.log(2.0)) / r9(math.log(r + 1.0))))
        .setScale(12, java.math.RoundingMode.HALF_UP)
    }.reduce(_.add(_)).doubleValue()
  }

  /** Shared recall-curve aggregation behind both ANN tuning sweeps:
    * `scoredAll` carries every exact-rescored candidate ONCE as
    * (query_id, _depth, neighbor_id, cos); depth d admits the rows with
    * `_depth <= limitFor(d)`. Integer totals, one final division.
    *
    * r13 VERDICT #3: recall answers "how many true neighbors did I
    * get", not "did they rank usefully" — the question a RAG consumer
    * of the retrieval path actually asks. So each depth also reports
    * mean NDCG@k (binary relevance = membership in the exact brute
    * top-k, gains via [[dcgGain]], ideal = [[idcgAt]]) and mean MRR
    * (1/rank of the first true neighbor, 0 when none) — per-query
    * values enter DECIMAL partial sums so cross-engine aggregation
    * order can never flip a digit. */
  private def recallCurve(scoredAll: DataFrame, emb: DataFrame,
      queries: DataFrame, k: Int, depthName: String, depths: Seq[Int],
      limitFor: Int => Int): DataFrame = {
    val brute = Checkpoints.stage(
      bruteForceTopK(emb, queries, k)
        .select(col("query_id"), col("neighbor_id")),
      eager = false)
    val qs = queries.select(col("vec_id").as("query_id"))
    val idcg = idcgAt(k)
    val decZero = lit(java.math.BigDecimal.ZERO).cast("decimal(28,12)")
    // ONE ranking pass for every depth (r14): the former per-depth
    // branches each re-scanned the staged candidates and re-ranked —
    // |depths| windows + |depths| aggregate chains unioned. Each
    // candidate row now joins the bounded broadcast depth table on the
    // admission inequality (the broadcast-stat-frame pattern), one
    // window ranks per (depth, query), one rollup emits all rungs. The
    // per-rung values are bit-identical: same admission predicate, same
    // (cos DESC, neighbor_id) rank order, same DECIMAL partial sums.
    val session = scoredAll.sparkSession
    import session.implicits._
    val depthDf = broadcast(
      depths.map(d => (d, limitFor(d))).toDF("_d", "_lim"))
    val cand = scoredAll.join(depthDf, col("_depth") <= col("_lim"))
    val counts = cand.groupBy(col("_d"), col("query_id"))
      .agg(count(lit(1)).as("n_cand"))
    val topk = topKPerQuery(cand, k, Seq(col("cos").desc, col("neighbor_id")),
        by = Seq("_d", "query_id"))
      .select(col("_d"), col("query_id"), col("neighbor_id"), col("rk"))
    val hits = topk.join(brute, Seq("query_id", "neighbor_id"))
      .groupBy(col("_d"), col("query_id"))
      .agg(count(lit(1)).as("n_hits"),
        sum(dcgGain(col("rk")).cast("decimal(28,12)")).as("dcg"),
        min(col("rk")).as("first_hit"))
    qs.crossJoin(depthDf.select(col("_d")))
      .join(counts, Seq("_d", "query_id"), "left")
      .join(hits, Seq("_d", "query_id"), "left")
      .groupBy(col("_d"))
      .agg(count(lit(1)).as("n_queries"),
        sum(coalesce(col("n_cand"), lit(0L))).as("tc"),
        sum(coalesce(col("n_hits"), lit(0L))).as("th"),
        min(coalesce(col("n_hits"), lit(0L))).as("mh"),
        sum(coalesce(col("dcg"), decZero)).as("td"),
        sum(coalesce(round(lit(1.0) / col("first_hit"), 9), lit(0.0))
          .cast("decimal(28,12)")).as("tr"))
      .select(col("_d").as(depthName), col("n_queries"),
        round(col("tc").cast("double") / col("n_queries"), 4)
          .as("mean_candidates"),
        round(col("th").cast("double") / (col("n_queries") * k), 6)
          .as("mean_recall"),
        round(col("mh").cast("double") / k, 6).as("min_recall"),
        round(col("td").cast("double") / (col("n_queries") * lit(idcg)), 6)
          .as("mean_ndcg"),
        round(col("tr").cast("double") / col("n_queries"), 6)
          .as("mean_mrr"))
      .orderBy(col(depthName))
  }

  /** Product-quantization (ADC) approximate top-k — the memory-scale ANN
    * path: each 64-dim vector compresses to `numSubspaces` byte-sized
    * codes (8 here → 32× smaller than the float payload), and query
    * scoring scans the CODE table with per-query distance lookup tables
    * instead of touching raw vectors. At 100 TB the code table is what
    * fits a scan budget; raw vectors are read only to exact-rescore the
    * reported top-k.
    *
    * Determinism recipe shared with `ivfTopK` so the DuckDB oracle
    * rebuilds everything bit-for-bit: per-subspace codebooks seed from
    * the first `codebookSize` vectors by id, refine with ONE Lloyd step
    * whose means are exact decimal sums (order-independent), and every
    * argmin ties to the lower code. Approximate distances fold
    * per-subspace contributions in subspace order (left-to-right double
    * sum) and are rounded before ranking, with vec_id tiebreaks.
    * The ADC scan keeps the top k·`refine` candidates per query; only
    * those touch raw vectors for the exact-cosine re-rank (the standard
    * IVF-PQ refine step — 4-bit-per-subspace codes are too coarse to
    * order top-k directly, and the refine step buys recall for a
    * bounded number of exact distance evaluations).
    * Output: (query_id, rk, neighbor_id, adist, cos) — rk ranks the
    * re-scored cosine descending; adist is the candidate's ADC distance. */
  private[ops] def pqSub(subDims: Int)(v: IndexedSeq[Double], m: Int): Array[Double] =
    Array.tabulate(subDims)(d => v(m * subDims + d))

  private[ops] def pqD2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val x = a(i) - b(i); s += x * x; i += 1 }
    s
  }

  private def pqArgmin(cb: Array[Array[Double]], sv: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cb.length) {
      val d = pqD2(cb(c), sv)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** A vector's PQ codes: per subspace, the nearest code of that
    * subspace's codebook (ties to the lower code). */
  private[ops] def pqEncode(cbs: Array[Array[Array[Double]]], subDims: Int)
      (v: Seq[Float]): Array[Int] = {
    val dv = v.map(_.toDouble).toIndexedSeq
    Array.tabulate(cbs.length)(m => pqArgmin(cbs(m), pqSub(subDims)(dv, m)))
  }

  /** UDF: a float vector's PQ codes ([[pqEncode]]). */
  private[ops] def pqEncodeU(cbs: Array[Array[Array[Double]]], subDims: Int) =
    udf((v: Seq[Float]) => pqEncode(cbs, subDims)(v))

  /** ADC distance of a code vector: the query table's entry for each
    * subspace's code, summed in subspace order. */
  private[ops] def adcDist(dt: Array[Array[Double]],
      codes: Seq[Int]): Double = {
    var s = 0.0; var m = 0
    while (m < codes.length) { s += dt(m)(codes(m)); m += 1 }
    s
  }

  /** Deterministic per-subspace PQ codebooks shared by pqTopK and
    * ivfPqTopK: seeds = subvectors of the first `codebookSize` vectors
    * by id, then one exact-decimal Lloyd step per (subspace, code);
    * empty cells keep their seed. Metadata-scale (M×C×subDims). */
  private[ops] def pqCodebooks(emb: DataFrame, numSubspaces: Int,
      codebookSize: Int, subDims: Int): Array[Array[Array[Double]]] =
    pqCodebooksFrom(emb, seedVectors(emb, codebookSize), numSubspaces,
      codebookSize, subDims)

  /** PQ codebook refinement from PRE-COLLECTED seeds ([[seedVectors]]). */
  private[ops] def pqCodebooksFrom(emb: DataFrame,
      seedVecs: Array[Array[Double]], numSubspaces: Int,
      codebookSize: Int, subDims: Int): Array[Array[Array[Double]]] = {
    val sub = pqSub(subDims) _
    val seedCbs = Array.tabulate(numSubspaces, codebookSize)((m, c) =>
      sub(seedVecs(c).toIndexedSeq, m))
    val encode0 = pqEncodeU(seedCbs, subDims)
    val refined = emb
      .select(col("vec_id"), encode0(col("embedding")).as("c0"),
        col("embedding"))
      .select(col("vec_id"), col("c0"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("m", (col("dim") / subDims).cast("int"))
      .withColumn("d", col("dim") % subDims)
      .withColumn("code", element_at(col("c0"), col("m") + 1))
      .groupBy(col("m"), col("code"), col("d"))
      .agg((sum(col("x").cast("double").cast("decimal(28,12)")).cast("double") /
        count(lit(1))).as("mval"))
      .collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case (mc, rows) =>
        mc -> rows.sortBy(_.getAs[Int]("d")).map(_.getAs[Double]("mval")).toArray
      }
    Array.tabulate(numSubspaces, codebookSize)((m, c) =>
      refined.getOrElse((m, c), seedCbs(m)(c)))
  }

  /** Per-query ADC lookup tables (queries are metadata-scale). */
  private def pqDtables(queries: DataFrame, cbs: Array[Array[Array[Double]]],
      subDims: Int): Map[Long, Array[Array[Double]]] =
    queries.select(col("vec_id"), col("embedding")).collect().map { r =>
      r.getLong(0) -> adcTable(cbs, subDims)(r.getSeq[Float](1))
    }.toMap

  /** A query's ADC lookup table: squared distance from each subvector
    * to each code of its subspace's codebook, (subspace, code). */
  private[ops] def adcTable(cbs: Array[Array[Array[Double]]], subDims: Int)
      (v: Seq[Float]): Array[Array[Double]] = {
    val qv = v.map(_.toDouble).toIndexedSeq
    Array.tabulate(cbs.length, cbs.head.length)((m, c) =>
      pqD2(cbs(m)(c), pqSub(subDims)(qv, m)))
  }

  def pqTopK(emb: DataFrame, queries: DataFrame, k: Int,
      numSubspaces: Int = 8, codebookSize: Int = 16, dims: Int = 64,
      refine: Int = 5): DataFrame = {
    val cand = pqCandidates(emb, queries, k * refine, numSubspaces,
      codebookSize, dims)
      .select(col("query_id"), col("neighbor_id"), col("adist"))
    // exact rescore of the surviving candidates only, re-rank by cosine
    topKPerQuery(rescored(cand, emb, queries), k,
        Seq(col("cos").desc, col("neighbor_id")))
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("adist"), col("cos"))
  }

  /** IVF-PQ approximate top-k — the billion-scale production composition
    * (FAISS's IndexIVFPQ shape): the coarse quantizer routes each vector
    * to one inverted cell, a query probes only its `nProbe` nearest
    * cells, and WITHIN the probed cells scoring runs over the 8-byte PQ
    * codes via the query's ADC lookup tables; only the top k·refine ADC
    * candidates touch raw vectors for the exact-cosine re-rank.
    * Candidates/query ≈ N·nProbe/C scanned as compressed codes — both
    * knobs independent of N, and the scan is over bytes, not floats.
    *
    * Both quantizers reuse the deterministic recipes of their standalone
    * operators (ivfCentroids, pqCodebooks), so the DuckDB oracle rebuilds
    * the composition from the same CTE fragments that already verify
    * q_knn_ivf and q_knn_pq. */
  def ivfPqTopK(emb: DataFrame, queries: DataFrame, k: Int,
      numCells: Int = 16, nProbe: Int = 4, numSubspaces: Int = 8,
      codebookSize: Int = 16, dims: Int = 64, refine: Int = 5): DataFrame = {
    val subDims = dims / numSubspaces
    require(subDims * numSubspaces == dims, "dims must split evenly")
    val centroids = ivfCentroids(emb, numCells)
    val cbs = pqCodebooks(emb, numSubspaces, codebookSize, subDims)
    ivfPqScore(encodeIvfPq(emb, centroids, cbs, subDims), emb, queries,
      centroids, cbs, k, nProbe, refine, subDims)
  }

  /** Build side of IVF-PQ, shared by ivfPqTopK and the persisted
    * AnnIndex: route each vector to its inverted cell and compress it
    * to per-subspace codebook codes. */
  private[ops] def encodeIvfPq(emb: DataFrame,
      centroids: Array[Array[Double]], cbs: Array[Array[Array[Double]]],
      subDims: Int): DataFrame =
    encodeIvfPqDist(emb, centroids, cbs, subDims).drop("d")

  /** [[encodeIvfPq]] plus the nearest-centroid squared distance `d` in
    * the SAME scan (the argmin already computes it) — AnnIndex.save's
    * drift baseline aggregates `d` off this frame's cache instead of
    * paying a second full corpus pass. */
  private[ops] def encodeIvfPqDist(emb: DataFrame,
      centroids: Array[Array[Double]], cbs: Array[Array[Array[Double]]],
      subDims: Int): DataFrame =
    emb.select(col("vec_id"), assignDistU(centroids)(col("embedding")).as("a"),
        pqEncodeU(cbs, subDims)(col("embedding")).as("codes"))
      .select(col("vec_id"), col("a._1").as("cell"), col("codes"),
        col("a._2").as("d"))

  /** Query side of IVF-PQ over an already-encoded (vec_id, cell, codes)
    * frame — `codes` may be freshly built (ivfPqTopK) or scanned back
    * from a persisted AnnIndex. `emb` supplies raw vectors for the exact
    * re-rank only. The queries are metadata-scale and collected for
    * their ADC tables, so the driver also picks each query's probe cells
    * ([[nearestCells]]); the codes scan then carries them as a static
    * `cell IN (...)` filter, which on the cell-partitioned layout prunes
    * the unprobed directories at planning time. Then:
    *
    *  1. ONE map pass over the probed codes keeps, per partition and
    *     query, the top k·refine candidates by (adist ASC, vec_id ASC)
    *     and collects them: at most partitions × queries × k·refine rows;
    *  2. the driver merges them to each query's top k·refine and fetches
    *     the raw vectors of those ids only (`vec_id IN (...)`);
    *  3. the driver re-ranks each query's candidates by exact cosine
    *     (cos DESC, neighbor_id ASC) with the engine's arithmetic
    *     ([[cosine]]) and keeps k.
    *
    * Two jobs, plus one when the query frame is not local. Ids are
    * longs and query ids unique (they key the ADC tables). A candidate
    * with no raw vector in `emb` drops out, as an inner join would drop
    * it. Output: a local frame (query_id, rk, neighbor_id, adist, cos);
    * rk ranks the re-scored cosine, adist is the rounded ADC distance. */
  private[ops] def ivfPqScore(codes: DataFrame, emb: DataFrame,
      queries: DataFrame, centroids: Array[Array[Double]],
      cbs: Array[Array[Array[Double]]], k: Int, nProbe: Int,
      refine: Int, subDims: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import scala.jdk.CollectionConverters._
    val spark = codes.sparkSession
    val qs = queries.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val qids = qs.map(_._1)
    require(qids.distinct.length == qids.length,
      "ivfPqScore: query ids must be unique")
    val dtables = qs.map { case (_, v) => adcTable(cbs, subDims)(v) }
    // cell -> the indexes of the queries probing it
    val byCell: Map[Int, Array[Int]] = qs.indices
      .flatMap(qi => nearestCells(centroids, nProbe)(qs(qi)._2).map(_ -> qi))
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).toArray }
    val width = k * refine
    val byAdist = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    val partial =
      if (byCell.isEmpty || width <= 0) Array.empty[(Int, Long, Double)]
      else codes.filter(col("cell").isin(byCell.keys.toSeq.sorted: _*))
        .select(col("vec_id").cast("long"), col("cell"), col("codes"))
        .mapPartitions { (rows: Iterator[Row]) =>
          // per query, the `width` best seen so far, worst on top
          val best = Array.fill(qids.length)(
            new java.util.PriorityQueue[(Double, Long)](width + 1,
              byAdist.reverse))
          rows.foreach { r =>
            val vid = r.getLong(0)
            val cs = r.getSeq[Int](2)
            byCell.getOrElse(r.getInt(1), Array.empty[Int]).foreach { qi =>
              if (vid != qids(qi)) {
                best(qi).add((roundHalfUp(adcDist(dtables(qi), cs), 6), vid))
                if (best(qi).size > width) best(qi).poll()
              }
            }
          }
          best.iterator.zipWithIndex.flatMap { case (h, qi) =>
            h.asScala.map { case (a, vid) => (qi, vid, a) }
          }
        }(Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong,
          Encoders.scalaDouble))
        .collect()
    val cands = partial.groupBy(_._1).map { case (qi, xs) =>
      qi -> xs.map(x => (x._3, x._2)).sorted(byAdist).take(width)
    }
    val ids = cands.values.flatten.map(_._2).toSeq.distinct.sorted
    val raw: Map[Long, Array[Seq[Float]]] =
      if (ids.isEmpty) Map.empty
      else emb.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").cast("long"), col("embedding")).collect()
        .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getSeq[Float](1)) }
    // cos DESC (a null cosine last, as Spark sorts it), neighbor_id ASC
    val byCos: Ordering[(Option[Double], Long, Double)] = (x, y) => {
      val c = (x._1, y._1) match {
        case (Some(a), Some(b)) => java.lang.Double.compare(b, a)
        case (Some(_), None) => -1
        case (None, Some(_)) => 1
        case _ => 0
      }
      if (c != 0) c else java.lang.Long.compare(x._2, y._2)
    }
    val rows = qs.indices.flatMap { qi =>
      val (qid, qv) = qs(qi)
      cands.getOrElse(qi, Array.empty[(Double, Long)])
        .flatMap { case (a, vid) =>
          raw.getOrElse(vid, Array.empty[Seq[Float]])
            .map(v => (cosine(v, qv), vid, a))
        }
        .sorted(byCos).take(k).zipWithIndex.map { case ((c, vid, a), i) =>
          Row(qid, i + 1, vid, a, c.map(Double.box).orNull)
        }
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("query_id", LongType),
      StructField("rk", IntegerType, nullable = false),
      StructField("neighbor_id", LongType),
      StructField("adist", DoubleType),
      StructField("cos", DoubleType))))
  }

  /** Spark's `round(x, s)` on a double: HALF_UP on the shortest decimal
    * repr (`BigDecimal.valueOf`); NaN and infinities pass through. */
  private[ops] def roundHalfUp(x: Double, s: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue

  /** The engine's rounded cosine `round(dot(v, q) / (norm(v)·norm(q)), 4)`
    * on the driver, with the left-to-right loops of
    * [[graft.functions.ArrayDotProduct]] / `ArrayNormL2` over the
    * float-to-double widened vectors. None where Spark's non-ANSI divide
    * gives null (a zero norm) or the lengths differ. */
  private[ops] def cosine(v: Seq[Float], q: Seq[Float]): Option[Double] =
    if (v.length != q.length) None
    else {
      var dot = 0.0; var vv = 0.0; var qq = 0.0; var i = 0
      while (i < v.length) {
        val x = v(i).toDouble; val y = q(i).toDouble
        dot += x * y; vv += x * x; qq += y * y
        i += 1
      }
      val den = math.sqrt(vv) * math.sqrt(qq)
      if (den == 0.0) None else Some(roundHalfUp(dot / den, 4))
    }

  /** Symmetric int8 quantization of an embedding column — the storage
    * path that cuts a float32 vector store 4× (and pairs with the PQ
    * codes for coarse+fine search). Per vector: scale = max |x_i|,
    * code_i = round(x_i/scale · 127) ∈ [-127, 127], plus the max
    * absolute reconstruction error as a self-audit. All math is double
    * (deterministic IEEE on any engine) with half-away-from-zero
    * rounding — BigDecimal.valueOf + HALF_UP exactly mirrors Spark's
    * `round` AND DuckDB's ROUND — so the oracle rebuilds codes and
    * errors exactly.
    *
    * Implemented as ONE typed map pass, not nested array HOFs: the
    * expression form (`transform`/`zip_with` referencing an array_max
    * sub-expression) is CodegenFallback, and Catalyst's project collapse
    * re-inlines `scale` into EVERY element lambda — O(dims²) interpreted
    * work per row, measured 7 s vs ms for 2,000×64 floats. The map is a
    * compiled single pass: still scan speed, no shuffle. */
  def int8Quantize(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    def round9(d: Double): Double =
      java.math.BigDecimal.valueOf(d)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    emb.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])]
      .map { case (id, vf) =>
        val v = vf.map(_.toDouble)
        val scale = v.map(math.abs).max
        val codes = v.map { x =>
          if (scale == 0.0) 0
          else java.math.BigDecimal.valueOf(x / scale * 127.0)
            .setScale(0, java.math.RoundingMode.HALF_UP).intValue()
        }
        val err = v.zip(codes).map { case (x, c) =>
          math.abs(x - c * scale / 127.0)
        }.max
        val fp = java.security.MessageDigest.getInstance("MD5")
          .digest(codes.mkString(",").getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString
        (id, round9(scale), v.length, fp, round9(err))
      }
      .toDF(idCol, "scale", "n_dims", "codes_fp", "max_err")
  }

  /** All near-duplicate pairs by cosine ≥ threshold — exact, all-pairs,
    * O(N²). Small-N TEST ORACLE ONLY: the production operator is
    * `cosinePairsBucketed`, which replaces the cross join with an LSH
    * candidate join. */
  def cosinePairs(emb: DataFrame, threshold: Double): DataFrame = {
    val a = withNorm(emb, "vec_id", "embedding")
      .select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val b = withNorm(emb, "vec_id", "embedding")
      .select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", roundedCos("va", "vb", "na", "nb"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** Near-duplicate pairs at scale: multi-table RHP bucketing generates
    * candidates (a pair is considered iff it shares a bucket in ANY
    * table), then every candidate is exact-verified with the same rounded
    * cosine as `cosinePairs`. The only shuffle is the equi-join on
    * (table, bucket) over T×N rows — linear in the corpus, never N².
    *
    * Pair recall at similarity s is 1-(1-p^b)^T with p = 1-acos(s)/π; at
    * true near-dup thresholds (s ≥ 0.85) the defaults give >99% recall,
    * and at lower thresholds T can be raised. The bucketing is fully
    * deterministic (md5-derived planes), so an oracle engine reproduces
    * the candidate set — and therefore the result — bit-for-bit. */
  def cosinePairsBucketed(emb: DataFrame, threshold: Double,
      numTables: Int = 8, planesPerTable: Int = 4, dims: Int = 64): DataFrame = {
    val allPlanes = planeWeights(numTables * planesPerTable, dims)
    cosinePairsCore(emb, threshold, numTables, planesPerTable,
      (t, p) => allPlanes(t * planesPerTable + p))
  }

  /** Corpus-adaptive near-dup pairs — the 100×-safe form of
    * `cosinePairsBucketed`: bucket depth b grows with the corpus
    * (`adaptivePlanes`, constant expected occupancy) and the table count
    * compensates recall (`adaptiveTables`), so candidate generation stays
    * ~T(b)·n·targetOccupancy instead of going quadratic when a fixed
    * bucket count saturates. The corpus count is a metadata-scale job
    * (parquet row-count statistics); everything downstream is the same
    * deterministic md5-derived bucketing, so an oracle engine that
    * computes n the same way rebuilds the result bit-for-bit.
    *
    * `maxPlanes` bounds the depth the caller's mirror was generated for
    * (SimilarityQueries caps at 7 = corpora up to 8,192 vectors at the
    * default occupancy; the operator default allows 2^24-bucket tables). */
  def cosinePairsAdaptive(emb: DataFrame, threshold: Double,
      targetOccupancy: Int = 64, targetRecall: Double = 0.99,
      minPlanes: Int = 4, maxPlanes: Int = 24, maxTables: Int = 512,
      dims: Int = 64): DataFrame = {
    val n = emb.count()
    val b = adaptivePlanes(n, targetOccupancy, minPlanes, maxPlanes)
    val t = adaptiveTables(threshold, b, targetRecall, maxTables)
    cosinePairsCore(emb, threshold, t, b, planeWeightsTP(_, _, dims))
  }

  /** Pre-dedup candidate rows of the adaptive generator — the
    * (table,bucket) self-join output size that drives shuffle cost (spec
    * surface: AdaptiveLshSpec asserts this grows sub-quadratically
    * between fixture scales; a regression to constant b would take it
    * quadratic). Returns (candidateRows, b, tables, corpusN). */
  private[graft] def adaptiveCandidateStats(emb: DataFrame, threshold: Double,
      targetOccupancy: Int = 64, targetRecall: Double = 0.99,
      minPlanes: Int = 4, maxPlanes: Int = 24, maxTables: Int = 512,
      dims: Int = 64): (Long, Int, Int, Long) = {
    val n = emb.count()
    val b = adaptivePlanes(n, targetOccupancy, minPlanes, maxPlanes)
    val t = adaptiveTables(threshold, b, targetRecall, maxTables)
    val buckets = tableBucketsWith(withNorm(emb, "vec_id", "embedding"),
      t, b, planeWeightsTP(_, _, dims))
      .select(col("vec_id"), col("table"), col("bucket"))
    val a = buckets.select(col("vec_id").as("vec_a"), col("table"), col("bucket"))
    val bb = buckets.select(col("vec_id").as("vec_b"), col("table"), col("bucket"))
    val rows = a.join(bb, Seq("table", "bucket"))
      .filter(col("vec_a") < col("vec_b")).count()
    (rows, b, t, n)
  }

  /** SemDeDup-style semantic dedup: k-means-cluster the corpus, then
    * within each cluster mark every vector that has a smaller-id
    * neighbor at cosine ≥ threshold; vectors with none are the keepers.
    * The cluster key bounds the pair join to within-cluster candidates —
    * an equi-join on the cell id, never a global cross join, so the
    * quadratic term is (cluster size)², controlled by k. Emits
    * (vec_id, cluster, keep, n_dups). */
  def semDedup(emb: DataFrame, threshold: Double, k: Int = 16,
      iters: Int = 2, cosRound: Int = 4): DataFrame = {
    val cents = lloydCentroids(emb, k, iters)
    // the assignment subtree feeds BOTH join sides and the final
    // projection — localCheckpoint computes the UDF pass once instead
    // of 3x (the winnow-fps precedent). The argmin reads the float
    // vector back from `v` (float → double → float is exact).
    val asg = Checkpoints.stage(withNormCell(emb, cents), eager = true)
    val a = asg.select(col("vec_id"), col("cell"),
      col("v").as("va"), col("nrm").as("na"))
    val b = asg.select(col("vec_id").as("vec_b"), col("cell"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dups = a.join(b, Seq("cell"))
      .filter(col("vec_b") < col("vec_id"))
      .withColumn("cos", roundedCos("va", "vb", "na", "nb", cosRound))
      .filter(col("cos") >= threshold)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dups"))
    asg.select(col("vec_id"), col("cell").as("cluster"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("n_dups").isNull.as("keep"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"))
  }

  private def cosinePairsCore(emb: DataFrame, threshold: Double,
      numTables: Int, planesPerTable: Int,
      weights: (Int, Int) => Array[Double]): DataFrame = {
    // ids-only candidate generation: the (table, bucket) self-join and
    // the pair dedup shuffle THREE LONGS per row — the 64-dim vectors
    // rejoin only AFTER dedup, so join+dedup shuffle volume is
    // O(candidates), not O(candidates × dims). Carrying the arrays
    // through (the old form) measured 21s steady for the adaptive
    // T=51 generator at sf0.1; ids-only brings the same result to ~3s,
    // and at corpus scale the factor is the vector payload itself.
    // base is checkpointed once: it feeds the bucket projection and both
    // verify join sides (the T-leg RHP projection would otherwise run
    // per consumer); buckets likewise feeds both candidate sides. LAZY
    // checkpoints: eager ones execute full Spark jobs at
    // DataFrame-CONSTRUCTION time, charged even to plan-only consumers
    // (PlanGuardSpec walks these plans); lazy materializes on the first
    // real action and is reused from then on.
    // Checkpoints.stage: localCheckpoint by default; reliable under
    // spark.graft.checkpoint.dir (a lost executor mid-generation then
    // re-reads staged blocks instead of failing the run)
    val base = Checkpoints.stage(
      withNorm(emb, "vec_id", "embedding"), eager = false)
    val buckets = Checkpoints.stage(
      tableBucketsWith(base, numTables, planesPerTable, weights)
        .select(col("vec_id"), col("table"), col("bucket")),
      eager = false)
    val cand = buckets.select(col("vec_id").as("vec_a"), col("table"), col("bucket"))
      .join(buckets.select(col("vec_id").as("vec_b"), col("table"), col("bucket")),
        Seq("table", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    cand
      .join(base.select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("nrm").as("na")), "vec_a")
      .join(base.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("nrm").as("nb")), "vec_b")
      .withColumn("cos", roundedCos("va", "vb", "na", "nb"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }
}
