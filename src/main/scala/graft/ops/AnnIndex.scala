package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index: build once, query many — the production ANN
  * deployment shape. [[Similarity.ivfPqTopK]] retrains its quantizers on
  * every call, which is right for a one-shot query battery but wrong for
  * a serving corpus that is indexed nightly and probed thousands of
  * times; this layer splits the two halves across a parquet layout:
  *
  *   <dir>/centroids/  (cell, weights)        — C rows
  *   <dir>/codebooks/  (subspace, code, weights) — M·K rows
  *   <dir>/codes/      (vec_id, codes), PARTITIONED BY cell
  *   <dir>/meta/       (numCells, numSubspaces, codebookSize, dims)
  *
  * The cell-partitioned codes layout is the scale feature: a query
  * probes nProbe of numCells cells, picked on the driver from the
  * query vectors, and the codes scan carries them as a static
  * `cell IN (...)` partition filter — at deployment scale that is
  * nProbe/numCells of the corpus read instead of all of it, pruned at
  * planning time. Centroids and codebooks are metadata-scale (same
  * collect budget as the in-memory path).
  *
  * Query results are IDENTICAL to ivfPqTopK with the same parameters —
  * both halves call the same shared [[Similarity.encodeIvfPq]] /
  * [[Similarity.ivfPqScore]], so equality is by construction and
  * q_knn_ivfpq_index verifies against the same DuckDB mirror as
  * q_knn_ivfpq.
  */
object AnnIndex {

  /** The directory holding the CURRENT committed index build — the
    * shared [[IndexVersioning]] resolution (highest committed `v_<n>`,
    * else the pre-r10 flat layout). */
  private[graft] def resolveDir(spark: SparkSession, dir: String): String =
    IndexVersioning.resolveDir(spark, dir)

  private def readPart(spark: SparkSession, vdir: String, part: String,
      path: String): DataFrame =
    graft.sources.SchemaMemo.read(spark,
      s"ann.$part@${IndexVersioning.layoutRoot(vdir)}", path)

  /** Build the index from `emb` (vec_id, embedding) and persist it
    * under `dir`. Rebuild-while-serving safe: each build writes into a
    * fresh `v_<n>` directory and publishes it by CREATING the
    * `_COMMITTED` marker (atomic; an aborted build leaves an
    * uncommitted directory readers never resolve) — a reader that
    * resolved the previous version mid-probe keeps reading a complete,
    * self-consistent quadruple; it can never see quantizers from one
    * build and codes from another (the pre-r10 four-overwrite layout
    * could). The previous committed version is retained for exactly
    * those in-flight readers; older versions and aborted build dirs
    * are garbage-collected here. */
  def save(emb: DataFrame, dir: String, numCells: Int = 16,
      numSubspaces: Int = 8, codebookSize: Int = 16,
      dims: Int = 64): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val subDims = dims / numSubspaces
    require(subDims * numSubspaces == dims, "dims must split evenly")
    IndexVersioning.publish(spark, dir) { vdir =>
      // ONE seed collect feeds both trainers (they used to collect the
      // same first-k rows twice), and the two refinement aggregates are
      // INDEPENDENT jobs — overlapped from driver threads (guide §2.6)
      // so the build pays max(ivf, pq) wall instead of their sum.
      val seeds =
        Similarity.seedVectors(emb, math.max(numCells, codebookSize))
      val (centroids, cbs) = Par.run2(
        () => Similarity.lloydCentroidsFrom(emb, seeds.take(numCells),
          numCells, iters = 1),
        () => Similarity.pqCodebooksFrom(emb, seeds.take(codebookSize),
          numSubspaces, codebookSize, subDims))
      // persisted across every consumer below so the encode pass runs
      // once (compressed codes are 32x smaller than the raw vectors —
      // a spill-safe cache even at corpus scale). The encode carries the
      // nearest-centroid distance from the SAME argmin loop, so the
      // drift baseline aggregates the cache instead of paying a second
      // full corpus scan (the pre-r14 shape; `d` is dropped before the
      // codes write, so the on-disk layout is unchanged).
      val encoded = Similarity.encodeIvfPqDist(emb, centroids, cbs, subDims)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // the three metadata writes (driver-side rows) and the corpus
        // encode+write are mutually independent — overlap them; the
        // codes write is the job that materializes the cache
        Par.run[Unit](
          () => encoded.drop("d")
            .write.mode("overwrite").partitionBy("cell")
            .parquet(s"$vdir/codes"),
          () => centroids.zipWithIndex.map { case (w, c) => (c, w.toSeq) }
            .toSeq.toDF("cell", "weights")
            .repartition(1).write.mode("overwrite")
            .parquet(s"$vdir/centroids"),
          () => cbs.zipWithIndex.flatMap { case (cb, m) =>
            cb.zipWithIndex.map { case (w, code) => (m, code, w.toSeq) }
          }.toSeq.toDF("subspace", "code", "weights")
            .repartition(1).write.mode("overwrite")
            .parquet(s"$vdir/codebooks"),
          () => Seq((numCells, numSubspaces, codebookSize, dims))
            .toDF("num_cells", "num_subspaces", "codebook_size", "dims")
            .repartition(1).write.mode("overwrite").parquet(s"$vdir/meta"))
        // both read the just-materialized cache and are independent:
        //  - compact id→cell manifest (ONE file, no cell partitioning):
        //    the upsert's replaced-id locate reads THIS instead of
        //    opening every cell partition's footer — at occupancy-scaled
        //    cell counts the cell layout is thousands of small files and
        //    the locate was file-open-bound (the r14 ladder probe
        //    measured it at 11.6 of 18.5 s). Chain-resolved like codes
        //    ([[loadIds]]).
        //  - drift baseline: the build corpus's own nearest-centroid
        //    distance distribution under THESE quantizers (`d` from the
        //    encode pass; approx-quantile state is bounded). driftReport
        //    compares each future delta batch against this p95.
        Par.run[Unit](
          () => encoded.select(col("vec_id"), col("cell"))
            .repartition(1).write.mode("overwrite").parquet(s"$vdir/ids"),
          () => encoded
            .agg(count(lit(1)).as("n"),
              percentile_approx(col("d"), lit(0.95), lit(10000))
                .as("p95_dist"))
            .repartition(1).write.mode("overwrite").parquet(s"$vdir/stats"))
      } finally encoded.unpersist(blocking = false)
    }
  }

  /** Per-vector distance to its nearest centroid — the assignment
    * distance the drift baseline and trigger both score. */
  private def nearestDistU(centroids: Array[Array[Double]]) =
    udf((v: Seq[Float]) => {
      var best = Double.MaxValue
      var c = 0
      while (c < centroids.length) {
        val cv = centroids(c)
        var d = 0.0; var i = 0
        while (i < cv.length) { val x = v(i) - cv(i); d += x * x; i += 1 }
        if (d < best) best = d
        c += 1
      }
      best
    })

  /** Cell-level incremental UPSERT (r12 VERDICT #6): encode `newEmb`
    * with the current committed build's PINNED quantizers (no retrain —
    * daily-refresh reality is append; q_knn_index_incremental proves the
    * probe equals an in-memory rebuild under the same quantizers), and
    * publish a new version that REWRITES ONLY THE TOUCHED CELL
    * PARTITIONS (base survivors minus replaced ids, plus the delta) and
    * chains every untouched cell to the base build via the `_BASE`
    * marker. Newest-wins by construction: a vec_id present in both base
    * and delta survives only with its delta codes, resolved at WRITE
    * time by a bounded anti-join — readers never pay a per-row dedup.
    *
    * Touched = the delta's cells UNION every base-chain cell holding a
    * REPLACED vec_id: a replaced id's new embedding can assign to a
    * DIFFERENT cell under the same pinned quantizers (the vector
    * changed, not the quantizer), and without the union its stale row
    * would survive in the old, untouched cell — a duplicate vec_id with
    * stale codes in every probe (r13 ADVICE). Locating replaced ids
    * filters the base chain's (vec_id, cell) pairs by the delta ids,
    * collected to the driver with the delta's cells — a column-pruned
    * scan that never reads the wide codes column. Five jobs: the delta
    * collect, the locate, the by-cell exchange, the codes write and the
    * ids write.
    *
    * Scale shape: WRITE IO is O(touched cells + delta), never O(corpus)
    * — at deployment cell counts (thousands) a 0.1% daily delta touches
    * a fraction of partitions; the chain means the rest are never
    * copied. The replaced-id locate reads the id/cell columns of the
    * base chain once (bytes ≈ ids, not codes).
    * Readers resolve the chain in [[loadCodes]] (untouched-cell scans
    * partition-prune on the parent); versioned-publish atomicity is
    * unchanged — a reader sees the old committed build or the complete
    * new one, and GC protects chained ancestors (IndexVersioning).
    * A deep chain is collapsed by the next full [[save]] (which the
    * [[driftReport]] trigger recommends when the quantizers go stale). */
  def upsert(newEmb: DataFrame, dir: String): Unit = {
    val spark = newEmb.sparkSession
    val baseVs = IndexVersioning.committedVersions(spark, dir)
    require(baseVs.nonEmpty,
      s"upsert($dir): no committed build to layer on — run save() first")
    val baseV = baseVs.last
    val baseDir = s"$dir/v_$baseV"
    val (centroids, cbs, subDims) = loadQuantizers(spark, baseDir)
    IndexVersioning.publish(spark, dir) { vdir =>
      // quantizers (and the drift baseline they define) are PINNED and
      // resolve through the _BASE chain ([[resolvePart]]) — a layered
      // version copies NO metadata frames at all. The r14 upsert-corpus
      // ladder rung caught the previous per-version copy as the one
      // linear-in-corpus term left in the upsert: at occupancy-scaled
      // cell counts the centroid matrix is O(corpus/occupancy) bytes,
      // and copying it every daily refresh re-priced the O(touched +
      // delta) claim. GC's chain protection keeps every ancestor a
      // retained version reaches, so chain-resolved quantizers can
      // never dangle. A pre-r13 base without stats/ simply resolves to
      // None there — driftReport fails with the rebuild message.
      val delta = Similarity.encodeIvfPq(newEmb, centroids, cbs, subDims)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // the delta's (vec_id, cell) pairs on the driver — the delta is a
        // bounded batch, and this collect also materializes its cache.
        // Touched = the delta's own cells UNION the cells holding a
        // REPLACED id anywhere in the base chain: the new embedding may
        // assign elsewhere, and the old cell must be rewritten too or its
        // stale row survives via _BASE (r13 ADVICE high). The locate
        // scans the compact ids manifest ([[loadIds]] — a handful of
        // files, not the cell layout's thousands) with the delta ids as
        // a literal set; a chain holds each id once, so it returns at
        // most one row per delta id.
        val deltaCells = delta.select(col("vec_id"), col("cell")).collect()
        require(deltaCells.nonEmpty,
          s"upsert($dir): empty delta — nothing to layer")
        val deltaIds = deltaCells.map(_.get(0)).filter(_ != null).toSeq
        val touched = (deltaCells.map(_.getInt(1)) ++
          loadIds(spark, baseDir).filter(col("vec_id").isin(deltaIds: _*))
            .select(col("cell")).collect().map(_.getInt(0)))
          .distinct.sorted.toSeq
        // touched cells rewritten fully: base survivors (minus the
        // replaced ids) + the delta rows, hash-partitioned by cell so
        // each touched cell is ONE file in this layer. Written straight
        // from the union, every scan split and delta partition holding
        // a cell would add a file to it, and a cell's file count would
        // grow with each upsert that touches it (measured on serve-mix:
        // 11 write tasks of 100-200 ms for an 8-vector batch).
        val survivors = loadCodes(spark, baseDir)
          .filter(col("cell").isin(touched: _*) &&
            !col("vec_id").isin(deltaIds: _*))
        survivors.unionByName(delta).repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$vdir/codes")
        // this layer's slice of the ids manifest (its touched cells only
        // — readers chain the rest, exactly like codes), read back from
        // the codes just written: one small file
        readPart(spark, vdir, "codes", s"$vdir/codes")
          .select(col("vec_id"), col("cell").cast("int").as("cell"))
          .coalesce(1).write.mode("overwrite").parquet(s"$vdir/ids")
        IndexVersioning.writeBaseMarker(spark, vdir, baseV)
      } finally delta.unpersist(blocking = false)
    }
  }

  /** Incremental SemDeDup against the committed index (r13 VERDICT #4 —
    * the composition of the r9 SemDeDup semantics with the persisted
    * index): admit a delta batch by probing the index for ≥minCos cosine
    * neighbors instead of re-running k-means + within-cluster pairs over
    * the full corpus — the same full-vs-incremental story incremental CC
    * already tells. Two legs over ONE pinned quantizer:
    *
    *  - delta-vs-BASE: candidates from [[Similarity.semDedupAdmitCandidates]]
    *    over the index's cell layout ([[loadCodes]] supplies (vec_id,
    *    cell) — the probe partition-prunes the codes scan; `baseRaw` is
    *    the raw-vector store outside the index, joined by id for the
    *    exact cosine, exactly the [[topK]] re-rank contract);
    *  - delta-vs-DELTA: the smaller-id survivor rule of
    *    [[Similarity.semDedup]] — a delta item is also a dup if a
    *    SMALLER-ID delta item sits in its probed cells at ≥minCos (the
    *    probe-vs-assigned join shape of the base leg, so both legs share
    *    candidate semantics).
    *
    * keep = no base hit AND no smaller-id delta hit. Output per delta
    * row: (vec_id, cell = assigned cell, keep, n_dups_base,
    * n_dups_delta). Scale: refresh IO is O(probed cells + delta²-within-
    * cells), never O(corpus) — the full-corpus pass happens once at
    * [[save]] time; q_sim_semdedup_incremental's mirror retrains the
    * base-subset quantizer and replays both legs as threshold scans. */
  def semDedupIncremental(baseRaw: DataFrame, delta: DataFrame, dir: String,
      minCos: Double, nProbe: Int = 4): DataFrame = {
    val spark = delta.sparkSession
    val vdir = resolveDir(spark, dir)
    val (centroids, _, _) = loadQuantizers(spark, vdir)
    val baseVecs = loadCodes(spark, vdir).select(col("vec_id"), col("cell"))
      .join(baseRaw.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val baseHits = Similarity
      .semDedupAdmitCandidates(delta, baseVecs, centroids, minCos, nProbe)
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_dups_base"))
    val assignU = udf((v: Seq[Float]) => Similarity.nearestCell(centroids)(v))
    val probesU = udf((v: Seq[Float]) =>
      Similarity.nearestCells(centroids, nProbe)(v))
    // the delta's normed+assigned frame feeds both self-join sides and
    // the final projection — compute-once, single-plan consumer shape
    val dd = Checkpoints.stage(
      Similarity.withNorm(delta, "vec_id", "embedding")
        .withColumn("cell", assignU(col("v").cast("array<float>"))),
      eager = true)
    val aSide = dd
      .select(col("vec_id"), col("v").as("av"), col("nrm").as("an"),
        explode(probesU(col("v").cast("array<float>"))).as("cell"))
    val bSide = dd.select(col("vec_id").as("b_id"), col("cell"),
      col("v").as("bv"), col("nrm").as("bn"))
    val deltaHits = aSide.join(bSide, Seq("cell"))
      .filter(col("b_id") < col("vec_id"))
      .withColumn("cos", round(
        Similarity.dot(col("av"), col("bv")) / (col("an") * col("bn")), 4))
      .filter(col("cos") >= minCos)
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_dups_delta"))
    dd.select(col("vec_id"), col("cell"))
      .join(baseHits, Seq("vec_id"), "left")
      .join(deltaHits, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        (col("n_dups_base").isNull && col("n_dups_delta").isNull).as("keep"),
        coalesce(col("n_dups_base"), lit(0L)).as("n_dups_base"),
        coalesce(col("n_dups_delta"), lit(0L)).as("n_dups_delta"))
  }

  /** Drift trigger for the pinned-quantizer upsert path: the fraction of
    * `newEmb` whose nearest-centroid distance exceeds the build corpus's
    * own 95th-percentile assignment distance (the `stats/` baseline
    * written at [[save]] time). One row: (n_new, n_beyond, frac_beyond,
    * threshold, retrain_recommended = frac_beyond > maxFrac). Under no
    * drift ~5% of a same-distribution batch lands beyond its p95; a
    * shifted batch saturates toward 1.0 — recommend a full save() (which
    * retrains quantizers and collapses the upsert chain). One projection
    * + one aggregate over the delta batch; centroids and the threshold
    * are driver-side metadata. */
  def driftReport(newEmb: DataFrame, dir: String,
      maxFrac: Double = 0.25): DataFrame = {
    val spark = newEmb.sparkSession
    val vdir = resolveDir(spark, dir)
    val (centroids, _, _) = loadQuantizers(spark, vdir)
    val statsDir = resolvePart(spark, vdir, "stats").getOrElse(
      throw new IllegalArgumentException(
        s"driftReport($dir): this build carries no drift baseline (its " +
          "chain was published before stats/ existed) — run one full " +
          "save() to retrain and record the baseline"))
    val threshold = readPart(spark, vdir, "stats", statsDir)
      .head().getAs[Double]("p95_dist")
    newEmb.select(nearestDistU(centroids)(col("embedding")).as("d"))
      .agg(count(lit(1)).as("n_new"),
        count(when(col("d") > threshold, 1)).as("n_beyond"))
      .select(col("n_new"), col("n_beyond"),
        round(col("n_beyond") / col("n_new").cast("double"), 6)
          .as("frac_beyond"),
        lit(threshold).as("threshold"),
        (col("n_beyond") / col("n_new").cast("double") > maxFrac)
          .as("retrain_recommended"))
  }

  /** Resolve an index metadata part (meta/centroids/codebooks/stats)
    * through the `_BASE` chain: quantizers are PINNED across a layered
    * chain, so the nearest ancestor that materialized the part owns the
    * authoritative copy — layered versions write none (r14: the
    * upsert-corpus ladder rung measured the former per-version copy at
    * O(numCells) bytes per refresh, the one linear-in-corpus term left
    * in the upsert). Chain GC protection guarantees the ancestor is
    * retained for as long as this version is. */
  private[graft] def resolvePart(spark: SparkSession, vdir: String,
      part: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$vdir/$part")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(s"$vdir/$part")
    else IndexVersioning.baseDirOf(spark, vdir)
      .flatMap(b => resolvePart(spark, b, part))
  }

  private def partOrFail(spark: SparkSession, dir: String,
      part: String): String =
    resolvePart(spark, dir, part).getOrElse(throw new IllegalStateException(
      s"index at $dir: no '$part' anywhere in its _BASE chain — " +
        "not a complete committed build"))

  /** Per-version quantizer memo: the driver-side (centroids, codebooks,
    * subDims) triple is immutable metadata for a committed build, and
    * the incremental flow loads it 2-4× per query (upsert + probe +
    * drift/semdedup legs); a hit costs a few file-status calls, a miss
    * three collect jobs. Bounded: quantizer matrices are O(cells +
    * codes) doubles, and past 64 entries the oldest entry is evicted (a
    * long-running driver cycling many indexes re-pays one load). */
  private val QuantizerMemoMax = 64
  private val quantizerMemo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String,
        (Array[Array[Double]], Array[Array[Array[Double]]], Int)]() {
      override def removeEldestEntry(e: java.util.Map.Entry[String,
          (Array[Array[Double]], Array[Array[Array[Double]]], Int)])
          : Boolean = size() > QuantizerMemoMax
    })

  /** Memo key for a quantizer load: the three RESOLVED part paths plus
    * each part directory's mtime. Chain-aware — a layered `v_<n+1>`
    * whose quantizer parts resolve to its ancestor's files shares the
    * ancestor's entry (the upsert-then-probe flow would otherwise
    * re-collect identical metadata per version). None (no memo) when any
    * part is missing or unstatable.
    *
    * Assumes write-once `v_<n>` directories: [[IndexVersioning.publish]]
    * always writes a fresh, never-reused version dir and never rewrites
    * a committed one. The mtime only guards a path recreated after a GC;
    * a rewrite IN PLACE within one mtime tick of the filesystem would
    * serve stale quantizers, so a layout that overwrites a version in
    * place must put a content fingerprint in this key. */
  private def quantizerMemoKey(spark: SparkSession,
      dir: String): Option[String] =
    try {
      val parts = Seq("meta", "centroids", "codebooks")
        .map(part => resolvePart(spark, dir, part))
      if (parts.exists(_.isEmpty)) None
      else Some(parts.flatten.map { path =>
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        s"$path@${fs.getFileStatus(p).getModificationTime}"
      }.mkString(";"))
    } catch { case _: java.io.IOException => None }

  /** Load the index's quantizers: (centroids by cell, codebooks by
    * (subspace, code), subspace dimensionality). Driver-side,
    * metadata-scale; each part resolves through the `_BASE` chain
    * ([[resolvePart]]). `dir` must already be version-resolved
    * ([[resolveDir]]) — resolving HERE would let a rebuild that commits
    * between the quantizer and codes loads hand the caller a mixed
    * index; the caller resolves ONCE and passes the pinned build dir
    * to both loads. */
  private[graft] def loadQuantizers(spark: SparkSession, dir: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]], Int) = {
    val key = quantizerMemoKey(spark, dir)
    val hit = key.map(quantizerMemo.get).orNull
    if (hit != null) hit
    else {
      val loaded = loadQuantizersImpl(spark, dir)
      key.foreach(quantizerMemo.putIfAbsent(_, loaded))
      loaded
    }
  }

  private def loadQuantizersImpl(spark: SparkSession, dir: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]], Int) = {
    // three independent metadata-scale reads (single-file parquet each)
    // — overlapped (guide §2.6): each read.parquet().collect() is its
    // own footer-read + collect job, and probing a freshly-resolved
    // build paid them back-to-back on every topK/upsert call
    val Seq(metaAny, centAny, cbAny) = Par.run[AnyRef](
      () => readPart(spark, dir, "meta",
        partOrFail(spark, dir, "meta")).head(),
      () => readPart(spark, dir, "centroids",
        partOrFail(spark, dir, "centroids")).orderBy("cell").collect(),
      () => readPart(spark, dir, "codebooks",
        partOrFail(spark, dir, "codebooks"))
        .orderBy("subspace", "code").collect())
    val meta = metaAny.asInstanceOf[org.apache.spark.sql.Row]
    val numSubspaces = meta.getAs[Int]("num_subspaces")
    val subDims = meta.getAs[Int]("dims") / numSubspaces
    val centroids = centAny.asInstanceOf[Array[org.apache.spark.sql.Row]]
      .map(_.getAs[Seq[Double]]("weights").toArray)
    val cbs = cbAny.asInstanceOf[Array[org.apache.spark.sql.Row]]
      .groupBy(_.getAs[Int]("subspace")).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getAs[Int]("code"))
        .map(_.getAs[Seq[Double]]("weights").toArray))
      .toArray
    (centroids, cbs, subDims)
  }

  /** The cells a build dir's own codes layout holds — a filesystem
    * LISTING of the `cell=<n>` partition directories (pure metadata,
    * no scan), used to mask chained-parent cells out of the union. */
  private def ownCells(spark: SparkSession, dir: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/codes")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .flatMap(_.getPath.getName.stripPrefix("cell=").toIntOption)
  }

  /** The index's (vec_id, cell) assignment frame from the compact ids
    * manifests, chain-resolved exactly like [[loadCodes]] (a layer holds
    * its touched cells' slice; every other cell comes from the `_BASE`
    * ancestor). Pre-r14 builds have no ids/ — that layer falls back to
    * the column-pruned codes projection, so mixed chains stay readable.
    * The manifest is a handful of files per layer (vs the cell layout's
    * one-directory-per-cell), which is what makes the upsert's
    * replaced-id locate metadata-cheap. */
  private[graft] def loadIds(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/ids")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val own =
      if (fs.exists(p)) readPart(spark, dir, "ids", s"$dir/ids")
        .select(col("vec_id"), col("cell").cast("int").as("cell"))
      else readPart(spark, dir, "codes", s"$dir/codes")
        .select(col("vec_id"), col("cell").cast("int").as("cell"))
    IndexVersioning.baseDirOf(spark, dir) match {
      case None => own
      case Some(bdir) =>
        val mine = ownCells(spark, dir)
        own.unionByName(
          loadIds(spark, bdir).filter(!col("cell").isin(mine: _*)))
    }
  }

  /** The index's encoded-corpus frame, with the directory-inferred
    * partition column normalized to the int the scoring joins expect.
    * Resolves the upsert chain: a layered build holds only its TOUCHED
    * cells; every other cell comes from the `_BASE` ancestor — the
    * NOT-IN-cells filter is a partition-column predicate, so the parent
    * scan partition-prunes to exactly the chained cells. Newest-wins is
    * structural (a cell lives in exactly one layer). */
  private[graft] def loadCodes(spark: SparkSession, dir: String): DataFrame = {
    val own = readPart(spark, dir, "codes", s"$dir/codes")
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        col("codes"))
    IndexVersioning.baseDirOf(spark, dir) match {
      case None => own
      case Some(bdir) =>
        val mine = ownCells(spark, dir)
        own.unionByName(
          loadCodes(spark, bdir).filter(!col("cell").isin(mine: _*)))
    }
  }

  /** Probe a persisted index: top-k ADC candidates from the probed
    * cells' code partitions only (a static partition filter, through
    * the `_BASE` chain), exact-cosine re-rank against the candidates'
    * raw vectors in `emb` (the raw-vector store lives outside the
    * index). The work runs here, in two jobs (a third collects a query
    * frame that is not local), and the result comes back as a local
    * frame ([[Similarity.ivfPqScore]]). Output schema and values match
    * ivfPqTopK exactly. */
  def topK(spark: SparkSession, dir: String, emb: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int = 4,
      refine: Int = 5): DataFrame = {
    val vdir = resolveDir(spark, dir) // pin ONE committed build
    val (centroids, cbs, subDims) = loadQuantizers(spark, vdir)
    Similarity.ivfPqScore(loadCodes(spark, vdir), emb, queries, centroids,
      cbs, k, nProbe, refine, subDims)
  }

  /** STATELESS candidate generation against a persisted index — works
    * on a batch OR STREAMING query frame: each query row computes its
    * own probe cells and ADC lookup table from the broadcast quantizer
    * constants (no driver-side collect of the queries, unlike
    * ivfPqScore's per-query dtable map), then joins the static codes on
    * the cell key. Emits one row per (query, candidate): (query_id,
    * neighbor_id, adist rounded 6) — the top-k cut and exact re-rank
    * are rollups over the drained sink, per the streaming-leg
    * convention. `codes` must be [[loadCodes]] of the same index (the
    * caller persists it for a long-running stream — the static subtree
    * of a stream-static join is re-planned every micro-batch). */
  def probeCandidates(queries: DataFrame, codes: DataFrame,
      centroids: Array[Array[Double]], cbs: Array[Array[Array[Double]]],
      subDims: Int, nProbe: Int = 4): DataFrame = {
    val probesU = udf((v: Seq[Float]) =>
      Similarity.nearestCells(centroids, nProbe)(v))
    // per-query ADC table computed ONCE per arriving row (numSubspaces
    // × codebookSize doubles), then each candidate's distance is a
    // codes-length gather over it
    val dtableU = udf((v: Seq[Float]) => Similarity.adcTable(cbs, subDims)(v))
    val adistU = udf((cs: Seq[Int], dt: Seq[Seq[Double]]) => {
      var s = 0.0; var m = 0
      while (m < cs.length) { s += dt(m)(cs(m)); m += 1 }
      s
    })
    val q = queries
      .select(col("vec_id").as("query_id"), col("embedding"))
      .withColumn("_dt", dtableU(col("embedding")))
      .withColumn("cell", explode(probesU(col("embedding"))))
    q.join(codes, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(adistU(col("codes"), col("_dt")), 6).as("adist"))
  }
}
