package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpecBase

/** Persisted IVF-PQ index: the parquet round trip must reproduce the
  * in-memory composition exactly, the codes layout must actually be
  * cell-partitioned (that layout IS the scale feature), the probe's
  * codes scan must be pruned to the probed cells' directories, and the
  * driver-side candidate cut and re-rank must equal the Spark window
  * computation they replace, ties included.
  */
class AnnIndexSpec extends SparkSpecBase {

  private lazy val emb = graft.Tables.embeddings(spark, sfDir)
  private lazy val queries = emb.filter(col("vec_id") % 100 === 0)
  private lazy val ixDir = {
    val d = java.nio.file.Files.createTempDirectory("graft_annix_spec")
      .toFile.getAbsolutePath
    AnnIndex.save(emb, d)
    d
  }

  test("persisted round trip equals the in-memory IVF-PQ exactly") {
    val mem = Similarity.ivfPqTopK(emb, queries, 5)
      .orderBy("query_id", "rk").collect().toSeq
    val ix = AnnIndex.topK(spark, ixDir, emb, queries, 5)
      .orderBy("query_id", "rk").collect().toSeq
    assert(ix == mem)
    assert(ix.nonEmpty)
  }

  test("codes are laid out as one directory per inverted cell") {
    val vdir = AnnIndex.resolveDir(spark, ixDir)
    val cells = new java.io.File(s"$vdir/codes").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cell="))
    assert(cells.length > 1 && cells.length <= 16,
      s"expected cell=N partition dirs, got ${cells.mkString(",")}")
  }

  test("rebuild publishes atomically: versioned commit, reader isolation") {
    val d = java.nio.file.Files.createTempDirectory("graft_annix_ver")
      .toFile.getAbsolutePath
    AnnIndex.save(emb, d)
    val v1 = AnnIndex.resolveDir(spark, d)
    assert(v1 == s"$d/v_1")
    // an in-flight reader pinned v_1; a rebuild commits v_2 — the old
    // build must survive (retained for exactly one rebuild) and new
    // resolves must see v_2
    AnnIndex.save(emb, d)
    assert(AnnIndex.resolveDir(spark, d) == s"$d/v_2")
    assert(new java.io.File(s"$v1/_COMMITTED").exists(),
      "previous committed build must be retained for in-flight readers")
    // a third rebuild GCs v_1 (no reader can still hold it across TWO
    // rebuild windows) but keeps v_2
    AnnIndex.save(emb, d)
    assert(AnnIndex.resolveDir(spark, d) == s"$d/v_3")
    assert(!new java.io.File(s"$d/v_1").exists(), "v_1 must be GC'd")
    assert(new java.io.File(s"$d/v_2/_COMMITTED").exists())
    // an ABORTED build (dir present, no _COMMITTED marker) is invisible
    // to readers and swept by the next successful save
    val aborted = new java.io.File(s"$d/v_9/meta")
    aborted.mkdirs()
    assert(AnnIndex.resolveDir(spark, d) == s"$d/v_3",
      "uncommitted build dir must never resolve")
    AnnIndex.save(emb, d)
    assert(AnnIndex.resolveDir(spark, d) == s"$d/v_4")
    assert(!new java.io.File(s"$d/v_9").exists(),
      "aborted build dir must be swept by the next save")
    // probes against the rebuilt index still match the in-memory path
    val mem = Similarity.ivfPqTopK(emb, queries, 5)
      .orderBy("query_id", "rk").collect().toSeq
    val ix = AnnIndex.topK(spark, d, emb, queries, 5)
      .orderBy("query_id", "rk").collect().toSeq
    assert(ix == mem)
  }

  test("the probe's codes scan is pruned to exactly the probed cells") {
    val vdir = AnnIndex.resolveDir(spark, ixDir)
    val (cents, _, _) = AnnIndex.loadQuantizers(spark, vdir)
    val probed = queries.select("embedding").collect()
      .flatMap(r => Similarity.nearestCells(cents, 4)(r.getSeq[Float](0)))
      .toSet
    // the candidate job runs inside topK; capture every executed plan
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.treeString(verbose = true))
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      AnnIndex.topK(spark, ixDir, emb, queries, 5).collect()
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 10000000000L
      def codesScans = plans.toArray.toSeq.map(_.toString)
        .flatMap(_.split('\n'))
        .filter(l => l.contains("FileScan") && l.contains(s"$vdir/codes"))
      while (codesScans.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      val scans = codesScans
      assert(scans.size == 1, s"expected one codes scan, got:\n" +
        plans.toArray.mkString("\n----\n"))
      // PartitionFilters: [isnotnull(cell#n), cell#n IN (a,b,...)] — or
      // INSET a, b, ... past the optimizer's IN-list threshold
      val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
        .findFirstMatchIn(scans.head).map(_.group(1)).getOrElse("")
      val cells = "cell#\\d+ (?:IN \\(|INSET )([0-9, ]+)".r
        .findFirstMatchIn(pf).map(_.group(1).split(",").map(_.trim.toInt).toSet)
      assert(cells.contains(probed),
        s"codes scan partition filters [$pf] do not list exactly the " +
          s"probed cells ${probed.toSeq.sorted}")
      assert(probed.size < 16, "the fixture must leave some cells unprobed")
    } finally spark.listenerManager.unregister(listener)
  }

  test("an empty query frame gives the typed empty in-memory result") {
    val none = queries.limit(0)
    val ix = AnnIndex.topK(spark, ixDir, emb, none, 5)
    val mem = Similarity.ivfPqTopK(emb, none, 5)
    assert(ix.collect().isEmpty && mem.collect().isEmpty)
    assert(ix.schema.map(f => (f.name, f.dataType)) ==
      mem.schema.map(f => (f.name, f.dataType)))
    assert(ix.columns.toSeq == Seq("query_id", "rk", "neighbor_id",
      "adist", "cos"))
  }

  test("k·refine above the candidate count keeps every candidate") {
    // 1 of 16 cells probed: far fewer candidates than k·refine = 200
    val ix = AnnIndex.topK(spark, ixDir, emb, queries, 40, nProbe = 1)
      .orderBy("query_id", "rk").collect().toSeq
    val mem = Similarity.ivfPqTopK(emb, queries, 40, nProbe = 1)
      .orderBy("query_id", "rk").collect().toSeq
    assert(ix == mem)
    val perQuery = ix.groupBy(_.getLong(0)).values.map(_.size)
    assert(perQuery.nonEmpty && perQuery.forall(_ < 40),
      s"expected fewer than k candidates per query, got $perQuery")
    val vdir = AnnIndex.resolveDir(spark, ixDir)
    val (cents, cbs, subDims) = AnnIndex.loadQuantizers(spark, vdir)
    val ref = AnnIndexSpec.windowTopK(AnnIndex.loadCodes(spark, vdir), emb,
      queries, cents, cbs, 40, 1, 5, subDims)
      .orderBy("query_id", "rk").collect().toSeq
    assert(ix == ref)
  }

  test("probe equals the Spark window computation on the fixture index") {
    val vdir = AnnIndex.resolveDir(spark, ixDir)
    val (cents, cbs, subDims) = AnnIndex.loadQuantizers(spark, vdir)
    val ix = AnnIndex.topK(spark, ixDir, emb, queries, 5)
      .orderBy("query_id", "rk").collect().toSeq
    val ref = AnnIndexSpec.windowTopK(AnnIndex.loadCodes(spark, vdir), emb,
      queries, cents, cbs, 5, 4, 5, subDims)
      .orderBy("query_id", "rk").collect().toSeq
    assert(ix.nonEmpty && ix == ref)
  }

  test("ties break as (adist ASC, vec_id ASC), then (cos DESC, neighbor_id ASC)") {
    import spark.implicits._
    // 8 distinct vectors, each stored under 4 ids: every candidate ties
    // with 3 others on both adist and cos
    val rnd = new scala.util.Random(17)
    val bases = Array.fill(8)(Array.fill(8)(rnd.nextFloat()))
    val dup = (0 until 32).map(i => (i.toLong * 3 + 1, bases(i % 8).toSeq))
      .toDF("vec_id", "embedding")
    val qs = dup.filter(col("vec_id") === 1L || col("vec_id") === 52L)
    val (k, nProbe, refine) = (5, 2, 2)
    val got = Similarity.ivfPqTopK(dup, qs, k, numCells = 4, nProbe = nProbe,
      numSubspaces = 4, codebookSize = 4, dims = 8, refine = refine)
      .orderBy("query_id", "rk").collect().toSeq
    val cents = Similarity.ivfCentroids(dup, 4)
    val cbs = Similarity.pqCodebooks(dup, 4, 4, 2)
    val ref = AnnIndexSpec.windowTopK(
      Similarity.encodeIvfPq(dup, cents, cbs, 2), dup, qs, cents, cbs,
      k, nProbe, refine, 2).orderBy("query_id", "rk").collect().toSeq
    assert(got == ref)
    got.groupBy(_.getLong(0)).values.foreach { rows =>
      assert(rows.map(_.getInt(1)) == (1 to rows.size))
      rows.sliding(2).foreach {
        case Seq(a, b) =>
          val (ca, cb) = (a.getDouble(4), b.getDouble(4))
          assert(ca > cb || (ca == cb && a.getLong(2) < b.getLong(2)),
            s"rank order broken between $a and $b")
        case _ =>
      }
    }
    // the fixture really ties: equal cosines inside the top k
    assert(got.groupBy(_.getLong(0)).values.exists(rows =>
      rows.map(_.getDouble(4)).distinct.size < rows.size))
  }
}

object AnnIndexSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.expressions.Window

  /** The IVF-PQ candidate → re-rank tail as Spark windows: probe cells
    * per query by a UDF, ADC distance per (query, candidate), a
    * `row_number` cut at k·refine by (adist ASC, vec_id ASC), exact
    * cosine with the engine expressions, a `row_number` cut at k by
    * (cos DESC, neighbor_id ASC). An independent reference for the
    * driver-side merge and re-rank of [[Similarity.ivfPqScore]]. */
  def windowTopK(codes: DataFrame, emb: DataFrame, queries: DataFrame,
      centroids: Array[Array[Double]], cbs: Array[Array[Array[Double]]],
      k: Int, nProbe: Int, refine: Int, subDims: Int): DataFrame = {
    val probesU = udf((v: Seq[Float]) => {
      val ds = centroids.zipWithIndex.map { case (cv, c) =>
        var d = 0.0; var i = 0
        while (i < cv.length) { val x = v(i) - cv(i); d += x * x; i += 1 }
        (c, d)
      }
      ds.sortBy(_._2).take(nProbe).map(_._1)
    })
    val dtables = queries.select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val qv = r.getSeq[Float](1).map(_.toDouble).toIndexedSeq
        r.getLong(0) -> Array.tabulate(cbs.length, cbs.head.length)((m, c) =>
          Similarity.pqD2(cbs(m)(c), Similarity.pqSub(subDims)(qv, m)))
      }.toMap
    val adistU = udf((cs: Seq[Int], qid: Long) => {
      val dt = dtables(qid)
      var s = 0.0; var m = 0
      while (m < cs.length) { s += dt(m)(cs(m)); m += 1 }
      s
    })
    val qcells = queries.select(col("vec_id").as("query_id"),
      explode(probesU(col("embedding"))).as("cell"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("vec_id"))
    val cand = codes.join(qcells, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adist", round(adistU(col("codes"), col("query_id")), 6))
      .withColumn("ark", row_number().over(wA))
      .filter(col("ark") <= k * refine)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adist"))
    val e = Similarity.withNorm(emb, "vec_id", "embedding")
    val q = Similarity.withNorm(queries, "vec_id", "embedding")
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val wC = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.join(e.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .join(q, "query_id")
      .withColumn("cos", round(Similarity.dot(col("v"), col("qv")) /
        (col("nrm") * col("qn")), 4))
      .withColumn("rk", row_number().over(wC))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("adist"),
        col("cos"))
  }
}
