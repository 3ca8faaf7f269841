package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpecBase

/** The Checkpoints seam changes fault-tolerance, never results: every
  * iterative operator must produce IDENTICAL output whether its rounds
  * stage through localCheckpoint (default) or reliable Dataset.checkpoint
  * (spark.graft.checkpoint.dir set — the 100 TB cluster posture, where a
  * lost executor must not lose the truncated-lineage blocks). */
class ReliableCheckpointSpec extends SparkSpecBase {

  private def withReliableDir[A](body: => A): (A, Long) = {
    val dir = Files.createTempDirectory("graft-reliable-ckpt")
    spark.conf.set(Checkpoints.DirKey, dir.toString)
    try {
      val out = body
      // prove the reliable path actually engaged: checkpoint files exist
      val walk = Files.walk(dir)
      val written =
        try walk.filter(Files.isRegularFile(_)).count() finally walk.close()
      (out, written)
    } finally spark.conf.unset(Checkpoints.DirKey)
  }

  private def graphFixture = {
    import spark.implicits._
    // two chain clusters + one triangle + isolated vertices: exercises
    // CC pointer-halving rounds AND distinct PageRank degrees
    val vertices = (0L until 20L).toDF("id")
    val pairs = Seq(
      (0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L),
      (15L, 16L), (16L, 17L), (15L, 17L)).toDF("id_a", "id_b")
    (vertices, pairs)
  }

  test("clusterRepresentatives: reliable-checkpoint output equals local") {
    val (vertices, pairs) = graphFixture
    def run() = Graph
      .clusterRepresentatives(vertices, "id", pairs, "id_a", "id_b")
      .orderBy(col("id")).collect().map(_.toSeq).toSeq
    val local = run()
    val (reliable, written) = withReliableDir(run())
    assert(written > 0, "no checkpoint files written — reliable path not taken")
    assert(reliable === local)
  }

  test("changing the checkpoint dir re-routes — even to a prefix of the old one") {
    // the raw substring check this pins against: with the old dir
    // .../ckpt2 active, a new configured dir .../ckpt is a substring of
    // the current context dir, so stage() silently kept writing to
    // ckpt2 — reliable checkpoints landing in a decommissioned path
    import spark.implicits._
    val base = Files.createTempDirectory("graft-ckpt-switch")
    val oldDir = base.resolve("ckpt2")
    val newDir = base.resolve("ckpt")
    def stageOnce(): Unit =
      Checkpoints.stage((1L to 10L).toDF("v"), eager = true).count()
    spark.conf.set(Checkpoints.DirKey, oldDir.toString)
    try {
      stageOnce()
      assert(spark.sparkContext.getCheckpointDir.exists(_.contains("ckpt2")))
      spark.conf.set(Checkpoints.DirKey, newDir.toString)
      stageOnce()
      val cur = spark.sparkContext.getCheckpointDir.get
      assert(!cur.contains("ckpt2"),
        s"checkpoint dir still routed to the stale directory: $cur")
      val walk = Files.walk(newDir)
      val written =
        try walk.filter(Files.isRegularFile(_)).count() finally walk.close()
      assert(written > 0, "no checkpoint files under the re-configured dir")
    } finally spark.conf.unset(Checkpoints.DirKey)
  }

  test("lazy-stage caches are released once the deferred write lands") {
    // the r8 leak: reliable-mode LAZY stages persisted at
    // MEMORY_AND_DISK and nothing ever unpersisted them — every
    // pageRank/CC call grew the cache for the session lifetime. The
    // sweep releases each cache exactly when its checkpoint files
    // exist, so after a full operator run + one sweep nothing pends
    // and no graft stage frame remains cached.
    val (vertices, pairs) = graphFixture
    // other suites share the session and may hold legitimate caches
    // (streaming probe sides, bucketed tables) — only NEW entries count
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (_, written) = withReliableDir {
      Graph.clusterRepresentatives(vertices, "id", pairs, "id_a", "id_b")
        .write.format("noop").mode("overwrite").save()
      // the sink action materialized the final lazy stage's deferred
      // checkpoint; pendingCount sweeps and must find nothing left
      assert(Checkpoints.pendingCount === 0,
        "lazy-stage caches still pending after their checkpoints landed")
      val leaked = spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => before(id) }
      assert(leaked.isEmpty,
        s"cached RDDs leaked past the sweep: ${leaked.keys.toSeq.sorted}")
    }
    assert(written > 0, "no checkpoint files written — reliable path not taken")
  }

  test("never-materialized lazy stages are bounded, not leaked") {
    // a plan-only consumer in reliable mode constructs lazy stages
    // whose deferred writes never run; the pending queue force-evicts
    // past its cap (safe: eviction only costs a recompute if the write
    // ever runs), so a long-running driver cannot accumulate caches
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pending-bound")
    spark.conf.set(Checkpoints.DirKey, dir.toString)
    try {
      (1 to 40).foreach { i =>
        Checkpoints.stage((1L to 5L).toDF(s"v$i"), eager = false)
      }
      assert(Checkpoints.pendingCount <= 32,
        "pending lazy-stage caches grew past the documented bound")
    } finally spark.conf.unset(Checkpoints.DirKey)
  }

  test("mmrTopK: reliable-checkpoint output equals local") {
    // covers the r8 seam migration of the non-graph staged operators
    // (the MMR greedy fold stages every step like pageRank's rounds)
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val emb = (0L until 60L)
      .map(i => (i, Seq.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = (100L until 103L)
      .map(i => (i, Seq.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    def run() = Similarity.mmrTopK(emb, queries, k = 3, candK = 8,
        lambda = 0.7)
      .orderBy(col("query_id"), col("rk")).collect().map(_.toSeq).toSeq
    val local = run()
    val (reliable, written) = withReliableDir(run())
    assert(written > 0, "no checkpoint files written — reliable path not taken")
    assert(reliable === local)
    assert(local.nonEmpty)
  }

  test("cosinePairsAdaptive: reliable-checkpoint output equals local") {
    import spark.implicits._
    // planted near-identical pairs so the generator has real output to
    // compare (the sf0.001 fixture has no pairs at 0.85)
    val rng = new scala.util.Random(31)
    val emb = (0 until 100).flatMap { i =>
      val v = Seq.fill(64)(rng.nextGaussian().toFloat)
      val dup = v.map(x => x + 0.001f * rng.nextGaussian().toFloat)
      Seq((2L * i, v), (2L * i + 1, dup))
    }.toDF("vec_id", "embedding")
    def run() = Similarity.cosinePairsAdaptive(emb, 0.85, maxPlanes = 7)
      .orderBy(col("vec_a"), col("vec_b")).collect().map(_.toSeq).toSeq
    val local = run()
    val (reliable, written) = withReliableDir(run())
    assert(written > 0, "no checkpoint files written — reliable path not taken")
    assert(reliable === local)
    assert(local.nonEmpty)
  }
}
