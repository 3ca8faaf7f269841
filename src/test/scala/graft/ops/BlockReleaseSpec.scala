package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpecBase

/** The explicit block-release discipline (r11: measured 5.6× steady-time
  * inflation on the scale ladder from leaked localCheckpoint blocks):
  * `Checkpoints.release` must free a dead staged frame's blocks NOW, must
  * REFUSE composite frames (unpersisting every LogicalRDD in a join of
  * staged inputs would free blocks other plans still read — and local
  * checkpoints cannot recompute), and every per-round staging loop (BPE
  * merges, MMR greedy selection — the graph loops are covered by their
  * own suites) must hold a BOUNDED number of staged frames regardless of
  * round count.
  */
class BlockReleaseSpec extends SparkSpecBase {
  import spark.implicits._

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet

  test("release frees a dead staged frame's blocks immediately") {
    val df = Checkpoints.stage(
      (1 to 100).toDF("x").withColumn("y", col("x") * 2), eager = true)
    val rdd = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.head
    assert(rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "eager local checkpoint should hold blocks")
    Checkpoints.release(df)
    assert(rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "release must unpersist the staged RDD, not wait for the periodic cleaner")
  }

  test("release accepts a projection over exactly one staged input") {
    // the pageRank round-1 shape: init = ids.withColumn(...) — a cheap
    // projection whose only storage is the single staged `ids` frame
    val ids = Checkpoints.stage((1 to 50).toDF("id"), eager = true)
    val init = ids.withColumn("r", lit(1.0))
    Checkpoints.release(init) // must release ids' blocks, not throw
    val rdd = ids.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.head
    assert(rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("release REJECTS a composite frame over two staged inputs") {
    // the r11 ADVICE hazard: a frame joining a SHARED staged input —
    // silently freeing every LogicalRDD would kill blocks other plans
    // still read, failing far from the cause
    val a = Checkpoints.stage((1 to 20).toDF("k"), eager = true)
    val b = Checkpoints.stage((10 to 30).toDF("k"), eager = true)
    val joined = a.join(b, "k")
    val e = intercept[IllegalArgumentException](Checkpoints.release(joined))
    assert(e.getMessage.contains("exactly one staged input"))
    // neither input lost its blocks to the rejected call
    Seq(a, b).foreach { df =>
      val rdd = df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }.head
      assert(rdd.getStorageLevel !=
        org.apache.spark.storage.StorageLevel.NONE)
      Checkpoints.release(df)
    }
  }

  test("BPE training holds a bounded staged-frame count, not one per merge") {
    val docs = Seq(
      "low lower lowest newer newest wide wider widest low low newer",
      "hug hugs hugging pug pugs bug bugs bun buns hug hug pug")
      .toDF("text")
    val before = persisted
    val (merges, vocab) = Bpe.train(docs, "text", numMerges = 10)
    assert(merges.size == 10)
    vocab.collect() // materialize the final lazy stage
    val fresh = persisted -- before
    // alive: the final staged vocab frame + its still-referenced
    // predecessor (the deferred-write convention) — NEVER ~numMerges
    assert(fresh.size <= 3,
      s"BPE loop leaked staged frames: ${fresh.size} new persistent RDDs " +
        "after 10 merge rounds (expected <= 3: final stage + predecessor)")
  }

  test("repeated TF-IDF / NLL calls hold a flat persistent-RDD count") {
    // r12 VERDICT #5: tfidfTopK/unigramNll staged their partials and
    // left release to the periodic cleaner — one leaked frame per call
    // in a long-lived session. stageTransient sweeps prior frames on
    // every call (safe: lineage preserved, an early sweep recomputes),
    // and releaseTransients() is the deterministic loop-boundary zero.
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "beta gamma delta"),
      (3L, "gamma delta epsilon alpha beta"))
      .toDF("doc_id", "text")
    Checkpoints.releaseTransients()
    val before = persisted
    (1 to 5).foreach { _ =>
      assert(KeywordSearch.tfidfTopK(docs, "doc_id", "text", k = 2).count() > 0)
      assert(KeywordSearch.unigramNll(docs, "doc_id", "text").count() > 0)
    }
    val fresh = persisted -- before
    assert(fresh.size <= 1,
      s"transient staging leaked: ${fresh.size} new persistent RDDs after " +
        "10 calls (expected <= 1: only the most recent call's frame)")
    Checkpoints.releaseTransients()
    assert((persisted -- before).isEmpty,
      "releaseTransients must free the last outstanding transient frame")
    assert(Checkpoints.transientCount === 0)
  }

  test("transient queues are per-thread: another thread's sweep cannot evict mine") {
    // r13 ADVICE: the JVM-global queue let one pipeline's stageTransient
    // evict another thread's still-pending frame — silent recompute of
    // the very scan the staging avoids. Now each thread sweeps only its
    // own; a dead thread's leftovers reap on the next call anywhere.
    Checkpoints.releaseTransients()
    val mine = Checkpoints.stageTransient(Seq((1L, "x")).toDF("id", "s"))
    var otherFailed: Option[Throwable] = None
    val t = new Thread(() => {
      try {
        Checkpoints.stageTransient(Seq((2L, "y")).toDF("id", "s"))
        Checkpoints.stageTransient(Seq((3L, "z")).toDF("id", "s"))
      } catch { case e: Throwable => otherFailed = Some(e) }
    })
    t.start(); t.join()
    assert(otherFailed.isEmpty, s"worker thread failed: $otherFailed")
    assert(mine.storageLevel.useMemory,
      "my pending transient frame must survive another thread's sweeps")
    // my own next call sweeps my frame AND reaps the dead thread's queue
    Checkpoints.stageTransient(Seq((4L, "w")).toDF("id", "s"))
    assert(!mine.storageLevel.useMemory,
      "my own next stageTransient sweeps my prior frame")
    assert(Checkpoints.transientCount === 1,
      "only the newest frame outstanding after the dead-thread reap")
    Checkpoints.releaseTransients()
    assert(Checkpoints.transientCount === 0)
  }

  test("lazy stage() frames chain and are freed only at the boundary") {
    // the lazy staging behind orderedSmall and the query-internal
    // shared subtrees. Three properties: (a) staging a SECOND frame must
    // NOT free the first (they chain inside one not-yet-materialized
    // plan); (b) materialization persists staged blocks, held through
    // the consumer's job; (c) releaseTransients (the SparkEntry
    // per-query boundary sweep) frees the BLOCKS, not just the queue —
    // Dataset.unpersist is a no-op for checkpointed frames, so the
    // drain must go through the LogicalRDD.
    Checkpoints.releaseTransients()
    val a = Checkpoints.stage(Seq((1L, "x")).toDF("id", "s"), eager = false)
    val b = Checkpoints.stage(a.select(col("id")), eager = false)
    assert(Checkpoints.stagedCount === 2,
      "a lazy stage() must not sweep the thread's prior staged frames")
    val joined = a.join(b, "id")
    assert(joined.count() === 1) // materializes both staged frames
    def stagedRdds(dfs: org.apache.spark.sql.DataFrame*) = dfs.flatMap {
      _.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
    }
    val rdds = stagedRdds(a, b)
    assert(rdds.forall(_.getStorageLevel !=
      org.apache.spark.storage.StorageLevel.NONE),
      "both chained frames hold staged blocks through their consumer's job")
    Checkpoints.releaseTransients()
    assert(Checkpoints.stagedCount === 0)
    assert(rdds.forall(_.getStorageLevel ==
      org.apache.spark.storage.StorageLevel.NONE),
      "the boundary sweep must free the staged blocks themselves")
  }

  test("an upsert result stays readable after a later stageTransient on the same thread") {
    // the refresh composition: MasterUpsert stages its survivors with
    // truncated lineage, and a KeywordSearch call on the same thread
    // stages (and sweeps) its own transients before the upsert result is
    // read — the sweep must not reach the upsert's staged frame
    Checkpoints.releaseTransients()
    val key = Seq("document_source", "document_type", "document_name")
    val master = Seq((1L, "s", "t", "a"), (2L, "s", "t", "b"))
      .toDF("id" +: key: _*)
    val deletes = Seq[(Option[Long], String, String, String)](
      (Some(2L), "s", "t", "b")).toDF("id" +: key: _*)
    val fresh = Seq(("s", "t", "c"), ("s", "t", "d")).toDF(key: _*)
    val out = MasterUpsert.upsert(master, deletes, fresh, Seq("document_name"))
    KeywordSearch.tfidfTopK(
      Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text"), "doc_id",
      "text", k = 1)
    assert(out.count() === 3)
    Checkpoints.releaseTransients()
  }

  test("a swept transient frame recomputes instead of failing") {
    // the safety property that allows aggressive sweeping: lineage is
    // preserved, so consuming a released transient frame degrades to a
    // recompute, never to a vanished-block failure
    val out = KeywordSearch.tfidfTopK(
      Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text"), "doc_id",
      "text", k = 1)
    Checkpoints.releaseTransients() // sweep BEFORE the plan materializes
    assert(out.count() === 2)
  }

  test("MMR selection holds a bounded staged-frame count, not one per pick") {
    val rnd = new scala.util.Random(7)
    val emb = (0L until 40L)
      .map(i => (i, Array.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val before = persisted
    val out = Similarity.mmrTopK(emb, emb.filter(col("vec_id") < 2),
      k = 6, candK = 12, lambda = 0.7)
    assert(out.count() == 12) // 2 queries × k
    val fresh = persisted -- before
    // the k eager rounds each released their predecessor, and the
    // per-call cands/psim stages were released after the fold — only
    // the final selection frame may remain
    assert(fresh.size <= 2,
      s"MMR loop leaked staged frames: ${fresh.size} new persistent RDDs " +
        "after 6 picks (expected <= 2: the final selection stage)")
  }

  test("stage() frames queue for the query-boundary sweep (r14)") {
    // the frames a loop RETURNS (its staged sym, lazy finals) used to
    // wait on driver GC + ContextCleaner — the r14 mid-suite bench
    // measured late-suite queries up to 3× inflated from ~150 queries'
    // leftovers. Every stage() result now queues on its thread and
    // releaseTransients (SparkEntry's per-query boundary) frees it.
    Checkpoints.releaseTransients()
    val df = Checkpoints.stage(
      (1 to 100).toDF("x").withColumn("y", col("x") * 3), eager = true)
    assert(Checkpoints.stagedCount >= 1,
      "eager stage() must enqueue its frame for the boundary sweep")
    val rdd = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.head
    assert(rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
    Checkpoints.releaseTransients()
    assert(Checkpoints.stagedCount === 0, "boundary sweep must drain the queue")
    assert(rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "boundary sweep must unpersist staged blocks deterministically")
  }

  test("a Par worker's staged frame survives its thread and reads until the boundary") {
    // loop finals are staged on Par worker threads (clusterRepresentatives
    // runs CC and PageRank on two driver threads) and consumed by the
    // caller's action AFTER the workers die — only the boundary sweep
    // releases them
    Checkpoints.releaseTransients()
    val Seq(staged) = Par.run[org.apache.spark.sql.DataFrame](
      () => Checkpoints.stage((1 to 60).toDF("v"), eager = true))
    // another stage on the MAIN thread must not free the worker's frame
    Checkpoints.stage((1 to 5).toDF("w"), eager = true)
    assert(staged.count() === 60,
      "a dead worker's staged frame must stay readable until the boundary")
    assert(Checkpoints.stagedCount >= 2)
    Checkpoints.releaseTransients()
    assert(Checkpoints.stagedCount === 0)
  }
}
