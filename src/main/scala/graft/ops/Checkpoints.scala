package graft.ops

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.DataFrame

/** Lineage-truncation seam for every staged materialization in the
  * engine — the iterative operators (PageRank, connected components,
  * the LSH pair generator, the MMR greedy fold), whose loop rounds must
  * cut plan lineage or the optimizer re-derives an ever-growing tree,
  * AND the compute-once/consume-many frames (BM25 term base, bigram/
  * unigram vocab tables, winnow fingerprints, k-means assignments,
  * temperature strata). HOW lineage is cut is a deployment decision,
  * not an algorithm one, so no operator calls localCheckpoint directly.
  *
  * - Default (`spark.graft.checkpoint.dir` unset): `localCheckpoint` —
  *   blocks live on executor local storage with truncated lineage. Fast,
  *   zero-config, correct on `local[*]` and for short jobs. On a real
  *   cluster a LOST EXECUTOR makes those blocks unrecoverable (the
  *   lineage that could rebuild them was truncated away), failing the
  *   job — an availability risk for a multi-hour 100 TB PageRank.
  * - Reliable (`spark.graft.checkpoint.dir` = a fault-tolerant path,
  *   e.g. HDFS/object store): `Dataset.checkpoint` writes the staged
  *   frame there, so iteration state survives executor loss and the job
  *   resumes from the last round instead of dying. The extra cost is one
  *   distributed write+read per staged frame — the standard trade for
  *   long iterative jobs.
  *
  * ReliableCheckpointSpec pins output equality between the two modes
  * (same hash either way — this seam changes fault-tolerance, never
  * results).
  *
  * Staged storage has three lifetimes, one per kind of frame:
  *
  * Truncated frames ([[stage]], [[stageObserved]]) are the only copy of
  * their data: a read after their blocks are freed fails instead of
  * recomputing. They are freed by [[release]] (a loop's dead
  * predecessor) or at the query boundary by [[releaseTransients]], which
  * SparkEntry calls before each registered query's construction —
  * never by another call's sweep, on any thread. A driver that never
  * reaches a query boundary (a batch loop such as perfbench's refresh
  * cycle) holds its truncated frames until it calls
  * [[releaseTransients]] itself.
  *
  * [[stageTransient]] frames keep their lineage, so freeing them early
  * only costs a recompute. They are freed by the next [[stageTransient]]
  * call on the same thread (a thread that has exited is drained by any
  * later call), or at the boundary by [[releaseTransients]].
  *
  * Reliable-mode lazy caches (the persisted input of a lazy reliable
  * [[stage]], read by its deferred checkpoint write) are freed by
  * [[sweep]] once that write has landed; every reliable-mode staging
  * call sweeps.
  */
object Checkpoints {

  /** Session conf key: directory for reliable checkpoints. Unset (the
    * default) selects `localCheckpoint`. */
  val DirKey = "spark.graft.checkpoint.dir"

  /** Reliable-mode lazy stages persist their input so the deferred
    * checkpoint write reads the cache instead of recomputing — but the
    * cache must not outlive the write, or every pageRank /
    * connectedComponents / mmrTopK call leaks a MEMORY_AND_DISK frame
    * for the session lifetime. Each lazy stage's (cache, checkpointed
    * RDD) pair is queued here until [[sweep]] sees
    * `rdd.isCheckpointed`, which flips true exactly when the checkpoint
    * files exist (the deferred write runs at the end of the first job
    * that computes the RDD). */
  private val pendingUnpersist =
    new ConcurrentLinkedQueue[(DataFrame, org.apache.spark.rdd.RDD[_])]()

  /** Bound on pending lazy-stage caches: a plan-only consumer in
    * reliable mode constructs lazy stages that may NEVER materialize,
    * so their queue entries would otherwise accumulate forever. Beyond
    * this many, the oldest cache is force-unpersisted and dropped —
    * semantically safe at any time: a deferred write that later runs
    * simply recomputes its subtree instead of reading the cache. */
  private val MaxPending = 32

  /** Release caches whose deferred reliable checkpoint has
    * materialized (plus the force-evicted overflow — see MaxPending).
    * Never loses data: an evicted cache only costs a recompute if its
    * write ever runs. */
  private def sweep(): Unit = {
    val it = pendingUnpersist.iterator()
    while (it.hasNext) {
      val (cached, rdd) = it.next()
      if (rdd.isCheckpointed) {
        cached.unpersist(blocking = false)
        it.remove()
      }
    }
    while (pendingUnpersist.size() > MaxPending) {
      val oldest = pendingUnpersist.poll()
      if (oldest != null) oldest._1.unpersist(blocking = false)
    }
  }

  /** Spec surface: how many lazy-stage caches still await their
    * deferred checkpoint (post-sweep count pins the no-leak claim). */
  private[graft] def pendingCount: Int = { sweep(); pendingUnpersist.size() }

  /** Free a staged frame's blocks NOW instead of waiting for
    * ContextCleaner's PERIODIC cycle (spark.cleaner.periodicGC.interval,
    * default 30 min): an iterative operator otherwise holds every prior
    * round's localCheckpoint blocks — rounds × |V| rows of dead storage
    * across a long CC/PageRank run. ONLY call when the frame can never
    * be read again: for local checkpoints the cached blocks ARE the data
    * (lineage is truncated at the checkpoint), so a later read would
    * fail rather than recompute. The loop convention: release round i−1
    * right after round i's EAGER stage materializes; never release the
    * predecessor of a LAZY final stage (its deferred job still reads
    * it) or the frame an operator returns.
    *
    * The frame must be backed by EXACTLY ONE staged input (one
    * LogicalRDD in its analyzed plan — the staged frame itself or a
    * cheap projection over it, like pageRank's `ids.withColumn`
    * round-1 frame). A composite frame — say a join of two staged
    * frames, one of them a SHARED input other plans still read — is
    * rejected loudly here: silently unpersisting every LogicalRDD it
    * references would free blocks whose lineage is truncated, and the
    * victim read fails with "checkpoint block not found" far from the
    * cause (local checkpoints cannot recompute). */
  def release(df: DataFrame): Unit = {
    val staged = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.distinct
    require(staged.length == 1,
      s"Checkpoints.release expects a frame backed by exactly one staged " +
        s"input (got ${staged.length} LogicalRDDs) — releasing a composite " +
        "frame would free shared staged blocks that other plans still read")
    staged.head.unpersist(blocking = false)
  }

  /** [[stageTransient]] frames awaiting release, queued PER OWNING
    * THREAD: a thread's call sweeps only its own prior frames, so a
    * concurrent pipeline's still-pending frame is never evicted (a
    * silent recompute of the corpus-scale scan the staging exists to
    * avoid). */
  private val transientQueues =
    new ConcurrentHashMap[Thread, ConcurrentLinkedQueue[DataFrame]]()

  private def drain(q: ConcurrentLinkedQueue[DataFrame]): Unit = {
    var f = q.poll()
    while (f != null) { f.unpersist(blocking = false); f = q.poll() }
  }

  /** Stage a compute-once/consume-within-ONE-plan frame (TF-IDF's tf
    * partials, unigramNll's vocab) with DETERMINISTIC release instead of
    * the wait-for-the-periodic-cleaner convention, under which each
    * single-shot call held one MEMORY_AND_DISK frame for up to 30 min.
    *
    * Unlike [[stage]], lineage is NOT truncated: the frame is persisted
    * and eagerly materialized (one job computes it once; every scan in
    * the consuming plan reads the cache), so releasing its blocks is
    * safe at ANY time — a later action simply recomputes from lineage
    * instead of failing on vanished checkpoint blocks. That safety is
    * what lets each call sweep the calling thread's prior transient
    * frames, and the queues of threads that have exited: their
    * consumers have run by then in every registered-query flow, and a
    * plan still unmaterialized when its input is swept degrades to a
    * recompute, never to wrong results. Iterative operators must keep
    * using [[stage]]: their loop rounds need lineage truncation, and
    * their predecessors are provably dead — the stronger [[release]]
    * applies there. */
  def stageTransient(df: DataFrame): DataFrame = {
    val own = transientQueues.computeIfAbsent(Thread.currentThread(),
      _ => new ConcurrentLinkedQueue[DataFrame]())
    drain(own)
    val it = transientQueues.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (!e.getKey.isAlive) { drain(e.getValue); it.remove() }
    }
    val cached = df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.count() // materialize NOW: one computation feeds all consumers
    own.add(cached)
    cached
  }

  /** Every [[stage]]/[[stageObserved]] frame awaiting the query-boundary
    * sweep, from every thread: the frames that survive an operator (a
    * staged edge list, a loop's lazy final, a query-internal shared
    * subtree) would otherwise wait on driver GC + the ContextCleaner's
    * periodic sweep, and a suite's leftovers squeeze the storage pool
    * (late-suite queries measured up to 3× slower than in isolation).
    * Only [[releaseTransients]] drains it. Double release with
    * [[release]] is a no-op (RDD.unpersist is idempotent). */
  private val stagedFrames = new ConcurrentLinkedQueue[DataFrame]()

  /** Query boundary: release every outstanding transient AND staged
    * frame now, across ALL threads (idempotent). SparkEntry calls this
    * before each registered query's construction; batch drivers call it
    * at their loop boundary. Contract: every consumer of a staged frame
    * runs before the next boundary — true by construction for the
    * registered queries, which compute from the parquet inputs and share
    * nothing staged across queries. */
  def releaseTransients(): Unit = {
    val it = transientQueues.values().iterator()
    while (it.hasNext) { drain(it.next()); it.remove() }
    var f = stagedFrames.poll()
    while (f != null) { release(f); f = stagedFrames.poll() }
  }

  /** Spec surface: outstanding staged frames across all threads. */
  private[graft] def stagedCount: Int = stagedFrames.size()

  /** Spec surface: outstanding transient frames across all threads. */
  private[graft] def transientCount: Int = {
    var n = 0
    transientQueues.values().forEach(q => n += q.size())
    n
  }

  /** Conf keys the loop-compile clone re-syncs from the parent on
    * every keepPartitioning stage: the seam's own routing key (reliable
    * vs local checkpointing) and the runtime cartesian guard (so a
    * guarded session's eagerly-staged subtrees compile under the guard
    * too, not past it). Everything else was copied at clone birth;
    * these are the ones tests and deployments flip mid-session. */
  private val SyncedKeys = Seq(DirKey,
    graft.plans.CartesianGuard.EnabledKey)

  /** The per-parent loop-compile clone (see stage): weak keys so a
    * discarded parent session releases its clone. The VALUE is a
    * WeakReference too — the clone strongly references its parent
    * (retained parentSessionState), so a strong value would keep the
    * weak KEY reachable through the map itself and no entry could ever
    * be collected (one full SessionState leaked per parent session in
    * apps that create many). SOFT, not weak: a weak value would be
    * cleared by any minor GC between loop rounds, recreating the clone
    * mid-loop and re-paying the ~20% per-call SessionState-cloning cost
    * the cache exists to avoid; a soft value survives routine GC and is
    * cleared (entry and all) only under actual memory pressure — before
    * an OOM, never instead of the cache. A cleared reference is just a
    * cache miss: the clone is recreated, correctness unchanged. */
  private val cloneCache =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.lang.ref.SoftReference[org.apache.spark.sql.SparkSession]]()

  private def loopCompileSession(
      parent: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession = {
    val cached = cloneCache.get(parent)
    val live = if (cached != null) cached.get else null
    if (live != null) live
    else {
      val c = org.apache.spark.sql.GraftSqlBridge.cloneSession(parent)
      cloneCache.put(parent, new java.lang.ref.SoftReference(c))
      c
    }
  }

  /** Stage `df` with truncated lineage: reliable `checkpoint` when
    * [[DirKey]] is configured, `localCheckpoint` otherwise. `eager=false`
    * materializes on first action (construction-time staging of plan-only
    * consumers stays free — the PlanGuard constraint), `eager=true`
    * materializes now (iteration loops, where the frame is consumed
    * immediately and repeatedly).
    *
    * `keepPartitioning=true` compiles THIS staging without AQE so the
    * staged frame's hash partitioning AND ordering survive into the
    * LogicalRDD (under AQE, `Dataset.checkpoint` records
    * UnknownPartitioning — verified against Spark 4.1 — and every
    * downstream join then re-exchanges and re-sorts the staged scan).
    * The iterative graph family stages its loop frames this way: each
    * round's joins become statically co-partitioned, pre-sorted merge
    * joins in the `Graph.loopPartitions` layout, turning a per-round
    * |E| re-shuffle of the edge list into zero and each round's
    * materialization into a single driver barrier. Only use it for
    * loop-round frames whose subtree is already shape-pinned (stat-less
    * staged scans joined + one aggregate — the static planner keeps
    * them sort-merge) — AQE's runtime re-planning has nothing to add
    * there.
    * The AQE-off + partition pins live on a cached CLONED session
    * (own SQLConf, shared context/cache), so they are never visible to
    * any other thread of the parent — the compile happens at the
    * `stage` call even when lazy, entirely inside the clone. */
  def stage(df: DataFrame, eager: Boolean,
      keepPartitioning: Boolean = false,
      shufflePartitions: Option[Int] = None): DataFrame = {
    val out = stageExec(df, eager, keepPartitioning, shufflePartitions)._1
    stagedFrames.add(out)
    out
  }

  /** As [[stage]] with eager materialization, additionally returning
    * the metrics a `Dataset.observe(name, exprs...)` node accumulated
    * DURING that materialization — read directly off the executed
    * plan's CollectMetrics accumulators (QueryExecution
    * .observedMetrics), NOT via an Observation listener. An Observation
    * registers on one session's listener bus, and the loop compile
    * runs in the cached cloned session whose bus predates the
    * registration — `Observation.get` would block forever. The
    * accumulator read is session-independent
    * and exactly-once for the single materialization job. */
  def stageObserved(df: DataFrame,
      keepPartitioning: Boolean = false,
      shufflePartitions: Option[Int] = None)
      : (DataFrame, Map[String, org.apache.spark.sql.Row]) = {
    val (out, executed) =
      stageExec(df, eager = true, keepPartitioning, shufflePartitions)
    stagedFrames.add(out)
    (out, executed.queryExecution.observedMetrics)
  }

  /** Shared body: returns (result frame bound to the caller's session,
    * the frame whose QueryExecution actually ran — the metrics
    * surface). */
  private def stageExec(df: DataFrame, eager: Boolean,
      keepPartitioning: Boolean,
      shufflePartitions: Option[Int]): (DataFrame, DataFrame) = {
    val session = df.sparkSession
    if (keepPartitioning) {
      // compile THIS staging in a CLONED session: shared SparkContext,
      // block-manager cache, and listener bus, but its OWN SQLConf —
      // so the AQE-off pin and the loop's spark.sql.shuffle.partitions
      // value are invisible to every other thread of the parent
      // session. The staged result
      // is a LogicalRDD (a materialized RDD + schema + partitioning),
      // context-level state, so re-binding it to the parent session is
      // sound and downstream plans see the preserved layout.
      //
      // The partition pin itself: INTERMEDIATE exchanges in this
      // compile (a loop round's aggregate shuffle) take the loop's
      // measured partition count — with AQE off nothing coalesces at
      // runtime, so without the pin a 1-partition toy round still
      // launches conf-many near-empty tasks per aggregate.
      // loopPartitions caps at the session conf, so at deployment
      // scale the pinned value EQUALS the conf and this is a no-op.
      // One clone per parent session, cached weakly (cloning per stage
      // call measured ~20% on the kcore loop — SessionState cloning is
      // not free at a call per round). The lock serializes concurrent
      // keepPartitioning compiles on the SHARED clone (they may pin
      // different partition counts); the parent is never touched either
      // way. Seam-relevant keys that tests/deployments flip on the
      // parent AFTER the clone was born are re-synced per call.
      Checkpoints.synchronized {
        val clone = loopCompileSession(session)
        clone.conf.set("spark.sql.adaptive.enabled", "false")
        shufflePartitions match {
          case Some(p) =>
            clone.conf.set("spark.sql.shuffle.partitions", p.toString)
          case None => clone.conf.set("spark.sql.shuffle.partitions",
            session.conf.get("spark.sql.shuffle.partitions"))
        }
        SyncedKeys.foreach { k =>
          session.conf.getOption(k) match {
            case Some(v) => clone.conf.set(k, v)
            case None => clone.conf.unset(k)
          }
        }
        val rebound = org.apache.spark.sql.GraftSqlBridge.ofRows(
          clone, df.queryExecution.analyzed)
        val staged = stageImpl(rebound, eager)
        (org.apache.spark.sql.GraftSqlBridge.ofRows(
          session, staged.queryExecution.analyzed), rebound)
      }
    } else (stageImpl(df, eager), df)
  }

  private def stageImpl(df: DataFrame, eager: Boolean): DataFrame = {
    val session = df.sparkSession
    session.conf.getOption(DirKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = session.sparkContext
        // setCheckpointDir appends a per-context UUID subdir and resolves
        // to a full URI — only (re-)set when the context's current dir's
        // PARENT is not exactly the configured path (repeated re-sets
        // would scatter rounds across UUID dirs; a raw substring check
        // would silently keep routing to a stale dir when the conf
        // changes to a prefix of the old one, e.g. ckpt2 -> ckpt)
        val normalized = new org.apache.hadoop.fs.Path(dir).toUri.getPath
        val currentParent = sc.getCheckpointDir.map(d =>
          new org.apache.hadoop.fs.Path(d).getParent.toUri.getPath)
        if (!currentParent.contains(normalized))
          sc.setCheckpointDir(dir)
        // Dataset.checkpoint recomputes the subtree for the checkpoint
        // write unless the frame is persisted first (Spark's documented
        // behavior) — without this, every eager round pays its
        // join+agg twice. Persist, checkpoint, then drop the cache for
        // eager stages (the checkpoint files are now the source of
        // truth); lazy stages keep the cache so the deferred write at
        // first action reads it instead of recomputing.
        // every stage call is a sweep point: release prior lazy-stage
        // caches whose deferred write has since landed
        sweep()
        // RDD.doCheckpoint stops at the FIRST marked RDD in a job's
        // lineage and skips marked ancestors by default — so a lazy
        // stage consumed only by a later EAGER stage's job (whose root
        // is itself marked) would never get its deferred write, and in
        // AQE-off compiles there are no intermediate stage jobs on
        // unmarked RDDs to flush it either. Spark's documented escape
        // hatch is this local property: with it, every job checkpoints
        // ALL marked ancestors in its lineage. Thread-local, so set it
        // here (stage calls and the consuming actions share the
        // driver thread in batch flows).
        session.sparkContext.setLocalProperty(
          "spark.checkpoint.checkpointAllMarkedAncestors", "true")
        val cached = df.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val out = cached.checkpoint(eager)
        if (eager) cached.unpersist(blocking = false)
        else {
          // queue the cache for release once the deferred write lands
          out.queryExecution.logical.collectFirst {
            case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
          }.foreach(rdd => pendingUnpersist.add((cached, rdd)))
        }
        out
      case None => df.localCheckpoint(eager)
    }
  }
}
