package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over similarity/dedup graphs. PageRank
  * picks REPRESENTATIVE documents: in a near-dup cluster the member
  * most connected to everything else is the one to keep for training,
  * and centrality over the similarity graph is that signal.
  *
  * Determinism contract (the q_sim_pagerank oracle unrolls the same
  * steps as CTEs): ranks are rounded to 9 decimals after EVERY update,
  * per-vertex contribution sums run in DECIMAL(28,12) over 9-rounded
  * terms, so both engines walk identical values. Dangling-mass
  * redistribution is deliberately omitted (isolated vertices keep the
  * teleport term only) — fine for ranking, and it keeps the recurrence
  * local: each iteration is ONE equi-join on the edge list + ONE
  * groupBy, no global exchange beyond them.
  *
  * Scale: per iteration the shuffle volume is |E| (the contribution
  * join) — the standard distributed PageRank shape; `iters` bounds the
  * round count explicitly (no convergence loop to run away). */
object Graph {

  /** Unique-name source for the k-core loop's observe nodes (the CC
    * loop's obsSeq convention: names must never collide across
    * concurrent loops in one session). */
  private val kcoreObsSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Target rows per loop partition: small enough that a partition of
    * 2–3-long rows stays tens of MB (sorts and merge-join buffers fit
    * comfortably), large enough that a 2,000-vertex test graph runs in
    * ONE partition instead of 32 waves of 60-row tasks. */
  private val LoopRowsPerPartition = 500000L

  /** The iterative family's fixed partition count, sized from the
    * MEASURED graph (max of |V| and symmetrized |E|) and capped by
    * `spark.sql.shuffle.partitions` — the same decision AQE coalescing
    * would make at runtime, taken once up front so it can be EXPLICIT:
    * an explicit repartition count is a user contract AQE never
    * coalesces, and with every staged frame in the loop carrying the
    * SAME HashPartitioning count the per-round joins are statically
    * co-partitioned → exchange-free. On a cluster the conf cap rules
    * (thousands of partitions for a billion-vertex graph); on a small
    * corpus the size rule keeps per-round fixed costs proportional to
    * the data. */
  private[graft] def loopPartitions(df: DataFrame, rows: Long): Int = {
    val cap = df.sparkSession.sessionState.conf.numShufflePartitions
    val bySize = (rows + LoopRowsPerPartition - 1) / LoopRowsPerPartition
    math.max(1, math.min(cap.toLong, bySize)).toInt
  }

  // The symmetrized, staged edge list — each (a, b) pair in both
  // directions as (_s, _d) — is built in TWO steps below, materialized
  // once with truncated lineage so every iterative consumer (CC
  // rounds, PR iterations) re-reads staged blocks instead of re-running
  // the possibly-expensive pair generation. The final frame is
  // hash-partitioned on `_s` AND sorted within partitions:
  // `Dataset.checkpoint` (compiled AQE-off — see
  // `Checkpoints.stage(keepPartitioning)`) preserves both
  // outputPartitioning and outputOrdering into the staged LogicalRDD,
  // so every per-round merge join against the source endpoint (CC's
  // label propagation, PR's contribution join — both keyed on `_s`)
  // finds the edge side already distributed AND sorted on the join
  // key: zero exchange, zero sort, per round. One repartition+sort
  // paid once at staging replaces an |E| shuffle-or-sort per
  // iteration — at 100 TB the edge list is the big frame, so this is
  // the shuffle that matters.

  /** Step 1 of the two-step staging: the pair GENERATION (often an
    * LSH candidate join — skew-prone, exactly what AQE's runtime
    * re-planning is for) compiles under normal AQE. Staged LAZY: the
    * caller's `p.count()` (which it needs anyway to size the loop
    * partitioning) is the materializing action, so generation costs
    * ONE barrier, not a stage barrier plus a count. */
  private[graft] def stagePairs(pairs: DataFrame,
      aCol: String, bCol: String): DataFrame =
    Checkpoints.stage(
      pairs.select(col(aCol).as("_a"), col(bCol).as("_b")), eager = false)

  /** Step 2: the cheap symmetrize + repartition + sort stages AQE-off
    * so the loop partitioning AND ordering survive into the staged
    * scan (see Checkpoints.stage and the class doc). One extra
    * |E|-scale barrier at setup buys zero edge-list shuffles or sorts
    * per iteration for every consumer. */
  private[graft] def stagedSymFrom(p: DataFrame, loopP: Int): DataFrame =
    Checkpoints.stage(
      p.select(col("_a").as("_s"), col("_b").as("_d"))
        .union(p.select(col("_b").as("_s"), col("_a").as("_d")))
        .repartition(loopP, col("_s"))
        .sortWithinPartitions(col("_s")),
      eager = true, keepPartitioning = true,
      shufflePartitions = Some(loopP))

  /** Measured loop geometry: stage the pair generation, count both
    * frames (each count is one cheap job — the pair side reads its
    * just-staged blocks), and size the loop partitioning from
    * max(|V|, symmetrized |E|). Shared by every public entry so CC
    * and PR agree on the layout. */
  private[graft] def loopGeometry(vertices: DataFrame, pairs: DataFrame,
      aCol: String, bCol: String): (DataFrame, Long, Int) = {
    val p = stagePairs(pairs, aCol, bCol)
    val nV = vertices.count()
    val nE = p.count()
    val loopP = loopPartitions(vertices, math.max(nV, 2 * nE))
    (stagedSymFrom(p, loopP), nV, loopP)
  }

  /** Undirected PageRank: `pairs` lists each edge once (a, b); both
    * directions are materialized internally. Emits
    * (id, degree, pagerank) for every vertex in `vertices`. */
  def pageRank(vertices: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      iters: Int = 3, damping: Double = 0.85): DataFrame = {
    val (sym, nV, loopP) = loopGeometry(vertices, pairs, aCol, bCol)
    pageRankSym(vertices, idCol, sym, iters, damping, nV, loopP)
  }

  /** PageRank over an ALREADY-staged symmetric (_s, _d) edge list —
    * the shared-sym entry `clusterRepresentatives` uses so CC and PR
    * materialize the edge list once between them, not once each.
    * `n` = |vertices| (counted once by the caller), `loopP` = the
    * staged sym's partition layout. */
  private[graft] def pageRankSym(vertices: DataFrame, idCol: String,
      sym: DataFrame, iters: Int, damping: Double,
      n: Long, loopP: Int): DataFrame = {
    // plain IEEE divide — the same operation the mirror SQL performs
    val teleport = (1 - damping) / n
    val deg = sym.groupBy(col("_s")).agg(count(lit(1)).as("_deg"))
    // lazy: only iteration 1 reads ids (later rounds read their own
    // staged predecessor), so the first round's job materializes it —
    // no standalone barrier. Partitioned on _id at the loop's fixed
    // count so every iteration's contribution join (against sym's _s
    // partitioning) and rank-update join are statically co-partitioned.
    val ids = Checkpoints.stage(
      vertices.select(col(idCol).as("_id"))
        .join(deg, col("_id") === col("_s"), "left")
        .select(col("_id"), coalesce(col("_deg"), lit(0L)).as("_deg"))
        .repartition(loopP, col("_id"))
        .sortWithinPartitions(col("_id")),
      eager = false, keepPartitioning = true,
      shufflePartitions = Some(loopP))
    val r0 = round(lit(1.0) / n, 9)
    val init = ids.withColumn("_r", r0)
    val ranked = (1 to iters).foldLeft(init) { (ranks, i) =>
      // like the CC loop, each iteration compiles AQE-off over staged
      // stat-less scans, so both joins plan as sort-merge over the
      // aligned, pre-sorted partitioning: one aggregate exchange per
      // iteration, no broadcast builds, the shape that survives 100×
      val contribs = ranks
        .join(sym, col("_id") === col("_s"))
        .select(col("_d"),
          round(col("_r") / col("_deg"), 9)
            .cast("decimal(28,12)").as("_c"))
        .groupBy(col("_d"))
        .agg(sum(col("_c")).as("_in"))
      // the LAST iteration's stage is lazy: no further round re-reads
      // it, so the final sink action materializes it — one fewer
      // blocking driver barrier per pageRank call
      val staged = Checkpoints.stage(
        ranks.join(contribs, col("_id") === col("_d"), "left")
          .select(col("_id"), col("_deg"),
            round(lit(teleport) +
              lit(damping) * coalesce(col("_in").cast("double"), lit(0.0)), 9)
              .as("_r"))
          .repartition(loopP, col("_id"))
          .sortWithinPartitions(col("_id")),
        eager = i < iters, keepPartitioning = true,
        shufflePartitions = Some(loopP))
      // after an EAGER round, the predecessor's blocks are dead — free
      // them now (never before a lazy final stage: its deferred job
      // still reads the predecessor at the caller's sink action)
      if (i < iters) Checkpoints.release(ranks)
      staged
    }
    ranked.select(col("_id").as(idCol), col("_deg").as("degree"),
      round(col("_r"), 6).as("pagerank"))
  }

  /** Cluster-representative selection — the production keep decision of a
    * near-dup pipeline (the SemDeDup/D4 shape): vertices are grouped into
    * connected components of the similarity graph, every member is ranked
    * by PageRank centrality over the SAME edge list, and the most central
    * member of each cluster is kept (ties broken by smallest id, on the
    * 6-rounded pagerank both engines emit).
    *
    * The selection is a skew-safe `groupBy(cluster).min(struct(-pagerank,
    * id))` + join-back — NOT a per-cluster window: a giant boilerplate
    * cluster (the case dedup exists for) must not funnel every member
    * into one task's sort. Negating the rank turns "max pagerank, then
    * min id" into a single struct-min, which gets a map-side partial
    * combine. pagerank ≥ teleport > 0, so the negation never meets -0.0. */
  def clusterRepresentatives(vertices: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      iters: Int = 3, damping: Double = 0.85): DataFrame = {
    // both consumers re-scan the edge list many times (CC rounds, PR
    // iterations); materialize ONE symmetrized staged frame and share
    // it — previously edges, CC's sym, and PR's sym were three separate
    // |E|-scale eager materializations of the same data (three blocking
    // driver barriers), now it is one
    val (sym, nV, loopP) = loopGeometry(vertices, pairs, aCol, bCol)
    // the two loops are INDEPENDENT given the shared staged sym — run
    // them on two driver threads (guide §2.6, the Par convention) so
    // each loop's per-round barrier fills the other's task tail instead
    // of serializing ~(CC rounds + PR iters) barriers end to end.
    // Results are unchanged: each loop stages only its own frames, and
    // the keepPartitioning compile seam serializes on the shared clone.
    val (cc, pr) = Par.run2(
      () => Dedup.connectedComponentsSym(vertices, idCol, sym, loopP),
      () => pageRankSym(vertices, idCol, sym, iters, damping, nV, loopP))
    // staged: members feeds the per-cluster argmax AND the final
    // join-back — unstaged, the cc⋈pr join executed twice per run
    val members = Checkpoints.stage(cc.join(pr, idCol), eager = false)
    val best = members.groupBy(col("cluster_id"))
      .agg(min(struct((-col("pagerank")).as("np"), col(idCol).as("i")))
        .as("_best"))
      .select(col("cluster_id"), col("_best").getField("i").as("_rep_id"))
    members.join(best, "cluster_id")
      .select(col(idCol), col("cluster_id"), col("degree"), col("pagerank"),
        (col(idCol) === col("_rep_id")).as("is_representative"))
  }

  /** Per-vertex triangle counts by degree-ordered wedge closing
    * (Schank & Wagner 2005, the MapReduce form in Suri & Vassilvitskii
    * 2011): orient every undirected edge from its (degree, id)-smaller
    * endpoint to the larger, enumerate wedges as pairs of OUT-neighbors
    * of each vertex, and close them against the canonical edge set.
    * Each triangle has exactly one vertex that is (degree, id)-minimal,
    * so it is produced exactly once.
    *
    * Why this orientation matters at 100 TB: wedge volume is
    * Σ outdeg(v)², and the low-to-high orientation bounds every outdeg
    * by O(√|E|) — a power-law hub's millions of neighbors become
    * IN-edges, so the hub generates no wedge explosion. Naive
    * adjacency-join counting is quadratic in hub degree and dies on
    * exactly the graphs near-dup clustering produces. Three equi-joins
    * + one groupBy; no iteration, no driver barriers. */
  /** Canonical undirected edge set (a < b numerically — the cast to
    * long happens BEFORE least/greatest, so string id columns cannot
    * sneak in a lexicographic order that breaks the a < b invariant),
    * self-loops and duplicates dropped. */
  private[ops] def canonicalEdges(edges: DataFrame,
      srcCol: String, dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** The degree-ordered orientation of a canonical edge set: each edge
    * directed from its (degree, id)-smaller endpoint (s) to the larger
    * (d). Exposed `private[ops]` so TriangleSpec asserts the hub-safety
    * property on THIS code path, not a spec-local re-implementation. */
  private[ops] def orientByDegree(e0: DataFrame): DataFrame = {
    // staged: the degree table joins back on BOTH endpoints — unstaged,
    // the |V|-scale aggregate (and everything upstream of e0) executed
    // once per join leg
    val deg = Checkpoints.stage(
      e0.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("deg")), eager = false)
    e0
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("s"), col("b").as("d")))
          .otherwise(struct(col("b").as("s"), col("a").as("d"))).as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"))
  }

  /** k-core membership by iterative peeling: repeatedly delete
    * vertices whose degree among SURVIVORS is < k until fixpoint. The
    * 2-core of a near-dup graph separates genuinely cliquey duplicate
    * clusters (cycles survive) from chain/tree artifacts of borderline
    * pair thresholds (peeled away) — a structure diagnostic before
    * trusting cluster representatives.
    *
    * Scale shape (r10, the CC/PR loop discipline): the canonical edge
    * list stages ONCE into the loop's fixed hash-partitioned + sorted
    * layout; each round compiles AQE-off over that staged scan — one
    * degree aggregation plus two sort-merge anti-joins against the
    * peel set, re-staged into the same layout (lineage O(1), executor
    * loss survivable in reliable mode). Convergence is read off the
    * staged frame's EDGE COUNT (peeling removes a vertex iff it
    * removes an edge, so |E| unchanged ⇔ peel set empty) — and since
    * r14 the count rides INSIDE the staging job via Dataset.observe
    * (the CC-loop convention), so each peel round pays exactly ONE
    * driver barrier (pre-r10: three eager actions; r10: stage +
    * count; JobCountSpec pins the budget).
    * Rounds are data-dependent (the peeling depth — the graph's
    * degeneracy ordering depth, typically ~10 on near-dup graphs).
    * Throws if fixpoint is not reached within `maxRounds` — a silently
    * non-converged superset is never returned. */
  def kCore(vertices: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"k-core needs k >= 1, got $k")
    // lazy pair staging + count (the loopGeometry pattern): generation
    // compiles under AQE, the count is the materializing action
    val p0 = Checkpoints.stage(canonicalEdges(edges, srcCol, dstCol),
      eager = false)
    var nE = p0.count()
    val loopP = loopPartitions(p0, nE)
    // the surviving-edge count rides INSIDE the staging job via
    // Dataset.observe (the CC-loop convention — see
    // connectedComponentsSymRounds): one driver barrier per peel round
    // instead of stage + count
    def restage(df: DataFrame, round: Int): (DataFrame, Long) = {
      val obsName = s"graft_kcore_${kcoreObsSeq.incrementAndGet()}_r$round"
      val (staged, metrics) = Checkpoints.stageObserved(
        df.observe(obsName, count(lit(1)).as("n"))
          .repartition(loopP, col("a")).sortWithinPartitions(col("a")),
        keepPartitioning = true,
        shufflePartitions = Some(loopP))
      val n = metrics.get(obsName).map(_.get(0)) match {
        case Some(l: java.lang.Long) => l.longValue
        case _ => 0L
      }
      (staged, n)
    }
    var e = restage(p0, 0)._1
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val peeled = deg.filter(col("deg") < k).select(col("v"))
      val (e2, n2) = restage(e
        .join(peeled.select(col("v").as("a")), Seq("a"), "left_anti")
        .join(peeled.select(col("v").as("b")), Seq("b"), "left_anti")
        .select(col("a"), col("b")), rounds + 1)
      if (n2 == nE) {
        converged = true
        // e2 duplicates e's content and is never read again
        Checkpoints.release(e2)
      } else {
        // the new peel is materialized; the old edge frame is dead
        Checkpoints.release(e)
        e = e2; nE = n2; rounds += 1
      }
    }
    // a silent non-converged superset would mismatch its oracle only
    // loudly, not explainably — fail here instead, naming the knob
    // (peeling depth = the graph's degeneracy-ordering depth; 50 rounds
    // is already far beyond any near-dup graph's)
    if (!converged)
      throw new IllegalStateException(
        s"kCore did not reach fixpoint within maxRounds=$maxRounds peel " +
          "rounds — the result would be a superset of the true k-core; " +
          "raise maxRounds for this graph")
    val inCore = e.select(explode(array(col("a"), col("b"))).as(idCol))
      .distinct().withColumn("in_core", lit(1))
    vertices.select(col(idCol).cast("long").as(idCol))
      .join(inCore, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("in_core"), lit(0)).as("in_core"))
  }

  def triangleCounts(vertices: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    // canonical edges feed the degree aggregate, the orientation join
    // AND the wedge-closing join; the orientation feeds both wedge
    // legs. `edges` is typically an expensive LSH-verify pair join —
    // unstaged, the whole generation chain replayed per consumer
    // (~15× in the registered q_sim_triangles plan: 84 staged-scan
    // references, 98 exchanges). Staged once each, the plan carries
    // one generation pass + one orientation pass.
    val e0 = Checkpoints.stage(
      canonicalEdges(edges, srcCol, dstCol), eager = false)
    val oriented = Checkpoints.stage(orientByDegree(e0), eager = false)
    // wedges: unordered out-neighbor pairs, canonicalized by id so the
    // closing lookup is a single equi-join against e0's (a < b) form
    val o1 = oriented.select(col("s"), col("d").as("d1"))
    val o2 = oriented.select(col("s"), col("d").as("d2"))
    val wedges = o1.join(o2, Seq("s")).filter(col("d1") < col("d2"))
    val tris = wedges.join(e0,
      col("d1") === col("a") && col("d2") === col("b"))
      .select(col("s"), col("d1"), col("d2"))
    val perVertex = tris
      .select(explode(array(col("s"), col("d1"), col("d2"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_triangles"))
    vertices.select(col(idCol).cast("long").as(idCol))
      .join(perVertex.withColumnRenamed("v", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara 2007)
    * over an undirected pair graph: every vertex starts labeled with
    * its own id; each round it adopts the most frequent label among its
    * neighbors (ties broken by the SMALLEST label — the deterministic
    * variant, so the result is a pure function of the edge set, exactly
    * reproducible by the SQL mirror's unrolled rounds). Vertices with
    * no neighbors keep their own label. Unlike connected components
    * (one label per reachable region), LPA splits a weakly-bridged
    * region into densely-connected communities — on a near-dup graph
    * that separates genuinely duplicated groups that CC would merge
    * through a single borderline pair.
    *
    * `rounds` is FIXED, not a convergence loop: synchronous LPA can
    * oscillate between two labelings forever (bipartite structures), so
    * a fixpoint test may never fire; a fixed round count is the
    * standard bound and keeps the mirror a finite CTE unroll.
    *
    * Scale shape (the PageRank loop discipline): the symmetrized edge
    * list stages once into the loop's hash-partitioned + sorted layout;
    * each round is one co-partitioned merge join (labels ⋈ edges on the
    * source endpoint), a (vertex, label) count, a skew-safe
    * struct-min argmax — never a per-vertex window, so a hub's million
    * neighbor votes partial-aggregate map-side — and one co-partitioned
    * update join. Per-round shuffle volume is |E| for the vote count
    * plus |V| for the argmax: the standard distributed LPA shape. */
  def labelPropagation(vertices: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"LPA needs at least one round, got $rounds")
    val (sym, _, loopP) = loopGeometry(vertices, pairs, aCol, bCol)
    // lazy: round 1's vote join materializes it — no standalone barrier
    val init = Checkpoints.stage(
      vertices.select(col(idCol).cast("long").as("_id"))
        .withColumn("_lbl", col("_id"))
        .repartition(loopP, col("_id"))
        .sortWithinPartitions(col("_id")),
      eager = false, keepPartitioning = true,
      shufflePartitions = Some(loopP))
    val fin = (1 to rounds).foldLeft(init) { (labels, i) =>
      // most frequent neighbor label, ties to the smallest label: a
      // groupBy struct-min over (−count, label), NOT a window — a
      // giant community's votes must not funnel into one task's sort
      val votes = labels
        .join(sym, col("_id") === col("_s"))
        .groupBy(col("_d"), col("_lbl"))
        .agg(count(lit(1)).as("_n"))
        .groupBy(col("_d"))
        .agg(min(struct((-col("_n")).as("nn"), col("_lbl").as("l")))
          .as("_best"))
        .select(col("_d"), col("_best").getField("l").as("_new"))
      // the last round's stage is lazy: the caller's sink action
      // materializes it (same convention as pageRankSym)
      val staged = Checkpoints.stage(
        labels.join(votes, col("_id") === col("_d"), "left")
          .select(col("_id"), coalesce(col("_new"), col("_lbl")).as("_lbl"))
          .repartition(loopP, col("_id"))
          .sortWithinPartitions(col("_id")),
        eager = i < rounds, keepPartitioning = true,
        shufflePartitions = Some(loopP))
      // free the predecessor after an eager round (pageRankSym note)
      if (i < rounds) Checkpoints.release(labels)
      staged
    }
    fin.select(col("_id").as(idCol), col("_lbl").as("community"))
  }
}
