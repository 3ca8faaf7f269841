package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fuzzy-match entity resolution: edit-distance blocking without an
  * all-pairs product, plus the cluster step that turns match pairs into
  * canonical entities.
  *
  * Candidate generation for Levenshtein distance ≤ 1 uses the exact
  * 1-deletion-neighborhood family sig(s) = {s} ∪ {s minus char i : i < |s|}:
  * two strings are within distance 1 **iff** their signature sets
  * intersect — substitution at i puts the shared s−i in both sets,
  * deletion t = s−i puts t itself in both, equality shares s. (This is
  * the FastSS scheme, Bocek et al. 2007; the general-k path is segment
  * blocking à la PassJoin, Li et al. VLDB 2011 — k = 1 is the registered
  * operating point because its signature family is both exact and
  * linear-size: |s|+1 signatures per string.) The join is therefore an
  * equi-join on signature hashes — O(n·len) exploded rows, shuffled on a
  * fixed-width md5 key — followed by an exact `levenshtein` verify that
  * also screens out any hash-collision phantom, so the result equals the
  * brute-force all-pairs answer (EntityResolutionSpec pins the equality).
  *
  * Scale notes (100 TB mention tables):
  *   - the signature join's block sizes are bounded by name-collision
  *     multiplicity, not corpus size; mass exact-duplicate names (the
  *     dominant real-world skew) are handled by [[resolveEntities]]'s
  *     name-level contraction — the match graph is built over DISTINCT
  *     names and mentions rejoin by name afterward, so a name repeated
  *     10^6 times contributes ONE vertex, not 10^12 pairs;
  *   - pair verification is codegen'd `levenshtein` on ≤ len-char
  *     strings inside the joined stage — no UDF, no driver loop;
  *   - the entity step reuses the pointer-halving connected components
  *     ([[Dedup.connectedComponents]]): O(log diameter) rounds of
  *     equi-join + partial min.
  *
  * Character semantics: signatures and `levenshtein` both operate on
  * code points the same way in Spark and DuckDB for BMP text; the
  * registered fixture is ASCII.
  *
  * Reference behavior anchor: the reference's master-CSV merge keys on
  * exact document_id (iris-project-database-refresh
  * `catalog search/stage3_update_master.py`) — it has no fuzzy-identity
  * layer; this operator family is part of the beyond-reference
  * training-pipeline surface (deduplicating author/entity mentions
  * before per-entity quotas).
  */
object EntityResolution {

  /** sig(s): the string itself plus every single-character deletion,
    * as an array column. substr is 1-based; i runs 1..len, prefix
    * substr(1, i−1) and suffix substr(i+1, len) are empty at the ends. */
  private[graft] def deletionSignatures(s: Column): Column =
    concat(
      array(s),
      transform(sequence(lit(1), length(s)), i =>
        concat(s.substr(lit(1), (i - lit(1)).cast("int")),
          s.substr((i + lit(1)).cast("int"), length(s)))))

  /** (id, name, h): one row per signature, keyed by md5 — fixed-width
    * shuffle key regardless of name length; the levenshtein verify every
    * consumer applies makes a hash collision harmless. At deployment
    * scale the CORPUS side of [[edOnePairsAgainst]] persists this frame
    * as a write-once ingest artifact (the lshPairsAgainst convention).
    *
    * Generated as explode(sequence) + a PLAIN projection, not via
    * [[deletionSignatures]]: higher-order array functions (transform/
    * filter) are CodegenFallback — interpreted per element — and the
    * interpreted struct building dominated the whole join at sf0.1.
    * i = 0 emits the string itself; i in 1..len the i-th deletion.
    * EntityResolutionSpec pins row-set equality with the array form. */
  private[graft] def signatureFrame(df: DataFrame, idCol: String,
      strCol: String): DataFrame = {
    val s = col("_name")
    val i = col("_i")
    df.select(col(idCol).as("_id"), col(strCol).as("_name"))
      .select(col("_id"), col("_name"),
        explode(sequence(lit(0), length(s).cast("int"))).as("_i"))
      .select(col("_id"), col("_name"),
        md5(when(i === 0, s).otherwise(
          concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s)))))
          .as("_h"))
  }

  /** All pairs (id_a < id_b) of mentions within Levenshtein distance ≤ 1,
    * with the verified distance. Exact — candidate generation is the
    * 1-deletion-neighborhood equi-join (a theorem, not a heuristic) and
    * every candidate is re-checked with `levenshtein`. Output columns:
    * id_a, id_b, name_a, name_b, lev (bigint). */
  def edOnePairs(mentions: DataFrame, idCol: String,
      strCol: String): DataFrame = {
    // staged LAZY: the signature fan-out ((len+1)·N rows of md5) feeds
    // BOTH self-join legs — unstaged it executed twice per run
    val sigs = Checkpoints.stage(
      signatureFrame(mentions, idCol, strCol), eager = false)
    val left = sigs.select(col("_h"),
      col("_id").as("id_a"), col("_name").as("name_a"))
    val right = sigs.select(col("_h"),
      col("_id").as("id_b"), col("_name").as("name_b"))
    // shuffle-hash, not broadcast: both sides are the (len+1)× signature
    // fan-out of the mention table — the static planner only sees the
    // source scan's size and would broadcast a million-row frame
    left.hint("shuffle_hash").join(right, "_h")
      .where(col("id_a") < col("id_b"))
      // distinct BEFORE the verify: a pair sharing k signatures arrives
      // k times; dedup on the (narrow) pair key, then verify once
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"))
      .distinct()
      .withColumn("lev",
        levenshtein(col("name_a"), col("name_b")).cast("long"))
      .where(col("lev") <= 1)
  }

  /** ER capstone: mentions → canonical entities. Contracts to DISTINCT
    * names first (rep = min mention id per name — the exact-duplicate
    * skew guard), builds the distance-≤1 match graph over names, runs
    * connected components, and rejoins every mention by name. The
    * canonical entity_id is the minimum mention id in the entity
    * (min over cluster of per-name minima = global minimum). Output:
    * idCol, strCol, entity_id, entity_size (mentions, not names),
    * is_canonical. */
  def resolveEntities(mentions: DataFrame, idCol: String,
      strCol: String): DataFrame = {
    // staged LAZY: reps feeds the signature join (via edOnePairs), the
    // CC vertex set, and the name rejoin — unstaged, the distinct-name
    // aggregate over the mention table executed 4× per run; withEnt
    // likewise feeds the size aggregate AND the final join
    val reps = Checkpoints.stage(mentions.groupBy(col(strCol))
      .agg(min(col(idCol)).as("_rep")), eager = false)
    val pairs = edOnePairs(
      reps.select(col("_rep"), col(strCol)), "_rep", strCol)
    val labels = Dedup.connectedComponents(
      reps.select(col("_rep")), "_rep", pairs, "id_a", "id_b")
    val named = reps.join(labels, "_rep")
      .select(col(strCol), col("cluster_id").as("entity_id"))
    val withEnt = Checkpoints.stage(
      mentions.select(col(idCol), col(strCol)).join(named, strCol), eager = false)
    val sizes = withEnt.groupBy(col("entity_id"))
      .agg(count(lit(1)).as("entity_size"))
    withEnt.join(sizes, "entity_id")
      .select(col(idCol), col(strCol), col("entity_id"),
        col("entity_size"),
        (col(idCol) === col("entity_id")).as("is_canonical"))
  }

  /** Incremental face of [[edOnePairs]]: distance-≤1 matches of a batch
    * of incoming mentions AGAINST an existing corpus — no
    * corpus-corpus or incoming-incoming pairs (the lshPairsAgainst
    * convention). The corpus signature frame is the big side; at
    * deployment it is the write-once ingest artifact this join reuses
    * every batch. Output: incoming_id, incoming_name, corpus_id,
    * corpus_name, lev. */
  def edOnePairsAgainst(corpus: DataFrame, incoming: DataFrame,
      idCol: String, strCol: String): DataFrame = {
    val corp = signatureFrame(corpus, idCol, strCol).select(col("_h"),
      col("_id").as("corpus_id"), col("_name").as("corpus_name"))
    val inc = signatureFrame(incoming, idCol, strCol).select(col("_h"),
      col("_id").as("incoming_id"), col("_name").as("incoming_name"))
    // the corpus signature fan-out is the big side — never broadcast it
    inc.hint("shuffle_hash").join(corp, "_h")
      .select(col("incoming_id"), col("incoming_name"),
        col("corpus_id"), col("corpus_name"))
      .distinct()
      .withColumn("lev",
        levenshtein(col("incoming_name"), col("corpus_name")).cast("long"))
      .where(col("lev") <= 1)
  }

  /** Even segment partition for PassJoin, as a FRAME of one row per
    * (string, segment): string of length L splits into k+1 segments;
    * segment i (0-based) has length ⌊L/(k+1)⌋ + (1 if i < L mod (k+1))
    * and 1-based start i·⌊L/(k+1)⌋ + min(i, L mod (k+1)) + 1. Built with
    * explode(sequence) + plain projections — NOT nested array
    * higher-order functions, which are CodegenFallback and dominated the
    * sf0.1 wall-clock when this was an array column. Output:
    * (id_a, name_a, l, i, _h). */
  private[graft] def segFrame(m: DataFrame, idCol: String,
      strCol: String, k: Int): DataFrame = {
    val L = length(col("_s")).cast("int")
    val i = col("_i")
    val base = (L / lit(k + 1)).cast("int")
    val rem = pmod(L, lit(k + 1))
    val start = (i * base + least(i, rem) + lit(1)).cast("int")
    val segLen = (base + when(i < rem, 1).otherwise(0)).cast("int")
    m.select(col(idCol).as("_id"), col(strCol).as("_s"))
      .select(col("_id"), col("_s"),
        explode(sequence(lit(0), lit(k))).as("_i"))
      .select(col("_id").as("id_a"), col("_s").as("name_a"),
        L.as("l"), i.as("i"),
        md5(col("_s").substr(start, segLen)).as("_h"))
  }

  /** PassJoin probe substrings with the paper's MULTI-MATCH-AWARE
    * window (Li et al., VLDB 2011 — complete): for source length l in
    * [len(t)−k, len(t)+k] and segment index i, the shift d = p − start_i
    * of an untouched segment is bounded BOTH by the edits that can
    * precede/follow segment i (−min(i,k) ≤ d ≤ min(i,k)) AND by the net
    * length difference Δ = len(t) − l it must absorb:
    * Δ−(k−i) ≤ d ≤ Δ+(k−i). At i=0 and Δ=0 this pins p = start exactly —
    * the windows shrink from (2k+1)²(k+1) to ≈ (k+1)² per (t, l) without
    * losing a single true pair (EntityResolutionSpec's brute-force
    * equality covers mixed lengths). Same explode-not-HOF construction
    * as [[segFrame]]; only valid d values are ever generated. Output:
    * (id_b, name_b, l, i, _h) — `start` is a pure function of (l, i),
    * so the position constraint is already baked in and the join needs
    * no residual position filter. */
  private[graft] def probeFrame(m: DataFrame, idCol: String,
      strCol: String, k: Int): DataFrame = {
    val lenT = length(col("_t")).cast("int")
    val l = col("_l")
    val i = col("_i")
    val base = (l / lit(k + 1)).cast("int")
    val rem = pmod(l, lit(k + 1))
    val segLen = (base + when(i < rem, 1).otherwise(0)).cast("int")
    val start = (i * base + least(i, rem) + lit(1)).cast("int")
    val delta = lenT - l
    val dLo = greatest(lit(-k), -i, delta - (lit(k) - i))
    val dHi = least(lit(k), i, delta + (lit(k) - i))
    val p = (start + col("_d")).cast("int")
    m.select(col(idCol).as("_id"), col(strCol).as("_t"))
      .select(col("_id"), col("_t"),
        explode(sequence(lenT - lit(k), lenT + lit(k))).as("_l"))
      .where(l >= k + 1)
      .select(col("_id"), col("_t"), col("_l"),
        explode(sequence(lit(0), lit(k))).as("_i"))
      .where(segLen >= 1)
      .select(col("_id"), col("_t"), col("_l"), col("_i"),
        explode(when(dLo <= dHi, sequence(dLo, dHi))
          .otherwise(array().cast("array<int>"))).as("_d"))
      .where(p >= 1 && p + segLen - 1 <= lenT)
      .select(col("_id").as("id_b"), col("_t").as("name_b"),
        l.as("l"), i.as("i"),
        md5(col("_t").substr(p, segLen)).as("_h"))
  }

  /** General-k fuzzy pairs: PassJoin segment blocking (Li et al., VLDB
    * 2011). Pigeonhole: k edits touch at most k of the k+1 segments, so
    * every distance-≤k pair shares one string's untouched segment as an
    * exact substring of the other, at a start position shifted by at
    * most k — an equi-join on (source length, segment index, segment
    * text), never an all-pairs product. Probe fan-out per string is
    * bounded by the multi-match-aware windows (≈ (k+1)² per source
    * length — see [[probeFrame]]); candidates are distinct-ed and
    * exactly `levenshtein`-verified, so the result equals brute
    * force (EntityResolutionSpec pins it). Strings shorter than k+1
    * characters are excluded by contract (their segments would be
    * empty — a production table routes those few rows to an exact
    * short-key join); [[edOnePairs]] remains the k=1 fast path with no
    * length floor. Output: id_a, id_b, name_a, name_b, lev. */
  def passJoinPairs(mentions: DataFrame, idCol: String, strCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"passJoinPairs: k must be >= 1, got $k")
    // staged LAZY: m feeds both the segment and probe fan-outs
    val m = Checkpoints.stage(
      mentions.where(length(col(strCol)) >= k + 1), eager = false)
    val segs = segFrame(m, idCol, strCol, k)
    val probes = probeFrame(m, idCol, strCol, k)
    // SHUFFLE_HASH, not broadcast: both sides are generator fan-outs of
    // the mention table (the static planner only sees the tiny parquet
    // and would happily broadcast the (2k+1)-windowed probe side — the
    // measured 20× regression at sf0.1); at deployment scale neither
    // side fits an executor, so the shuffled hash join on the
    // fixed-width (l, i, md5) key is the only shape that survives 100×.
    // No residual position filter: the multi-match-aware windows bake
    // the shift bound into probe generation.
    segs.hint("shuffle_hash").join(probes, Seq("l", "i", "_h"))
      .where(col("id_a") =!= col("id_b"))
      // both orientations arrive (the theorem applies to either side's
      // partition); canonicalize before the distinct so each unordered
      // pair verifies once
      .select(
        least(col("id_a"), col("id_b")).as("pid_a"),
        greatest(col("id_a"), col("id_b")).as("pid_b"),
        when(col("id_a") < col("id_b"), col("name_a"))
          .otherwise(col("name_b")).as("pname_a"),
        when(col("id_a") < col("id_b"), col("name_b"))
          .otherwise(col("name_a")).as("pname_b"))
      .distinct()
      .withColumn("lev",
        levenshtein(col("pname_a"), col("pname_b")).cast("long"))
      .where(col("lev") <= k)
      .select(col("pid_a").as("id_a"), col("pid_b").as("id_b"),
        col("pname_a").as("name_a"), col("pname_b").as("name_b"),
        col("lev"))
  }

  /** Daily-refresh admission: assign each incoming mention its matched
    * entity (minimum entity id among distance-≤1 dictionary hits — the
    * deterministic tie rule) or mint a new one (its own mention id).
    * `entities` is the published dictionary: (idCol = entity_id,
    * strCol = canonical name). Output: idCol, strCol, entity_id,
    * is_new. */
  def admitMentions(entities: DataFrame, incoming: DataFrame,
      idCol: String, strCol: String): DataFrame = {
    val hits = edOnePairsAgainst(entities, incoming, idCol, strCol)
      .groupBy(col("incoming_id"))
      .agg(min(col("corpus_id")).as("_match"))
    incoming.select(col(idCol), col(strCol))
      .join(hits, col(idCol) === col("incoming_id"), "left")
      .select(col(idCol), col(strCol),
        coalesce(col("_match"), col(idCol)).as("entity_id"),
        col("_match").isNull.as("is_new"))
  }

  /** Multi-pass sorted-neighborhood blocking (Hernández & Stolfo,
    * SIGMOD '95 — public literature): per pass, rank every mention in
    * the total order (key(name), name, id), then propose each rank
    * against the next `window − 1` ranks; the union of passes is
    * verified with exact `levenshtein ≤ maxDist`.
    *
    * This is the BUDGETED counterpart of the exact signature joins
    * ([[edOnePairs]]/[[passJoinPairs]]): candidate volume is a hard
    * (window − 1)·N per pass — independent of name-collision skew and
    * of k — at the price of recall limited by the sort keys (a pair
    * only surfaces if SOME pass sorts it within the window; that is
    * why multi-pass with structurally different keys, e.g. the string
    * and its reverse, is the published practice). The registered query
    * pins the semantics — "exactly the window pairs that verify", not
    * "all true pairs" — so the oracle is a ROW_NUMBER mirror, and
    * SortedNeighborhoodSpec separately measures what multi-pass
    * recovers that single-pass misses.
    *
    * Scale posture: the rank is MintRank (range-exchange global
    * sequence — no one-partition window); the window expansion is an
    * explode(sequence) + ONE equi-join on the minted rank per pass.
    * Every structure is O(window · N) rows, shuffled on integer keys.
    * `keys` build the per-pass sort key from the name column. */
  def sortedNeighborhoodPairs(mentions: DataFrame, idCol: String,
      strCol: String, window: Int, maxDist: Int,
      keys: Seq[Column => Column]): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(keys.nonEmpty, "sortedNeighborhoodPairs needs >= 1 sort key")
    val m = mentions.select(col(idCol).as("_id"), col(strCol).as("_name"))
    val cand = keys.map { keyFn =>
      val ranked = graft.plans.MintRank.withRank(
          m.withColumn("_key", keyFn(col("_name"))),
          Seq("_key", "_name", "_id"), "_rank")
        .select(col("_id"), col("_name"), col("_rank"))
      val probes = ranked
        .withColumn("_off",
          explode(sequence(lit(1), lit(window - 1))))
        .select(col("_id"), col("_name"),
          (col("_rank") + col("_off")).as("_rank2"))
      // SHUFFLE_HASH, not broadcast (the passJoinPairs rule): both
      // sides are rank-keyed fan-outs of the mention table — the static
      // planner sees only the tiny parquet. Build side = the 1-row-per-
      // rank frame; the probe side carries ≤ window−1 rows per key.
      probes.join(
          ranked.hint("shuffle_hash")
            .select(col("_id").as("_id2"), col("_name").as("_name2"),
              col("_rank").as("_rank2")),
          "_rank2")
        .select(least(col("_id"), col("_id2")).as("id_a"),
          greatest(col("_id"), col("_id2")).as("id_b"),
          when(col("_id") < col("_id2"), col("_name"))
            .otherwise(col("_name2")).as("name_a"),
          when(col("_id") < col("_id2"), col("_name2"))
            .otherwise(col("_name")).as("name_b"))
    }.reduce(_.unionByName(_))
    cand.dropDuplicates("id_a", "id_b")
      .withColumn("lev",
        levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("lev") <= maxDist)
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
        col("lev"))
  }
}
