package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication primitives for a training-data pipeline: exact
  * (fingerprint groupBy), word-shingle Jaccard, MinHash+LSH, SimHash.
  *
  * Portability constraint: every hash is derived from md5 so the DuckDB
  * oracle can reproduce it bit-for-bit (`h32` below is the first 8 hex
  * digits of md5 as an integer — `conv(substr(md5(x),1,8),16,10)` here,
  * `CAST('0x' || substr(md5(x),1,8) AS BIGINT)` in DuckDB).
  *
  * Scale posture: shingle explode + min-agg is one shuffle on doc_id with
  * map-side partial min; LSH banding turns the quadratic all-pairs problem
  * into an equi-join on (band, band-signature) — the bucket key IS the
  * shuffle key, so at 100 TB candidate generation stays linear in corpus
  * size + bucket sizes. Only candidate pairs (not all pairs) are verified.
  */
object Dedup {

  /** Session-unique suffix source for CC's convergence metric names. */
  private val obsSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Portable 32-bit hash: first 8 md5 hex digits as a long in [0, 2^32). */
  def h32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** Distinct word n-gram shingles; whole text when shorter than n words.
    *
    * A native codegen'd expression (graft.functions.WordShingles): the
    * equivalent nested higher-order-function expression is interpreted per
    * element and measured 12x slower (8.1s vs 0.7s for a 260k-shingle
    * explode at sf0.1); the native form also drops the former compiled
    * UDF's encoder round-trip. Split uses limit -1 to match Spark's
    * `split` / DuckDB's `regexp_split_to_array` empty-string semantics —
    * the oracle computes the same grams. */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.GraftFunctions.shingles(text, n)

  /** MinHash permutation constants: h_i(x) = (a_i*x + b_i) mod P.
    * a_i stays small so a_i * h32 < 2^63 (no overflow in long math). */
  val P: Long = 4294967311L // smallest prime > 2^32
  def permA(i: Int): Long = 2L * i + 1
  def permB(i: Int): Long = 1000003L * i + 12345

  /** MinHash signature: one row per id with columns m0..m{k-1}.
    *
    * Computed PER ROW by a native expression (one pass over the text's
    * shingles — min is order-independent, so the former explode +
    * groupBy(partial-min) plan is equivalent but paid a full shuffle of
    * every shingle row; at 100 TB that shuffle IS the job. This form runs
    * at scan speed with zero exchanges and identical output. */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
      numPerms: Int = 8): DataFrame = {
    // Null-text docs are dropped (not emitted with null signatures) —
    // preserving the former explode+groupBy shape, where a null produced
    // no shingle rows and therefore no output row.
    val sig = df.where(col(textCol).isNotNull).select(col(idCol),
      graft.functions.GraftFunctions.minhashSig(col(textCol), numPerms).as("_sig"))
    sig.select(col(idCol) +:
      (0 until numPerms).map(i => col("_sig").getItem(i).as(s"m$i")): _*)
  }

  /** LSH candidate pairs from a signature frame: bands of `rowsPerBand`
    * consecutive signature columns; a pair is a candidate when ALL columns
    * of at least one band agree. Output: (id_a, id_b, n_bands) with a<b.
    *
    * Implemented as band-EXPLODE + one self-equi-join on (band, values) —
    * a per-band join union would recompute the upstream signature
    * aggregation once per band per side (8× for 4 bands; measured 10s vs
    * ~2s at sf0.1). The exploded frame shuffles once on the bucket key. */
  def lshPairs(sig: DataFrame, idCol: String, numPerms: Int = 8,
      rowsPerBand: Int = 2): DataFrame = {
    val banded = bandedFrame(sig, idCol, numPerms, rowsPerBand)
    val vcols = (0 until rowsPerBand).map(r => s"v$r")
    val left = banded.withColumnRenamed(idCol, "id_a")
    val right = banded.withColumnRenamed(idCol, "id_b")
    left.join(right, ("band" +: vcols).toSeq)
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** One row per (id, band, band values) — the exploded LSH bucket frame
    * shared by the self-join (lshPairs) and the incremental corpus join
    * (lshPairsAgainst). */
  private[graft] def bandedFrame(sig: DataFrame, idCol: String, numPerms: Int,
      rowsPerBand: Int): DataFrame = {
    val numBands = numPerms / rowsPerBand
    val vcols = (0 until rowsPerBand).map(r => s"v$r")
    val bandStructs = (0 until numBands).map { b =>
      struct(lit(b).as("band") +:
        (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}").as(s"v$r")): _*)
    }
    sig.select(col(idCol), explode(array(bandStructs: _*)).as("bs"))
      .select(col(idCol) +: ("band" +: vcols).map(c => col(s"bs.$c").as(c)): _*)
  }

  /** Incremental LSH: candidate pairs between an INCOMING batch and an
    * EXISTING corpus — the daily-refresh admission check (does this new
    * document near-dup anything we already have?). Same banding as
    * lshPairs but the join is incoming × corpus only: no corpus-corpus
    * work (the corpus was deduped when it was ingested) and no
    * incoming-incoming pairs (run lshPairs on the batch separately if
    * intra-batch dups matter). Output: (incoming_id, corpus_id, n_bands).
    *
    * Scale: the corpus side is the big frame; the equi-join shuffles on
    * the (band, values) bucket key exactly like the self-join, and the
    * incoming side is typically a small fraction — at deployment scale
    * the corpus's banded frame is the ingest-time artifact worth
    * persisting (write once, join every batch against it). */
  def lshPairsAgainst(corpusSig: DataFrame, incomingSig: DataFrame,
      idCol: String, numPerms: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val vcols = (0 until rowsPerBand).map(r => s"v$r")
    val inc = bandedFrame(incomingSig, idCol, numPerms, rowsPerBand)
      .withColumnRenamed(idCol, "incoming_id")
    val corp = bandedFrame(corpusSig, idCol, numPerms, rowsPerBand)
      .withColumnRenamed(idCol, "corpus_id")
    inc.join(corp, ("band" +: vcols).toSeq)
      .groupBy(col("incoming_id"), col("corpus_id"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** 32-bit SimHash over whitespace tokens (term-frequency weighted):
    * bit j of the result is 1 iff sum over token occurrences of
    * (±1 by bit j of h32(token)) is positive.
    *
    * Per-row native expression: the ±1 bit sums are order-independent, so
    * the explode + 32-sum groupBy plan this replaces produced identical
    * values while shuffling every token row. This is a pure projection —
    * scan speed, zero exchanges, same bits. */
  def simhash32(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol),
        graft.functions.GraftFunctions.simhash32(col(textCol)).as("simhash"))

  /** 64-bit SimHash (same shape; 16-bit bands give 65,536 buckets per band
    * for near-dup candidate generation — see DedupQueries.simhashPairs). */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol),
        graft.functions.GraftFunctions.simhash64(col(textCol)).as("simhash"))

  /** Hamming distance between two simhash values (POPCOUNT of XOR). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exact dedup: group by content fingerprint, keep the smallest id. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** EXACT Jaccard-threshold self-join via prefix filtering (the
    * SSJoin/AllPairs/PPJoin family — Chaudhuri et al. ICDE'06, Bayardo
    * et al. WWW'07, Xiao et al. WWW'08; all public literature).
    *
    * Where `ngramCandidates` keeps candidate generation linear by
    * DROPPING corpus-hot shingles (changing the reported Jaccard — the
    * capped join is approximate by design) and MinHash-LSH is
    * probabilistic (misses pairs with probability 1−(1−s^r)^b), this
    * operator is LOSSLESS: it returns exactly the pairs whose true
    * shingle-set Jaccard ≥ `threshold`, yet still never compares all
    * pairs.
    *
    * The filter: order shingles globally by (document frequency ASC,
    * shingle ASC) — rarest first. A set s of size |s| only indexes its
    * first |s| − ⌈t·|s|⌉ + 1 shingles ("prefix"). For any pair with
    * J(a,b) ≥ t, |a∩b| ≥ t·|a∪b| ≥ ⌈t·max(|a|,|b|)⌉, and by
    * pigeonhole two sets whose intersection is that large MUST share a
    * shingle inside both prefixes (tokens outside a's prefix number
    * ⌈t·|a|⌉ − 1 < |a∩b|) — so the equi-join on prefix shingles loses
    * nothing (PrefixJaccardSpec pins equality with the brute-force
    * all-pairs join on planted boundary corpora). A length filter
    * (⌈t·|a|⌉ ≤ |b| whenever J ≥ t) prunes candidates before pair
    * verification.
    *
    * Scale posture: every step is an equi-join or aggregate — shingle
    * df (one shuffle, map-side partial), per-doc sorted set assembly
    * (one shuffle on doc), the prefix self-join (shuffle on shingle;
    * bucket sizes are small BY CONSTRUCTION because prefixes hold each
    * set's globally rarest shingles), pair dedup + two set lookups.
    * At t=0.5 the prefix is ~half of each set; at t=0.8, ~a fifth.
    * No stop-shingle cap, no N² anywhere; a corpus-wide boilerplate
    * shingle sorts to the END of the global order and enters a doc's
    * prefix only when rarer shingles run out first — i.e. only for
    * docs that are mostly boilerplate at the given threshold
    * (PrefixJaccardSpec pins the candidate count at exactly the true
    * pairs on a boilerplate-planted corpus). */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    val (cand, sets) = prefixJaccardCandidates(docs, idCol, textCol,
      threshold)
    // exact verification: intersect the full (distinct) shingle sets.
    // SHUFFLE_HASH on every join in this operator (the passJoinPairs
    // rule): all sides are shingle/prefix fan-outs of the doc table —
    // the static planner sees only the tiny parquet and would broadcast
    // frames that are corpus-scale at deployment.
    cand
      .join(sets.hint("shuffle_hash")
        .select(col("doc_id").as("doc_a"), col("toks").as("toks_a")),
        "doc_a")
      .join(sets.hint("shuffle_hash")
        .select(col("doc_id").as("doc_b"), col("toks").as("toks_b")),
        "doc_b")
      .withColumn("n_inter",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("long"))
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))
  }

  /** Candidate stage of the prefix-filter join: (candidate pairs with
    * both set sizes, per-doc sorted shingle sets). Split out so the
    * spec can count candidates directly — the filter's point is that a
    * corpus-hot shingle does not inflate this count the way it inflates
    * an uncapped full-shingle join. */
  private[graft] def prefixJaccardCandidates(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double): (DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefixJaccardPairs threshold must be in (0, 1], got $threshold")
    // staged LAZY (the cosinePairsCore convention): sh feeds the df
    // aggregate AND the set assembly, and the assembled sets feed the
    // prefix explode plus BOTH verify joins — without the checkpoints
    // the corpus-scale shingle explode executes 6x per run (sets 3
    // consumers x sh 2 consumers). Lazy: the first real action
    // materializes the blocks, every later scan re-reads them.
    val sh = Checkpoints.stage(
      shingleFrame(docs, idCol, textCol), eager = false)
    // global document frequency — the canonical rarest-first order key
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val sets = Checkpoints.stage(setsFrom(sh, dfreq), eager = false)
    val pref = prefixOf(sets, threshold)
    // candidate pairs: prefixes share a shingle + the length filter
    // (J ≥ t forces min(|a|,|b|) ≥ ⌈t·max(|a|,|b|)⌉). The join key is
    // the shingle — rarest-first prefixes keep bucket fan-out small;
    // dropDuplicates collapses multi-shingle matches before the
    // (heavier) verification joins.
    val cand = pref.as("a").join(pref.hint("shuffle_hash").as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.n_sh") >= ceil(lit(threshold) * col("b.n_sh")) &&
          col("b.n_sh") >= ceil(lit(threshold) * col("a.n_sh")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .dropDuplicates("doc_a", "doc_b")
    (cand, sets)
  }

  private def shingleFrame(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol))).as("shingle"))

  /** Per-doc shingle set sorted (df ASC, shingle ASC) — struct sort
    * order is field order, so sort_array gives exactly that key.
    * Shingles absent from `dfreq` take df 0 (rarest — the incremental
    * path's unseen-shingle rule; on the batch path every shingle is
    * present, so the left join degenerates to the inner one). */
  private def setsFrom(sh: DataFrame, dfreq: DataFrame): DataFrame =
    sh.join(dfreq.hint("shuffle_hash"), Seq("shingle"), "left")
      .select(col("doc_id"), col("shingle"),
        coalesce(col("df"), lit(0L)).as("df"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("shingle"))))
        .as("toks"))
      .select(col("doc_id"), col("toks.shingle").as("toks"),
        size(col("toks")).as("n_sh"))

  /** Prefix explode: the first n − ⌈t·n⌉ + 1 (rarest) shingles. */
  private def prefixOf(sets: DataFrame, threshold: Double): DataFrame = {
    val plen = (col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1)
      .cast("int")
    sets.select(col("doc_id"), col("n_sh"),
      explode(slice(col("toks"), lit(1), plen)).as("shingle"))
  }

  /** Write-once corpus artifacts for STREAMING prefix admission
    * ([[graft.streaming.StreamingRefresh.prefixAdmissionStream]]):
    *   - the prefix index (shingle, corpus_id, n_b) — one row per
    *     corpus doc per prefix shingle;
    *   - the shingle sets (corpus_id, toks_b) — the full distinct set
    *     for inline exact verification.
    * Both derive from one pass (shared df/sets subtrees); at deployment
    * they persist next to the df dictionary (the AnnIndex convention)
    * and the stream never rescans corpus text. */
  def prefixIndexArtifacts(corpus: DataFrame, idCol: String,
      textCol: String, threshold: Double): (DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefixIndexArtifacts threshold must be in (0, 1], got $threshold")
    val sh = Checkpoints.stage(
      shingleFrame(corpus, idCol, textCol), eager = false)
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // lazy-staged: sets feeds both returned artifacts (prefix index +
    // shingle sets), which the caller writes in two separate actions
    val sets = Checkpoints.stage(setsFrom(sh, dfreq), eager = false)
    val pref = prefixOf(sets, threshold)
      .select(col("shingle"), col("doc_id").as("corpus_id"),
        col("n_sh").as("n_b"))
    val setsOut = sets.select(col("doc_id").as("corpus_id"),
      col("toks").as("toks_b"))
    (pref, setsOut)
  }

  /** Incremental prefix join — the daily-admission face of
    * [[prefixJaccardPairs]] (the lshPairsAgainst convention): today's
    * batch is paired against the standing corpus WITHOUT re-pairing the
    * corpus with itself, and the result is still EXACT — every
    * (incoming, corpus) pair with true Jaccard ≥ t, no cap, no
    * probability of a miss.
    *
    * The global shingle order comes from the CORPUS's document
    * frequencies alone — at deployment that dictionary is a persisted,
    * versioned artifact (the inverted-index/AnnIndex convention), so
    * admission never rescans the corpus text; shingles the corpus has
    * never seen take df 0 and sort FIRST (rarest). Correctness is
    * unaffected: the prefix theorem only needs both sides to rank
    * shingles by the SAME total order, any fixed one — and an all-new
    * incoming shingle can never carry a corpus match anyway.
    * PrefixJaccardSpec pins equality with the brute-force cross join
    * including the all-unseen-shingles edge. */
  def prefixJaccardAgainst(corpus: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefixJaccardAgainst threshold must be in (0, 1], got $threshold")
    // staged LAZY like the batch path: corpSh feeds dfreq + corpus set
    // assembly; each side's sets feed its prefix explode AND its verify
    // join — unstaged, the corpus shingle explode ran 4x per call
    val corpSh = Checkpoints.stage(
      shingleFrame(corpus, idCol, textCol), eager = false)
    val incSh = shingleFrame(incoming, idCol, textCol)
    val dfreq = corpSh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val corpSets = Checkpoints.stage(setsFrom(corpSh, dfreq), eager = false)
    val incSets = Checkpoints.stage(setsFrom(incSh, dfreq), eager = false)
    val cand = prefixOf(incSets, threshold).as("a")
      .join(prefixOf(corpSets, threshold).hint("shuffle_hash").as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.n_sh") >= ceil(lit(threshold) * col("b.n_sh")) &&
          col("b.n_sh") >= ceil(lit(threshold) * col("a.n_sh")))
      .select(col("a.doc_id").as("incoming_id"),
        col("b.doc_id").as("corpus_id"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .dropDuplicates("incoming_id", "corpus_id")
    cand
      .join(incSets.hint("shuffle_hash")
        .select(col("doc_id").as("incoming_id"), col("toks").as("toks_a")),
        "incoming_id")
      .join(corpSets.hint("shuffle_hash")
        .select(col("doc_id").as("corpus_id"), col("toks").as("toks_b")),
        "corpus_id")
      .withColumn("n_inter",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("long"))
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("incoming_id"), col("corpus_id"), col("n_inter"),
        col("jaccard"))
  }

  /** Connected components over a near-dup pair graph by min-label
    * propagation with per-round label shortcutting — the survivor-selection
    * step of cluster dedup (keep one document per component).
    *
    * Each round (a) joins the symmetric edge list with the current labels
    * and takes the min neighbor label per vertex, then (b) shortcuts each
    * candidate label through the candidate labels themselves
    * (L₂(v) = L₁(L₁(v)), a pointer-halving step). The shortcut makes the
    * label-distance roughly double per round, so convergence is
    * O(log diameter) rounds — a 1,000-node PATH graph (chained boilerplate,
    * a real shape in web dedup) converges in ~11 rounds instead of 1,000
    * (CcPathSpec pins this). Every step is a plain equi-join +
    * partial-min aggregate (distributed, no driver state beyond the loop
    * counter); `Checkpoints.stage` truncates per-iteration lineage
    * (localCheckpoint by default, reliable checkpoint under
    * `spark.graft.checkpoint.dir` for long cluster runs). The
    * result is deterministic (min labels), so the DuckDB oracle can
    * recompute it with a recursive transitive-closure CTE.
    *
    * `maxRounds` is a loud guard, not a silent cap: exceeding it throws
    * IllegalStateException rather than returning half-merged components.
    * With shortcutting, 64 rounds covers diameters ≈ 2^63 — hitting the
    * guard means the input, not the bound, is wrong. */
  def connectedComponents(vertices: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 64): DataFrame =
    connectedComponentsRounds(vertices, idCol, edges, srcCol, dstCol,
      maxRounds)._1

  /** Incremental connected components — the daily-refresh face of
    * clustering, paired with the admission path (`lshPairsAgainst`):
    * yesterday's assignment is already a fixpoint, so today's update
    * needs only yesterday's LABELS (one row per vertex) plus the NEW
    * pairs, never yesterday's full edge list.
    *
    * Correctness: each (id, cluster_id) label row is treated as an edge
    * id—cluster_id. Contracting a connected component onto any one of
    * its members preserves reachability, and min-label CC assigns each
    * old component its minimum member id as the label, so CC over
    * (label edges ∪ new edges) over (old ∪ new) vertices equals CC over
    * (old edges ∪ new edges) — IncrementalCcSpec pins the equivalence,
    * and the registered query's oracle recomputes the full graph's
    * reachability directly, so the shortcut is value-checked against
    * the from-scratch semantics every gate run.
    *
    * Scale: the recompute's edge volume drops from |E_old| + |E_new| to
    * |V_old| + |E_new| — on a dense near-dup graph (the case dedup
    * exists for) that is the difference between re-shuffling the whole
    * pair history and re-shuffling one label row per document. */
  def incrementalComponents(labels: DataFrame, idCol: String,
      clusterCol: String, newEdges: DataFrame, srcCol: String,
      dstCol: String, vertices: DataFrame,
      maxRounds: Int = 64): DataFrame = {
    val labelEdges = labels
      .select(col(idCol).cast("long").as("__s"),
        col(clusterCol).cast("long").as("__d"))
      .filter(col("__s") =!= col("__d")) // singleton labels carry no edge
    val edges = labelEdges.union(
      newEdges.select(col(srcCol).cast("long").as("__s"),
        col(dstCol).cast("long").as("__d")))
    connectedComponents(vertices, idCol, edges, "__s", "__d", maxRounds)
  }

  /** connectedComponents plus the converged round count (spec surface). */
  private[graft] def connectedComponentsRounds(vertices: DataFrame,
      idCol: String, edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 64): (DataFrame, Int) = {
    // ONE sizing rule for the whole iterative family: the shared
    // loopGeometry decides the staged layout, so CC-standalone can
    // never drift from the shared-sym path's co-partitioning contract
    val (sym, _, loopP) = Graph.loopGeometry(vertices, edges, srcCol, dstCol)
    connectedComponentsSymRounds(vertices, idCol, sym, loopP, maxRounds)
  }

  /** Connected components over an ALREADY-staged symmetric (_s, _d)
    * edge list — the shared-sym entry `Graph.clusterRepresentatives`
    * uses so CC and PageRank materialize the edge list once between
    * them. `loopP` is the staged sym's partition layout. */
  private[graft] def connectedComponentsSym(vertices: DataFrame,
      idCol: String, sym: DataFrame, loopP: Int,
      maxRounds: Int = 64): DataFrame =
    connectedComponentsSymRounds(vertices, idCol, sym, loopP, maxRounds)._1

  private[graft] def connectedComponentsSymRounds(vertices: DataFrame,
      idCol: String, sym: DataFrame, loopP: Int,
      maxRounds: Int = 64): (DataFrame, Int) = {
    val spark = vertices.sparkSession
    // lazy: round 1's job materializes the trivial initial labels — no
    // standalone barrier. Partitioned on _id so every round's joins
    // against the label frame are exchange-free (checkpoint preserves
    // the partitioning; sym is staged on _s by Graph.stagedSymFrom).
    var labels = Checkpoints.stage(
      vertices.select(col(idCol).as("_id"), col(idCol).as("_cc"))
        .repartition(loopP, col("_id"))
        .sortWithinPartitions(col("_id")),
      eager = false, keepPartitioning = true,
      shufflePartitions = Some(loopP))
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxRounds rounds — " +
            "with pointer-halving this means diameter ~2^rounds; the edge " +
            "list is likely malformed (raise maxRounds only if it is not)")
      // symmetric edge list: propagating labels ALONG (_s → _d) visits
      // every undirected edge in both directions, so joining on the
      // staged `_s` partitioning and aggregating toward `_d` computes
      // the same min-of-neighbors as the former _d-side join — with
      // zero exchange on either join input (labels is on _id, sym on
      // _s) and the aggregate's exchange landing on _d, which the
      // cand join below then consumes exchange-free against _id.
      // Joins plan as sort-merge without hints: the round compiles
      // AQE-off (keepPartitioning stages) and the staged LogicalRDD
      // scans carry no stats, so the static planner never broadcasts —
      // every frame here is |V|-or-|E|-scale at deployment, making SMJ
      // over the pre-aligned, pre-sorted inputs the only shape that
      // survives 100×.
      val nbrMin = sym.join(labels, col("_s") === col("_id"))
        .groupBy(col("_d")).agg(min(col("_cc")).as("_nbr"))
      // `cand` (min-of-neighbors) is NOT staged: the pointer-halving
      // self-join recomputes its small subtree twice inside ONE job
      // (labels and sym are both staged, so the recompute is one
      // join+agg over staged blocks), which is cheaper than paying an
      // extra blocking materialization barrier every round — round
      // count is O(log diameter), but each barrier serializes the
      // driver at any scale
      val cand = labels.join(nbrMin, col("_id") === col("_d"), "left")
        .select(col("_id"), col("_cc"),
          least(col("_cc"), coalesce(col("_nbr"), col("_cc"))).as("_c1"))
      val halved = cand.join(
          cand.select(col("_id").as("_rid"), col("_c1").as("_rcc")),
          col("_c1") === col("_rid"), "left")
        .select(col("_id"), col("_cc"),
          least(col("_c1"), coalesce(col("_rcc"), col("_c1"))).as("_cc2"))
      // convergence detection rides INSIDE the materialization job via
      // Dataset.observe (CollectMetrics): the changed-label count
      // accumulates while the round's eager stage computes, replacing
      // the former standalone filter+count job — one fewer driver
      // barrier per round, exactly-once metric semantics, and no
      // object-serialization boundary (an earlier mapPartitions +
      // accumulator variant paid a Row-encoder round trip per row per
      // round that measured ~45% of the whole query's steady time).
      // The metric is READ off the executed plan's accumulators
      // (Checkpoints.stageObserved), NOT through an Observation
      // listener: the loop compile runs in the seam's cached cloned
      // session, whose listener bus predates any Observation this call
      // would register — Observation.get blocked forever there (the
      // r11 battery hang). Name stays unique per invocation so
      // concurrent CC loops can never read each other's node.
      val obsName = s"graft_cc_${Dedup.obsSeq.incrementAndGet()}_r$rounds"
      val (next, metrics) = Checkpoints.stageObserved(
        halved.observe(obsName,
            sum((col("_cc2") < col("_cc")).cast("long")).as("changed"))
          .repartition(loopP, col("_id"))
          .sortWithinPartitions(col("_id")),
        keepPartitioning = true,
        shufflePartitions = Some(loopP))
      changed = metrics.get(obsName).map(_.get(0)) match {
        case Some(l: java.lang.Long) => l.longValue
        case _ => 0L // empty round frame: sum over zero rows is null
      }
      // round i's eager stage has materialized; round i−1's blocks are
      // dead weight from here on — free them now, not at the cleaner's
      // 30-min cycle (the returned final frame is never released)
      Checkpoints.release(labels)
      labels = next.select(col("_id"), col("_cc2").as("_cc"))
      rounds += 1
    }
    (labels.select(col("_id").as(idCol), col("_cc").as("cluster_id")), rounds)
  }
}
