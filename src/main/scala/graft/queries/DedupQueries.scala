package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Dedup

/** Deduplication battery over `documents`: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash — every variant a first-class, oracle-checked
  * query. The corpus has planted near-duplicates (3-gram Jaccard ≈ 0.99
  * pairs), which these queries must surface identically to DuckDB
  * computing the same md5-derived hashes.
  */
object DedupQueries extends QueryModule {

  /** Documents with injected exact duplicates (every 10th doc copied under
    * doc_id+100000) so the exact-dedup path has something to collapse. */
  private def augmented(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 100000))
  }

  /** Exact dedup: fingerprint groups with survivor id and copy count. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(augmented(spark, dir), "doc_id", "text")
      .orderBy(col("keep_id"))

  /** All-pairs 3-gram Jaccard ≥ 0.5 (the planted near-dup pairs).
    * Shingle-join candidate generation — only docs sharing a shingle meet.
    *
    * Hot-shingle skew guard: shingles whose document frequency exceeds
    * ⌊N/8⌋ (stop-phrase class) are removed from the universe BEFORE the
    * self-join — one corpus-wide boilerplate shingle would otherwise
    * create a quadratic hot bucket at scale. The hot set is tiny by
    * construction, so it broadcasts into an anti-join; capped shingles
    * leave both the intersection and the size denominators (documented
    * semantics, mirrored in the oracle). */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    ngramJaccardOn(docs, docs.count())
  }

  /** The capped shingle-join over an arbitrary (doc_id, text) corpus —
    * spec surface: DedupSkewSpec feeds a planted stop-shingle corpus
    * through it and asserts the candidate-pair count. */
  private[graft] def ngramJaccardOn(docs: DataFrame, n: Long): DataFrame = {
    val (inter, sizes) = ngramCandidates(docs, n)
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")), 6))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))
      .transform(orderedSmall(_, col("doc_a"), col("doc_b")))
  }

  /** Candidate stage of the capped shingle join: (meeting pairs with
    * intersection counts, per-doc shingle sizes). Split out so the skew
    * spec can count candidates directly — the cap's whole point is that
    * this count stays ~linear under a corpus-wide stop shingle. */
  private[graft] def ngramCandidates(docs: DataFrame,
      n: Long): (DataFrame, DataFrame) = {
    val maxDf = math.max(2L, n / 8)
    // staged LAZY (the prefixJaccard convention): sh0 feeds the hot-set
    // aggregate AND the anti-join; the capped sh feeds sizes plus both
    // self-join legs — unstaged, the shingle explode ran 5x per run
    val sh0 = graft.ops.Checkpoints.stage(docs
      .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("shingle")),
      eager = false)
    val hot = sh0.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("shingle"))
    val sh = graft.ops.Checkpoints.stage(
      sh0.join(broadcast(hot), Seq("shingle"), "left_anti"), eager = false)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    (inter, sizes)
  }

  /** LOSSLESS Jaccard-threshold pairs via prefix filtering — the exact
    * counterpart of the capped shingle join above: same shingles, same
    * threshold, but no stop-shingle cap, so the reported Jaccard is the
    * true one and no pair is dropped. The oracle is the brute-force
    * all-pairs join; matching it IS the losslessness claim. */
  def prefixJaccard(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      Dedup.prefixJaccardPairs(Tables.documents(spark, dir), "doc_id", "text"),
      col("doc_a"), col("doc_b"))

  /** Incremental admission via the prefix join: docs ≡7 (mod 10) are
    * today's batch, the rest the standing corpus (the
    * q_dedup_incremental split). EXACT incoming×corpus pairs at
    * J ≥ 0.5 — the corpus-df order dictionary plus the df-0 rule for
    * unseen shingles; the oracle is the brute-force cross join. */
  def prefixIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.prefixJaccardAgainst(
      docs.where(pmod(col("doc_id"), lit(10)) =!= 7),
      docs.where(pmod(col("doc_id"), lit(10)) === 7),
      "doc_id", "text")
      .transform(orderedSmall(_, col("incoming_id"), col("corpus_id")))
  }

  /** MinHash signatures (8 portable md5-derived permutations). */
  def minhashSig(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignature(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** LSH candidate pairs: 4 bands × 2 rows over the 8-perm signature. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      Dedup.lshPairs(
        Dedup.minhashSignature(Tables.documents(spark, dir), "doc_id", "text"),
        "doc_id"),
      col("id_a"), col("id_b"))

  /** SimHash per document: both the 32-bit and 64-bit signatures, each a
    * per-row native expression (the 64-bit form is what the banded pair
    * generator uses — 16-bit bands need the wider signature). */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    // null-text filter matches Dedup.simhash32/64's documented semantics
    // (and the oracle's GROUP BY over exploded tokens, which drops the doc)
    val d = Tables.documents(spark, dir).where(col("text").isNotNull)
    d.select(col("doc_id"),
      graft.functions.GraftFunctions.simhash32(col("text")).as("simhash"),
      graft.functions.GraftFunctions.simhash64(col("text")).as("simhash64"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-dup pairs over the 64-bit signature: 4 bands × 16 bits
    * (65,536 buckets per band — the r3 byte-banding over 32 bits had 256
    * buckets per band, a constant-cardinality trap whose bucket occupancy
    * grew Θ(N)), candidates verified at hamming ≤ 8.
    *
    * Chosen operating point (not inherited): banding GUARANTEES recall for
    * hamming ≤ 3 (pigeonhole over 4 bands); the planted near-dups sit at
    * hamming 0–4 of 64, and unrelated pairs center at ~32, so ≤ 8 with
    * 16-bit bands is a deliberate precision/recall point with random-pair
    * collision probability ~4/65536 per pair. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val s = Dedup.simhash64(Tables.documents(spark, dir), "doc_id", "text")
    // band explode (one signature computation, one bucket-key join) —
    // per-band join legs would recompute the signature scan 8x
    val banded = s.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(k =>
        struct(lit(k).as("k"),
          shiftrightunsigned(col("simhash"), 16 * k)
            .bitwiseAND(lit(65535L)).as("band"))): _*)).as("b"))
      .select(col("doc_id"), col("simhash"),
        col("b.k").as("k"), col("b.band").as("band"))
    val a = banded.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"),
      col("k"), col("band"))
    val b = banded.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"),
      col("k"), col("band"))
    a.join(b, Seq("k", "band")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b")).distinct()
      .withColumn("hamming", Dedup.hamming(col("sh_a"), col("sh_b")).cast("int"))
      .filter(col("hamming") <= 8)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .transform(orderedSmall(_, col("id_a"), col("id_b")))
  }

  /** MOSS-style near-dup pairs from winnowing fingerprints: docs sharing
    * ≥50% of the smaller side's distinct fingerprints (containment). The
    * fingerprint explode + equi-join on fp is the same bucketed shape as
    * the shingle join — linear in corpus + bucket sizes, never all-pairs —
    * but each doc contributes ~n/w fingerprints instead of ~n shingles. */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame = {
    // Materialized once: fps feeds both self-join legs AND the sizes
    // aggregate — without the checkpoint the scan + winnow kernel (the
    // expensive part) executes three times per run.
    val fps = graft.ops.Checkpoints.stage(
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          explode(array_distinct(
            graft.functions.GraftFunctions.winnow(col("text"), 8, 8))).as("fp")),
      eager = true)
    val sizes = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val inter = fps.as("a")
      .join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("n_b")), "doc_b")
      .withColumn("containment",
        round(col("n_shared").cast("double") / least(col("n_a"), col("n_b")), 6))
      .filter(col("containment") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("containment"))
      .transform(orderedSmall(_, col("doc_a"), col("doc_b")))
  }

  /** Cluster dedup: connected components over the winnow-pair graph with
    * min-id survivor selection — one row per document with its cluster id
    * and whether it is the kept representative. */
  def winnowClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val pairs = winnowPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    Dedup.connectedComponents(docs, "doc_id", pairs, "doc_a", "doc_b")
      .withColumn("is_survivor", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  private val SubN = 5

  /** Exact-substring duplication stats: per doc, the fraction of word
    * 5-gram positions whose gram recurs anywhere in the corpus (Lee et
    * al. 2022 memorization signal — the distributed fixed-window form
    * of suffix-array substring dedup). */
  def substringDup(spark: SparkSession, dir: String): DataFrame =
    graft.ops.CorpusFilters.substringDupStats(
      Tables.documents(spark, dir), "doc_id", "text", SubN)
      .orderBy(col("doc_id"))

  /** Incremental admission check: docs with doc_id % 10 = 7 play the
    * incoming batch, the rest the existing corpus. Per incoming doc:
    * how many corpus near-dup candidates its MinHash bands collide
    * with, the strongest match (most shared bands, ties → smallest
    * corpus id), and the admit verdict (no collision at all). Docs with
    * zero collisions survive the left join with zeros/null — the
    * admitted set IS the frame, not just the flagged rows. */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
    val inc = docs.filter(col("doc_id") % 10 === 7)
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val cand = Dedup.lshPairsAgainst(
      Dedup.minhashSignature(corpus, "doc_id", "text"),
      Dedup.minhashSignature(inc, "doc_id", "text"), "doc_id")
    val best = cand.groupBy(col("incoming_id"))
      .agg(count(lit(1)).as("n_candidates"),
        min(struct((-col("n_bands")).as("nb"), col("corpus_id").as("id")))
          .as("_best"))
      .select(col("incoming_id"), col("n_candidates"),
        col("_best").getField("id").as("best_match_id"),
        (-col("_best").getField("nb")).as("best_shared_bands"))
    inc.select(col("doc_id").as("incoming_id"))
      .join(best, Seq("incoming_id"), "left")
      .select(col("incoming_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("best_match_id"),
        coalesce(col("best_shared_bands"), lit(0L)).as("best_shared_bands"),
        col("n_candidates").isNull.as("admit"))
      .orderBy(col("incoming_id"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> exact,
    "q_dedup_incremental" -> incremental,
    "q_dedup_substring" -> substringDup,
    "q_dedup_winnow_pairs" -> winnowPairs,
    "q_dedup_clusters" -> winnowClusters,
    "q_dedup_ngram_jaccard" -> ngramJaccard,
    "q_dedup_prefix_jaccard" -> prefixJaccard,
    "q_dedup_prefix_incremental" -> prefixIncremental,
    "q_dedup_minhash_sig" -> minhashSig,
    "q_dedup_minhash_pairs" -> minhashPairs,
    "q_dedup_simhash" -> simhash,
    "q_dedup_simhash_pairs" -> simhashPairs)

  // ---- DuckDB mirrors ------------------------------------------------

  /** Shingle CTE: distinct word 3-grams per doc (whole text when <3 words). */
  private val shingleCte: String =
    """WITH t AS (
      |  SELECT doc_id, text, regexp_split_to_array(text, '\s+') AS w FROM documents
      |), sh AS (
      |  SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN [text]
      |    ELSE list_distinct(list_transform(range(1, greatest(len(w)-2,0)+1),
      |      i -> array_to_string(list_transform(range(i, i+3), j -> w[j]), ' '))) END) AS shingle
      |  FROM t
      |)""".stripMargin

  private val h32Sql = "CAST('0x' || substr(md5(shingle),1,8) AS BIGINT)"

  private def sigSelect: String =
    (0 until 8).map(i =>
      s"MIN((${Dedup.permA(i)} * $h32Sql + ${Dedup.permB(i)}) % ${Dedup.P}) AS m$i")
      .mkString(",\n       ")

  private val sigCte: String =
    shingleCte + s""", sig AS (
      |  SELECT doc_id,
      |       $sigSelect
      |  FROM sh GROUP BY doc_id
      |)""".stripMargin

  /** Shared simhash CTE: the 64-bit token hash is two md5-derived 32-bit
    * halves (hv = hex digits 1-8 ≡ h32, lv = digits 9-16), so every bit
    * sum stays in non-negative 32-bit math; hi32 (from hv) IS the 32-bit
    * simhash, and the signed 64-bit signature recombines as
    * signed(hi32)·2^32 + lo32 — bit-identical to GraftFnUtil.simhash64. */
  private val simhashCte: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok FROM documents
      |), h AS (
      |  SELECT doc_id, CAST('0x' || substr(md5(tok),1,8) AS BIGINT) AS hv,
      |         CAST('0x' || substr(md5(tok),9,8) AS BIGINT) AS lv FROM tok
      |), bits AS (
      |  SELECT doc_id,
      |""".stripMargin +
      ((0 until 32).map(j =>
        s"    SUM(CASE WHEN (hv >> $j) % 2 = 1 THEN 1 ELSE -1 END) AS s$j") ++
       (0 until 32).map(j =>
        s"    SUM(CASE WHEN (lv >> $j) % 2 = 1 THEN 1 ELSE -1 END) AS t$j"))
        .mkString(",\n") +
      "\n  FROM h GROUP BY doc_id\n), halves AS (\n  SELECT doc_id,\n    " +
      (0 until 32).map(j =>
        s"(CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
        .mkString(" + ") +
      " AS hi32,\n    " +
      (0 until 32).map(j =>
        s"(CASE WHEN t$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
        .mkString(" + ") +
      " AS lo32\n  FROM bits\n), sim AS (\n" +
      """  SELECT doc_id, hi32 AS simhash, hi32, lo32,
        |    (CASE WHEN hi32 >= 2147483648 THEN hi32 - 4294967296 ELSE hi32 END)
        |      * 4294967296 + lo32 AS simhash64
        |  FROM halves
        |)""".stripMargin

  /** Winnowing fingerprint CTE (distinct fps per doc) — same constants as
    * graft_winnow(text, 8, 8); Horner per gram ≡ the rolling recurrence. */
  private val winnowCte: String =
    """WITH g AS (
      |  SELECT doc_id, text,
      |    CASE WHEN length(text) < 8 THEN
      |      [list_reduce(list_prepend(CAST(0 AS BIGINT),
      |         list_transform(range(1, length(text)+1), j -> CAST(unicode(substr(text, CAST(j AS INT), 1)) AS BIGINT))),
      |         (a,b) -> (a*131+b) % 1000000007)]
      |    ELSE
      |      list_transform(range(1, length(text)-8+2), i ->
      |        list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          list_transform(range(CAST(i AS INT), CAST(i AS INT)+8), j -> CAST(unicode(substr(text, CAST(j AS INT), 1)) AS BIGINT))),
      |          (a,b) -> (a*131+b) % 1000000007))
      |    END AS hs
      |  FROM documents),
      |mw AS (
      |  SELECT doc_id,
      |    CASE WHEN len(hs) <= 8 THEN [list_min(hs)]
      |    ELSE list_transform(range(1, len(hs)-8+2), p -> list_min(list_slice(hs, CAST(p AS INT), CAST(p AS INT)+8-1)))
      |    END AS mins
      |  FROM g),
      |fw AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(list_filter(range(1, len(mins)+1), p -> p = 1 OR mins[CAST(p AS INT)] != mins[CAST(p AS INT)-1]), p -> mins[CAST(p AS INT)])) AS fps
      |  FROM mw),
      |e AS (SELECT doc_id, unnest(fps) AS fp FROM fw)""".stripMargin

  /** Substring mirror: same per-(doc, gram) pre-agg shape as the Spark
    * plan, so SUM(k) totals match the operator's map-side-combine form. */
  private val substringSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM documents),
       |g AS (
       |  SELECT doc_id,
       |    array_to_string(list_slice(w, i, i + ${SubN - 1}), ' ') AS gram
       |  FROM t, LATERAL unnest(generate_series(1, greatest(len(w) - ${SubN - 1}, 0))) AS u(i)),
       |pd AS (SELECT doc_id, gram, COUNT(*) AS k FROM g GROUP BY 1, 2),
       |c AS (SELECT gram, CAST(SUM(k) AS BIGINT) AS c FROM pd GROUP BY 1)
       |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_grams,
       |  CAST(SUM(CASE WHEN c > 1 THEN k ELSE 0 END) AS BIGINT) AS n_dup_grams,
       |  ROUND(CAST(SUM(CASE WHEN c > 1 THEN k ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(k) AS BIGINT), 6) AS dup_frac
       |FROM pd JOIN c USING (gram)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  override def oracle: Map[String, String] = Map(
    "q_dedup_substring" -> substringSql,
    // Recursive transitive closure over the same winnow-pair graph: the
    // cluster id (min reachable doc) is label-propagation's fixpoint.
    // Two-staged (r10): the closure reads the PRE-VERIFIED
    // q_dedup_winnow_pairs sibling dump — its own oracle row rebuilds
    // the winnow chain from scratch, so the pairs stay independently
    // verified. The previous inline form re-evaluated the whole
    // per-char Horner winnow derivation on EVERY recursive fixpoint
    // step (DuckDB re-runs non-materialized CTEs referenced from a
    // recursive term): 506s at sf0.1 for this one oracle. Now the
    // re-evaluated subtree is a parquet scan.
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE gp AS (
         |  SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b
         |  FROM read_parquet('${QueryModule.VerifyOutToken}/q_dedup_winnow_pairs/*.parquet')),
         |sym AS (SELECT doc_a AS s, doc_b AS d FROM gp
         |        UNION SELECT doc_b, doc_a FROM gp),
         |reach AS (
         |  SELECT doc_id AS src, doc_id AS dst FROM documents
         |  UNION
         |  SELECT r.src, e2.d FROM reach r JOIN sym e2 ON e2.s = r.dst)
         |SELECT src AS doc_id, MIN(dst) AS cluster_id,
         |  src = MIN(dst) AS is_survivor
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    "q_dedup_winnow_pairs" -> (winnowCte +
      """, sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM e GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |  FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b, n_shared,
        |  ROUND(CAST(n_shared AS DOUBLE) / LEAST(sa.n_fp, sb.n_fp), 6) AS containment
        |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
        |           JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE ROUND(CAST(n_shared AS DOUBLE) / LEAST(sa.n_fp, sb.n_fp), 6) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin),
    "q_dedup_exact" ->
      """WITH aug AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM aug GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "q_dedup_ngram_jaccard" -> (shingleCte +
      """, hot AS (
        |  SELECT shingle FROM sh GROUP BY shingle
        |  HAVING COUNT(*) > GREATEST(2, (SELECT COUNT(*) FROM documents) // 8)
        |), shc AS (
        |  SELECT s.doc_id, s.shingle FROM sh s
        |  LEFT JOIN hot ON hot.shingle = s.shingle WHERE hot.shingle IS NULL
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_sh FROM shc GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b, n_inter,
        |  ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin),
    // exact all-pairs ground truth — the prefix filter must lose nothing
    "q_dedup_prefix_jaccard" -> (shingleCte +
      """, sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b, n_inter,
        |  ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin),
    // exact incoming×corpus ground truth — the incremental prefix
    // join (corpus-df order, df-0 unseen rule) must lose nothing
    "q_dedup_prefix_incremental" -> (shingleCte +
      """, inc AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 = 7),
        |corp AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 <> 7),
        |szi AS (SELECT doc_id, COUNT(*) AS n_sh FROM inc GROUP BY doc_id),
        |szc AS (SELECT doc_id, COUNT(*) AS n_sh FROM corp GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS incoming_id, b.doc_id AS corpus_id,
        |    COUNT(*) AS n_inter
        |  FROM inc a JOIN corp b ON a.shingle = b.shingle
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT incoming_id, corpus_id, n_inter,
        |  ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
        |FROM inter
        |JOIN szi sa ON sa.doc_id = incoming_id
        |JOIN szc sb ON sb.doc_id = corpus_id
        |WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.5
        |ORDER BY incoming_id, corpus_id""".stripMargin),
    "q_dedup_minhash_sig" -> (sigCte +
      "\nSELECT * FROM sig ORDER BY doc_id"),
    // incremental admission check: same sig CTE, band joins restricted
    // to incoming (%10=7) × corpus (%10<>7); best match + verdict via
    // window rank, zero-candidate docs kept by the left join
    "q_dedup_incremental" -> (sigCte +
      """, cand AS (
        |""".stripMargin +
      (0 until 4).map(b =>
        s"  SELECT i.doc_id AS incoming_id, c.doc_id AS corpus_id FROM sig i JOIN sig c\n" +
        s"    ON i.m${2 * b} = c.m${2 * b} AND i.m${2 * b + 1} = c.m${2 * b + 1}\n" +
        s"    AND i.doc_id % 10 = 7 AND c.doc_id % 10 <> 7")
        .mkString("\n  UNION ALL\n") +
      """
        |), agg AS (
        |  SELECT incoming_id, corpus_id, COUNT(*) AS n_bands FROM cand
        |  GROUP BY incoming_id, corpus_id
        |), best AS (
        |  SELECT incoming_id, corpus_id AS best_match_id,
        |    n_bands AS best_shared_bands,
        |    COUNT(*) OVER (PARTITION BY incoming_id) AS n_candidates,
        |    ROW_NUMBER() OVER (PARTITION BY incoming_id
        |      ORDER BY n_bands DESC, corpus_id) AS rn
        |  FROM agg
        |), base AS (
        |  SELECT doc_id AS incoming_id FROM documents
        |  WHERE doc_id % 10 = 7 AND text IS NOT NULL
        |)
        |SELECT b.incoming_id,
        |  COALESCE(bst.n_candidates, 0) AS n_candidates,
        |  bst.best_match_id,
        |  COALESCE(bst.best_shared_bands, 0) AS best_shared_bands,
        |  bst.n_candidates IS NULL AS admit
        |FROM base b LEFT JOIN (SELECT * FROM best WHERE rn = 1) bst
        |  USING (incoming_id)
        |ORDER BY incoming_id""".stripMargin),
    "q_dedup_minhash_pairs" -> (sigCte +
      """, cand AS (
        |""".stripMargin +
      (0 until 4).map(b =>
        s"  SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b\n" +
        s"    ON a.m${2 * b} = b.m${2 * b} AND a.m${2 * b + 1} = b.m${2 * b + 1} AND a.doc_id < b.doc_id")
        .mkString("\n  UNION ALL\n") +
      """
        |)
        |SELECT id_a, id_b, COUNT(*) AS n_bands FROM cand
        |GROUP BY id_a, id_b ORDER BY id_a, id_b""".stripMargin),
    "q_dedup_simhash" -> (simhashCte +
      "\nSELECT doc_id, simhash, simhash64 FROM sim ORDER BY doc_id"),
    "q_dedup_simhash_pairs" -> (simhashCte +
      """, cand AS (
        |""".stripMargin +
      // bands of the unsigned 64-bit signature: k=0,1 from lo32, k=2,3
      // from hi32 — ≡ Spark's shiftrightunsigned(simhash, 16k) & 0xFFFF
      Seq("lo32 % 65536", "lo32 // 65536", "hi32 % 65536", "hi32 // 65536")
        .map(band =>
          s"  SELECT a.doc_id AS id_a, b.doc_id AS id_b,\n" +
          s"    a.hi32 AS ha, a.lo32 AS la, b.hi32 AS hb, b.lo32 AS lb\n" +
          s"  FROM sim a JOIN sim b ON a.$band = b.$band\n" +
          s"    AND a.doc_id < b.doc_id")
        .mkString("\n  UNION ALL\n") +
      """
        |), dist AS (SELECT DISTINCT id_a, id_b, ha, la, hb, lb FROM cand)
        |SELECT id_a, id_b,
        |  CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS INTEGER) AS hamming
        |FROM dist WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 8
        |ORDER BY id_a, id_b""".stripMargin))
}
