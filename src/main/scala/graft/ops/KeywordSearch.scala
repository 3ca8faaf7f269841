package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Keyword retrieval and statistical language-model scoring over a
  * document corpus: BM25 ranking (the inverted-index scoring function a
  * lexical search engine runs) and unigram-LM negative log-likelihood
  * (the CCNet-style "how surprising is this document under the corpus
  * distribution" quality signal).
  *
  * Cross-engine determinism contract (these queries are DuckDB
  * hash-checked): every transcendental (ln) is rounded to 9 decimals the
  * moment it is computed, per-row score components are summed as
  * DECIMAL(28,12) — exact and order-independent — and only the final
  * per-doc score is rounded to 6 and cast back to DOUBLE. Raw double
  * aggregation never crosses an engine boundary.
  *
  * Scale posture (100 TB corpus):
  *   - BM25: tokens are filtered to the query's terms BEFORE the explode,
  *     so the shuffled volume is O(matches), not O(tokens); the
  *     document-frequency and corpus-stats sides are |terms|-row and
  *     1-row frames, joined broadcast. One wide shuffle total (the
  *     per-doc tf groupBy).
  *   - Unigram LM: the vocabulary frame is groupBy(word) over the scan —
  *     for natural text it is millions of rows vs trillions of tokens,
  *     so the count join back to tokens defaults to broadcast; pass
  *     `broadcastVocab = false` for open vocabularies (shuffle join on
  *     the word key, still one pass).
  */
object KeywordSearch {

  /** Whitespace tokens — matches TextAnalysis.tokens. */
  private def toks(text: Column): Column = split(text, "\\s+")

  /** ln rounded to 9 decimals: libm implementations agree to well under
    * 1e-12 relative, so the rounded value is engine-stable. Shared
    * across the ops package — KeywordSearch, TextClassify — as THE
    * engine-portable log primitive the DuckDB mirrors reproduce as
    * ROUND(ln(x), 9). */
  private[ops] def ln9(x: Column): Column = round(log(x), 9)

  /** Per-document term frequencies for the given term set. The term
    * filter runs inside the array BEFORE the generator, so the exploded
    * (and shuffled) rows are only the matches. */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    val termList = terms.map(x => x: Any)
    docs.select(col(idCol),
        filter(toks(col(textCol)), t => t.isin(termList: _*)).as("ts"))
      .select(col(idCol), explode(col("ts")).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
  }

  /** BM25 (Lucene/ATIRE idf variant: ln(1 + (N - df + 0.5)/(df + 0.5)))
    * top-k documents for a bag-of-terms query.
    *
    * Emits (id, rk, score, n_terms_matched, dl); score is the
    * DECIMAL-summed per-term contribution rounded to 6. Ranking is
    * rank-stable across engines: the rounded score orders first, the id
    * breaks ties.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val termList = terms.map(x => x: Any)
    val toksArr = toks(col(textCol))
    // ONE corpus text scan: per doc, its token length and its matching
    // tokens — a frame orders of magnitude narrower than the text.
    // Staged because it feeds the corpus stats, the tf table, and
    // (via tf) the scoring join; without it the text would be re-read
    // and re-tokenized for each consumer. Transient (deterministic
    // release — the r12 #5 convention sweep).
    val base = Checkpoints.stageTransient(
      docs.select(col(idCol), size(toksArr).as("dl"),
        filter(toksArr, t => t.isin(termList: _*)).as("ts")))
    // 1-row corpus stats, read once as driver constants: N and avgdl
    // (exact integer sum / count)
    val stats = base.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")).head()
    // dl rides through the tf groupBy, so no second join against a
    // lengths table is needed downstream
    val tf = base.select(col(idCol), col("dl"), explode(col("ts")).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    bm25Rank(tf, idCol, stats.getAs[Long]("n_docs"), avgdlOf(stats),
      k, k1, b)
  }

  /** `avgdl` of a stats row; an empty corpus has none (0 / 0 is null)
    * and no postings either, so any constant ranks the same nothing. */
  private[ops] def avgdlOf(stats: Row): Double =
    if (stats.isNullAt(stats.fieldIndex("avgdl"))) 0.0
    else stats.getAs[Double]("avgdl")

  /** BM25 scoring + top-k over a prepared term-frequency frame
    * (idCol, dl, term, tf) and the corpus constants N and avgdl. Shared
    * by the from-scratch path above and the persisted [[InvertedIndex]]
    * probe, so the two paths stay arithmetic-identical by construction
    * (one oracle verifies both).
    *
    * Precondition: `tf` has one row per (doc, term), which both callers
    * guarantee by grouping on (doc, dl, term) over unique doc ids. That
    * makes `df` a plain `count(1) over (partition by term)`: one pass
    * over `tf`, no distinct aggregate and no join back. */
  private[ops] def bm25Rank(tf: DataFrame, idCol: String, nDocs: Long,
      avgdl: Double, k: Int, k1: Double, b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val idf = ln9(lit(1.0) +
      (lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val contrib = round(
      col("idf") * (col("tf") * (lit(k1) + 1)) /
        (col("tf") + lit(k1) * (lit(1.0) - lit(b) +
          lit(b) * col("dl") / lit(avgdl))), 9)
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .withColumn("idf", idf)
      .withColumn("contrib", contrib.cast("decimal(28,12)"))
      .groupBy(col(idCol), col("dl"))
      .agg(round(sum(col("contrib")).cast("double"), 6).as("score"),
        count(lit(1)).as("n_terms_matched"))
    // Top-k via orderBy+limit = TakeOrderedAndProject (per-partition
    // partial top-k, no global shuffle of the scored set); the ranking
    // window then runs over k rows only.
    val top = scored.orderBy(col("score").desc, col(idCol)).limit(k)
    val w = Window.orderBy(col("score").desc, col(idCol))
    top.withColumn("rk", row_number().over(w))
      .select(col(idCol), col("rk"), col("score"),
        col("n_terms_matched"), col("dl"))
  }

  /** Corpus unigram counts: (word, cnt) plus the implied total. */
  def unigramCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(toks(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** TF-IDF keyword extraction: the top-k most characteristic terms per
    * document — the corpus-statistical tagger behind faceted browsing,
    * weak labeling, and retrieval-index boosting. Smooth idf
    * ln((N+1)/(df+1)) (never negative, defined at df = N), tf normalized
    * by document length; ties broken by term text so ranking is
    * engine-stable.
    *
    * Determinism contract: idf's ln is [[ln9]]-rounded at the source;
    * score = round(tf · idf / dl, 6) is three IEEE basic ops both
    * engines replay identically.
    *
    * Scale shape (100 TB corpus): ONE corpus explode into the (doc,
    * term) tf aggregate — dl rides in the group key (functionally
    * dependent on the doc id, so it adds no groups); document frequency
    * rolls up FROM the tf partials (never a second text scan) and joins
    * back broadcast for natural-language vocabularies (pass
    * `broadcastDf = false` for open vocabularies — shuffle join on the
    * term key). The per-doc top-k window partitions by doc id —
    * millions of small partitions, no global sort. */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, broadcastDf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col(idCol), toks(col(textCol)).as("ts"))
      .select(col(idCol), size(col("ts")).as("dl"),
        explode(col("ts")).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // tf rows are distinct per (doc, term), so df is a plain count —
    // and it feeds the scoring join, so stage it: one tf computation,
    // not two. Transient staging (persist, not checkpoint) so the
    // blocks release deterministically instead of leaking to the
    // periodic cleaner (r12 VERDICT #5).
    val tfS = Checkpoints.stageTransient(tf)
    val dfsRaw = tfS.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dfs = if (broadcastDf) broadcast(dfsRaw) else dfsRaw
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term"))
    val scored = tfS.join(dfs, "term")
      .crossJoin(broadcast(nDocs)) // 1-row corpus count
      .withColumn("idf",
        ln9((col("n_docs") + 1).cast("double") / (col("df") + 1)))
      .withColumn("score",
        round(col("tf").cast("double") * col("idf") / col("dl"), 6))
    // tfS is swept by the next stageTransient call (or an explicit
    // Checkpoints.releaseTransients) — lineage is intact, so an early
    // sweep costs a recompute, never a failed read.
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col(idCol), col("rk"), col("term"), col("tf"), col("df"),
        col("score"))
  }

  /** Corpus-level unigram distribution report: vocabulary size, token
    * count, and Shannon entropy in nats (H = ln(total) − Σ cnt·ln(cnt) /
    * total — the expected value of `unigramNll` over the corpus). The
    * per-word ln·cnt products are rounded to 6 then DECIMAL-summed, so
    * the single emitted double is engine-stable. One groupBy + one
    * 1-row aggregate: metadata-scale output at any corpus size. */
  def vocabEntropy(docs: DataFrame, textCol: String): DataFrame =
    unigramCounts(docs, textCol)
      .select(col("word"), col("cnt"),
        round(col("cnt") * ln9(col("cnt")), 6)
          .cast("decimal(28,12)").as("clc"))
      .agg(count(lit(1)).as("vocab_size"),
        sum(col("cnt")).as("total_tokens"),
        sum(col("clc")).as("sum_clc"))
      .select(col("vocab_size"), col("total_tokens"),
        round(ln9(col("total_tokens")) -
          col("sum_clc").cast("double") / col("total_tokens"), 6)
          .as("entropy_nats"))

  /** Per-document bigram negative log-likelihood (nats/bigram) under the
    * corpus's own bigram distribution: mean of −ln(c(prev,w)/c(prev·)),
    * where c(prev·) is the CONTEXT count (Σ over following words — i.e.
    * the bigram-table marginal, so probabilities per context sum to 1).
    * Self-scoring needs no smoothing: every doc bigram exists in the
    * table. The unigram/bigram NLL gap is the mutual-information signal
    * (how much local word order explains) — low gap flags bag-of-words
    * spam, near-zero bigram NLL flags templated text.
    *
    * Same determinism contract as `unigramNll`: ln rounded to 9 at the
    * source, DECIMAL partial sums, one 6-rounded double out. Scale: one
    * explode + two groupBys; the bigram table joins back broadcast (or
    * shuffle for open vocabularies via `broadcastVocab = false`). */
  def bigramNll(docs: DataFrame, idCol: String, textCol: String,
      broadcastVocab: Boolean = true): DataFrame = {
    // tokenize into a COLUMN first: higher-order functions are
    // interpreted, and an element_at over the raw split() expression
    // would re-split the text once per element — O(n²) per document.
    // Over an attribute the array is computed once per row.
    val w = col("w")
    val pairsArr = when(size(w) >= 2,
      transform(sequence(lit(0), size(w) - 2),
        i => struct(element_at(w, i + 1).as("prev"),
          element_at(w, i + 2).as("cur"))))
      .otherwise(array().cast("array<struct<prev:string,cur:string>>"))
    val docPairs = docs
      .select(col(idCol), toks(col(textCol)).as("w"))
      .select(col(idCol), explode(pairsArr).as("p"))
      .select(col(idCol), col("p.prev").as("prev"), col("p.cur").as("cur"))
    // bigram table with its context marginal; ln terms pre-rounded.
    // Transient staging: one computation, deterministic release.
    val table = Checkpoints.stageTransient(
      docPairs.groupBy(col("prev"), col("cur"))
        .agg(count(lit(1)).as("c2"))
        .withColumn("c1", sum(col("c2"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("prev"))))
        .withColumn("term",
          (ln9(col("c1")) - ln9(col("c2"))).cast("decimal(28,12)")))
    val t = if (broadcastVocab) broadcast(table) else table
    docPairs.join(t, Seq("prev", "cur"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("term")).cast("double") / count(lit(1)), 6)
          .as("bigram_nll"))
  }

  /** Reciprocal-rank fusion of N ranked retrieval legs (Cormack et al.
    * 2009): score(d) = Σ_legs 1/(c + rank_leg(d)), missing legs
    * contribute 0. The production hybrid-search merge: a lexical (BM25)
    * leg and a vector (ANN) leg fused without score calibration —
    * ranks, not scores, cross the legs, so the fusion is immune to the
    * legs' incomparable score scales.
    *
    * Each leg is (name, frame with (idCol, rk)); output carries
    * rk_<name> per leg (null = not retrieved by that leg), the fused
    * `rrf` score, and the fused rank `rk`.
    *
    * Determinism: each reciprocal is rounded to 9 before the
    * left-to-right sum (the mirror adds in the same order), the fused
    * score is rounded to 6, ties break on the id. Scale: every leg is
    * already a top-k frame (k rows, metadata-scale), so the fold of
    * full-outer joins and the final top-k are driver-light and
    * broadcast-friendly — the heavy lifting happened inside the legs. */
  def rrfFuse(legs: Seq[(String, DataFrame)], idCol: String,
      k: Int, c: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(legs.nonEmpty, "rrfFuse needs at least one leg")
    val renamed = legs.map { case (name, df) =>
      name -> df.select(col(idCol), col("rk").as(s"rk_$name"))
    }
    val joined = renamed.map(_._2).reduce { (a, b) =>
      a.join(b, Seq(idCol), "full_outer")
    }
    val rrf = legs.map { case (name, _) =>
      coalesce(round(lit(1.0) / (lit(c) + col(s"rk_$name")), 9), lit(0.0))
    }.reduce(_ + _)
    val fused = joined.withColumn("rrf", round(rrf, 6))
    val top = fused.orderBy(col("rrf").desc, col(idCol)).limit(k)
    val w = Window.orderBy(col("rrf").desc, col(idCol))
    top.withColumn("rk", row_number().over(w))
      .select((col(idCol) +: col("rrf") +: col("rk") +:
        legs.map { case (name, _) => col(s"rk_$name") }): _*)
  }

  /** DSIR-style importance weight (Xie et al. 2023 "Data Selection for
    * Language Models via Importance Resampling"): per-document mean
    * log-ratio of an add-one-smoothed TARGET unigram LM to the RAW
    * corpus LM. Positive = the document looks more like the target
    * domain than the corpus average — the rank key for selecting
    * pretraining data that matches a high-quality target.
    *
    *   logw(D) = mean over tokens w of
    *     ln((ct(w)+1)/(tot_t+|V|)) − ln((cr(w)+1)/(tot_r+|V|))
    *
    * with |V| the RAW vocabulary size (the smoothing support), so
    * target-unseen words get the add-one floor.
    *
    * Determinism: both ln terms are rounded to 9 and differenced in
    * double (same bits in both engines), the per-token terms are
    * DECIMAL-summed, one 6-rounded double per doc comes out. Scale: ONE
    * corpus explode computes both LMs (the target leg is a conditional
    * sum inside the same groupBy — no second scan), the 1-row totals
    * cross-join broadcast, and the vocab joins back broadcast (or
    * shuffle via `broadcastVocab = false` for open vocabularies). */
  def dsirLogRatio(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, broadcastVocab: Boolean = true): DataFrame = {
    val words = docs.select(col(idCol), isTarget.as("_t"),
      explode(toks(col(textCol))).as("word"))
    // one pass: raw count and target count per word; transient staging
    // (deterministic release)
    val vocabRaw = Checkpoints.stageTransient(
      words.groupBy(col("word"))
        .agg(count(lit(1)).as("cr"),
          sum(when(col("_t"), 1L).otherwise(0L)).as("ct")))
    val tots = vocabRaw.agg(sum(col("cr")).as("tot_r"),
      sum(col("ct")).as("tot_t"), count(lit(1)).as("v"))
    val terms = vocabRaw.crossJoin(broadcast(tots))
      .withColumn("term",
        (ln9((col("ct") + lit(1.0)) / (col("tot_t") + col("v"))) -
          ln9((col("cr") + lit(1.0)) / (col("tot_r") + col("v"))))
          .cast("decimal(28,12)"))
      .select(col("word"), col("term"))
    val t = if (broadcastVocab) broadcast(terms) else terms
    words.join(t, "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        // + 0.0 normalizes IEEE negative zero: the log-ratio mean CAN
        // land within 5e-7 of zero (sf0.1 doc 3533 did), and the two
        // engines' ROUND disagree on the sign of the resulting zero —
        // the float-repr hash compare distinguishes -0.0 from 0.0.
        // x + 0.0 == x exactly for every non-zero double.
        (round(sum(col("term")).cast("double") / count(lit(1)), 6) + lit(0.0))
          .as("dsir_logw"))
  }

  /** Per-document mean negative log-likelihood (nats/token) under the
    * corpus's own unigram distribution — perplexity = exp(nll). Low =
    * stereotypical text, high = surprising; both tails are quality
    * signals. No OOV handling is needed when the vocabulary comes from
    * the same corpus.
    *
    * nll(D) = ln(total) - mean over tokens of ln(cnt(w)); each ln is
    * rounded to 9, token sums run in DECIMAL, final value rounded to 6.
    */
  def unigramNll(docs: DataFrame, idCol: String, textCol: String,
      broadcastVocab: Boolean = true): DataFrame = {
    // vocab feeds the token join AND the total; staged = one corpus
    // explode, not two. Transient (deterministic release — r12 #5).
    val vocabRaw = Checkpoints.stageTransient(
      unigramCounts(docs, textCol)
        .withColumn("lncnt", ln9(col("cnt")).cast("decimal(28,12)")))
    val vocab = if (broadcastVocab) broadcast(vocabRaw) else vocabRaw
    val total = vocabRaw.agg(sum(col("cnt")).as("total"))
    val words = docs.select(col(idCol), explode(toks(col(textCol))).as("word"))
    words.join(vocab, "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("lncnt")).as("sum_ln"))
      .crossJoin(broadcast(total))
      .select(col(idCol), col("n_toks"),
        round(ln9(col("total")) -
          col("sum_ln").cast("double") / col("n_toks"), 6).as("nll_nats"))
  }

  /** DoReMi-style domain reweighting (Xie et al. 2023, simplified to a
    * fixed reference): per-domain EXCESS loss — mean token NLL under the
    * global corpus unigram LM minus under the domain's OWN unigram LM
    * (cross-entropy minus entropy, ≥ 0 by Gibbs' inequality: how much
    * worse the shared model fits this domain than a domain expert does) —
    * drives multiplicative-weights updates w_t(d) ∝ exp(η·t·excess_d),
    * emitted for steps 1..`steps`. Domains with more headroom (the
    * signal DoReMi chases with a trained proxy; the unigram gap is its
    * deterministic, oracle-checkable stand-in) get upweighted, and the
    * trajectory shows how fast η concentrates the mixture.
    *
    * Scale: ONE corpus explode into a (domain, word) count shuffle; the
    * global vocab rolls up from those partials (never a second scan),
    * joins back broadcast (or shuffle via `broadcastVocab=false` for
    * open vocabularies), and everything after the per-domain aggregate
    * is |domains|·steps rows — metadata-scale.
    *
    * Determinism contract (the corpus-battery rules): ln rounded to 9 at
    * the source, per-word products rounded to 6 then DECIMAL-summed
    * (order-free), exp rounded to 9, per-step normalizers DECIMAL-summed,
    * each emitted ratio one 6-rounded double division. */
  def domainReweight(docs: DataFrame, stratumCol: String, textCol: String,
      eta: Double, steps: Int, broadcastVocab: Boolean = true): DataFrame = {
    val words = docs.select(col(stratumCol).as("_d"),
      explode(toks(col(textCol))).as("word"))
    // the only corpus-scale shuffle; staged once (transient —
    // deterministic release), feeds both rollups
    val dw = Checkpoints.stageTransient(
      words.groupBy(col("_d"), col("word")).agg(count(lit(1)).as("dcnt")))
    val globalRaw = dw.groupBy(col("word")).agg(sum(col("dcnt")).as("gcnt"))
    val global = if (broadcastVocab) broadcast(globalRaw) else globalRaw
    val gtot = dw.agg(sum(col("dcnt")).as("gtot"))
    val perDom = dw.join(global, "word")
      .groupBy(col("_d"))
      .agg(sum(col("dcnt")).as("n_toks"),
        sum(round(col("dcnt") * ln9(col("gcnt")), 6)
          .cast("decimal(28,12)")).as("sum_g"),
        sum(round(col("dcnt") * ln9(col("dcnt")), 6)
          .cast("decimal(28,12)")).as("sum_o"))
    val excess = perDom.crossJoin(broadcast(gtot))
      .select(col("_d"), col("n_toks"),
        round(
          (ln9(col("gtot")) -
            col("sum_g").cast("double") / col("n_toks").cast("double")) -
          (ln9(col("n_toks")) -
            col("sum_o").cast("double") / col("n_toks").cast("double")),
          6).as("excess_nll"))
    val stepped = excess
      .select(col("_d"), col("n_toks"), col("excess_nll"),
        explode(sequence(lit(1), lit(steps))).as("step"))
      .withColumn("boost",
        round(exp(lit(eta) * col("step") * col("excess_nll")), 9))
    val norms = stepped.groupBy(col("step"))
      .agg(sum(col("boost").cast("decimal(28,12)")).as("norm"))
    stepped.join(broadcast(norms), "step")
      .select(col("_d").as(stratumCol), col("step").cast("long").as("step"),
        col("n_toks"), col("excess_nll"),
        round(col("boost") / col("norm").cast("double"), 6).as("weight"))
  }
}
