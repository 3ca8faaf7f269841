package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-hygiene operators for a training-data pipeline: repetition
  * quality metrics (the Gopher/MassiveText rule family), n-gram
  * benchmark decontamination, PII redaction, and deterministic
  * hash-stratified sampling.
  *
  * These are pipeline additions beyond the reference's own operator set
  * (the reference's closest analogues are the token estimators and
  * content validators, SURVEY §2.6/§2.8); the rule shapes are public
  * knowledge (Rae et al. 2021 "Scaling Language Models" appendix A1.1,
  * Penedo et al. 2023 RefinedWeb §3).
  *
  * 100 TB posture: every metric is explode → groupBy(doc_id, unit) →
  * groupBy(doc_id) — two map-side-combinable shuffles whose width is the
  * token stream, never O(doc_len²) per row (the pure array-function
  * alternative is shuffle-free but quadratic per doc, which a single
  * 1 MB document would blow up; the explode path is robustly linear).
  * Decontamination broadcasts the benchmark gram set (metadata-scale by
  * construction). Sampling and redaction are stateless projections that
  * run at scan speed under whole-stage codegen.
  */
object CorpusFilters {

  /** Word n-gram array (space-joined) from an ALREADY-projected token
    * array. Pass an attribute column, not a raw split() expression:
    * higher-order functions run interpreted, and a captured non-attribute
    * expression re-evaluates once per ELEMENT — an O(n²)-per-document
    * trap (the same class as the hoisted bigram/codebook fixes). */
  def wordNgramsOf(w: Column, n: Int): Column =
    when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n),
        i => array_join(slice(w, i + lit(1), lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Convenience form for single-expression use (tests, tiny frames).
    * Scan-side callers should project the split into a column and use
    * `wordNgramsOf` — see the trap note there. */
  def wordNgrams(text: Column, n: Int): Column =
    wordNgramsOf(split(text, "\\s+"), n)

  /** Break a single-line text into synthetic lines of `wordsPerLine`
    * words (the fixture corpus has no newlines; real corpora keep their
    * own). Non-overlapping left-to-right regex replacement — identical
    * semantics in Java regex and RE2, so the DuckDB mirror agrees. */
  def synthesizeLines(text: Column, wordsPerLine: Int): Column =
    regexp_replace(text,
      s"((?:\\S+ ){${wordsPerLine - 1}}\\S+) ", "$1\n")

  /** Per-document duplicate-line metrics over newline-separated lines
    * (Gopher A1.1 "duplicate line fraction" / "duplicate line character
    * fraction"):
    *   dup_line_frac      = Σ_{line value with count≥2} count / Σ count
    *   dup_line_char_frac = Σ_{count≥2} count·len(line) / Σ count·len(line)
    * Input: (docId, lines) where lines is the raw text (lines split on
    * '\n' here). Output: docId, n_lines, dup_line_frac, dup_line_char_frac.
    */
  def duplicateLineStats(df: DataFrame, docId: String, textCol: String): DataFrame =
    df.select(col(docId), explode(split(col(textCol), "\n")).as("line"))
      .groupBy(col(docId), col("line"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(docId))
      .agg(
        sum(col("cnt")).as("n_lines"),
        round(
          sum(when(col("cnt") >= 2, col("cnt")).otherwise(0)).cast("double") /
            sum(col("cnt")), 6).as("dup_line_frac"),
        round(
          sum(when(col("cnt") >= 2, col("cnt") * length(col("line"))).otherwise(0))
            .cast("double") /
            greatest(sum(col("cnt") * length(col("line"))), lit(1)), 6)
          .as("dup_line_char_frac"))

  /** Per-document top-n-gram concentration (Gopher A1.1 "top n-gram
    * character fraction"): the most frequent word n-gram (ties broken by
    * lexicographically smallest gram), its count, and
    * count·len(gram)/len(text). Window tiebreak runs over the already
    * gram-aggregated table (far smaller than the token stream). */
  def topNgramStats(df: DataFrame, docId: String, textCol: String, n: Int): DataFrame = {
    val grams = df
      .select(col(docId), length(col(textCol)).as("n_chars_doc"),
        split(col(textCol), "\\s+").as("_w"))
      .select(col(docId), col("n_chars_doc"),
        explode(wordNgramsOf(col("_w"), n)).as("gram"))
      .groupBy(col(docId), col("n_chars_doc"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col(docId))
      .orderBy(col("cnt").desc, col("gram").asc)
    grams.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col(docId), col("gram").as("top_gram"),
        col("cnt").as("top_gram_count"),
        round(col("cnt") * length(col("gram")) /
          greatest(col("n_chars_doc"), lit(1)).cast("double"), 6)
          .as("top_gram_char_frac"))
  }

  /** Per-document duplicate-n-gram character fraction (Gopher A1.1):
    *   Σ_{gram with count≥2} count·len(gram) / len(text).
    * Documents shorter than n words report 0. */
  def duplicateNgramStats(df: DataFrame, docId: String, textCol: String, n: Int): DataFrame =
    df.select(col(docId), length(col(textCol)).as("n_chars_doc"),
        split(col(textCol), "\\s+").as("_w"))
      .select(col(docId), col("n_chars_doc"),
        explode(wordNgramsOf(col("_w"), n)).as("gram"))
      .groupBy(col(docId), col("n_chars_doc"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(docId), col("n_chars_doc"))
      .agg(sum(when(col("cnt") >= 2, col("cnt") * length(col("gram")))
        .otherwise(0)).as("dup_chars"))
      .select(col(docId),
        round(col("dup_chars") / greatest(col("n_chars_doc"), lit(1))
          .cast("double"), 6).as(s"dup_${n}gram_char_frac"))

  /** Corpus-level exact-substring duplication stats (the signal behind
    * Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    * Better" §4: substrings repeated anywhere in the corpus — across OR
    * within documents — are memorization fuel). A document position is
    * "duplicated" when its word n-gram occurs more than once in the
    * WHOLE corpus. Emits per doc: n_grams (positions), n_dup_grams
    * (positions whose gram recurs), dup_frac. Documents shorter than n
    * words emit no row (they have no n-gram positions).
    *
    * The production system builds a suffix array; the n-gram-position
    * form is the standard distributed approximation (fixed window =
    * the minimum match length) and is what fits a shuffle engine.
    *
    * Scale: tokens explode once; per-(doc, gram) counts pre-aggregate
    * BEFORE the corpus-wide gram count and the join back, so the
    * shuffled key-space is distinct (doc, gram) pairs, not raw
    * positions, and both groupBys get map-side partial combines. The
    * gram key is the space-joined text here (the oracle must see it);
    * at 100 TB group on xxhash64/128 of the gram instead — counts are
    * collision-tolerant for a fraction estimate. */
  def substringDupStats(df: DataFrame, docId: String, textCol: String,
      n: Int): DataFrame = {
    // staged LAZY: the per-(doc, gram) pre-agg feeds the corpus count
    // AND the join back — unstaged, the n-gram explode executed twice
    val perDoc = Checkpoints.stage(df
      .select(col(docId), split(col(textCol), "\\s+").as("_w"))
      .select(col(docId), explode(wordNgramsOf(col("_w"), n)).as("gram"))
      .groupBy(col(docId), col("gram"))
      .agg(count(lit(1)).as("k")), eager = false)
    val corpus = perDoc.groupBy(col("gram"))
      .agg(sum(col("k")).as("c"))
    perDoc.join(corpus, "gram")
      .groupBy(col(docId))
      .agg(sum(col("k")).as("n_grams"),
        sum(when(col("c") > 1, col("k")).otherwise(0L)).as("n_dup_grams"))
      .select(col(docId), col("n_grams"), col("n_dup_grams"),
        round(col("n_dup_grams").cast("double") / col("n_grams"), 6)
          .as("dup_frac"))
  }

  /** Corpus-wide duplicated-substring REMOVAL (the production step behind
    * Lee et al. 2022 §4, which `substringDupStats` only measures): every
    * duplicated span is kept at its first corpus-wide occurrence and
    * dropped everywhere else, and each document is rebuilt from its
    * surviving text. The exact method uses a suffix array over the whole
    * corpus; the standard distributed form tiles each document into
    * NON-OVERLAPPING n-word spans and first-sees each span value —
    * disjoint spans can be dropped independently, which sliding grams
    * cannot (overlap merging is inherently sequential). The trailing
    * short tile participates like any other span value.
    *
    * Emits per doc: n_tiles, n_kept, and the md5 of the rebuilt
    * (space-joined surviving tiles) text — value-checkable without
    * shipping the text through the compare.
    *
    * Scale/skew: same shape as `lineDedup` — the hot span values ARE the
    * duplicated ones, so first-occurrence is `min(struct(docId, tile))`
    * per span (hash aggregate, map-side partial combine), joined back on
    * the span value (equi-join, AQE skew-splittable) — never a window
    * partitioned by the span. Two exchanges: span value, then docId for
    * the ordered rebuild. The rebuild itself is a secondary-sort
    * streaming fold (repartition by doc, sortWithinPartitions by tile,
    * incremental MD5 over the sorted iterator) — O(1) driver-side and
    * O(1) per-doc executor memory, so one adversarially long document
    * (millions of tiles) streams through instead of materializing in a
    * single `collect_list` aggregation buffer. */
  /** Non-overlapping n-word tiles over an ALREADY-SPLIT words array
    * (the disjoint-span form duplicated-substring REMOVAL requires —
    * shared by the batch operator and the streaming leg so both tile
    * identically). Takes the array, not the text, for the same reason
    * as `wordNgramsOf`: the array column is referenced once per tile
    * inside the lambda, so the caller must project the split in a
    * SEPARATE select — inlining `split` here would re-tokenize the
    * whole text for every tile (measured 3× on the sf0.1 corpus). */
  def wordTilesOf(w: Column, n: Int): Column =
    // `/` on Columns is DOUBLE division — cast for the integer tile
    // count ⌈size/n⌉ = (size-1) div n + 1 (size ≥ 1 always: split("")
    // is [""])
    transform(
      sequence(lit(0), ((size(w) - 1) / n).cast("int")),
      i => array_join(slice(w, i * n + 1, lit(n)), " "))

  def dropDuplicatedSubstrings(df: DataFrame, docId: String, textCol: String,
      n: Int): DataFrame = {
    val tiles = df
      .select(col(docId), split(col(textCol), "\\s+").as("_w"))
      .select(col(docId),
        posexplode(wordTilesOf(col("_w"), n)).as(Seq("tile", "gram")))
    val firstSeen = tiles
      .groupBy(col("gram"))
      .agg(min(struct(col(docId).as("d"), col("tile").as("p"))).as("first_at"))
    val flagged = tiles.join(firstSeen, Seq("gram"))
      .select(col(docId),
        col("tile"),
        (struct(col(docId).as("d"), col("tile").as("p")) === col("first_at"))
          .as("keep"),
        col("gram"))
    streamingRebuild(flagged, df.schema(docId), "n_tiles", ' '.toByte)
  }

  /** Shared per-doc rebuild for the first-seen dedup family: from a
    * flagged frame of (docId, ord, keep, unit) rows, emit per doc the
    * unit count, kept count, and md5 of the `sep`-joined kept units in
    * `ord` order. Secondary-sort streaming fold — repartition by doc,
    * sortWithinPartitions by (doc, ord), incremental MessageDigest over
    * the sorted iterator — so memory is O(1) per doc regardless of how
    * many units one adversarial document explodes into (a per-group
    * collect_list buffer would materialize them all). */
  private def streamingRebuild(flagged: DataFrame,
      idField: org.apache.spark.sql.types.StructField,
      totalName: String, sep: Byte): DataFrame = {
    val Seq(idName, ordName) = flagged.columns.take(2).toSeq
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      idField,
      org.apache.spark.sql.types.StructField(totalName,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_kept",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("kept_fp",
        org.apache.spark.sql.types.StringType, nullable = true)))
    flagged
      .repartition(col(idName))
      .sortWithinPartitions(col(idName), col(ordName))
      .mapPartitions { it =>
        new Iterator[org.apache.spark.sql.Row] {
          private var pending: org.apache.spark.sql.Row =
            if (it.hasNext) it.next() else null
          override def hasNext: Boolean = pending != null
          override def next(): org.apache.spark.sql.Row = {
            val id = pending.get(0)
            var nTotal = 0L
            var nKept = 0L
            val md = java.security.MessageDigest.getInstance("MD5")
            var firstKept = true
            var cur = pending
            var more = true
            while (more) {
              nTotal += 1
              if (cur.getBoolean(2)) {
                nKept += 1
                if (!firstKept) md.update(sep)
                md.update(cur.getString(3)
                  .getBytes(java.nio.charset.StandardCharsets.UTF_8))
                firstKept = false
              }
              if (it.hasNext) {
                cur = it.next()
                if (cur.get(0) != id) { pending = cur; more = false }
              } else { pending = null; more = false }
            }
            val fp = md.digest().map(b => f"${b & 0xff}%02x").mkString
            org.apache.spark.sql.Row(id, nTotal, nKept, fp)
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Benchmark decontamination: flag corpus documents sharing any word
    * n-gram with the probe (benchmark) set — the n-gram-overlap
    * decontamination step of a training pipeline (n=13 is the common
    * production choice; fixtures use smaller n so the check has signal
    * on a ~30-word vocabulary).
    *
    * Returns one row per contaminated document: docId, n_hits (distinct
    * shared grams), n_grams (the doc's distinct grams), overlap_frac.
    * The probe gram set is broadcast — benchmark suites are
    * metadata-scale, so the corpus side stays a single scan. */
  def decontaminate(corpus: DataFrame, probes: DataFrame,
                    docId: String, textCol: String, n: Int): DataFrame = {
    val probeGrams = probes
      .select(split(col(textCol), "\\s+").as("_w"))
      .select(explode(wordNgramsOf(col("_w"), n)).as("gram")).distinct()
      .withColumn("hit", lit(1))
    // ONE pass over the doc grams: the broadcast left join marks hits,
    // a single groupBy counts both totals and hits (a separate totals
    // aggregation would re-run the explode+distinct subtree — Spark
    // does not share unreferenced subtrees between two aggregations)
    corpus
      .select(col(docId), split(col(textCol), "\\s+").as("_w"))
      .select(col(docId), explode(wordNgramsOf(col("_w"), n)).as("gram"))
      .distinct()
      .join(broadcast(probeGrams), Seq("gram"), "left")
      .groupBy(col(docId))
      .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("n_grams"))
      .filter(col("n_hits") > 0)
      .select(col(docId), col("n_hits"), col("n_grams"),
        round(col("n_hits") / col("n_grams").cast("double"), 6)
          .as("overlap_frac"))
  }

  /** Conservative PII patterns — expressible identically in Java regex
    * and RE2 (no lookaround), so the DuckDB oracle can mirror them
    * byte for byte. Applied in a fixed order (email → IPv4 → phone);
    * order matters and is part of the contract. */
  val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\b555-\\d{4}\\b"

  /** Count occurrences of a PII pattern. */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Redact email → <EMAIL>, IPv4 → <IP>, then phone → <PHONE>. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")

  /** Weighted reservoir sampling without replacement (Efraimidis &
    * Spirakis 2006, A-Res): each row draws u ∈ (0, 1] from the portable
    * 60-bit md5 hash of its id and ranks by ln(u)/weight — the top-k
    * under that key is a weighted sample with inclusion probability
    * proportional to weight (the importance-weighted corpus-selection
    * primitive: sample by quality score, token count, source priority).
    *
    * Deterministic: u is hash-derived, so two runs — or two engines —
    * agree row-for-row (the DuckDB oracle recomputes the same keys).
    * Distributed shape: orderBy+limit plans as TakeOrderedAndProject —
    * per-partition top-k then a merge of k rows, never a global sort.
    * FP contract: u = hv/2^60 is an IEEE-exact division, ln is rounded
    * to 9 at the source, the /weight division result to 12 — the
    * engine-portable double convention used across the ops package.
    * Rows with a null/zero/negative weight get a NULL key and are
    * EXCLUDED from the sample (a 0/0 = NaN key would otherwise sort
    * ABOVE every real key under descending order and silently hijack
    * the top-k with degenerate rows). */
  def weightedSample(docs: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    val hv = conv(substring(md5(col(idCol).cast("string").cast("binary")),
      1, 15), 16, 10).cast("long") + lit(1L)
    val u = hv.cast("double") / lit(1152921504606846976.0) // 2^60, exact
    val w = col(weightCol).cast("double")
    docs
      .withColumn("skey",
        when(w > 0.0, round(round(log(u), 9) / w, 12)))
      .filter(col("skey").isNotNull)
      .orderBy(col("skey").desc, col(idCol))
      .limit(k)
  }

  /** 32-bit selector from the md5 of the document key's decimal string:
    * the first 8 hex chars. Uniform on [0, 2^32), identical in any
    * engine with md5 — the basis for deterministic sampling that two
    * independent runs (or two engines) agree on exactly. */
  def md5Selector(key: Column): Column =
    substring(md5(key.cast("string").cast("binary")), 1, 8)

  /** Lowercase 8-hex threshold for a sampling rate k/outOf. Comparing
    * the selector hex string `<=` this threshold is exactly the integer
    * comparison (same-length lowercase hex is order-isomorphic to its
    * value), so rate-1 keeps everything and rate-0 keeps nothing. */
  def rateThresholdHex(k: Long, outOf: Long): String = {
    require(k >= 0 && k <= outOf, s"rate $k/$outOf out of range")
    if (k == 0) "" // below every 8-hex selector
    else f"${(BigInt(2).pow(32) * k / outOf - 1).toLong}%08x"
  }

  /** Deterministic stratified Bernoulli sample: keep a row iff its md5
    * selector is <= the per-stratum threshold. `rates` maps stratum
    * value → (k, outOf). Rows in strata absent from `rates` are
    * dropped. Pure projection + filter — scan-speed, no shuffle, and
    * reproducible across engines and re-runs (no RNG). */
  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
                       rates: Map[String, (Long, Long)]): DataFrame = {
    val sel = md5Selector(col(keyCol))
    val threshold = rates.foldLeft(lit(null).cast("string")) {
      case (acc, (stratum, (k, outOf))) =>
        when(col(stratumCol) === stratum, lit(rateThresholdHex(k, outOf)))
          .otherwise(acc)
    }
    df.withColumn("sel", sel)
      .withColumn("thr", threshold)
      .where(col("thr").isNotNull && col("sel") <= col("thr"))
      .drop("thr")
  }

  /** C4-style cross-corpus line dedup: every line value is kept only at
    * its FIRST occurrence corpus-wide (first = smallest (docId, position));
    * each document is then rebuilt from its surviving lines in order.
    * Complements the within-doc repetition metrics: this is the step that
    * actually strips boilerplate (headers, cookie banners) repeated
    * across pages.
    *
    * Emits per doc: n_lines, n_kept, and the md5 of the rebuilt text —
    * value-checkable without shipping the full text through the compare.
    *
    * Scale/skew: the hot line values (boilerplate, near-empty lines) are
    * exactly the duplicated ones, so a `row_number() OVER (PARTITION BY
    * line)` would sort every occurrence of a hot line in ONE task. The
    * first occurrence only needs `min(struct(docId, pos))` per line —
    * a hash aggregate with map-side partial combine (each input task
    * reduces its own occurrences to one candidate before the exchange),
    * joined back on the line value. The join is an equi-join AQE can
    * skew-split; a window partition it cannot. Two exchanges total:
    * line (agg+join) and docId (the ordered rebuild) — same shape at
    * any corpus size. The rebuild is the shared `streamingRebuild`
    * fold: O(1) memory per doc, adversarial line counts stream. */
  def lineDedup(df: DataFrame, docId: String, textCol: String): DataFrame = {
    val lines = df.select(col(docId),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val firstSeen = lines
      .groupBy(col("line"))
      .agg(min(struct(col(docId).as("d"), col("pos").as("p"))).as("first_at"))
    val flagged = lines.join(firstSeen, Seq("line"))
      .select(col(docId),
        col("pos"),
        (struct(col(docId).as("d"), col("pos").as("p")) === col("first_at"))
          .as("keep"),
        col("line"))
    streamingRebuild(flagged, df.schema(docId), "n_lines", '\n'.toByte)
  }

  /** Temperature-scaled mixture weights (the multilingual-corpus
    * sampling rule: p_s ∝ tokens_s^α, α < 1 upsamples the tail): per
    * stratum, the natural token share, the temperature share, and the
    * implied upsample factor. One groupBy over the scan + a broadcast
    * 1-row totals join — metadata-scale output.
    *
    * Determinism: pow is rounded to 9 decimals at the source, the share
    * denominators are DECIMAL sums of those rounded values (exact,
    * order-independent), and every emitted ratio is a single
    * double-division rounded to 6 — the same contract as the rest of
    * the corpus battery. */
  def temperatureMix(df: DataFrame, stratumCol: String, textCol: String,
                     alpha: Double): DataFrame = {
    val toks = size(split(col(textCol), "\\s+")).cast("long")
    // the per-stratum frame feeds the totals AND the final projection;
    // checkpoint = one corpus scan, not two (the frame itself is
    // |strata| rows)
    val perStratum = Checkpoints.stage(
      df.select(col(stratumCol), toks.as("n_toks"))
        .groupBy(col(stratumCol))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
        .withColumn("w",
          round(pow(col("n_tokens").cast("double"), alpha), 9)
            .cast("decimal(28,12)")),
      eager = true)
    val totals = perStratum.agg(
      sum(col("n_tokens")).as("total_tokens"),
      sum(col("w")).as("total_w"))
    val nat = col("n_tokens").cast("double") / col("total_tokens").cast("double")
    val temp = col("w").cast("double") / col("total_w").cast("double")
    perStratum.crossJoin(broadcast(totals))
      .select(col(stratumCol), col("n_docs"), col("n_tokens"),
        round(nat, 6).as("nat_share"),
        round(temp, 6).as("temp_share"),
        round(temp / nat, 6).as("upsample"))
  }

  /** GPT-style sequence packing: within each stratum (source/shard),
    * documents are conceptually concatenated in id order and the token
    * stream is cut into fixed-`budget` training sequences. Emits, per
    * document, the half-open token span [cum_start, cum_end) it occupies
    * and the derived placement: first/last sequence index, offset within
    * the first sequence, and how many sequence boundaries cut through
    * the document (each boundary is a doc split in the packed output).
    *
    * All integer arithmetic (cumulative sums, DIV, MOD) — exact in any
    * engine. Scale: one shuffle (the per-stratum window); strata pack
    * independently and in parallel, which is also the semantics real
    * pipelines want (packing never crosses a shard). A single global
    * pack would serialize the prefix sum — that is the reason the
    * stratum key is required, not optional. */
  def packSequences(df: DataFrame, idCol: String, stratumCol: String,
                    textCol: String, budget: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratumCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(stratumCol), col(idCol),
        size(split(col(textCol), "\\s+")).cast("long").as("n_toks"))
      .withColumn("cum_end", sum(col("n_toks")).over(w))
      .withColumn("cum_start", col("cum_end") - col("n_toks"))
      .withColumn("first_seq", expr(s"cum_start DIV $budget"))
      .withColumn("last_seq",
        expr(s"GREATEST(cum_end - 1, cum_start) DIV $budget"))
      .select(col(stratumCol), col(idCol), col("n_toks"),
        col("cum_start"), col("first_seq"), col("last_seq"),
        expr(s"cum_start % $budget").as("seq_offset"),
        (col("last_seq") - col("first_seq")).as("n_splits"))
  }

  /** Broadcast-dictionary phrase scan — the safety/blocklist face of
    * corpus curation: a small curated dictionary of multi-word phrases,
    * each tagged with a severity, matched POSITIONALLY (every occurrence
    * counts, unlike `decontaminate`'s distinct-gram overlap) against
    * every document, folded into a per-doc verdict cascade:
    *   block — any 'block'-severity phrase occurs at all;
    *   flag  — 'flag'-severity occurrences total ≥ flagAt;
    *   keep  — otherwise (including docs with zero matches).
    *
    * Scale posture: the dictionary is driver-side tiny BY DEFINITION
    * (a reviewed blocklist), so it broadcasts; the corpus side makes
    * ONE explode pass per DISTINCT phrase length (a 10k-phrase list has
    * 2–4 lengths, not 10k patterns — the reason this beats a regex
    * alternation: the scan cost is O(words · #lengths), independent of
    * dictionary size, and the gram→phrase match is a broadcast hash
    * join, never a per-row regex over the whole alternation). Counts
    * aggregate partially map-side on (doc, phrase) before the per-doc
    * fold. */
  def blocklistScan(docs: DataFrame, docId: String, textCol: String,
      dict: Seq[(String, String)], flagAt: Long = 2L): DataFrame = {
    require(dict.nonEmpty, "blocklistScan needs a non-empty dictionary")
    require(dict.forall { case (_, s) => s == "block" || s == "flag" },
      "blocklistScan severities must be 'block' or 'flag'")
    val spark = docs.sparkSession
    import spark.implicits._
    val dictDf = dict.toDF("phrase", "severity")
    val lengths = dict.map(_._1.split("\\s+").length).distinct.sorted
    val words = docs.select(col(docId), split(col(textCol), "\\s+").as("_w"))
    val grams = lengths.map { n =>
      words.select(col(docId), explode(wordNgramsOf(col("_w"), n)).as("gram"))
    }.reduce(_.unionByName(_))
    val hits = grams
      .join(broadcast(dictDf), col("gram") === col("phrase"))
      .groupBy(col(docId), col("phrase"), col("severity"))
      .agg(count(lit(1)).as("cnt"))
    // per-doc fold: top phrase = max count, lexicographic tiebreak —
    // min over struct(-cnt, phrase) realizes (cnt DESC, phrase ASC)
    val perDoc = hits.groupBy(col(docId))
      .agg(sum(col("cnt")).as("n_hits"),
        count(lit(1)).as("n_phrases"),
        min(struct((-col("cnt")).as("neg"), col("phrase")))
          .getField("phrase").as("top_phrase"),
        max((col("severity") === "block").cast("int")).as("_has_block"),
        sum(when(col("severity") === "flag", col("cnt")).otherwise(0L))
          .as("_flag_hits"))
    docs.select(col(docId)).join(perDoc, Seq(docId), "left")
      .select(col(docId),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_phrases"), lit(0L)).as("n_phrases"),
        col("top_phrase"),
        when(col("_has_block") === 1, lit("block"))
          .when(col("_flag_hits") >= flagAt, lit("flag"))
          .otherwise(lit("keep")).as("verdict"))
  }
}
