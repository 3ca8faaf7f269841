package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end wall-scale ladder for the heavy composite operators —
  * the complement to PairScaleLadderSpec (which pins CANDIDATE growth
  * of the pair generators, a volume metric): this tool measures whole
  * operators — graph cluster-representatives, corpus-wide substring
  * removal, sequence packing — on synthetic corpora with LINEAR
  * planted structure at two sizes, and reports the growth exponent
  * log(t_big/t_small) / log(ratio). An exponent near 1 means the
  * operator's cost tracks the corpus; near 2 means a quadratic term
  * slipped in (the failure mode every bucketing/equi-join design
  * choice in these operators exists to prevent).
  *
  * Run:   runMain graft.ScaleLadder [nSmall=2000] [ratio=10]
  * Output: one JSON line per operator with cold+steady times at both
  * sizes and the steady exponent; results are recorded in COVERAGE.md
  * per round rather than asserted in CI (wall time on the shared host
  * carries ±25% noise — the recorded exponents are the contract, the
  * spec-grade volume pins live in PairScaleLadderSpec).
  */
object ScaleLadder {

  /** Documents with linear near-dup structure: n docs of `words`
    * random 6-letter words; every 10th doc gets a partner differing in
    * one word (same construction as PairScaleLadderSpec.planted, 60
    * words so substring tiles have room). Random words over 26^6 keep
    * accidental cross-doc tile collisions negligible — duplicated
    * spans come only from the planted pairs, so TRUE structure is
    * linear in n. */
  private def plantedDocs(spark: SparkSession, n: Int, seed: Int,
      words: Int = 60): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def word(): String = Array.fill(6)(('a' + rnd.nextInt(26)).toChar).mkString
    (0 until n).flatMap { i =>
      val ws = Array.fill(words)(word())
      val doc = (i.toLong, i.toLong % 7, ws.mkString(" "))
      if (i % 10 == 0) {
        val dup = ws.clone(); dup(17) = word()
        Seq(doc, (i.toLong + 10000000L, i.toLong % 7, dup.mkString(" ")))
      } else Seq(doc)
    }.toDF("doc_id", "stratum", "text")
  }

  /** Mention table derived from a planted doc corpus: an md5-distinct
    * 19-char base name per doc plus a distance-1 '@' substitution at a
    * key-derived position — clusters of exactly 2, O(1) blocks, true
    * pairs linear in n. `withK2` adds the distance-2 '#' double
    * substitution (even keys) and a 18-char deletion (keys ≡0 mod 3)
    * so PassJoin's cross-length probe legs are exercised. */
  private def plantedMentions(docs: DataFrame, withK2: Boolean): DataFrame = {
    val key = col("doc_id")
    val base = concat(lit("m-"),
      substring(md5(key.cast("string")), 1, 10), lit("-"),
      lpad(pmod(key, lit(1000000)).cast("string"), 6, "0"))
    val pos = (pmod(key, lit(19)) + 1).cast("int")
    val posB = (pmod(key + 7, lit(19)) + 1).cast("int")
    val sub1 = concat(base.substr(lit(1), pos - 1), lit("@"),
      base.substr(pos + 1, lit(19)))
    val always = Seq(
      struct((key * 4).as("mention_id"), base.as("name"),
        lit(true).as("keep")),
      struct((key * 4 + 1).as("mention_id"), sub1.as("name"),
        lit(true).as("keep")))
    val k2 = Seq(
      struct((key * 4 + 2).as("mention_id"),
        concat(sub1.substr(lit(1), posB - 1), lit("#"),
          sub1.substr(posB + 1, lit(19))).as("name"),
        (pmod(key, lit(2)) === 0).as("keep")),
      struct((key * 4 + 3).as("mention_id"),
        concat(base.substr(lit(1), posB - 1),
          base.substr(posB + 1, lit(19))).as("name"),
        (pmod(key, lit(3)) === 0).as("keep")))
    val variants = array((if (withK2) always ++ k2 else always): _*)
    docs.select(explode(variants).as("m")).where(col("m.keep"))
      .select(col("m.mention_id").as("mention_id"),
        col("m.name").as("name"))
  }

  /** Embeddings with linear near-dup structure: n unit vectors; every
    * 10th gets a partner displaced by small noise (cosine ≈ 0.999), so
    * the ≥-threshold pair graph is linear in n. */
  private def plantedEmbeddings(spark: SparkSession, n: Int, seed: Int,
      dims: Int = 64): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).flatMap { i =>
      val v = Array.fill(dims)(rnd.nextGaussian().toFloat)
      val row = (i.toLong, v.toSeq)
      if (i % 10 == 0) {
        val dup = v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
        Seq(row, (i.toLong + 10000000L, dup.toSeq))
      } else Seq(row)
    }.toDF("vec_id", "embedding")
  }

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    LogProfiles.quietBench()
    val nSmall = args.headOption.map(_.toInt).getOrElse(2000)
    val ratio = args.lift(1).map(_.toInt).getOrElse(10)
    // optional third arg: comma-separated rung filter — a heavy decade
    // can be re-run per family without re-staging every input (the
    // staged corpora are lazy, so unfiltered rungs cost nothing)
    val only = args.lift(2).map(_.split(',').toSet)
    val nBig = nSmall * ratio
    val spark = LocalSession.create(defaultCpus = 32)
    def f3(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    // inputs staged once per size so generation cost (driver-side
    // synthesis) never pollutes the operator timings
    // Block hygiene between timed runs: every loop round inside an op
    // leaves its localCheckpoint blocks in the block manager, and
    // Spark's ContextCleaner only frees them on its PERIODIC gc cycle
    // (default 30 min) — far longer than a ladder run. Without a sweep,
    // each rung executes under the previous rungs' leaked blocks
    // (r10: the 24 g OOM; r11: a 3-op filtered decade read full_cc
    // steady 467 s vs 83 s cold purely from kcore's leftovers). Keep
    // only the staged input corpora; unpersist everything else and
    // nudge the cleaner.
    val keepIds = scala.collection.mutable.Set[Int]()
    def sweepBlocks(): Unit = {
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keepIds.contains(id)) rdd.unpersist(blocking = false)
      }
      System.gc()
    }
    def staged(df: DataFrame): DataFrame = {
      val out = df.localCheckpoint(true)
      out.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => keepIds += l.rdd.id
      }
      out
    }
    lazy val docsS = staged(plantedDocs(spark, nSmall, seed = 7))
    lazy val docsL = staged(plantedDocs(spark, nBig, seed = 11))
    lazy val embS = staged(plantedEmbeddings(spark, nSmall, seed = 7))
    lazy val embL = staged(plantedEmbeddings(spark, nBig, seed = 11))

    // incremental-CC rung input, staged OUTSIDE timing: yesterday's
    // labels (role 0) + today's batch pairs (role 1) in one frame —
    // production persists the labels and the admission stream delivers
    // the pairs, so the timed body is exactly the update recompute.
    def incInput(emb: DataFrame): DataFrame = {
      val pairs = graft.ops.Similarity
        .cosinePairsAdaptive(emb, 0.85, maxPlanes = 24)
        .select(col("vec_a"), col("vec_b"))
      val batch = pairs.filter(col("vec_a") % 100 === 0)
      val corpus = pairs.filter(col("vec_a") % 100 =!= 0)
      val verts = pairs.select(col("vec_a").as("v"))
        .union(pairs.select(col("vec_b"))).distinct()
      graft.ops.Dedup.connectedComponents(verts, "v", corpus,
        "vec_a", "vec_b")
        .select(lit(0).as("role"), col("v").as("x"),
          col("cluster_id").as("y"))
        .union(batch.select(lit(1).as("role"), col("vec_a"), col("vec_b")))
    }
    lazy val incS = staged(incInput(embS))
    lazy val incL = staged(incInput(embL))

    // Predicted-vs-measured exponent for the graph family (r11 VERDICT
    // #4: the 20k→200k exponents crept to 1.64–1.66 and the ρ/candidate
    // explanation was NARRATED, not computed). Every graph rung's
    // superlinear term is its pair GENERATION: the adaptive LSH widens
    // tables as n grows (recall compensation), so pre-dedup candidate
    // volume grows faster than n while everything downstream (loop
    // joins, aggregates) is linear in |E| and |V|. So the computable
    // prediction is: predicted_exponent = max(1, candidate-volume
    // exponent), measured from the SAME adaptiveCandidateStats the
    // AdaptiveLshSpec volume pins use, on the same planted corpora —
    // and each graph rung's JSON carries predicted, measured, the gap,
    // and a within-margin verdict (margin 0.35 covers rounds-count
    // variation and the host's ±25% wall noise).
    lazy val candRowsS = graft.ops.Similarity
      .adaptiveCandidateStats(embS, 0.85, maxPlanes = 24)._1
    lazy val candRowsL = graft.ops.Similarity
      .adaptiveCandidateStats(embL, 0.85, maxPlanes = 24)._1
    val graphRungs = Set("cluster_representatives", "triangle_counts",
      "kcore_peel", "lpa_rounds", "full_cc")
    val ExpMargin = 0.35

    // inputs are THUNKS over the lazy staged corpora, so a filtered run
    // only ever synthesizes what its rungs read
    val ops: Seq[(String, () => DataFrame, () => DataFrame,
        DataFrame => Unit)] = Seq(
      ("cluster_representatives", () => embS, () => embL, { emb: DataFrame =>
        val pairs = graft.ops.Similarity
          .cosinePairsAdaptive(emb, 0.85, maxPlanes = 24)
          .select(col("vec_a"), col("vec_b"))
        materialize(graft.ops.Graph.clusterRepresentatives(
          emb.select(col("vec_id")), "vec_id", pairs, "vec_a", "vec_b"))
      }),
      ("triangle_counts", () => embS, () => embL, { emb: DataFrame =>
        // the wedge join is the quadratic risk (Σ outdeg²); the planted
        // pair graph is linear in n, so a healthy exponent is ~1
        val pairs = graft.ops.Similarity
          .cosinePairsAdaptive(emb, 0.85, maxPlanes = 24)
          .select(col("vec_a"), col("vec_b"))
        materialize(graft.ops.Graph.triangleCounts(
          emb.select(col("vec_id")), "vec_id", pairs, "vec_a", "vec_b"))
      }),
      ("kcore_peel", () => embS, () => embL, { emb: DataFrame =>
        // rounds are graph-structure-bound (planted graph peels fully
        // in one round — isolated pairs have degree 1); the measured
        // risk is the per-round degree agg + anti-joins over |E|
        val pairs = graft.ops.Similarity
          .cosinePairsAdaptive(emb, 0.85, maxPlanes = 24)
          .select(col("vec_a"), col("vec_b"))
        materialize(graft.ops.Graph.kCore(
          emb.select(col("vec_id")), "vec_id", pairs, "vec_a", "vec_b",
          k = 2))
      }),
      ("phash_pairs", () => docsS, () => docsL, { docs: DataFrame =>
        import docs.sparkSession.implicits._
        // the planted one-word edits are ≤ 7-byte changes → ≤ 7 pixels
        // → mostly under the Hamming cut, so TRUE pairs are linear in n;
        // the measured risk is band-bucket skew blowing the join
        val media = docs.select(col("doc_id"), lit("image").as("kind"),
          encode(col("text"), "UTF-8").as("payload"))
          .as[(Long, String, Array[Byte])]
        materialize(graft.ops.Multimodal.pHashPairs(
          graft.ops.Multimodal.pHash(media)))
      }),
      ("drop_substrings", () => docsS, () => docsL, { docs: DataFrame =>
        materialize(graft.ops.CorpusFilters
          .dropDuplicatedSubstrings(docs, "doc_id", "text", 4))
      }),
      ("pack_sequences", () => docsS, () => docsL, { docs: DataFrame =>
        materialize(graft.ops.CorpusFilters
          .packSequences(docs, "doc_id", "stratum", "text", 256))
      }),
      ("lpa_rounds", () => embS, () => embL, { emb: DataFrame =>
        // 4 fixed rounds on the shared loop discipline; the measured
        // risk is the per-round |E| vote join + (vertex, label) agg
        val pairs = graft.ops.Similarity
          .cosinePairsAdaptive(emb, 0.85, maxPlanes = 24)
          .select(col("vec_a"), col("vec_b"))
        materialize(graft.ops.Graph.labelPropagation(
          emb.select(col("vec_id")), "vec_id", pairs, "vec_a", "vec_b",
          rounds = 4))
      }),
      ("full_cc", () => embS, () => embL, { emb: DataFrame =>
        // the from-scratch baseline the incremental update replaces
        // (includes its pair generation, like every graph rung)
        val pairs = graft.ops.Similarity
          .cosinePairsAdaptive(emb, 0.85, maxPlanes = 24)
          .select(col("vec_a"), col("vec_b"))
        materialize(graft.ops.Dedup.connectedComponents(
          emb.select(col("vec_id")), "vec_id", pairs, "vec_a", "vec_b"))
      }),
      ("epoch_shuffle", () => docsS, () => docsL, { docs: DataFrame =>
        // MintRank global rank in seeded-hash order + round-robin
        // stripe: ONE range exchange — a healthy exponent is ~1 (the
        // sort's n·log n is invisible at wall-clock granularity); a
        // regression to a single-partition window would show up as the
        // big rung flat-lining one task
        import docs.sparkSession.implicits._
        val keyed = docs.select(col("doc_id"),
          explode(sequence(lit(0), lit(1))).as("epoch"))
          .withColumn("hk", conv(substring(md5(concat_ws(":", lit("epoch"),
            col("epoch"), col("doc_id")).cast("binary")), 1, 15), 16, 10)
            .cast("long"))
        materialize(graft.plans.MintRank.withRank(keyed,
          Seq("epoch", "hk", "doc_id"), "r")
          .select(col("epoch"), col("doc_id"),
            ((col("r") - 1) % 8).cast("int").as("shard")))
      }),
      ("incremental_cc_update", () => incS, () => incL, { in: DataFrame =>
        // ONLY the update: labels + batch pairs arrive staged (the
        // production state); compare its steady time against full_cc
        val labels = in.filter(col("role") === 0)
          .select(col("x").as("vec_id"), col("y").as("cluster_id"))
        val batch = in.filter(col("role") === 1)
          .select(col("x").as("vec_a"), col("y").as("vec_b"))
        val verts = labels.select(col("vec_id"))
          .union(batch.select(col("vec_a")))
          .union(batch.select(col("vec_b"))).distinct()
        materialize(graft.ops.Dedup.incrementalComponents(labels,
          "vec_id", "cluster_id", batch, "vec_a", "vec_b", verts))
      }),
      // r12 rungs: the r11 training-order/report additions, driven
      // through the SAME functions the registered queries call (the
      // *Over seams), so a rung regression IS a query regression
      ("mix_order", () => docsS, () => docsL, { docs: DataFrame =>
        // two MintRank range exchanges + a metadata-scale strata dim:
        // a healthy exponent is ~1; a regression to a one-partition
        // window over docs flat-lines the big rung on one task
        materialize(graft.queries.CorpusQueries.mixOrderOver(
          docs.withColumnRenamed("stratum", "source")))
      }),
      ("quality_robust", () => docsS, () => docsL, { docs: DataFrame =>
        // two bounded per-source aggregates + broadcast-back: ~1
        materialize(graft.queries.TextQueries.qualityRobustOver(
          docs.withColumnRenamed("stratum", "source")))
      }),
      ("json_props", () => docsS, () => docsL, { docs: DataFrame =>
        // schema-on-read parse + ONE partial-combined aggregate: ~1
        materialize(graft.queries.EventsQueries.jsonPropsOver(
          docs.select(col("stratum").as("event_type"),
            concat(lit("{\"k\": "), (col("doc_id") % 100).cast("string"),
              lit("}")).as("props"))))
      }),
      // r12 second wave: entity resolution end-to-end (signature
      // explode → equi-join → verify → contraction → CC) and the
      // DoReMi-lite mixture report
      ("er_resolve", () => docsS, () => docsL, { docs: DataFrame =>
        // planted mentions (see plantedMentions): clusters of exactly
        // 2, blocks O(1); signatures are 20× linear, so a healthy
        // exponent is ~1 — a regression means the signature join grew
        // a hot block
        materialize(graft.ops.EntityResolution.resolveEntities(
          plantedMentions(docs, withK2 = false), "mention_id", "name"))
      }),
      ("domain_reweight", () => docsS, () => docsL, { docs: DataFrame =>
        // one (domain, word) count shuffle + vocab rollup; everything
        // after the per-domain aggregate is |domains|·steps rows: ~1
        materialize(graft.ops.KeywordSearch.domainReweight(
          docs.withColumnRenamed("stratum", "source"),
          "source", "text", 2.0, 4))
      }),
      // r12 third wave: the lossless prefix-filter join, SN blocking,
      // PassJoin k=2, and the one-pass profiler
      ("prefix_jaccard", () => docsS, () => docsL, { docs: DataFrame =>
        // the planted corpus's shingles are ~all df=1 (26^6 vocab), so
        // prefixes collide only on true pairs → candidates linear; the
        // measured risk is a hot prefix bucket blowing the self-join.
        // Global df agg + per-doc sort keep a healthy exponent ~1.
        materialize(graft.ops.Dedup.prefixJaccardPairs(
          docs, "doc_id", "text", 0.5))
      }),
      ("sn_blocking", () => docsS, () => docsL, { docs: DataFrame =>
        // candidates are a HARD 2·(w−1)·N by construction — the rung
        // pins that no plan change (rank join, MintRank exchange)
        // reintroduces a superlinear term; healthy exponent ~1
        materialize(graft.ops.EntityResolution.sortedNeighborhoodPairs(
          plantedMentions(docs, withK2 = false), "mention_id", "name",
          window = 6, maxDist = 1,
          keys = Seq(identity[Column], org.apache.spark.sql.functions.reverse)))
      }),
      ("passjoin_k2", () => docsS, () => docsL, { docs: DataFrame =>
        // segment blocking at k=2: probe fan-out is a constant ≈(k+1)²
        // per length and blocks are md5-distinct → linear candidates;
        // the measured risk is the probe windows widening with n
        materialize(graft.ops.EntityResolution.passJoinPairs(
          plantedMentions(docs, withK2 = true), "mention_id", "name",
          k = 2))
      }),
      ("profile_columns", () => docsS, () => docsL, { docs: DataFrame =>
        // one plain aggregate + one narrow (col, value) explode whose
        // first aggregate dedups map-side — the r12 Expand fix; ~1
        materialize(graft.ops.Profiler.profile(docs,
          Seq("doc_id", "stratum", "text")))
      }),
      // r12 fourth wave: snapshot diff, TF-IDF keywords, attribution
      ("refresh_diff", () => docsS, () => docsL, { docs: DataFrame =>
        // hashes under each scan + ONE full-outer key shuffle of
        // (key, 32-char hash) — shuffle volume independent of row
        // width; healthy exponent ~1
        val old = docs.filter(col("doc_id") % 17 =!= 3)
          .withColumn("text", when(col("doc_id") % 13 === 1,
            concat(col("text"), lit(" STALE"))).otherwise(col("text")))
        val nw = docs.filter(col("doc_id") % 11 =!= 5)
        materialize(graft.ops.SnapshotDiff.diff(old, nw, "doc_id"))
      }),
      ("tfidf_topk", () => docsS, () => docsL, { docs: DataFrame =>
        // one corpus explode + per-(doc,term) aggregate; the planted
        // 26^6 vocabulary is OPEN (df≈1 everywhere), so the rung runs
        // the shuffle df-join path (broadcast would ship ~n·60 rows);
        // per-doc top-k windows are 60-row partitions. Healthy ~1
        materialize(graft.ops.KeywordSearch.tfidfTopK(
          docs, "doc_id", "text", k = 3, broadcastDf = false))
      }),
      ("attribution", () => docsS, () => docsL, { docs: DataFrame =>
        // planted sessions: 8 events per user, 5 min apart — each
        // purchase sees O(1) clicks inside the 30-min lookback, so
        // candidate pairs are linear by construction; the stream-stream
        // join's batch face is one user-key equi-join. Healthy ~1
        val base = 1700000000000000L
        val ev = docs.select(col("doc_id").as("event_id"),
          (col("doc_id") / 8).cast("long").as("user_id"),
          timestamp_micros(lit(base) +
            (col("doc_id") % 8) * 300000000L).as("ts"))
        materialize(graft.streaming.StreamingRefresh.attributionPairs(
          ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 === 1), lookbackMin = 30))
      }),
      // r14: the capstone plan itself (enrich → sections → correction →
      // chunks → correction → embed → 28-col projection) through the
      // registered fullExportOver seam — the one plan a production
      // refresh actually runs end to end. Per-doc work is bounded
      // (pages/sections/chunks per doc are text-length-bound, the
      // planted docs are fixed-width), every stage is a groupBy/join on
      // document keys: healthy exponent ~1
      ("pipe_full_export", () => docsS, () => docsL, { docs: DataFrame =>
        materialize(graft.queries.EnrichQueries.fullExportOver(
          docs.select(col("doc_id"), col("text"))))
      }))

    ops.filter(o => only.forall(_.contains(o._1)))
      .foreach { case (name, smallF, bigF, run) =>
      // cold then steady at each size; the steady pair is the exponent
      val small = smallF(); val big = bigF()
      val coldS = time(run(small)); sweepBlocks()
      val steadyS = time(run(small)); sweepBlocks()
      val coldL = time(run(big)); sweepBlocks()
      val steadyL = time(run(big)); sweepBlocks()
      val exp = math.log(steadyL / steadyS) / math.log(ratio.toDouble)
      // graph rungs carry the computed prediction (candidate stats run
      // OUTSIDE the timed bodies, once per size, shared by the family)
      val predicted = if (graphRungs(name)) {
        val pairExp = math.log(candRowsL.toDouble / candRowsS.toDouble) /
          math.log(ratio.toDouble)
        val pred = math.max(1.0, pairExp)
        val gap = exp - pred
        s""","cand_small":$candRowsS,"cand_big":$candRowsL,""" +
          s""""pair_exponent":${f3(pairExp)},"predicted_exponent":${f3(pred)},""" +
          s""""exp_gap":${f3(gap)},"within_margin":${gap <= ExpMargin}"""
      } else ""
      println(s"""{"op":"$name","n_small":$nSmall,"n_big":$nBig,""" +
        s""""cold_small":${f3(coldS)},"steady_small":${f3(steadyS)},""" +
        s""""cold_big":${f3(coldL)},"steady_big":${f3(steadyL)},""" +
        s""""steady_exponent":${f3(exp)}$predicted}""")
    }

    // --- incremental ANN index rungs (r13 VERDICT #1): the upsert's
    // 100 TB claim — "IO is O(touched cells + delta), never O(corpus)"
    // — measured instead of argued. Deployment shape: cell count scales
    // with the corpus (occupancy ~8 per cell, the "thousands of cells"
    // posture), so a fixed delta touches a bounded cell set whose SIZE
    // does not grow with the corpus. Wall AND bytes-written are
    // recorded per run (the parquet layout makes bytes readable); the
    // full save() runs alongside as the O(corpus) contrast. ---
    def annEmb(n: Int, seed: Int, idBase: Long): DataFrame = {
      import spark.implicits._
      val rnd = new scala.util.Random(seed)
      (0 until n).map(i => (idBase + i,
        Array.fill(64)(rnd.nextGaussian().toFloat).toSeq))
        .toDF("vec_id", "embedding")
    }
    def dirBytes(path: String): Long = {
      val root = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(root)) 0L
      else {
        val walk = java.nio.file.Files.walk(root)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.size).sum
        } finally walk.close()
      }
    }
    def annExp(big: Double, small: Double): Double =
      math.log(big / small) / math.log(ratio.toDouble)
    // one build per corpus size; both rungs read these
    case class AnnBuild(n: Int, dir: String, saveSec: Double, saveBytes: Long)
    lazy val annBuilds = Seq(nSmall, nBig).map { n =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-ladder-ann-$n").toString + "/ix"
      val emb = staged(annEmb(n, seed = 101, idBase = 0L))
      val t = time(graft.ops.AnnIndex.save(emb, dir,
        numCells = math.max(16, n / 8)))
      sweepBlocks()
      AnnBuild(n, dir, t, dirBytes(
        graft.ops.AnnIndex.resolveDir(spark, dir)))
    }

    if (only.forall(_.contains("ann_upsert_corpus"))) {
      // FIXED 64-vector delta against corpora a decade apart: wall and
      // bytes must stay ~flat (exponent ≈ 0) while save() tracks the
      // corpus (~1). Two timed upserts per corpus: the first also
      // yields the bytes (its published layer), the second is the
      // steady wall (it layers on the first — the daily-refresh chain).
      val runs = annBuilds.map { b =>
        val delta1 = annEmb(64, seed = 202, idBase = 90000000L)
        val delta2 = annEmb(64, seed = 203, idBase = 91000000L)
        val t1 = time(graft.ops.AnnIndex.upsert(delta1, b.dir))
        val bytes = dirBytes(graft.ops.AnnIndex.resolveDir(spark, b.dir))
        val t2 = time(graft.ops.AnnIndex.upsert(delta2, b.dir))
        sweepBlocks()
        (b, t1, t2, bytes)
      }
      val (s, l) = (runs.head, runs.last)
      println(s"""{"op":"ann_upsert_corpus","n_small":$nSmall,"n_big":$nBig,""" +
        s""""delta_rows":64,"cells_small":${math.max(16, nSmall / 8)},""" +
        s""""cells_big":${math.max(16, nBig / 8)},""" +
        s""""save_small":${f3(s._1.saveSec)},"save_big":${f3(l._1.saveSec)},""" +
        s""""save_exponent":${f3(annExp(l._1.saveSec, s._1.saveSec))},""" +
        s""""save_bytes_small":${s._1.saveBytes},"save_bytes_big":${l._1.saveBytes},""" +
        s""""save_bytes_exponent":${f3(annExp(l._1.saveBytes.toDouble, s._1.saveBytes.toDouble))},""" +
        s""""upsert_cold_small":${f3(s._2)},"upsert_cold_big":${f3(l._2)},""" +
        s""""upsert_steady_small":${f3(s._3)},"upsert_steady_big":${f3(l._3)},""" +
        s""""upsert_exponent":${f3(annExp(l._3, s._3))},""" +
        s""""upsert_bytes_small":${s._4},"upsert_bytes_big":${l._4},""" +
        s""""upsert_bytes_exponent":${f3(annExp(l._4.toDouble, s._4.toDouble))}}""")
    }

    if (only.forall(_.contains("ann_upsert_delta"))) {
      // deltas a decade apart against the FIXED big corpus: wall and
      // bytes should track the delta (~linear, exponent ≈ 1) — the
      // honest cost axis of the refresh knob
      val big = annBuilds.last
      val runs = Seq(64, 640).map { d =>
        val delta = annEmb(d, seed = 300 + d, idBase = 95000000L + d * 100000L)
        val t = time(graft.ops.AnnIndex.upsert(delta, big.dir))
        val bytes = dirBytes(graft.ops.AnnIndex.resolveDir(spark, big.dir))
        sweepBlocks()
        (d, t, bytes)
      }
      val (s, l) = (runs.head, runs.last)
      println(s"""{"op":"ann_upsert_delta","corpus_rows":$nBig,""" +
        s""""cells":${math.max(16, nBig / 8)},"d_small":${s._1},"d_big":${l._1},""" +
        s""""upsert_small":${f3(s._2)},"upsert_big":${f3(l._2)},""" +
        s""""upsert_exponent":${f3(annExp(l._2, s._2))},""" +
        s""""bytes_small":${s._3},"bytes_big":${l._3},""" +
        s""""bytes_exponent":${f3(annExp(l._3.toDouble, s._3.toDouble))}}""")
    }
    spark.stop()
  }
}
