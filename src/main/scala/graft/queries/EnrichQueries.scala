package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.enrich.DeterministicEnricher
import graft.ops.{DocPipeline, EnrichStages}
import graft.text.FixtureCorpus

/** Enrichment-stage queries run with the DeterministicEnricher (no network;
  * same bytes on every run). The chapter/section summary flows AND the
  * embedding audit are exact hash-checked oracles: DuckDB rebuilds the
  * fixture pages/sections/chunks (FixtureOracleSql) and recomputes the
  * enricher's extractive summaries — including the FNV-1a 64-bit tag in
  * pure SQL — plus the blank-chunk null-embedding rule, the cost
  * report (physical layout pinned by a deterministic repartition so the
  * batch counts are data-derived — see costReport), and the capstone
  * full export: all 28 columns value-exact INCLUDING the float32
  * embedding payload (FixtureOracleSql.fullExport replays the
  * FNV-derived embedding in single-precision FLOAT and rebuilds the
  * scale-15 vector literal byte-for-byte). Nothing in this module is
  * rows-only. */
object EnrichQueries extends QueryModule {

  private val baseEnricher = new DeterministicEnricher(64)

  /** The session's enricher: the deterministic stub, wrapped in the
    * content-hash replay cache when `spark.graft.enrich.cache.dir` is
    * configured (CachingEnricher — task-retry idempotency + resume;
    * same conf-key seam pattern as ops.Checkpoints). Results are
    * identical either way: the cache replays, never transforms. */
  private def enricher(spark: SparkSession): graft.enrich.Enricher =
    graft.enrich.CachingEnricher.maybeCached(spark, baseEnricher)

  private def pagesOf(documents: DataFrame) = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) => FixtureCorpus.pages(id, text) }
  }

  private def pages(spark: SparkSession, dir: String) =
    pagesOf(Tables.documents(spark, dir))

  /** Stage-01: chapter summaries folded over segments, applied per page. */
  def enrichedPages(spark: SparkSession, dir: String): DataFrame =
    EnrichStages.enrichPages(pages(spark, dir), enricher(spark))
      .select(col("document_id"), col("chapter_number"), col("page_number"),
        col("chapter_page_count"),
        length(col("chapter_summary")).as("summary_len"),
        md5(col("chapter_summary")).as("summary_fp"))
      .orderBy(col("document_id"), col("chapter_number"), col("page_number"))

  /** Stage-02 G9: sequential section summaries with sliding context. */
  def sectionSummaries(spark: SparkSession, dir: String): DataFrame =
    EnrichStages.summarizeSections(
      DocPipeline.pagesToSections(pages(spark, dir)), enricher(spark))
      .select(col("document_id"), col("chapter_number"), col("section_number"),
        length(col("section_summary")).as("summary_len"),
        md5(col("section_summary")).as("summary_fp"),
        // "(N prior)" marker proves the sliding window: min(N, 5)
        regexp_extract(col("section_summary"), "\\((\\d+) prior\\)", 1)
          .cast("int").as("n_context"))
      .orderBy(col("document_id"), col("chapter_number"), col("section_number"))

  /** Stage-04 L6: embedding audit — per document: all non-blank chunks
    * embedded, unit norms, fixed dims. Violations must be zero.
    * Oracle-checked: DuckDB replays the chunker and counts the tag-only
    * (clean-blank) chunks that embed as null. */
  def embeddingAudit(spark: SparkSession, dir: String): DataFrame = {
    val embedded = EnrichStages.embedChunks(
      DocPipeline.sectionsToChunks(DocPipeline.pagesToSections(pages(spark, dir))),
      enricher(spark))
    val norm = sqrt(aggregate(col("embedding"),
      lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    embedded
      .withColumn("dims", size(col("embedding")))
      .withColumn("nrm", when(col("embedding").isNotNull, norm))
      .groupBy(col("document_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        count(col("embedding")).as("n_embedded"),
        count(when(col("dims") =!= 64 && col("embedding").isNotNull, 1))
          .as("dim_violations"),
        count(when(col("embedding").isNotNull &&
          abs(col("nrm") - 1.0) > 1e-3, 1)).as("norm_violations"))
      .orderBy(col("document_id"))
  }

  /** Partition count for the cost-report's pinned physical layout, and
    * the data-independent group → partition map it induces: Spark's
    * `repartition(P, expr)` places a row at pmod(murmur3_42(expr), P),
    * so for expr = doc_id % P the map from g ∈ [0,P) to partition id is
    * a constant — computable here once and embedded into the oracle SQL
    * as literals. CostLayoutSpec pins this against a live repartition.
    *
    * Scale note: the pin CAPS the metered pass at P-way parallelism —
    * the price of a cross-engine-checkable `embed_calls`. 64 holds a
    * verification corpus comfortably; a PRODUCTION metering run should
    * drop the repartition entirely (physical batching is whatever the
    * cluster gives; the accumulator totals stay correct — only their
    * exact batch count becomes layout-dependent, which production does
    * not need to replay in SQL). */
  private[queries] val costParts = 64
  private[queries] val costPartOf: Map[Long, Long] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    (0L until costParts).map { g =>
      val h = new Murmur3Hash(Seq(Literal(g))).eval(InternalRow.empty)
        .asInstanceOf[Int]
      g -> java.lang.Math.floorMod(h, costParts).toLong
    }.toMap
  }

  /** L9/S22: one-row cost report of a metered catalog enrichment pass —
    * the query runs the enrichment eagerly, then reports the accumulator
    * totals priced at the reference's constants. Deterministic enricher +
    * estimator-A metering ⇒ identical numbers every run (spec-pinned).
    *
    * Oracle-checked: the docs are repartitioned on doc_id % P first, so
    * the per-partition row counts — and with them `embed_calls` =
    * 2·Σ_p ⌈n_p/50⌉ — are a pure function of the DATA rather than of the
    * incoming file layout; DuckDB recomputes the same batch arithmetic
    * through the constant group → partition map, the token totals via
    * the estimator-A mirror over the rebuilt description/usage strings,
    * and the exact integer cost in nano-USD alongside the double. */
  def costReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.enrich.{CostMeter, MeteredEnricher}
    import spark.implicits._
    val meter = new CostMeter(spark)
    val metered = new MeteredEnricher(enricher(spark), meter)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .repartition(costParts, pmod(col("doc_id"), lit(costParts)))
    val nDocs = EnrichStages.describeDocuments(docs, metered).count()
    val costNano = meter.promptTokens.value * 10000L +
      meter.completionTokens.value * 30000L + meter.embedTokens.value * 130L
    Seq((nDocs, meter.chatCalls.value, meter.promptTokens.value,
      meter.completionTokens.value, meter.embedCalls.value,
      meter.embedTokens.value,
      BigDecimal(meter.costUsd).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble, costNano))
      .toDF("n_docs", "chat_calls", "prompt_tokens", "completion_tokens",
        "embed_calls", "embed_tokens", "cost_usd", "cost_nano_usd")
  }

  /** Catalog stage-3 analog: description/usage + dual embeddings. */
  def catalogDescriptions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
    EnrichStages.describeDocuments(docs, enricher(spark))
      .toDF("doc_id", "description", "usage", "desc_vec", "usage_vec")
      .select(col("doc_id"), length(col("description")).as("desc_len"),
        length(col("usage")).as("usage_len"),
        size(col("desc_vec")).as("desc_dims"),
        size(col("usage_vec")).as("usage_dims"),
        md5(concat_ws("|", col("description"), col("usage"))).as("fp"))
      .orderBy(col("doc_id"))
  }

  /** The full semantic pipeline end to end (SURVEY §3.1, stages 01→05):
    * enrich pages → sections → summaries → 2b correction → chunks → 3b
    * correction → embed → 28-column DB projection. Deterministic enricher
    * ⇒ the order-stable content hash is reproducible run to run (spec).
    * Rows-only driver check; this is the engine's capstone query. */
  /** Shared stage chain of the capstone queries: enrich pages →
    * sections (+ chapter summaries) → W5 correction → chunks → W7
    * correction. */
  private def pipelineChunksOver(documents: DataFrame)
      : org.apache.spark.sql.Dataset[graft.model.ChunkRecord] = {
    import graft.ops.DocPipeline
    val spark = documents.sparkSession
    // staged LAZY (the cosinePairsCore convention): the page split feeds
    // BOTH the chapter-summary fold and the section derivation —
    // unstaged, the corpus-scale text flatMap executed twice per run
    val pgs = graft.ops.Checkpoints.stage(
        pagesOf(documents).toDF(), eager = false)
      .as[graft.model.PageRecord](
        org.apache.spark.sql.Encoders.product[graft.model.PageRecord])
    val enrichedPgs = EnrichStages.enrichPages(pgs, enricher(spark))
    // chapter summaries ride along via the page records
    val summaries = enrichedPgs
      .groupBy(col("document_id"), col("chapter_number"))
      .agg(first(col("chapter_summary")).as("chapter_summary_agg"))
    val sections = EnrichStages.summarizeSections(
      DocPipeline.correctSectionPages(
        DocPipeline.pagesToSections(pgs)), enricher(spark))
      .drop("chapter_summary")
      .join(summaries, Seq("document_id", "chapter_number"), "left")
      .withColumnRenamed("chapter_summary_agg", "chapter_summary")
      .as[graft.model.SectionRecord](
        org.apache.spark.sql.Encoders.product[graft.model.SectionRecord])
    DocPipeline.correctChunkPages(DocPipeline.sectionsToChunks(sections))
  }

  private def pipelineChunks(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.model.ChunkRecord] =
    pipelineChunksOver(Tables.documents(spark, dir))

  /** [[fullExport]] over any (doc_id, text) documents frame — the scale
    * ladder's seam, so the capstone rung times the REGISTERED pipeline
    * itself (enrich → sections → correction → chunks → correction →
    * embed → 28-column projection), not a stand-in. */
  private[graft] def fullExportOver(documents: DataFrame): DataFrame = {
    import graft.ops.DbExport
    // staged LAZY: the full enrich→sections→chunks chain feeds both the
    // embedding pass and the final join — unstaged it executed twice
    val chunks = graft.ops.Checkpoints.stage(
        pipelineChunksOver(documents).toDF(), eager = false)
      .as[graft.model.ChunkRecord](
        org.apache.spark.sql.Encoders.product[graft.model.ChunkRecord])
    val embedded = EnrichStages.embedChunks(chunks,
        enricher(documents.sparkSession))
      .select(col("document_id"), col("chapter_number"),
        col("section_number"), col("chunk_number"), col("embedding"))
    val full = chunks.join(embedded,
      Seq("document_id", "chapter_number", "section_number", "chunk_number"))
    // staged before the global order (orderedSmall rationale): the
    // 28-column projection builds the scale-15 vector literal strings —
    // a bare orderBy re-executed that and the chunk-embedding join for
    // range-bounds sampling
    orderedSmall(DbExport.toDbRows(full),
      col("document_id"), col("chapter_number"),
      col("section_number"), col("chunk_number"))
  }

  def fullExport(spark: SparkSession, dir: String): DataFrame =
    fullExportOver(Tables.documents(spark, dir))

  private[queries] val RetrieveQuery = "customer order pipeline merge"
  private val RetrieveK = 5

  /** RAG retrieval over the exported chunk table — the reference
    * system's PRODUCTION read path (a pgvector `ORDER BY embedding <=>
    * query LIMIT k` over the refreshed table): embed a fixed
    * natural-language query with the same enricher, cosine-score every
    * non-blank chunk, return the top-5 with their page-reference
    * citation columns. Blank chunks (null embedding, the P9 rule) are
    * excluded exactly as the production `WHERE embedding IS NOT NULL`
    * does. At scale the scan side is the IVF/LSH family (q_knn_*); the
    * exact scan is the oracle surface and the small-k default. */
  def retrieve(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // staged LAZY: the chunk chain feeds the embedding scorer AND the
    // citation-column join-back (the fullExportOver convention)
    val chunks = graft.ops.Checkpoints.stage(
        pipelineChunks(spark, dir).toDF(), eager = false)
      .as[graft.model.ChunkRecord](
        org.apache.spark.sql.Encoders.product[graft.model.ChunkRecord])
    val embedded = EnrichStages.embedChunks(chunks, enricher(spark)).toDF()
      .filter(col("embedding").isNotNull)
      .select(col("chapter_number"), col("section_number"),
        col("chunk_number"), col("embedding"))
    val qv = enricher(spark).embedBatch(Seq(RetrieveQuery)).head
    val qd = array(qv.toIndexedSeq.map(x => lit(x.toDouble)): _*)
    val scored = embedded.withColumn("cos_sim",
      round(graft.functions.GraftFunctions.dot(
        graft.ops.Similarity.asDouble(col("embedding")), qd), 6))
    val keyCols = Seq(col("chapter_number"), col("section_number"),
      col("chunk_number"))
    val top = scored
      .orderBy(col("cos_sim").desc +: keyCols: _*).limit(RetrieveK)
    val w = Window.orderBy(col("cos_sim").desc +: keyCols: _*)
    top.withColumn("rk", row_number().over(w))
      .join(chunks.toDF().select(col("chapter_number"), col("section_number"),
        col("chunk_number"), col("chunk_start_page"), col("chunk_end_page"),
        col("chunk_start_reference"), col("chunk_end_reference")),
        Seq("chapter_number", "section_number", "chunk_number"))
      .select(col("rk"), col("cos_sim"), col("chapter_number"),
        col("section_number"), col("chunk_number"),
        col("chunk_start_page"), col("chunk_end_page"),
        col("chunk_start_reference"), col("chunk_end_reference"))
      .orderBy(col("rk"))
  }

  /** Catalog pipeline composition (SURVEY §3.2, stages 1→4): CDC process
    * list → per-document description/usage + embeddings → catalog entries
    * with sequential ids minted over the CDC survivors (G11/J10). */
  def catalogMaster(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.MasterUpsert
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
    val described = EnrichStages.describeDocuments(docs, enricher(spark))
      .toDF("doc_id", "document_description", "document_usage", "desc_vec", "usage_vec")
      .withColumn("document_source", concat(lit("src"), col("doc_id") % 20))
      .withColumn("document_type", lit("synthetic"))
      .withColumn("document_name", concat(lit("doc "), col("doc_id")))
      .withColumn("file_name", concat(lit("doc_"), col("doc_id"), lit(".pdf")))
      .withColumn("file_path", concat(lit("/corpus/doc_"), col("doc_id"), lit(".pdf")))
    // existing master = docs ≡0 (mod 4); fresh = the rest, ids minted after max
    val master = described.filter(col("doc_id") % 4 === 0)
      .withColumn("id", col("doc_id") + 1000)
    val fresh = described.filter(col("doc_id") % 4 =!= 0)
    val assigned = MasterUpsert.assignIds(
      master.select("id"), fresh, orderCols = Seq("file_name"))
    // desc_dims (embedding materialized) rides along; description lengths
    // and fingerprints live in q_enrich_catalog_descriptions — keeping this
    // projection enricher-independent makes the whole CDC + id-mint shape
    // exactly mirrorable in the DuckDB oracle.
    master.select(col("id"), col("document_source"), col("document_type"),
        col("document_name"), col("file_name"),
        size(col("desc_vec")).as("desc_dims"))
      .unionByName(assigned.select(col("id"), col("document_source"),
        col("document_type"), col("document_name"), col("file_name"),
        size(col("desc_vec")).as("desc_dims")))
      .orderBy(col("id"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pipe_full_export" -> fullExport,
    "q_pipe_retrieve" -> retrieve,
    "q_catalog_master" -> catalogMaster,
    "q_enrich_pages" -> enrichedPages,
    "q_enrich_section_summaries" -> sectionSummaries,
    "q_enrich_embedding_audit" -> embeddingAudit,
    "q_enrich_catalog_descriptions" -> catalogDescriptions,
    "q_enrich_cost_report" -> costReport)

  // The deterministic enricher's catalog outputs are md5-derived and its
  // extractive head is regular, so q_enrich_catalog_descriptions is fully
  // mirrorable: DuckDB rebuilds the description (first-3-sentences over
  // whitespace-collapsed text, via a lazy RE2 pattern — no lookbehind) and
  // the usage tag, then compares lengths, dims, and the md5 fingerprint.
  // The chapter/section summary flows stay rows-only (multi-layer folds
  // over segmented, tag-embedded text); q_catalog_master's mirror
  // reproduces the master/fresh split, the max(id) + rank-by-file_name
  // mint, and the union.
  private val first3 =
    "CASE WHEN regexp_extract(coll, '^(.*?[.!?] .*?[.!?] .*?[.!?])(?: |$)', 1) <> '' " +
      "THEN regexp_extract(coll, '^(.*?[.!?] .*?[.!?] .*?[.!?])(?: |$)', 1) ELSE coll END"

  private val catalogDescSql: String = {
    s"""WITH c AS (
       |  SELECT doc_id, text,
       |    regexp_replace(trim(text), '\\s+', ' ', 'g') AS coll
       |  FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    'Description: ' || $first3 AS descr,
       |    'Usage: reference document ' || substr(md5(text), 1, 8) AS usg
       |  FROM c)
       |SELECT doc_id, length(descr) AS desc_len, length(usg) AS usage_len,
       |  64 AS desc_dims, 64 AS usage_dims,
       |  md5(descr || '|' || usg) AS fp
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** Tokens.estimateA over an expression (same arithmetic as the Scala
    * side: trunc(n/3.5) clamped to [n//10, n//2]). */
  private def estA(c: String): String =
    s"GREATEST(length($c) // 10, LEAST(CAST(TRUNC(length($c) / 3.5) AS BIGINT), length($c) // 2))"

  private val costReportSql: String = {
    val partCase = (0L until costParts)
      .map(g => s"WHEN $g THEN ${costPartOf(g)}").mkString(" ")
    s"""WITH c AS (
       |  SELECT doc_id, text,
       |    regexp_replace(trim(text), '\\s+', ' ', 'g') AS coll
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, text,
       |    'Description: ' || $first3 AS descr,
       |    'Usage: reference document ' || substr(md5(text), 1, 8) AS usg
       |  FROM c),
       |t AS (
       |  SELECT ${estA("text")} AS pt, ${estA("descr")} + ${estA("usg")} AS ct
       |  FROM f),
       |parts AS (
       |  SELECT CASE doc_id % $costParts $partCase END AS part FROM documents),
       |pc AS (SELECT part, COUNT(*) AS c FROM parts GROUP BY 1),
       |b AS (SELECT CAST(2 * SUM(CAST(CEIL(c / 50.0) AS BIGINT)) AS BIGINT)
       |        AS embed_calls FROM pc),
       |agg AS (
       |  SELECT COUNT(*) AS n_docs, CAST(SUM(pt) AS BIGINT) AS prompt_tokens,
       |         CAST(SUM(ct) AS BIGINT) AS completion_tokens
       |  FROM t)
       |SELECT n_docs, n_docs AS chat_calls, prompt_tokens, completion_tokens,
       |  (SELECT embed_calls FROM b) AS embed_calls,
       |  completion_tokens AS embed_tokens,
       |  ROUND(prompt_tokens * CAST(0.01 AS DOUBLE) / 1000
       |      + completion_tokens * CAST(0.03 AS DOUBLE) / 1000
       |      + completion_tokens * CAST(0.00013 AS DOUBLE) / 1000, 6) AS cost_usd,
       |  prompt_tokens * 10000 + completion_tokens * 30000
       |      + completion_tokens * 130 AS cost_nano_usd
       |FROM agg""".stripMargin
  }

  override def oracle: Map[String, String] = Map(
    "q_pipe_full_export" -> FixtureOracleSql.fullExport,
    "q_pipe_retrieve" -> FixtureOracleSql.retrieve(RetrieveQuery, 5),
    "q_enrich_cost_report" -> costReportSql,
    "q_enrich_pages" -> FixtureOracleSql.enrichPages,
    "q_enrich_section_summaries" -> FixtureOracleSql.enrichSectionSummaries,
    "q_enrich_embedding_audit" -> FixtureOracleSql.enrichEmbeddingAudit,
    "q_enrich_catalog_descriptions" -> catalogDescSql,
    "q_catalog_master" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    'src' || CAST(doc_id % 20 AS VARCHAR) AS document_source,
        |    'synthetic' AS document_type,
        |    'doc ' || CAST(doc_id AS VARCHAR) AS document_name,
        |    'doc_' || CAST(doc_id AS VARCHAR) || '.pdf' AS file_name
        |  FROM documents),
        |master AS (
        |  SELECT doc_id + 1000 AS id, document_source, document_type,
        |         document_name, file_name
        |  FROM d WHERE doc_id % 4 = 0),
        |mx AS (SELECT CAST(COALESCE(MAX(id), 0) AS BIGINT) AS m FROM master),
        |assigned AS (
        |  SELECT (SELECT m FROM mx)
        |      + ROW_NUMBER() OVER (ORDER BY file_name) AS id,
        |    document_source, document_type, document_name, file_name
        |  FROM d WHERE doc_id % 4 <> 0)
        |SELECT CAST(id AS BIGINT) AS id, document_source, document_type,
        |       document_name, file_name, 64 AS desc_dims
        |FROM master
        |UNION ALL
        |SELECT CAST(id AS BIGINT) AS id, document_source, document_type,
        |       document_name, file_name, 64 AS desc_dims
        |FROM assigned
        |ORDER BY id""".stripMargin)
}
