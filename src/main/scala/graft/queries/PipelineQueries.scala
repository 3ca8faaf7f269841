package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.model.PageRecord
import graft.ops.DocPipeline
import graft.text.{FixtureCorpus, Tokens}

/** Document-pipeline queries: the synthetic corpus (FixtureCorpus) run
  * through pages→sections→chunks — EVERY stage exact hash-checked against
  * DuckDB (see FixtureOracleSql): the page generator, hierarchical
  * splitter + small-section merge, W5 correction, the natural-section
  * char split, and the T8 priority chunker itself (its greedy cut loop
  * replayed in a recursive CTE; the corpus's pure-lowercase words close
  * the comma-break and lookahead cases that would otherwise need
  * positions regex SQL can't express). q_pipe_full_export (registered in
  * EnrichQueries) is oracle-checked too — float32 embedding payload
  * included — so NOTHING in the pipe family is rows-only; the
  * reassembly contract also rides in `q_pipe_chunk_audit`, whose
  * violation counters must all be zero.
  */
object PipelineQueries extends QueryModule {

  private def pages(spark: SparkSession, dir: String): Dataset[PageRecord] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) => FixtureCorpus.pages(id, text) }
  }

  /** T5/T6/T7 output: section inventory with page bounds + hierarchy.
    * Uses the ordered pipeline path — output is globally ordered by
    * construction (range partition of the cheap page rows), so there is
    * no post-compute sort re-executing the text algebra for boundary
    * sampling. */
  def sections(spark: SparkSession, dir: String): DataFrame =
    DocPipeline.pagesToSectionsOrdered(pages(spark, dir))
      .select(col("document_id"), col("chapter_number"), col("section_number"),
        col("section_title"), col("section_level"), col("splitting_level"),
        col("section_hierarchy"), col("section_start_page"),
        col("section_end_page"), col("section_page_count"),
        col("section_token_count"), length(col("section_content")).as("n_chars"))

  /** W5/W6 output: stage-2b corrected sections — bounds from the tag scan,
    * refs populated, overlaps clamped. Self-auditing continuity columns. */
  def sectionsCorrected(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corrected = DocPipeline.correctSectionPages(
      DocPipeline.pagesToSections(pages(spark, dir)))
    val w = Window.partitionBy(col("document_id"), col("chapter_number"))
      .orderBy(col("section_number"))
    corrected
      .withColumn("next_start", lead(col("section_start_page"), 1).over(w))
      .select(col("document_id"), col("chapter_number"), col("section_number"),
        col("section_start_page"), col("section_end_page"),
        col("section_page_count"), col("section_start_reference"),
        col("section_end_reference"),
        (col("next_start").isNotNull && col("section_end_page").isNotNull &&
          col("next_start") < col("section_end_page")).as("overlap_violation"))
      .orderBy(col("document_id"), col("chapter_number"), col("section_number"))
  }

  /** T8 output: chunk inventory. Ordered pipeline path (see `sections`):
    * the per-section chunk explode preserves the range order, so the
    * inventory arrives sorted without a post-compute global sort. */
  def chunks(spark: SparkSession, dir: String): DataFrame =
    DocPipeline.sectionsToChunks(
      DocPipeline.pagesToSectionsOrdered(pages(spark, dir)))
      .select(col("document_id"), col("chapter_number"), col("section_number"),
        col("chunk_number"), col("chunk_token_count"),
        length(col("chunk_content")).as("n_chars"))

  /** W7–W11 output: stage-3b corrected chunks with continuity audit. */
  def chunksCorrected(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corrected = DocPipeline.correctChunkPages(
      DocPipeline.sectionsToChunks(
        DocPipeline.correctSectionPages(
          DocPipeline.pagesToSections(pages(spark, dir)))))
    val w = Window.partitionBy(col("document_id"), col("chapter_number"),
      col("section_number")).orderBy(col("chunk_number"))
    corrected
      .withColumn("next_start", lead(col("chunk_start_page"), 1).over(w))
      .select(col("document_id"), col("chapter_number"), col("section_number"),
        col("chunk_number"), col("chunk_start_page"), col("chunk_end_page"),
        col("chunk_start_reference"), col("chunk_end_reference"),
        (col("next_start").isNotNull && col("chunk_end_page").isNotNull &&
          col("next_start") < col("chunk_end_page")).as("overlap_violation"),
        col("chunk_start_page").isNull.as("unassigned"))
      .orderBy(col("document_id"), col("chapter_number"),
        col("section_number"), col("chunk_number"))
  }

  /** Self-auditing invariants (V-style report): per chapter —
    * chunks reassemble their sections exactly, numbering is dense from 1,
    * no chunk blows past hardMax+margin. All violation counts MUST be 0. */
  def chunkAudit(spark: SparkSession, dir: String): DataFrame = {
    // staged LAZY: the section derivation feeds the chunk explode AND
    // the reassembly join — unstaged, the page split + section fold
    // (the expensive text algebra) executed twice per run
    val secs = graft.ops.Checkpoints.stage(
        DocPipeline.pagesToSections(pages(spark, dir)).toDF(), eager = false)
      .as[graft.model.SectionRecord](
        org.apache.spark.sql.Encoders.product[graft.model.SectionRecord])
    val chs = DocPipeline.sectionsToChunks(secs)
    val reassembled = chs
      .groupBy(col("document_id"), col("chapter_number"), col("section_number"))
      .agg(
        count(lit(1)).as("n_chunks"),
        max(col("chunk_number")).as("max_chunk_number"),
        min(col("chunk_number")).as("min_chunk_number"),
        sum(length(col("chunk_content"))).as("chunk_chars"),
        max(col("chunk_token_count")).as("max_chunk_tokens"))
    val joined = secs
      .select(col("document_id"), col("chapter_number"), col("section_number"),
        length(col("section_content")).as("section_chars"),
        col("section_token_count"))
      .join(reassembled,
        Seq("document_id", "chapter_number", "section_number"), "left")
    // Violation counters only: the section/chunk inventories already ride
    // in q_pipe_sections / q_pipe_chunks, and an enricher-free projection
    // lets the DuckDB oracle recompute the document list and hard-assert
    // every counter at zero — a value-checked invariant gate, not a
    // rows-only smoke check.
    joined
      .groupBy(col("document_id"))
      .agg(
        count(when(col("n_chunks").isNull && col("section_chars") > 0, 1))
          .as("sections_without_chunks"),
        count(when(col("chunk_chars") =!= col("section_chars"), 1))
          .as("reassembly_violations"),
        count(when(col("max_chunk_number") =!= col("n_chunks") ||
          col("min_chunk_number") =!= 1, 1)).as("numbering_violations"),
        // hard_max is advisory in the reference (warned, not enforced);
        // 2x is the sanity bound for pathological inputs.
        count(when(col("max_chunk_tokens") > 1600, 1)).as("oversize_violations"))
      .orderBy(col("document_id"))
  }

  /** T9/T10: per-page natural-boundary sectioning with the min-2 force
    * split (catalog stage-3 content entries). Oracle-checked on the path
    * the corpus exercises (char split + backtrack — the text has no
    * sentence breaks or paragraphs, verified at every fixture scale);
    * the sentence/paragraph paths are pinned by NaturalSectionsSpec. */
  def catalogPageSections(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        graft.text.NaturalSections.splitPage(text).map { case (sid, s) =>
          (id, sid, s.length, s)
        }
      }
      .toDF("doc_id", "section_id", "n_chars", "section_content")
      .select(col("doc_id"), col("section_id"), col("n_chars"),
        md5(col("section_content")).as("fp"))
      .orderBy(col("doc_id"), col("section_id"))
  }

  /** The fixture corpus itself: one row per synthetic page with full
    * metadata, content length and content fingerprint. FixtureCorpus.pages
    * is oracle-checked end to end — the registered DuckDB mirror
    * (FixtureOracleSql.fixturePages) REBUILDS every page (heading, the
    * 8-word sentence cycle with capitalized sentence starts, the
    * fat-page/page-count arithmetic, even-page list blocks) from
    * `documents` and matches md5 per page. It also anchors the section
    * mirrors: q_pipe_sections / q_pipe_sections_corrected reuse the same
    * rebuild CTEs. */
  def fixturePages(spark: SparkSession, dir: String): DataFrame =
    pages(spark, dir).toDF()
      .select(col("document_id"), col("chapter_number"), col("chapter_name"),
        col("filename"), col("page_number"), col("page_reference"),
        col("source_page_number"),
        length(col("content")).as("n_chars"),
        md5(col("content")).as("fp"))
      .orderBy(col("chapter_number"), col("page_number"))

  /** T1/T2 token estimators as Catalyst expressions — oracle-checked. */
  def tokenEstimators(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      Tokens.estimateACol(col("text")).as("est_a"),
      Tokens.estimateBCol(col("text")).as("est_b"))
      .orderBy(col("doc_id"))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fixture_pages" -> fixturePages,
    "q_pipe_sections" -> sections,
    "q_pipe_sections_corrected" -> sectionsCorrected,
    "q_pipe_chunks" -> chunks,
    "q_pipe_chunks_corrected" -> chunksCorrected,
    "q_pipe_chunk_audit" -> chunkAudit,
    "q_catalog_page_sections" -> catalogPageSections,
    "q_text_token_estimators" -> tokenEstimators)

  override def oracle: Map[String, String] = Map(
    "q_fixture_pages" -> FixtureOracleSql.fixturePages,
    "q_pipe_sections" -> FixtureOracleSql.pipeSections,
    "q_pipe_sections_corrected" -> FixtureOracleSql.pipeSectionsCorrected,
    "q_pipe_chunks" -> FixtureOracleSql.pipeChunks,
    "q_pipe_chunks_corrected" -> FixtureOracleSql.pipeChunksCorrected,
    "q_catalog_page_sections" -> FixtureOracleSql.catalogPageSections,
    // The FixtureCorpus document list is recomputed (doc_id % 3 → DOC_n);
    // every violation counter is hard-asserted at zero.
    "q_pipe_chunk_audit" ->
      """SELECT DISTINCT 'DOC_' || CAST(doc_id % 3 AS VARCHAR) AS document_id,
        |  0 AS sections_without_chunks, 0 AS reassembly_violations,
        |  0 AS numbering_violations, 0 AS oversize_violations
        |FROM documents ORDER BY document_id""".stripMargin,
    "q_text_token_estimators" ->
      """SELECT doc_id,
        |  CASE WHEN text IS NULL OR length(text) = 0 THEN 0
        |    ELSE GREATEST(length(text) // 10,
        |      LEAST(TRUNC(CAST(length(text) AS DOUBLE) / 3.5)::INTEGER,
        |            length(text) // 2)) END AS est_a,
        |  CASE WHEN text IS NULL OR length(text) = 0 THEN 0
        |    ELSE TRUNC(
        |      list_sum(list_transform(regexp_extract_all(text, '\b\w+\b|[^\w\s]'),
        |        w -> CASE WHEN length(w) <= 3 THEN 1.0
        |                  WHEN length(w) <= 7 THEN 1.3
        |                  ELSE length(w) / 4.5 END)) * 0.7
        |      + length(text) / 4.0 * 0.3)::INTEGER END AS est_b
        |FROM documents ORDER BY doc_id""".stripMargin)
}
