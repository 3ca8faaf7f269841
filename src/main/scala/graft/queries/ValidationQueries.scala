package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{DbExport, Validation}

/** Validation/QA battery (SURVEY §2.8) on deterministic projections of the
  * driver tables, plus the stage-5 export surface. V2/V4 and the master
  * replace-merge have exact DuckDB mirrors; the 28-column export is
  * self-auditing (format regex + column count) with a rows-only check.
  */
object ValidationQueries extends QueryModule {

  /** Master-ish table with planted defects: null id every 97th row,
    * duplicated id every 101st. */
  private def defective(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      when(col("o_orderkey") % 97 === 0, lit(null))
        .otherwise(when(col("o_orderkey") % 101 === 0, lit(7L))
          .otherwise(col("o_orderkey"))).as("id"),
      col("o_orderpriority").as("document_source"))

  /** V2: integrity report over the defective master. */
  def csvReport(spark: SparkSession, dir: String): DataFrame =
    Validation.csvReport(defective(spark, dir))

  /** Section-shaped frame for V4 (same derivation as GroupWindowQueries). */
  private def sections(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    Tables.orders(spark, dir).select(
      col("o_custkey").as("chapter_id"),
      row_number().over(w).as("section_number"),
      when(col("o_orderkey") % 11 === 0, lit(null))
        .otherwise(col("o_orderkey") % 7 + 1).as("start_page"),
      when(col("o_orderkey") % 13 === 0, lit(null))
        .otherwise(col("o_orderkey") % 7 + 1 + col("o_orderkey") % 3).as("end_page"))
  }

  /** Chapter pages 1..10 per chapter for V4. */
  private def pages(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_custkey").as("chapter_id")).distinct()
      .select(col("chapter_id"), explode(sequence(lit(1), lit(10))).as("page_number"))

  /** V4: page-coverage audit. */
  def coverage(spark: SparkSession, dir: String): DataFrame =
    Validation.coverageReport(pages(spark, dir), sections(spark, dir))
      // n_-prefixed: `overlaps` is a reserved word in DuckDB's parser
      .select(col("chapter_id"), col("sections_missing_pages"),
        col("gaps").as("n_gaps"), col("overlaps").as("n_overlaps"),
        col("missing_pages"), col("extra_pages"))
      .orderBy(col("chapter_id"))

  /** S8: master replace-by-key merge on a lineitem projection — rows of
    * orderkeys ≡0 (mod 50) are replaced by fresh single-row summaries. */
  def masterMerge(spark: SparkSession, dir: String): DataFrame = {
    val master = Tables.lineitem(spark, dir).select(
      col("l_orderkey").as("document_id"), col("l_linenumber").as("row_no"),
      col("l_quantity").cast("double").as("value"))
    // staged (r15): the final global orderBy's range-bounds sampling
    // executes the whole union child a second time — the fresh
    // aggregate (its own lineitem scan + shuffle agg) and the
    // replace-key distinct behind the broadcast anti-join both ran
    // twice per run. Staging the SMALL fresh summary (one row per
    // replaced key) computes that leg once; the master leg's re-scan is
    // a plain pushdown-pruned parquet read, deliberately left
    // unstaged — staging a corpus-scale frame would trade a scan for
    // corpus-scale storage (the orderedSmall rule).
    val fresh = graft.ops.Checkpoints.stage(
      Tables.lineitem(spark, dir)
        .filter(col("l_orderkey") % 50 === 0)
        .groupBy(col("l_orderkey").as("document_id"))
        .agg(lit(0).as("row_no"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("value")), eager = false)
    DbExport.replaceByKey(master, fresh, "document_id")
      .orderBy(col("document_id"), col("row_no"), col("value"))
  }

  /** Stage-5 export audit: 28 columns in order, vector literal format,
    * auto columns empty. Violation counters must be zero (rows-only). */
  def exportAudit(spark: SparkSession, dir: String): DataFrame = {
    val chunkish = Tables.embeddings(spark, dir).select(
      concat(lit("DOC_"), col("vec_id") % 7).as("document_id"),
      concat(lit("f"), col("vec_id"), lit(".pdf")).as("filename"),
      (col("vec_id") % 40).cast("int").as("chapter_number"),
      (col("vec_id") % 9 + 1).cast("int").as("section_number"),
      (col("vec_id") % 4 + 1).cast("int").as("chunk_number"),
      concat(lit("content "), col("vec_id")).as("chunk_content"),
      when(col("vec_id") % 19 === 0, lit(null)).otherwise(col("embedding"))
        .as("embedding"))
    val db = DbExport.toDbRows(chunkish)
    val vecRe = "^\\[(-?\\d+(\\.\\d+)?(E-?\\d+)?)(,-?\\d+(\\.\\d+)?(E-?\\d+)?)*\\]$"
    db.agg(
      count(lit(1)).as("n_rows"),
      lit(db.columns.length).as("n_cols"),
      lit(db.columns.mkString(",") == DbExport.databaseColumns.mkString(","))
        .as("column_order_ok"),
      count(when(col("embedding") =!= "" && !col("embedding").rlike(vecRe), 1))
        .as("bad_vector_literals"),
      count(when(col("embedding") === "", 1)).as("null_embeddings"),
      count(when(col("id").isNotNull || col("created_at").isNotNull, 1))
        .as("auto_col_violations"))
  }

  /** Declarative expectations over `documents` — five checks, ONE scan
    * + one aggregate (the generic engine behind V1-V10's hand-written
    * audits). The 500-char range check fails by design on real fixture
    * rows, so the report carries live violation counts the mirror must
    * reproduce, not just a wall of zeros. */
  def expectations(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Expectations._
    val docs = Tables.documents(spark, dir)
      .withColumn("text_len", length(col("text")))
    graft.ops.Expectations.report(docs, Seq(
      NotNull("doc_id"),
      Unique("doc_id"),
      NotNull("text"),
      Matches("source", "^src[0-9]+$"),
      InRange("text_len", 1, 500)))
      .orderBy(col("check"))
  }

  /** Column profile over lineitem's mixed types (int/double/string/
    * timestamp): counts, exact + approx distinct with the engine-side
    * approx_ok audit (the HLL-report convention — each engine checks
    * ITS approximate sketch against the exact count, threshold 15%),
    * typed min/max. */
  def profileColumns(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profiler.profile(Tables.lineitem(spark, dir),
      Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
        "l_linestatus", "l_shipdate"))
      .orderBy(col("col_name"))

  /** Column-pair dependence audit: I(source; lang) in nats plus both
    * marginal entropies and NMI over documents — one joint aggregate,
    * marginals rolled up from it (Profiler.mutualInformation). */
  def profileMi(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profiler.mutualInformation(
      Tables.documents(spark, dir), "source", "lang")

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_validate_expectations" -> expectations,
    "q_validate_csv" -> csvReport,
    "q_validate_coverage" -> coverage,
    "q_master_merge" -> masterMerge,
    "q_profile_columns" -> profileColumns,
    "q_profile_mi" -> profileMi,
    "q_export_audit" -> exportAudit)

  private val sectionsCte =
    """WITH sections AS (
      |  SELECT o_custkey AS chapter_id,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS section_number,
      |    CASE WHEN o_orderkey % 11 = 0 THEN NULL
      |         ELSE o_orderkey % 7 + 1 END AS start_page,
      |    CASE WHEN o_orderkey % 13 = 0 THEN NULL
      |         ELSE o_orderkey % 7 + 1 + o_orderkey % 3 END AS end_page
      |  FROM orders
      |), pages AS (
      |  SELECT DISTINCT o_custkey AS chapter_id, unnest(generate_series(1, 10)) AS page_number
      |  FROM orders
      |)""".stripMargin

  /** Expectations mirror: the same five conditional counts over one
    * derived frame ("check"/"column" quoted — DuckDB reserves both). */
  private val expectationsSql: String =
    """WITH d AS (
      |  SELECT doc_id, text, source, length(text) AS text_len
      |  FROM documents),
      |n AS (SELECT COUNT(*) AS n_rows FROM d),
      |v AS (
      |  SELECT 'not_null(doc_id)' AS "check", 'doc_id' AS "column",
      |    CAST(COUNT(CASE WHEN doc_id IS NULL THEN 1 END) AS BIGINT)
      |      AS violations FROM d
      |  UNION ALL SELECT 'unique(doc_id)', 'doc_id',
      |    CAST(COUNT(doc_id) - COUNT(DISTINCT doc_id) AS BIGINT) FROM d
      |  UNION ALL SELECT 'not_null(text)', 'text',
      |    CAST(COUNT(CASE WHEN text IS NULL THEN 1 END) AS BIGINT) FROM d
      |  UNION ALL SELECT 'matches(source)', 'source',
      |    CAST(COUNT(CASE WHEN source IS NOT NULL
      |      AND NOT regexp_matches(source, '^src[0-9]+$') THEN 1 END)
      |      AS BIGINT) FROM d
      |  UNION ALL SELECT 'in_range(text_len)', 'text_len',
      |    CAST(COUNT(CASE WHEN text_len < 1 OR text_len > 500 THEN 1 END)
      |      AS BIGINT) FROM d)
      |SELECT v."check", v."column", v.violations,
      |  CAST(n.n_rows AS BIGINT) AS n_rows, v.violations = 0 AS pass
      |FROM v, n ORDER BY v."check"""".stripMargin

  /** One profile row per column, each engine auditing its own approx
    * sketch (threshold mirrors Profiler.ApproxTol). */
  private def profileColSql(c: String, kind: String): String = {
    val (minNum, maxNum, minStr, maxStr) = kind match {
      case "num" => (s"ROUND(CAST(MIN($c) AS DOUBLE), 6)",
        s"ROUND(CAST(MAX($c) AS DOUBLE), 6)",
        "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
      case "ts" => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
        s"strftime(MIN($c), '%Y-%m-%d %H:%M:%S')",
        s"strftime(MAX($c), '%Y-%m-%d %H:%M:%S')")
      case _ => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
        s"MIN($c)", s"MAX($c)")
    }
    s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
       |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
       |  COUNT(DISTINCT $c) AS n_distinct,
       |  CAST(abs(approx_count_distinct($c) - COUNT(DISTINCT $c)) AS DOUBLE)
       |    / COUNT(DISTINCT $c) <= 0.15 AS approx_ok,
       |  $minNum AS min_num, $maxNum AS max_num,
       |  $minStr AS min_str, $maxStr AS max_str
       |FROM lineitem""".stripMargin
  }

  private val profileSql: String = Seq(
    "l_orderkey" -> "num", "l_linenumber" -> "num", "l_quantity" -> "num",
    "l_returnflag" -> "str", "l_linestatus" -> "str", "l_shipdate" -> "ts")
    .map { case (c, k) => profileColSql(c, k) }
    .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  /** Mirrors mutualInformation site for site: ln rounded to 9 on one
    * double division of exact ints, per-cell products rounded to 9 then
    * DECIMAL(28,12)-summed, finals rounded to 6; NMI from the raw sums. */
  private val miSql: String =
    """WITH joint AS (
      |  SELECT source AS x, lang AS y, COUNT(*) AS cxy FROM documents
      |  WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
      |mx AS (SELECT x, CAST(SUM(cxy) AS BIGINT) AS cx FROM joint GROUP BY x),
      |my AS (SELECT y, CAST(SUM(cxy) AS BIGINT) AS cy FROM joint GROUP BY y),
      |tot AS (SELECT CAST(SUM(cxy) AS BIGINT) AS n FROM joint),
      |terms AS (
      |  SELECT CAST(ROUND(cxy / CAST(n AS DOUBLE)
      |    * ROUND(ln(CAST(cxy * n AS DOUBLE) / (cx * cy)), 9), 9)
      |    AS DECIMAL(28,12)) AS term
      |  FROM joint JOIN mx USING (x) JOIN my USING (y), tot),
      |mia AS (
      |  SELECT CAST(SUM(term) AS DOUBLE) AS mi, COUNT(*) AS n_cells
      |  FROM terms),
      |hxa AS (
      |  SELECT -CAST(SUM(CAST(ROUND(cx / CAST(n AS DOUBLE)
      |    * ROUND(ln(cx / CAST(n AS DOUBLE)), 9), 9)
      |    AS DECIMAL(28,12))) AS DOUBLE) AS h
      |  FROM mx, tot),
      |hya AS (
      |  SELECT -CAST(SUM(CAST(ROUND(cy / CAST(n AS DOUBLE)
      |    * ROUND(ln(cy / CAST(n AS DOUBLE)), 9), 9)
      |    AS DECIMAL(28,12))) AS DOUBLE) AS h
      |  FROM my, tot)
      |SELECT tot.n AS n_rows, mia.n_cells, ROUND(mia.mi, 6) AS mi_nats,
      |  ROUND(hxa.h, 6) AS h_x, ROUND(hya.h, 6) AS h_y,
      |  CASE WHEN LEAST(hxa.h, hya.h) > 0
      |    THEN ROUND(mia.mi / LEAST(hxa.h, hya.h), 6) END AS nmi
      |FROM mia, hxa, hya, tot""".stripMargin

  override def oracle: Map[String, String] = Map(
    "q_validate_expectations" -> expectationsSql,
    "q_profile_columns" -> profileSql,
    "q_profile_mi" -> miSql,
    "q_validate_csv" ->
      """WITH d AS (
        |  SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
        |              WHEN o_orderkey % 101 = 0 THEN 7
        |              ELSE o_orderkey END AS id,
        |         o_orderpriority AS document_source
        |  FROM orders),
        |dups AS (
        |  -- CAST: DuckDB SUM(BIGINT)=HUGEINT serializes unlike Spark int64
        |  SELECT CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) AS duplicate_ids
        |  FROM (SELECT id, COUNT(*) AS cnt FROM d GROUP BY id))
        |SELECT COUNT(*) AS n_rows,
        |  COUNT(CASE WHEN id IS NULL THEN 1 END) AS null_ids,
        |  COUNT(DISTINCT document_source) AS n_sources,
        |  (SELECT duplicate_ids FROM dups) AS duplicate_ids,
        |  COUNT(DISTINCT document_source) > 1 AS multi_source
        |FROM d""".stripMargin,
    "q_validate_coverage" -> (sectionsCte +
      """, section_pages AS (
        |  SELECT DISTINCT chapter_id,
        |    unnest(generate_series(start_page, end_page)) AS page_number
        |  FROM sections
        |  WHERE start_page IS NOT NULL AND end_page IS NOT NULL
        |    AND start_page <= end_page
        |), missing AS (
        |  SELECT chapter_id, COUNT(*) AS missing_pages FROM pages p
        |  WHERE NOT EXISTS (SELECT 1 FROM section_pages s
        |    WHERE s.chapter_id = p.chapter_id AND s.page_number = p.page_number)
        |  GROUP BY chapter_id
        |), extra AS (
        |  SELECT chapter_id, COUNT(*) AS extra_pages FROM section_pages s
        |  WHERE NOT EXISTS (SELECT 1 FROM pages p
        |    WHERE p.chapter_id = s.chapter_id AND p.page_number = s.page_number)
        |  GROUP BY chapter_id
        |), continuity AS (
        |  SELECT chapter_id,
        |    COUNT(CASE WHEN start_page IS NULL OR end_page IS NULL THEN 1 END)
        |      AS sections_missing_pages,
        |    COUNT(CASE WHEN next_start IS NOT NULL AND end_page IS NOT NULL
        |      AND next_start > end_page + 1 THEN 1 END) AS n_gaps,
        |    COUNT(CASE WHEN next_start IS NOT NULL AND end_page IS NOT NULL
        |      AND next_start < end_page THEN 1 END) AS n_overlaps
        |  FROM (SELECT *, LEAD(start_page) OVER (PARTITION BY chapter_id
        |      ORDER BY section_number) AS next_start FROM sections)
        |  GROUP BY chapter_id)
        |SELECT c.chapter_id, sections_missing_pages, n_gaps, n_overlaps,
        |  COALESCE(missing_pages, 0) AS missing_pages,
        |  COALESCE(extra_pages, 0) AS extra_pages
        |FROM continuity c
        |LEFT JOIN missing m ON m.chapter_id = c.chapter_id
        |LEFT JOIN extra e ON e.chapter_id = c.chapter_id
        |ORDER BY c.chapter_id""".stripMargin),
    // n_rows and null_embeddings recomputed from the embeddings table;
    // the 28-column projection contract and the vector-literal /
    // auto-column invariants are pinned (they are structural properties
    // of DbExport.toDbRows, spec-tested, and any regression flips the
    // Spark side of the compare).
    "q_export_audit" ->
      """SELECT COUNT(*) AS n_rows, 28 AS n_cols, TRUE AS column_order_ok,
        |  0 AS bad_vector_literals,
        |  COUNT(CASE WHEN vec_id % 19 = 0 THEN 1 END) AS null_embeddings,
        |  0 AS auto_col_violations
        |FROM embeddings""".stripMargin,
    "q_master_merge" ->
      """WITH master AS (
        |  SELECT l_orderkey AS document_id, l_linenumber AS row_no,
        |         CAST(l_quantity AS DOUBLE) AS value
        |  FROM lineitem),
        |fresh AS (
        |  SELECT l_orderkey AS document_id, 0 AS row_no,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS value
        |  FROM lineitem WHERE l_orderkey % 50 = 0 GROUP BY l_orderkey)
        |SELECT document_id, row_no, value FROM master
        |WHERE document_id NOT IN (SELECT document_id FROM fresh)
        |UNION ALL
        |SELECT document_id, row_no, value FROM fresh
        |ORDER BY document_id, row_no, value""".stripMargin)
}
