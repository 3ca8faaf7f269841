package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Cdc, MasterUpsert}

/** CDC refresh + master upsert, driven by synthetic listing/catalog tables
  * derived deterministically from `orders` (FIXTURES.md §A): keys ≡1 (mod 10)
  * exist only on the NAS (→ new), ≡3 only in the catalog (→ deleted),
  * ≡2 have an mtime bumped by 90 minutes (→ updated), ≡4 bumped by 30
  * seconds — under the minute-floor rule that's *unchanged*, the reference's
  * filesystem-precision guard (stage1_extract_csv.py:652-655).
  *
  * The same derivation is written in the oracle SQL so DuckDB builds
  * identical inputs.
  */
object CdcQueries extends QueryModule {

  /** Synthetic NAS listing (S11-shaped) from orders. */
  def nasListing(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 10 =!= 3)
      .select(
        concat(lit("doc_"), col("o_orderkey"), lit(".pdf")).as("file_name"),
        concat(lit("/corpus/"), col("o_orderpriority"), lit("/doc_"),
          col("o_orderkey"), lit(".pdf")).as("file_path"),
        floor(col("o_totalprice") * 100).cast("long").as("file_size"),
        col("o_orderdate").as("date_created"),
        when(col("o_orderkey") % 10 === 2,
          expr("timestampadd(MINUTE, 90, o_orderdate)"))
          .when(col("o_orderkey") % 10 === 4,
            expr("timestampadd(SECOND, 30, o_orderdate)"))
          .otherwise(col("o_orderdate")).as("date_last_modified"))

  /** Synthetic master catalog (S6-shaped) from orders. */
  def masterCatalog(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 10 =!= 1)
      .select(
        col("o_orderkey").as("id"),
        concat(lit("doc_"), col("o_orderkey"), lit(".pdf")).as("file_name"),
        concat(lit("/corpus/"), col("o_orderpriority"), lit("/doc_"),
          col("o_orderkey"), lit(".pdf")).as("file_path"),
        col("o_orderpriority").as("document_source"),
        col("o_orderstatus").as("document_type"),
        concat(lit("doc "), col("o_orderkey")).as("document_name"),
        col("o_orderdate").as("date_last_modified"))

  private def classified(spark: SparkSession, dir: String): DataFrame =
    Cdc.classify(nasListing(spark, dir), masterCatalog(spark, dir))

  /** J2+J3 first projection: the to-process list. */
  def processList(spark: SparkSession, dir: String): DataFrame =
    Cdc.toProcess(classified(spark, dir))
      .select(col("file_name"), col("file_path"), col("file_size"),
        date_format(col("date_created"), "yyyy-MM-dd HH:mm:ss").as("created"),
        date_format(col("date_last_modified"), "yyyy-MM-dd HH:mm:ss").as("modified"),
        col("reason"))
      .orderBy(col("file_name"))

  /** J3 second projection + J4: the to-delete list. */
  def deleteList(spark: SparkSession, dir: String): DataFrame =
    Cdc.toDelete(classified(spark, dir))
      .select(col("id"), col("file_name"), col("file_path"),
        col("document_source"), col("document_type"), col("document_name"),
        col("reason"))
      .orderBy(col("file_name"))

  /** J5: classification histogram. */
  def cdcCounts(spark: SparkSession, dir: String): DataFrame =
    classified(spark, dir)
      .groupBy(col("reason")).agg(count(lit(1)).as("n_files"))
      .orderBy(col("reason"))

  /** J6+G11+J7: full master upsert. Every 20th delete id is nulled to force
    * the composite-key delete pass (stage4_update_csv.py:426-483). */
  def upsertMaster(spark: SparkSession, dir: String): DataFrame = {
    // Staged LAZY (r14): the CDC classify feeds the delete list AND the
    // fresh list, and the delete side is consumed TWICE more (the
    // union's remaining branch and the maxId aggregate each re-run both
    // anti-joins) — unstaged, the full-outer classify executed 4x and
    // orders was scanned 12x per run (plans/r14/q_upsert_master_before).
    // An earlier round measured EAGER caching slower at this scale; the
    // lazy localCheckpoint has no standalone barrier and the first
    // consumer's job materializes it once for all four.
    val cls = graft.ops.Checkpoints.stage(
      classified(spark, dir), eager = false)
    val master = masterCatalog(spark, dir)
    val deletes = Cdc.toDelete(cls)
      .withColumn("id", when(col("id") % 20 === 3, lit(null)).otherwise(col("id")))
    val fresh = Cdc.toProcess(cls).select(
      col("file_name"), col("file_path"),
      split_part(col("file_path"), lit("/"), lit(3)).as("document_source"),
      lit("pdf").as("document_type"),
      regexp_replace(col("file_name"), lit("\\.pdf$"), lit("")).as("document_name"))
    // orderedSmall (r15): the bare orderBy's range-bounds sampling
    // re-executed the whole union — both anti-join legs AND the
    // MintRank id mint — a second time per run; the upsert result is
    // master-table-scale (tens of k rows), the documented small-result
    // staging case.
    orderedSmall(
      MasterUpsert.upsert(
        master.select("id", "file_name", "file_path", "document_source",
          "document_type", "document_name"),
        deletes, fresh, orderCols = Seq("file_name")),
      col("id"))
  }

  /** Content-hash snapshot diff (ops/SnapshotDiff) between two
    * deterministic versions of the orders master: keys ≡3 (mod 17) are
    * absent from the OLD snapshot (→ added), keys ≡5 (mod 11) are
    * absent from the NEW (→ removed), and keys ≡1 (mod 13) carry a
    * stale priority in the old snapshot (→ changed). The mirror
    * recomputes both row hashes byte-identically (chr(1) separator,
    * chr(0) null sentinel), so the hash compare verifies the entire
    * diff pipeline — stringification, hashing, full-outer classify. */
  def refreshDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir).select(
      col("o_orderkey").as("id"),
      col("o_custkey"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"),
      col("o_orderstatus").as("status"),
      col("o_orderpriority").as("priority"),
      date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("mdate"))
    val oldSnap = base.filter(col("id") % 17 =!= 3)
      .withColumn("priority",
        when(col("id") % 13 === 1, lit("0-STALE")).otherwise(col("priority")))
    val newSnap = base.filter(col("id") % 11 =!= 5)
    graft.ops.SnapshotDiff.diff(oldSnap, newSnap, "id")
      .orderBy(col("id"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cdc_process_list" -> processList,
    "q_cdc_delete_list" -> deleteList,
    "q_cdc_counts" -> cdcCounts,
    "q_refresh_diff" -> refreshDiff,
    "q_upsert_master" -> upsertMaster)

  /** Shared CTE text building the same synthetic tables in DuckDB. */
  private val baseCtes: String =
    """WITH nas AS (
      |  SELECT 'doc_' || o_orderkey || '.pdf' AS file_name,
      |         '/corpus/' || o_orderpriority || '/doc_' || o_orderkey || '.pdf' AS file_path,
      |         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS file_size,
      |         o_orderdate AS date_created,
      |         CASE WHEN o_orderkey % 10 = 2 THEN o_orderdate + INTERVAL 90 MINUTE
      |              WHEN o_orderkey % 10 = 4 THEN o_orderdate + INTERVAL 30 SECOND
      |              ELSE o_orderdate END AS date_last_modified
      |  FROM orders WHERE o_orderkey % 10 <> 3
      |), cat AS (
      |  SELECT o_orderkey AS id,
      |         'doc_' || o_orderkey || '.pdf' AS file_name,
      |         '/corpus/' || o_orderpriority || '/doc_' || o_orderkey || '.pdf' AS file_path,
      |         o_orderpriority AS document_source,
      |         o_orderstatus AS document_type,
      |         'doc ' || o_orderkey AS document_name,
      |         o_orderdate AS date_last_modified
      |  FROM orders WHERE o_orderkey % 10 <> 1
      |), classified AS (
      |  SELECT COALESCE(n.file_name, c.file_name) AS file_name,
      |         n.file_path, n.file_size, n.date_created, n.date_last_modified,
      |         c.id AS cat_id, c.file_path AS cat_file_path,
      |         c.document_source AS cat_document_source,
      |         c.document_type AS cat_document_type,
      |         c.document_name AS cat_document_name,
      |         c.date_last_modified AS cat_date_last_modified,
      |         CASE WHEN c.id IS NULL THEN 'new'
      |              WHEN n.date_last_modified IS NULL THEN 'deleted'
      |              WHEN date_trunc('minute', n.date_last_modified) >
      |                   date_trunc('minute', c.date_last_modified) THEN 'updated'
      |              ELSE 'unchanged' END AS reason
      |  FROM nas n FULL OUTER JOIN cat c ON n.file_name = c.file_name
      |)""".stripMargin

  override def oracle: Map[String, String] = Map(
    "q_refresh_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey AS id, o_custkey,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderstatus AS status, o_orderpriority AS priority,
        |    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS mdate
        |  FROM orders),
        |oldh AS (
        |  SELECT id, md5(concat_ws(chr(1),
        |    COALESCE(CAST(o_custkey AS VARCHAR), chr(0)),
        |    COALESCE(CAST(cents AS VARCHAR), chr(0)),
        |    COALESCE(status, chr(0)),
        |    COALESCE(CASE WHEN id % 13 = 1 THEN '0-STALE' ELSE priority END,
        |      chr(0)),
        |    COALESCE(mdate, chr(0)))) AS old_hash
        |  FROM base WHERE id % 17 <> 3),
        |newh AS (
        |  SELECT id, md5(concat_ws(chr(1),
        |    COALESCE(CAST(o_custkey AS VARCHAR), chr(0)),
        |    COALESCE(CAST(cents AS VARCHAR), chr(0)),
        |    COALESCE(status, chr(0)),
        |    COALESCE(priority, chr(0)),
        |    COALESCE(mdate, chr(0)))) AS new_hash
        |  FROM base WHERE id % 11 <> 5),
        |j AS (
        |  -- null-safe, mirroring SnapshotDiff's <=> key join
        |  SELECT COALESCE(o.id, n.id) AS id, o.old_hash, n.new_hash
        |  FROM oldh o FULL OUTER JOIN newh n
        |    ON o.id IS NOT DISTINCT FROM n.id)
        |SELECT id,
        |  CASE WHEN old_hash IS NULL THEN 'added'
        |       WHEN new_hash IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change_type,
        |  old_hash, new_hash
        |FROM j
        |WHERE old_hash IS NULL OR new_hash IS NULL OR old_hash <> new_hash
        |ORDER BY id""".stripMargin,
    "q_cdc_process_list" -> (baseCtes +
      """
        |SELECT file_name, file_path, file_size,
        |       strftime(date_created, '%Y-%m-%d %H:%M:%S') AS created,
        |       strftime(date_last_modified, '%Y-%m-%d %H:%M:%S') AS modified,
        |       reason
        |FROM classified WHERE reason IN ('new','updated')
        |ORDER BY file_name""".stripMargin),
    "q_cdc_delete_list" -> (baseCtes +
      """
        |SELECT cat_id AS id, file_name, cat_file_path AS file_path,
        |       cat_document_source AS document_source,
        |       cat_document_type AS document_type,
        |       cat_document_name AS document_name, reason
        |FROM classified WHERE reason IN ('deleted','updated')
        |ORDER BY file_name""".stripMargin),
    "q_cdc_counts" -> (baseCtes +
      """
        |SELECT reason, COUNT(*) AS n_files FROM classified
        |GROUP BY reason ORDER BY reason""".stripMargin),
    "q_upsert_master" -> (baseCtes +
      """, dels AS (
        |  SELECT CASE WHEN cat_id % 20 = 3 THEN NULL ELSE cat_id END AS id,
        |         cat_document_source AS document_source,
        |         cat_document_type AS document_type,
        |         cat_document_name AS document_name
        |  FROM classified WHERE reason IN ('deleted','updated')
        |), remaining AS (
        |  SELECT id, file_name, file_path, document_source, document_type, document_name
        |  FROM cat m
        |  WHERE NOT EXISTS (SELECT 1 FROM dels d WHERE d.id = m.id)
        |    AND NOT EXISTS (SELECT 1 FROM dels d WHERE d.id IS NULL
        |          AND d.document_source = m.document_source
        |          AND d.document_type = m.document_type
        |          AND d.document_name = m.document_name)
        |), fresh AS (
        |  SELECT file_name, file_path,
        |         split_part(file_path, '/', 3) AS document_source,
        |         'pdf' AS document_type,
        |         regexp_replace(file_name, '\.pdf$', '') AS document_name
        |  FROM classified WHERE reason IN ('new','updated')
        |), maxid AS (SELECT COALESCE(MAX(id), 0) AS max_id FROM remaining)
        |SELECT id, file_name, file_path, document_source, document_type, document_name
        |FROM remaining
        |UNION ALL
        |SELECT max_id + ROW_NUMBER() OVER (ORDER BY file_name) AS id,
        |       file_name, file_path, document_source, document_type, document_name
        |FROM fresh CROSS JOIN maxid
        |ORDER BY id""".stripMargin))
}
