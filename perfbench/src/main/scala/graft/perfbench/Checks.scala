package graft.perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{AnnIndex, IndexVersioning}
import graft.sources.Artifacts

/** Correctness evidence gathered outside the timed region. The JVM only
  * counts and compares; `checks.py` judges the counts (conservation per
  * stage, the generator's delta mix) so that rule is unit-testable. */
object Checks {

  def bytesUnder(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }

  /** Committed index version the reader resolves, and its `_BASE` chain
    * depth (0 = a full build). */
  def indexHead(spark: SparkSession, annDir: String): (Long, Int) = {
    val v = IndexVersioning.committedVersions(spark, annDir).last
    var depth = 0
    var cur = IndexVersioning.baseVersionOf(spark, annDir, v)
    while (cur.isDefined) {
      depth += 1
      cur = IndexVersioning.baseVersionOf(spark, annDir, cur.get)
    }
    (v, depth)
  }

  def indexIds(spark: SparkSession, annDir: String): DataFrame =
    AnnIndex.loadIds(spark, IndexVersioning.resolveDir(spark, annDir))

  /** Row counts of incremental cycle `c`'s published stage outputs, in the
    * shape the conservation rules need. The cycle's inputs come from what
    * the previous cycle left: its catalog backup, its export stage and the
    * index version the cycle layered on. */
  def cycleCounts(spark: SparkSession, r: Refresh, c: Int, listing: DataFrame,
      content: DataFrame): Map[String, Long] = {
    val sd = r.stageDir(c)
    def read(p: String) = spark.read.parquet(s"$sd/$p")
    val process = spark.read.schema(Refresh.processSchema)
      .option("multiLine", true).json(s"$sd/stage01_process.json")
    val deletes = spark.read.schema(Refresh.deleteSchema)
      .option("multiLine", true).json(s"$sd/stage01_delete.json")
    // one job per group of counts: each count job costs a scheduler round
    val lists = process.select(lit("process").as("list"), col("reason"), lit(1).as("has_id"))
      .unionByName(deletes.select(lit("delete").as("list"), col("reason"),
        when(col("id").isNotNull, 1).otherwise(0).as("has_id")))
      .groupBy(col("list"), col("reason")).agg(count(lit(1)), sum(col("has_id")))
      .collect().map(x => (x.getString(0), x.getString(1)) -> (x.getLong(2), x.getLong(3)))
      .toMap
    def n(list: String, reason: String) = lists.get((list, reason)).map(_._1).getOrElse(0L)
    val rows = Seq("listing" -> listing, "pages" -> read("stage01_pages"),
        "export_out" -> read("stage05_export"))
      .map { case (k, df) => df.select(lit(k).as("t")) }.reduce(_ unionByName _)
      .groupBy(col("t")).count().collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      .withDefaultValue(0L)
    val cat = r.readCatalog().agg(count(lit(1)), countDistinct(col("id")),
      countDistinct(col("file_path"))).collect()(0)
    val docs = process.join(content, Seq("file_name"))
      .agg(count(lit(1)), count(when(trim(col("text")) === "", 1))).collect()(0)
    val chunks = read("stage03_chunks")
    val ch = chunks.agg(count(lit(1)), countDistinct(col("chapter_number")),
      max(col("section_number")), max(col("chunk_number"))).collect()(0)
    val emb = read("stage04_embedded")
      .agg(count(lit(1)), count(when(col("embedding").isNull, 1))).collect()(0)
    val prevExport = spark.read.parquet(r.stageDir(c - 1) + "/stage05_export")
    val exportRemoved = prevExport
      .join(chunks.select(col("chapter_number"))
        .unionByName(deletes.select(Refresh.docKeyOf(col("file_name")).as("chapter_number")))
        .distinct(), Seq("chapter_number")).count()
    val (head, depth) = indexHead(spark, r.annDir)
    val delta = r.vectors(sd).select(col("vec_id"))
    val before = AnnIndex.loadIds(spark, s"${r.annDir}/v_${head - 1}").select(col("vec_id"))
    val dl = delta.join(before.withColumn("seen", lit(1)).distinct(), Seq("vec_id"), "left")
      .agg(count(lit(1)), count(col("seen"))).collect()(0)
    val ids = indexIds(spark, r.annDir)
      .agg(count(lit(1)), countDistinct(col("vec_id"))).collect()(0)
    val vdir = s"${r.annDir}/v_$head"
    val touched = {
      val p = new Path(s"$vdir/codes")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
        .count(_.getPath.getName.startsWith("cell="))
    }
    val published = Seq(s"${r.catalogDir}/catalog_master.csv",
      f"${r.catalogDir}/backups/catalog_master_c$c%04d.csv",
      f"${r.catalogDir}/deployment/catalog_deploy_c$c%04d.csv",
      s"${r.exportDir}/iris_semantic_search.csv",
      f"${r.exportDir}/backups/iris_semantic_search_c$c%04d.csv",
      f"${r.exportDir}/deployment/iris_deploy_c$c%04d.csv")
      .map(p => bytesUnder(spark, p)).sum
    Map(
      "cycle" -> c.toLong,
      "listing" -> rows("listing"),
      "catalog_in" -> spark.read.schema(Refresh.catalogSchema).option("header", true)
        .csv(f"${r.catalogDir}/backups/catalog_master_c${c - 1}%04d.csv").count(),
      "process" -> (n("process", "new") + n("process", "updated")),
      "reason_new" -> n("process", "new"),
      "reason_updated" -> n("process", "updated"),
      "delete" -> (n("delete", "deleted") + n("delete", "updated")),
      "reason_deleted" -> n("delete", "deleted"),
      "delete_updated" -> n("delete", "updated"),
      "delete_with_id" -> lists.collect { case (("delete", _), (_, ids)) => ids }.sum,
      "catalog_out" -> cat.getLong(0),
      "catalog_ids_distinct" -> cat.getLong(1),
      "catalog_paths_distinct" -> cat.getLong(2),
      "docs_in" -> docs.getLong(0),
      "docs_blank" -> docs.getLong(1),
      "pages" -> rows("pages"),
      "chunks" -> ch.getLong(0),
      "docs_out" -> ch.getLong(1),
      "max_section" -> Option(ch.get(2)).map(_.toString.toLong).getOrElse(0L),
      "max_chunk" -> Option(ch.get(3)).map(_.toString.toLong).getOrElse(0L),
      "embedded" -> emb.getLong(0),
      "embedded_null" -> emb.getLong(1),
      "export_in" -> prevExport.count(),
      "export_removed" -> exportRemoved,
      "export_out" -> rows("export_out"),
      "ann_in" -> before.distinct().count(),
      "ann_delta" -> dl.getLong(0),
      "ann_replaced" -> dl.getLong(1),
      "ann_out" -> ids.getLong(0),
      "ann_out_distinct" -> ids.getLong(1),
      "ann_touched_cells" -> touched.toLong,
      "ann_chain_depth" -> depth.toLong,
      "ann_write_bytes" -> bytesUnder(spark, vdir),
      "publish_bytes" -> published)
  }

  /** Live export rows of a published export, and the index ids stale
    * against them (vectors of deleted chunks: `AnnIndex.upsert` has no
    * delete, so they stay). */
  def liveVecIds(spark: SparkSession, r: Refresh, exportSchemaFrom: String): DataFrame =
    r.readExport(spark.read.parquet(exportSchemaFrom).schema)
      .filter(col("embedding").isNotNull && col("embedding") =!= "")
      .select(Refresh.vecId.as("vec_id"))

  /** Space cost: on-disk bytes of the published export master plus the
    * whole index directory, over the payload bytes of the live rows. */
  def storeRatio(spark: SparkSession, r: Refresh, exportSchemaFrom: String): (Long, Long) = {
    val rows = r.readExport(spark.read.parquet(exportSchemaFrom).schema)
    val live = rows.select(rows.columns.toIndexedSeq.map(c =>
      coalesce(octet_length(col(c).cast("string")), lit(0))).reduce(_ + _).as("b"))
      .agg(sum(col("b"))).collect()(0).getLong(0)
    (bytesUnder(spark, r.exportCsv) + bytesUnder(spark, r.annDir), live)
  }

  /** Incremental state vs a from-scratch rebuild of the same final inputs. */
  def compareToScratch(spark: SparkSession, inc: Refresh, scr: Refresh,
      incLast: Int): Seq[(String, Boolean, String)] = {
    val natural = Seq(col("file_name"), col("file_path"), col("document_source"),
      col("document_type"), col("document_name"),
      // a touch inside the same minute is `unchanged`, so the incremental
      // master keeps the older in-minute timestamp by design
      date_trunc("minute", col("date_last_modified")).as("mtime_minute"))
    val a = inc.readCatalog()
    val b = scr.readCatalog()
    val an = a.select(natural: _*)
    val bn = b.select(natural: _*)
    val (na, nb) = (a.count(), b.count())
    val diff = an.exceptAll(bn).count() + bn.exceptAll(an).count()
    val idsUnique = a.select(col("id")).distinct().count() == na
    val first = spark.read.schema(Refresh.catalogSchema).option("header", true)
      .csv(s"${inc.catalogDir}/backups/catalog_master_c0000.csv")
    val kept = a.join(first.select(col("file_path"), col("date_last_modified"),
        col("id").as("id0")), Seq("file_path", "date_last_modified"))
      .agg(count(lit(1)), count(when(col("id") =!= col("id0"), 1))).collect()(0)
    val schemaFrom = inc.stageDir(incLast) + "/stage05_export"
    val schema = spark.read.parquet(schemaFrom).schema
    val ha = Artifacts.contentHash(inc.readExport(schema))
    val hb = Artifacts.contentHash(scr.readExport(schema))
    val live = liveVecIds(spark, inc, schemaFrom)
    val idx = indexIds(spark, inc.annDir)
    val missing = live.join(idx, Seq("vec_id"), "left_anti").count()
    val dupIds = idx.groupBy(col("vec_id")).count().filter(col("count") > 1).count()
    Seq(
      ("master_matches_rebuild_by_file_path", na == nb && diff == 0,
        s"incremental=$na rebuild=$nb differing_rows=$diff"),
      ("master_ids_unique", idsUnique, s"rows=$na"),
      ("master_ids_stable_for_unchanged_rows",
        kept.getLong(0) > 0 && kept.getLong(1) == 0,
        s"unchanged_rows=${kept.getLong(0)} id_changed=${kept.getLong(1)}"),
      ("export_content_hash_matches_rebuild", ha == hb, s"incremental=$ha rebuild=$hb"),
      ("live_vectors_in_index", missing == 0 && dupIds == 0,
        s"missing=$missing duplicate_ids=$dupIds"))
  }

  /** Final-cycle inputs for the from-scratch rebuild: the last listing and,
    * per file, the newest text any cycle up to `last` delivered. */
  def finalInputs(spark: SparkSession, inputs: String, last: Int): (DataFrame, DataFrame) = {
    val listing = spark.read.parquet(f"$inputs/refresh/cycle_$last%04d/listing.parquet")
    val content = (0 to last).map(c =>
        spark.read.parquet(f"$inputs/refresh/cycle_$c%04d/content.parquet")
          .withColumn("_c", lit(c)))
      .reduce(_ unionByName _)
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("file_name")).orderBy(col("_c").desc)))
      .filter(col("_r") === 1).drop("_c", "_r")
    (listing, content)
  }
}
