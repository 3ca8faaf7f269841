package graft.perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.enrich.Enricher
import graft.model.{ChunkRecord, PageRecord, SectionRecord}
import graft.ops.{AnnIndex, Cdc, DbExport, DocPipeline, EnrichStages, IndexVersioning, MasterUpsert}
import graft.sources.Artifacts
import graft.text.FixtureCorpus

/** One refresh cycle over a state directory, composed from the engine's
  * public entry points in the paper's stage order:
  *
  *   cdc       listing vs published catalog master → process/delete lists
  *   upsert    catalog master upsert → published master CSV
  *   docpipe   pages → sections → 2b correction;  chunks → 3b correction
  *   enrich    chapter + section summaries;  chunk embeddings
  *   export    28-column rows merged into the previous published export
  *   publish   every `Artifacts` master publish (catalog and export)
  *   ann.write `AnnIndex.save` on an empty index, else `AnnIndex.upsert`
  *
  * Each stage writes its output under `stages/c<n>/` before the next stage
  * reads it back, as the reference's stage files do, so the span around a
  * stage times that stage's work and not a lazily fused neighbour.
  *
  * A document's stable key is the number in its file name; the page
  * generator keys its chapter on it, so export rows and vectors keep their
  * identity across cycles (`chapter_number` is the document key).
  */
final class Refresh(spark: SparkSession, val state: String, enricher: Enricher) {
  import spark.implicits._
  import Refresh._

  val catalogDir = s"$state/catalog"
  val catalogCsv = s"$catalogDir/catalog_master.csv"
  val exportDir = s"$state/export"
  val exportCsv = s"$exportDir/iris_semantic_search.csv"
  val annDir = s"$state/ann"
  def stageDir(c: Int): String = f"$state/stages/c$c%04d"

  /** Called after each top-level stage of a cycle (the timed loop samples
    * the heap there). */
  var afterStage: () => Unit = () => ()

  private def fs = new Path(state).getFileSystem(spark.sparkContext.hadoopConfiguration)
  def exists(p: String): Boolean = fs.exists(new Path(p))

  def readCatalog(): DataFrame =
    if (exists(catalogCsv))
      spark.read.schema(catalogSchema).option("header", true).csv(catalogCsv)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      catalogSchema)

  /** The published export CSV read back with the export row schema. */
  def readExport(schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", true)
      .option("multiLine", true).csv(exportCsv)

  private def readJsonList(path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("multiLine", true).json(path)

  private def overwrite(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Run cycle `c`: `listing` is the full NAS listing, `content` holds
    * (file_name, doc_key, text) for at least every file to (re)process. */
  def run(c: Int, listing: DataFrame, content: DataFrame): Unit =
    Trace.span("cycle", c) {
      val sd = stageDir(c)
      val ts = f"c$c%04d"
      stage("cdc", c) {
        val classified = Cdc.classify(listing, readCatalog())
        Artifacts.writeJsonArray(Cdc.toProcess(classified), Seq("file_name"),
          s"$sd/stage01_process.json")
        Artifacts.writeJsonArray(Cdc.toDelete(classified), Seq("file_name"),
          s"$sd/stage01_delete.json")
      }
      val process = readJsonList(s"$sd/stage01_process.json", processSchema)
      val deletes = readJsonList(s"$sd/stage01_delete.json", deleteSchema)
      stage("upsert", c) {
        val fresh = process.select(col("file_name"), col("file_path"),
          regexp_extract(col("file_path"), "^/nas/([^/]+)/", 1).as("document_source"),
          lit("manual").as("document_type"),
          regexp_extract(col("file_name"), "^(.*)\\.pdf$", 1).as("document_name"),
          col("date_last_modified"))
        overwrite(MasterUpsert.upsert(readCatalog(), deletes, fresh, Seq("file_name"))
          .select(catalogSchema.fieldNames.toIndexedSeq.map(col): _*), s"$sd/stage01_master")
        Trace.span("publish", c) {
          Artifacts.publishMasterCsv(spark.read.parquet(s"$sd/stage01_master"),
            Seq("id"), catalogDir, "catalog_master", "catalog_deploy", ts)
        }
      }
      stage("docpipe", c) {
        val docs = process.join(content, Seq("file_name"))
          .select(col("doc_key"), col("text")).as[(Long, String)]
        overwrite(docs.flatMap { case (k, t) => FixtureCorpus.pages(k, t) }.toDF(),
          s"$sd/stage01_pages")
        overwrite(DocPipeline.correctSectionPages(DocPipeline.pagesToSections(
          pages(sd))).toDF(), s"$sd/stage02_sections")
      }
      stage("enrich", c) {
        val summaries = EnrichStages.enrichPages(pages(sd), enricher)
          .groupBy(col("document_id"), col("chapter_number"))
          .agg(first(col("chapter_summary")).as("chapter_summary_agg"))
        val sections = spark.read.parquet(s"$sd/stage02_sections")
          .as(Encoders.product[SectionRecord])
        overwrite(EnrichStages.summarizeSections(sections, enricher)
          .drop("chapter_summary")
          .join(summaries, Seq("document_id", "chapter_number"), "left")
          .withColumnRenamed("chapter_summary_agg", "chapter_summary"),
          s"$sd/stage02b_sections")
      }
      stage("docpipe", c) {
        val sections = spark.read.parquet(s"$sd/stage02b_sections")
          .as(Encoders.product[SectionRecord])
        overwrite(DocPipeline.correctChunkPages(
          DocPipeline.sectionsToChunks(sections)).toDF(), s"$sd/stage03_chunks")
      }
      stage("enrich", c) {
        overwrite(EnrichStages.embedChunks(chunks(sd), enricher).toDF(),
          s"$sd/stage04_embedded")
      }
      stage("export", c) {
        val emb = spark.read.parquet(s"$sd/stage04_embedded")
          .select(col("document_id"), col("chapter_number"),
            col("section_number"), col("chunk_number"), col("embedding"))
        val fresh = DbExport.toDbRows(chunks(sd).toDF().join(emb, chunkKey))
        val prev =
          if (exists(exportCsv)) readExport(fresh.schema)
            .join(broadcast(deletes.select(docKeyOf(col("file_name")).as("chapter_number"))),
              Seq("chapter_number"), "left_anti")
          else fresh.limit(0)
        overwrite(DbExport.replaceByKey(prev, fresh, "chapter_number")
          .select(DbExport.databaseColumns.map(col): _*), s"$sd/stage05_export")
        Trace.span("publish", c) {
          Artifacts.publishMasterCsv(spark.read.parquet(s"$sd/stage05_export"),
            exportOrder, exportDir, "iris_semantic_search", "iris_deploy", ts)
        }
      }
      stage("ann.write", c) {
        val delta = vectors(sd)
        if (IndexVersioning.committedVersions(spark, annDir).isEmpty)
          AnnIndex.save(delta, annDir)
        else AnnIndex.upsert(delta, annDir)
      }
    }

  private def stage(name: String, c: Int)(f: => Unit): Unit = {
    Trace.span(name, c)(f)
    afterStage()
  }

  private def pages(sd: String) =
    spark.read.parquet(s"$sd/stage01_pages").as(Encoders.product[PageRecord])

  def chunks(sd: String) =
    spark.read.parquet(s"$sd/stage03_chunks").as(Encoders.product[ChunkRecord])

  /** This cycle's embedded chunks as index input (vec_id, embedding). */
  def vectors(sd: String): DataFrame =
    spark.read.parquet(s"$sd/stage04_embedded")
      .filter(col("embedding").isNotNull)
      .select(vecId.as("vec_id"), col("embedding"))
}

object Refresh {
  val catalogSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("file_name", StringType),
    StructField("file_path", StringType), StructField("document_source", StringType),
    StructField("document_type", StringType), StructField("document_name", StringType),
    StructField("date_last_modified", TimestampType)))

  val processSchema: StructType = StructType(Seq(
    StructField("file_name", StringType), StructField("file_path", StringType),
    StructField("file_size", LongType), StructField("date_created", TimestampType),
    StructField("date_last_modified", TimestampType), StructField("reason", StringType)))

  val deleteSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("file_name", StringType),
    StructField("file_path", StringType), StructField("document_source", StringType),
    StructField("document_type", StringType), StructField("document_name", StringType),
    StructField("reason", StringType)))

  val chunkKey = Seq("document_id", "chapter_number", "section_number", "chunk_number")
  val exportOrder = Seq("chapter_number", "section_number", "chunk_number")

  /** Document key from a `doc_<key>.pdf` file name. */
  def docKeyOf(fileName: org.apache.spark.sql.Column) =
    regexp_extract(fileName, "^doc_(\\d+)\\.pdf$", 1).cast("int")

  /** Vector id of a chunk: document key, section and chunk number packed
    * into one long (sections < 1000 and chunks < 100 per document, which
    * [[Checks]] asserts). */
  val vecId = col("chapter_number").cast("long") * 100000L +
    col("section_number").cast("long") * 100L + col("chunk_number").cast("long")
}
