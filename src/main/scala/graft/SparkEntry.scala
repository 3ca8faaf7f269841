package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every implemented operator's demo query; keys present
  * in `oracleSql` are hash-verified by the driver against DuckDB over the same
  * parquet tables (sf0.01). Keys absent from `oracleSql` get rows-only checks
  * (non-SQL-expressible operators: chunker, minhash, etc.).
  */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    Relational,
    CdcQueries,
    GroupWindowQueries,
    TextQueries,
    DedupQueries,
    SimilarityQueries,
    PipelineQueries,
    EnrichQueries,
    ValidationQueries,
    EventsQueries,
    MultimodalQueries,
    PromptQueries,
    CoverageQueries,
    CorpusQueries,
    SearchQueries,
    LayoutQueries,
    EntityQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Every query
    * runs with the native `graft_*` functions registered (idempotent), so
    * SQL-path callers resolve them too. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap.map { case (name, fn) =>
      name -> { (spark: SparkSession, dir: String) =>
        graft.functions.GraftFunctions.install(spark)
        // query boundary = staged-frame sweep: every staged frame of
        // the PREVIOUS query is dead by now (its action completed), so
        // free the blocks before this query computes instead of letting
        // ~100 queries' staged frames pile onto the storage pool over a
        // bench/gate run (measured: late-suite queries 2-3× inflated)
        graft.ops.Checkpoints.releaseTransients()
        fn(spark, dir)
      }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → rows-only check. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracle).toMap
}
