package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named group of driver-checkable queries.
  *
  * Every entry in `queries` is a function `(spark, sfDir) => DataFrame`; every
  * key that also appears in `oracle` gets hash-compared by the driver against
  * DuckDB running that SQL over the same parquet tables (see Verify.scala).
  * Keys without an oracle get a weaker rows-only check.
  *
  * Contract reminders (the hash compare is exact):
  *   - alias every computed column identically in Spark and SQL;
  *   - never emit raw float aggregates — aggregate in DECIMAL, cast to DOUBLE;
  *   - no timestamps in output — format to strings;
  *   - deterministic ordering for any LIMIT/top-k (unique tiebreak keys).
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]

  /** Globally order a SMALL, EXPENSIVE-to-compute result (r14, guide
    * §2.4): a bare `orderBy` plans a range exchange whose bounds
    * sampling re-executes the ENTIRE child chain a second time — for a
    * query whose tail is a verify join / candidate dedup producing a
    * few thousand rows, that doubles the query. Lazily staging the
    * result first (the cosinePairsCore convention) lets the sampling
    * pass and the shuffle both read the staged blocks: one computation,
    * a small persist, identical rows and order. Only use where the
    * pre-order result is bounded (pair lists, top-k, reports) — staging
    * a corpus-scale frame would trade a scan for corpus-scale storage. */
  protected def orderedSmall(df: DataFrame,
      cols: org.apache.spark.sql.Column*): DataFrame =
    graft.ops.Checkpoints.stage(df, eager = false).orderBy(cols: _*)
}

object QueryModule {
  /** Placeholder for the Verify output directory inside oracle SQL.
    * Two-staged oracles (q_sim_pagerank, q_dedup_representatives) read a
    * PRE-VERIFIED sibling query's parquet dump through it; Verify
    * substitutes the absolute outDir when writing oracle_sql.json, so
    * the driver's DuckDB resolves the same files it already reads for
    * the Spark-side compare. */
  val VerifyOutToken: String = "__GRAFT_VERIFY_OUT__"
}
