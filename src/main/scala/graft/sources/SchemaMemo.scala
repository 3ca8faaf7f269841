package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.StructType

/** Process-level schema memo for the engine's own persisted artifacts
  * (ANN index parts, inverted-index postings, NB models): schema
  * INFERENCE is a footer-read job costing ~60-90 ms per
  * `spark.read.parquet` call, and the versioned layouts re-pay it on
  * every fresh `v_<n>` directory even though the WRITER's schema is
  * fixed per layout. Caching the inferred StructType under a caller
  *-chosen key (layout kind + layout root, so two indexes built from
  * differently-typed inputs never share an entry) is metadata caching —
  * what a catalog provides in a deployment — never data: every read
  * still scans the parquet files.
  */
object SchemaMemo {
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Read parquet at `path` with the schema cached under `key`; first
    * call infers and remembers. `key` must uniquely determine the
    * schema — convention: "<layout-kind>@<layout-root>". */
  def read(spark: SparkSession, key: String, path: String): DataFrame =
    memoized(spark.read, key, Seq(path))

  /** [[read]] over several directories of one partitioned layout rooted
    * at `basePath`, so the partition columns are still read from the
    * directory names. Listing only the given directories is what keeps
    * a probe from paying a partition-discovery job over the whole
    * layout. */
  def readAll(spark: SparkSession, key: String, basePath: String,
      paths: Seq[String]): DataFrame =
    memoized(spark.read.option("basePath", basePath), key, paths)

  private def memoized(reader: DataFrameReader, key: String,
      paths: Seq[String]): DataFrame = {
    val s = memo.get(key)
    if (s != null) reader.schema(s).parquet(paths: _*)
    else {
      val df = reader.parquet(paths: _*)
      memo.putIfAbsent(key, df.schema)
      df
    }
  }
}
