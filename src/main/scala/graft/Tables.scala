package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All engine queries take `(spark, sfDir)` and pull inputs through here so
  * the scan path is uniform: a plain parquet read that Catalyst can push
  * filters/projections into. At cluster scale these would be partitioned
  * table paths; the API shape is the same.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-path schema memo: schema INFERENCE (a footer-read job) costs
    * ~60-90 ms per `spark.read.parquet` call while a schema-supplied
    * read costs ~10 ms, and a bench/gate session constructs thousands
    * of table reads over the same paths (3 steady reps × a few tables ×
    * ~135 queries). Caching the inferred StructType is metadata
    * caching — the exact service a catalog/metastore provides in a
    * deployment — never data: every query still scans the parquet
    * files for rows. Each entry keeps the path's modification time it
    * was inferred at: a table rewritten at the same path gets a fresh
    * mtime and is inferred again (its entry replaced, so the map holds
    * one entry per path), instead of being read with the old schema
    * and silently losing its new columns. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, org.apache.spark.sql.types.StructType)]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val mtime = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
    val (_, schema) = schemaCache.compute(path, (_, hit) =>
      if (hit != null && hit._1 == mtime) hit
      else (mtime, spark.read.parquet(path).schema))
    spark.read.schema(schema).parquet(path)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  /** events.ts arrives in whichever physical type the data generator used:
    * TIMESTAMP(NANOS) (rejected by Spark's vectorized reader → read as
    * nanos-since-epoch long and convert; values are µs-grain so the
    * div-1000 is lossless), µs TIMESTAMP_NTZ (cast to TIMESTAMP — every
    * graft entry point pins the session to UTC, so the instant is
    * unchanged), or already TIMESTAMP. Normalizing here keeps one
    * downstream contract: ts is a µs-grain TimestampType column.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        // the NTZ→TIMESTAMP cast interprets the wall-clock in the
        // SESSION time zone — instant-preserving only under UTC. Fail
        // fast instead of silently shifting every event time, and
        // instead of mutating the caller's session TZ from inside a
        // read API (which would change unrelated queries mid-session).
        val tz = spark.conf.get("spark.sql.session.timeZone")
        if (tz != "UTC") throw new IllegalStateException(
          s"events.ts is TIMESTAMP_NTZ and session timeZone is '$tz': " +
            "set spark.sql.session.timeZone=UTC so the cast is instant-preserving")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      // fail fast at the load site: silently passing a STRING/INT ts
      // through defers the error to downstream queries with confusing
      // messages (or, worse, to silently-wrong timestamp arithmetic)
      case other => throw new IllegalStateException(
        s"events.ts: expected TIMESTAMP/TIMESTAMP_NTZ/LONG(nanos), got $other")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
