package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index: build once, query many — the lexical
  * counterpart of [[AnnIndex]]. [[KeywordSearch.bm25TopK]] re-tokenizes
  * the whole corpus on every call, which is right for a one-shot query
  * battery but wrong for a serving corpus indexed nightly and probed
  * thousands of times; this layer persists the posting lists once:
  *
  *   <dir>/postings/ (term, doc_id, dl, tf), PARTITIONED BY term_bucket
  *   <dir>/stats/    (n_docs, avgdl) — 1 row
  *
  * The term-bucket partitioning is the scale feature: a query's terms
  * hash to a handful of the [[TermBuckets]] directories, computed on the
  * driver, and a probe lists and scans only those directories (the
  * in-bucket `term IN (...)` predicate then pushes into the parquet row
  * groups). `dl` is denormalized into the postings, so probing needs no
  * doc-lengths join.
  *
  * Query results are IDENTICAL to `bm25TopK` with the same parameters —
  * both paths call the shared [[KeywordSearch.bm25Rank]] over a
  * (doc, term, tf, dl) frame, so q_search_bm25_index verifies against
  * the same DuckDB mirror as q_search_bm25. Rebuild-while-serving
  * safety is the shared [[IndexVersioning]] committed-marker publish.
  */
object InvertedIndex {

  /** Posting-list partition fan-out. 64 keeps each bucket a healthy
    * multi-file directory at corpus scale while a 3-term query prunes
    * to ≤ 3/64 of the postings. */
  val TermBuckets = 64

  /** Portable term bucket (the engine's 60-bit md5-prefix hash). */
  private def bucketExpr(term: org.apache.spark.sql.Column) =
    pmod(conv(substring(md5(term.cast("binary")), 1, 15), 16, 10)
      .cast("long"), lit(TermBuckets.toLong))

  /** The same bucket, computed on the driver for the query's literal
    * term set — a probe lists only these buckets' directories. */
  private[ops] def bucketOf(term: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
    val hex = d.map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16) % TermBuckets
  }

  /** Tokenize `docs` once and persist the posting lists + corpus stats
    * under `dir` (versioned, atomically published, GC'd — see
    * [[IndexVersioning.publish]]). */
  def save(docs: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    val spark = docs.sparkSession
    IndexVersioning.publish(spark, dir) { vdir =>
      val toksArr = split(col(textCol), "\\s+")
      val base = Checkpoints.stage(
        docs.select(col(idCol).as("doc_id"), size(toksArr).as("dl"),
          toksArr.as("ts")),
        eager = true)
      base.agg(count(lit(1)).as("n_docs"),
          (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
        .repartition(1).write.mode("overwrite").parquet(s"$vdir/stats")
      base.select(col("doc_id"), col("dl"), explode(col("ts")).as("term"))
        .groupBy(col("term"), col("doc_id"), col("dl"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("term_bucket", bucketExpr(col("term")))
        .write.mode("overwrite").partitionBy("term_bucket")
        .parquet(s"$vdir/postings")
    }
  }

  /** BM25 top-k for a bag-of-terms query against the persisted index.
    * Only the query's own `term_bucket=<b>` directories are listed and
    * scanned (those that exist: a term absent from the corpus may hash
    * to a bucket that was never written), under the memoized schema
    * with the postings root as `basePath`, so the probe pays no
    * partition-discovery job over all [[TermBuckets]] directories. The
    * `term_bucket` predicate stays in the plan as a partition filter,
    * and the in-bucket `term IN (...)` predicate pushes into the parquet
    * row groups. The 1-row stats are read once as driver constants.
    * Output schema and values are identical to
    * [[KeywordSearch.bm25TopK]] over the same corpus. */
  def bm25TopK(spark: SparkSession, dir: String, terms: Seq[String],
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "empty query")
    val v = IndexVersioning.resolveDir(spark, dir)
    // schema-memo reads (keyed by layout root): the versioned layout
    // re-infers fixed writer schemas on every fresh v_<n> otherwise
    val root = IndexVersioning.layoutRoot(v)
    val stats = graft.sources.SchemaMemo
      .read(spark, s"invidx.stats@$root", s"$v/stats").head()
    val postings = s"$v/postings"
    val fs = new org.apache.hadoop.fs.Path(postings)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buckets = terms.map(bucketOf).distinct
    val paths = buckets.map(x => s"$postings/term_bucket=$x")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    // no queried bucket exists: scan the root, whose bucket filter
    // prunes every directory, for the empty frame of the right type
    val tf = graft.sources.SchemaMemo
      .readAll(spark, s"invidx.postings@$root", postings,
        if (paths.nonEmpty) paths else Seq(postings))
      .filter(col("term_bucket").isin(buckets: _*) &&
        col("term").isin(terms: _*))
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    KeywordSearch.bm25Rank(tf, "doc_id", stats.getAs[Long]("n_docs"),
      KeywordSearch.avgdlOf(stats), k, k1, b)
  }
}
