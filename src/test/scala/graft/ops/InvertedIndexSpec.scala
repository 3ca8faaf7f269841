package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Persisted inverted index: probe ≡ the from-scratch BM25 path
  * row-for-row (also for query terms whose bucket was never written),
  * the bucket filter reaches the parquet partition filters, the
  * driver-side bucket hash matches the engine expression, and the
  * versioned publish lifecycle (rebuild, abort sweep) holds.
  */
class InvertedIndexSpec extends SparkSpecBase {

  private val Terms = Seq("dup", "spark", "merge")

  private def tmp(): String =
    Files.createTempDirectory("inv-index").toString + "/ix"

  test("probe equals the from-scratch bm25TopK row-for-row") {
    val docs = graft.Tables.documents(spark, sfDir)
    val ix = tmp()
    InvertedIndex.save(docs, "doc_id", "text", ix)
    val fromIndex = InvertedIndex.bm25TopK(spark, ix, Terms, k = 10)
      .collect().map(_.toSeq).toSeq
    val scratch = KeywordSearch.bm25TopK(docs, "doc_id", "text", Terms,
      k = 10).collect().map(_.toSeq).toSeq
    assert(fromIndex.nonEmpty)
    assert(fromIndex.sortBy(_.toString) === scratch.sortBy(_.toString))
  }

  test("driver-side bucket hash matches the engine expression") {
    import spark.implicits._
    val words = Seq("dup", "spark", "merge", "the", "a-b c", "ünïcode")
    val engine = words.toDF("t")
      .select(col("t"),
        pmod(conv(substring(md5(col("t").cast("binary")), 1, 15), 16, 10)
          .cast("long"), lit(InvertedIndex.TermBuckets.toLong)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    words.foreach { w =>
      assert(InvertedIndex.bucketOf(w) === engine(w), w)
    }
  }

  test("bucket pruning is static: partition filters reach the scan") {
    val docs = graft.Tables.documents(spark, sfDir)
    val ix = tmp()
    InvertedIndex.save(docs, "doc_id", "text", ix)
    val plan = InvertedIndex.bm25TopK(spark, ix, Terms, k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("term_bucket"),
      s"no partition filter on term_bucket in:\n$plan")
  }

  /** A 4-doc corpus writes only a few of the 64 bucket directories. */
  private lazy val tiny = {
    import spark.implicits._
    Seq((1L, "the cat sat"), (2L, "a cat and a dog"), (3L, "dog days"),
      (4L, "sat on the mat")).toDF("doc_id", "text")
  }
  private lazy val tinyIx = {
    val ix = tmp()
    InvertedIndex.save(tiny, "doc_id", "text", ix)
    ix
  }

  /** Absent terms whose bucket directory was never written. */
  private def absentTerms(n: Int): Seq[String] = {
    val v = IndexVersioning.resolveDir(spark, tinyIx)
    Iterator.from(0).map(i => s"zq$i")
      .filter(t => !new java.io.File(
        s"$v/postings/term_bucket=${InvertedIndex.bucketOf(t)}").exists)
      .take(n).toSeq
  }

  private def typed(df: org.apache.spark.sql.DataFrame) =
    df.schema.map(f => (f.name, f.dataType))

  test("a term whose bucket directory does not exist is skipped, not PATH_NOT_FOUND") {
    val terms = Seq("cat", "dog") ++ absentTerms(1)
    val fromIndex = InvertedIndex.bm25TopK(spark, tinyIx, terms, k = 10)
    val scratch = KeywordSearch.bm25TopK(tiny, "doc_id", "text", terms,
      k = 10)
    val got = fromIndex.collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got.sortBy(_.toString) ===
      scratch.collect().map(_.toSeq).toSeq.sortBy(_.toString))
    assert(typed(fromIndex) === typed(scratch))
  }

  test("no queried bucket exists: an empty frame typed as bm25TopK's") {
    val terms = absentTerms(2)
    val fromIndex = InvertedIndex.bm25TopK(spark, tinyIx, terms, k = 10)
    val scratch = KeywordSearch.bm25TopK(tiny, "doc_id", "text", terms,
      k = 10)
    assert(fromIndex.collect().isEmpty && scratch.collect().isEmpty)
    assert(typed(fromIndex) === typed(scratch))
  }

  test("rebuilds version atomically; aborted build dirs are swept") {
    val docs = graft.Tables.documents(spark, sfDir)
    val ix = tmp()
    InvertedIndex.save(docs, "doc_id", "text", ix)
    assert(IndexVersioning.resolveDir(spark, ix).endsWith("v_1"))
    // an aborted build: a bare v_7 dir with no _COMMITTED marker
    Files.createDirectories(java.nio.file.Paths.get(ix, "v_7"))
    assert(IndexVersioning.resolveDir(spark, ix).endsWith("v_1"))
    // versions advance from the COMMITTED history (the abort is not it)
    InvertedIndex.save(docs, "doc_id", "text", ix)
    assert(IndexVersioning.resolveDir(spark, ix).endsWith("v_2"))
    // v_1 retained one window for in-flight readers; the abort is gone
    val dirs = new java.io.File(ix).listFiles().map(_.getName).toSet
    assert(dirs.contains("v_1") && !dirs.contains("v_7"))
    // a third rebuild GCs v_1
    InvertedIndex.save(docs, "doc_id", "text", ix)
    val dirs2 = new java.io.File(ix).listFiles().map(_.getName).toSet
    assert(dirs2 === Set("v_2", "v_3"))
  }
}
