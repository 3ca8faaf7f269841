package graft

/** `Tables` memoizes each path's inferred schema; a table rewritten at
  * the same path must be read with its new schema, not the memo's. */
class TablesSpec extends SparkSpecBase {

  test("a table rewritten at the same path with a new column is read with it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    val path = s"$dir/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.mode("overwrite").parquet(path)
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("id", "name"))

    Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "name", "score")
      .write.mode("overwrite").parquet(path)
    val reread = Tables(spark, dir, "t")
    assert(reread.columns.toSeq == Seq("id", "name", "score"))
    assert(reread.orderBy("id").select("score").as[Int].collect().toSeq ==
      Seq(10, 20))
  }
}
