package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    LogProfiles.quietBench()
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (local
    // iteration aid; the driver always passes exactly two args).
    // Two-staged oracles read SIBLING dumps via the outDir token — force-
    // include every referenced sibling so a filtered run never verifies
    // against a missing (confusing IO error) or stale (silent false
    // pass/fail) dump.
    // Expanded to a FIXED POINT: a sibling's oracle may itself reference
    // another sibling (two-staged chains), so one expansion level would
    // silently miss the transitive dump in a filtered run.
    val only = args.lift(2).map(_.split(',').toSet).map { sel0 =>
      val refRe = (java.util.regex.Pattern.quote(
        graft.queries.QueryModule.VerifyOutToken) + "/(\\w+)/").r
      def refsOf(names: Set[String]): Set[String] =
        SparkEntry.oracleSql.collect {
          case (name, sql) if names(name) =>
            refRe.findAllMatchIn(sql).map(_.group(1)).toSet
        }.flatten.toSet
      var sel = sel0
      var grown = true
      while (grown) {
        val next = sel ++ refsOf(sel)
        grown = next.size > sel.size
        sel = next
      }
      sel
    }
    val spark = LocalSession.create(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // On a failed dump the target directory is REMOVED: a leftover (stale
    // or partial) parquet from a previous run would let a two-staged
    // sibling oracle silently compare against old edges — a missing file
    // fails loudly instead.
    def deleteRecursively(p: java.nio.file.Path): Unit =
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        val walk = Files.walk(p)
        try walk.iterator().asScala.toSeq.reverse
          .foreach(f => Files.deleteIfExists(f))
        finally walk.close()
      }
    // Dump order: the staged-pair PRODUCER first, so its verified pair
    // parquet can be shared by the five graph-family consumers (see
    // SimilarityQueries.stagedPairs) — each other query's failure is
    // isolated (dump the rest, record the error: a partial gate beats
    // an empty one) and per-query wall-clock is recorded so gate-cost
    // growth is visible per round, not just in aggregate.
    val PairProducer = "q_sim_cosine_pairs"
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }.toSeq
    val ordered = selected.filter(_._1 == PairProducer) ++
      selected.filterNot(_._1 == PairProducer)
    val errors = Seq.newBuilder[(String, String)]
    val secs = Seq.newBuilder[(String, Double)]
    ordered.foreach { case (name, fn) =>
      val target = Paths.get(s"$outDir/$name")
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(target.toString)
        if (name == PairProducer)
          graft.queries.SimilarityQueries.stagedPairs =
            Some(target.toString)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors += name -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
        try deleteRecursively(target)
        catch { case c: Throwable => System.err.println(
          s"[verify] cleanup of stale $name dump failed: ${c.getMessage}") }
      }
      secs += name -> (System.nanoTime() - t0) / 1e9
    }
    graft.queries.SimilarityQueries.stagedPairs = None
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // two-staged oracles reference sibling query dumps via the outDir
    // token — resolve it to the absolute path the driver's DuckDB can read
    val absOut = Paths.get(outDir).toAbsolutePath.toString
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace(graft.queries.QueryModule.VerifyOutToken, absOut))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // gate forensics (driver ignores these; verify_local.py and the
    // round notes read them): which dumps failed, and what each cost
    def f3(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      errors.result().map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$outDir/verify_dump_secs.json"),
      secs.result().map { case (k, v) => s"${q(k)}: ${f3(v)}" }
        .mkString("{", ",", "}"))
    // the Spark half of the gate's environment forensics — the DuckDB
    // half (duckdb/python versions, canonicalization) is recorded by
    // verify_local.py as verify_env.json, so a future cross-engine
    // divergence has both engines' versions in the same gate dir
    val envPairs = Seq(
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "java_version" -> sys.props.getOrElse("java.version", "unknown"),
      "session_tz" -> spark.conf.get("spark.sql.session.timeZone"),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "ansi_enabled" -> spark.conf.getOption("spark.sql.ansi.enabled")
        .getOrElse("unset(default)"),
      "master" -> spark.sparkContext.master,
      "default_locale" -> java.util.Locale.getDefault.toString,
      "sf_dir" -> sfDir)
    Files.writeString(Paths.get(s"$outDir/spark_env.json"),
      envPairs.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
    // rc stays 0 even when some dump failed: a partial gate (the driver
    // compares every dump that exists; a MISSING dump is a loud FAIL
    // row) beats an rc!=0 run the driver might discard wholesale —
    // verify_errors.json carries the failure detail.
  }
}
