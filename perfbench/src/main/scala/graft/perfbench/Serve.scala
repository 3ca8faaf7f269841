package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.ops.{AnnIndex, InvertedIndex, KeywordSearch}

/** serve-mix: one closed-loop client against a state published in set-up.
  *
  * The seeded op stream (`ops.json`, mix and sizes in `workloads.json`) is
  * a sequence of rounds; a round is every analytics query once (run to the
  * `noop` sink), ANN top-k probes and BM25 probes in seeded order, with an
  * `AnnIndex.upsert` of new chunk vectors as every `write_every`-th op.
  * All rounds but the last are timed; the last is the set-up warm-up.
  * Reads and writes hit the same index, so a write path that deepens the
  * version chain shows up in probe latency.
  *
  * The raw-vector store the ANN re-rank joins against has no delete, like
  * the index itself. Recall is judged against exact top-k over the live
  * vectors; a probe below the recall floor counts as failed.
  */
object Serve {

  /** Analytics reads: six of the 20 `graft.Bench` headline queries, one
    * per family the refresh product serves (relational, CDC, master merge,
    * validation, text, events). The whole battery costs ~20 s of cold
    * compilation per run on a 4-core host, more than a run can afford. */
  val Analytics = Seq(
    "q_rel_pricing_summary", "q_cdc_counts", "q_master_merge",
    "q_validate_coverage", "q_text_stats", "q_events_sessions")

  val K = 10
  val NProbe = 8
  val Refine = 10
  val RecallFloor = 0.5

  final case class Op(kind: String, a: Long, b: Long, terms: Seq[String])

  def readRounds(path: String): IndexedSeq[IndexedSeq[Op]] = {
    val root = Main.json.readTree(new java.io.File(path))
    (0 until root.size()).map { r =>
      val round = root.get(r)
      (0 until round.size()).map { i =>
        val o = round.get(i)
        o.get(0).asText() match {
          case "bm25" => Op("bm25", 0, 0, (1 until o.size()).map(j => o.get(j).asText()))
          case k => Op(k, o.get(1).asLong(), o.get(2).asLong(), Nil)
        }
      }
    }
  }

  private def unit(v: Array[Float]): Array[Double] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(_ / n)
  }

  /** Exact top-k ids by cosine over `live`, ties by id (the index contract). */
  def exactTopK(live: collection.Map[Long, Array[Double]], q: Array[Float], k: Int): Seq[Long] = {
    val qu = unit(q)
    live.iterator.map { case (id, v) =>
      var d = 0.0; var i = 0
      while (i < v.length) { d += v(i) * qu(i); i += 1 }
      (math.rint(d * 1e4) / 1e4, id)
    }.toSeq.sortBy { case (c, id) => (-c, id) }.take(k).map(_._2)
  }

  def perturb(v: Array[Float], seed: Long, sigma: Double): Array[Float] = {
    val rnd = new java.util.Random(seed)
    val u = unit(v)
    u.map(x => (x + rnd.nextGaussian() * sigma).toFloat)
  }

  def run(spark: SparkSession, inputs: String, work: String,
      trace: Boolean, res: Main.Result): Unit = {
    import spark.implicits._
    val sfDir = s"$inputs/sf"
    val rounds = readRounds(s"$inputs/ops.json")
    val rawStore = s"$work/rawstore"
    val bm25Dir = s"$work/bm25"
    val sessionS = res.values("session_s").asInstanceOf[Double]

    // ---- set-up: publish the state with a full refresh cycle, build the
    // serving layers, warm up. The warm-up runs every analytics query once
    // into the parquet dumps the DuckDB oracle later checks.
    val dumpDir = s"$work/analytics"
    val (r, _, built) = Main.buildState(spark, inputs, s"$work/state", 1)
    val exportStage = r.stageDir(0) + "/stage05_export"
    val export = r.readExport(spark.read.parquet(exportStage).schema)
    val live = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Double]]
    val liveRaw = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Float]]
    val (_, serving) = Main.timed {
      r.vectors(r.stageDir(0)).write.mode("overwrite").parquet(s"$rawStore/batch=0")
      InvertedIndex.save(export.select(Refresh.vecId.as("doc_id"), col("chunk_content")),
        "doc_id", "chunk_content", bm25Dir)
      spark.read.parquet(rawStore)
        .join(Checks.liveVecIds(spark, r, exportStage), Seq("vec_id"))
        .orderBy(col("vec_id")).select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect()
        .foreach { case (id, v) => live(id) = unit(v); liveRaw(id) = v }
      Analytics.foreach(n => SparkEntry.queries(n)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$dumpDir/$n"))
    }
    // the store's schema, fixed after set-up: a probe lists the store's
    // files but pays no schema-inference job of the benchmark's own
    val rawSchema = spark.read.parquet(rawStore).schema
    val liveKeys = liveRaw.keys.toIndexedSeq
    var nextId = 9000000000000L
    var nextQuery = -1L
    var batch = 0

    def probeAnn(op: Op): (Double, Seq[Long], Array[Float]) = {
      val target = liveRaw(liveKeys((op.a % liveKeys.size).toInt))
      val q = perturb(target, op.b, 0.3 / math.sqrt(target.length))
      nextQuery -= 1
      val qdf = Seq((nextQuery, q)).toDF("vec_id", "embedding")
      val (rows, s) = Main.timed(Trace.span("ann.probe") {
        AnnIndex.topK(spark, r.annDir, spark.read.schema(rawSchema).parquet(rawStore),
          qdf, K, NProbe, Refine)
          .select(col("rk"), col("neighbor_id")).collect()
      })
      (s, rows.sortBy(_.getInt(0)).map(_.getLong(1)).toSeq, q)
    }

    def write(op: Op): Double = {
      val rnd = new java.util.Random(op.a)
      val rows = (0 until op.b.toInt).map { _ =>
        val src = liveRaw(liveKeys(rnd.nextInt(liveKeys.size)))
        nextId += 1
        (nextId, perturb(src, rnd.nextLong(), 1.0 / math.sqrt(src.length)))
      }
      val df = rows.toDF("vec_id", "embedding")
      val (_, s) = Main.timed(Trace.span("ann.write") { AnnIndex.upsert(df, r.annDir) })
      batch += 1
      Trace.span("check") {
        df.write.mode("overwrite").parquet(s"$rawStore/batch=$batch")
      }
      rows.foreach { case (id, v) => live(id) = unit(v); liveRaw(id) = v }
      s
    }

    def sql(op: Op, traced: Boolean): Double = {
      val name = Analytics((op.a % Analytics.size).toInt)
      if (!traced) Main.timed(SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save())._2
      else Main.timed(Trace.span("queries") {
        val df = Trace.span("queries.construct")(SparkEntry.queries(name)(spark, sfDir))
        Trace.span("queries.plan")(df.queryExecution.executedPlan)
        Trace.span("queries.exec")(df.write.format("noop").mode("overwrite").save())
      })._2
    }

    // warm-up of the probe and write paths (set-up time): one of each op
    // kind from the last round of the stream, which is never timed
    val (_, warm) = Main.timed {
      val spare = rounds.last
      Seq("ann", "bm25", "write").foreach { k =>
        val op = spare.find(_.kind == k).get
        k match {
          case "ann" => probeAnn(op)
          case "bm25" => InvertedIndex.bm25TopK(spark, bm25Dir, op.terms, K).collect()
          case _ => write(op)
        }
      }
    }
    res.values("setup_s") = sessionS + built + serving + warm

    // ---- measured closed loop: every round but the warm-up one, each op
    // followed by an untimed heap sample
    val gc0 = Main.gcSeconds
    val heap = new Main.HeapPeak
    var attempted, failed = 0
    val recalls = ArrayBuffer.empty[Double]
    var bm25Checked: Option[Seq[String]] = None
    val kindSeen = scala.collection.mutable.HashMap.empty[String, Int]
    val t0 = System.nanoTime()
    rounds.init.foreach { ops =>
      val roundStart = System.nanoTime()
      val sampling0 = heap.spentS
      ops.foreach { op =>
        attempted += 1
        // in a traced run the ops of each kind alternate, the first traced,
        // so every kind feeds its layer metrics and the overhead ratio
        val seen = kindSeen.getOrElse(op.kind, 0)
        kindSeen(op.kind) = seen + 1
        val traced = trace && seen % 2 == 0
        Trace.set(spark, traced)
        def add(k: String, ms: Double) = res.add(Main.unitKey(k, traced), ms)
        op.kind match {
          case "ann" =>
            val (s, got, q) = probeAnn(op)
            add("probe_ms", s * 1e3)
            add("ann_probe_ms", s * 1e3)
            val recall = Trace.span("check") {
              exactTopK(live, q, K).intersect(got).size.toDouble / K
            }
            recalls += recall
            if (recall < RecallFloor) failed += 1
          case "bm25" =>
            val (_, s) = Main.timed(Trace.span("bm25.probe") {
              InvertedIndex.bm25TopK(spark, bm25Dir, op.terms, K).collect()
            })
            add("probe_ms", s * 1e3)
            add("bm25_probe_ms", s * 1e3)
            if (bm25Checked.isEmpty) bm25Checked = Some(op.terms)
          case "sql" => add("analytics_ms", sql(op, traced) * 1e3)
          case "write" => add("write_ms", write(op) * 1e3)
        }
        Trace.set(spark, false)
        Main.recordStaging(res, traced)
        heap.sample()
      }
      res.add("cycle_s", Main.secs(roundStart) - (heap.spentS - sampling0))
    }
    res.values("measure_s") = Main.secs(t0)
    res.values("gc_s") = Main.gcSeconds - gc0 - heap.gcS
    res.values("attempted") = attempted
    res.values("failed") = failed
    res.values("recall_at_k") = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
    heap.record(res)
    val (_, depth) = Checks.indexHead(spark, r.annDir)
    res.values("ann_chain_depth") = depth
    val idx = Checks.indexIds(spark, r.annDir).select(col("vec_id")).distinct()
    res.values("stale_vectors") = idx.join(
      live.keys.toSeq.toDF("vec_id"), Seq("vec_id"), "left_anti").count()
    val (bytes, liveBytes) = Checks.storeRatio(spark, r, exportStage)
    res.values("store_bytes") = bytes
    res.values("live_bytes") = liveBytes

    // ---- correctness: BM25 index vs the in-memory scorer, analytics dumps
    val corpus = export.select(Refresh.vecId.as("doc_id"), col("chunk_content"))
    bm25Checked.foreach { terms =>
      val a = InvertedIndex.bm25TopK(spark, bm25Dir, terms, K).collect().map(_.toString).toSeq
      val b = KeywordSearch.bm25TopK(corpus, "doc_id", "chunk_content", terms, K)
        .collect().map(_.toString).toSeq
      res.checks += ((s"bm25_index_matches_scan[${terms.mkString(" ")}]", a == b,
        s"index=${a.size} scan=${b.size}"))
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Analytics.contains(k) }
      .map { case (k, v) => k -> v.replace(graft.queries.QueryModule.VerifyOutToken, dumpDir) }
    res.values("oracle_sql") = oracle
    res.values("analytics_dir") = dumpDir
  }
}
