package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.enrich.{CachingEnricher, CostMeter, DeterministicEnricher, Enricher, MeteredEnricher}

/** Benchmark entry point: one JVM, one client thread, `local[<cores>]` Spark.
  *
  * Usage: Main <workload> <inputs> <work> <trace 0|1> <result.json>
  *
  * Phases: set-up (session, warm-up, state build), then a closed loop over
  * a fixed set of timed units (the refresh cycles or serve rounds the
  * inputs hold beyond set-up), then correctness checks. Check work is
  * never timed. The result file holds raw samples and counts; `run.py`
  * turns them into metrics and verdicts.
  */
object Main {

  final class Result {
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val values = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val counts = ArrayBuffer.empty[Map[String, Long]]
    val checks = ArrayBuffer.empty[(String, Boolean, String)]
    def add(k: String, v: Double): Unit = samples.getOrElseUpdate(k, ArrayBuffer.empty) += v
  }

  /** Enricher stack: the deterministic stub metered twice around the
    * replay cache, so outer calls = requests and inner calls = misses. */
  final class Enrich(spark: SparkSession, cacheDir: String) {
    val requests = new CostMeter(spark)
    val misses = new CostMeter(spark)
    val enricher: Enricher = new MeteredEnricher(
      new CachingEnricher(new MeteredEnricher(new DeterministicEnricher(64), misses),
        cacheDir), requests)
    private def calls(m: CostMeter) = m.chatCalls.value + m.embedCalls.value
    def requestCount: Long = calls(requests)
    def missCount: Long = calls(misses)
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secs(t0))
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Peak driver heap after GC over the timed loop. [[sample]] forces a
    * full collection after a timed unit (a refresh stage, a serve op) and
    * keeps the largest heap the collection usage of the MX beans reports.
    * Samples run outside the timed region: `spentS` is their time, which
    * the loop takes out of a cycle that samples inside it, and `gcS` the
    * collection time they force, which `gc_s` leaves out. */
  final class HeapPeak {
    var peakMb = 0.0
    var spentS = 0.0
    var gcS = 0.0
    var samples = 0
    private def afterGcMb: Double =
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    def sample(): Unit = {
      val t0 = System.nanoTime()
      val gc0 = gcSeconds
      System.gc()
      var mb = afterGcMb
      // a second collection after a short pause, once Spark's ContextCleaner
      // has dropped the blocks of broadcasts the first one found unreachable,
      // can only lower the reading, so only a new peak needs it
      if (mb > peakMb) {
        Thread.sleep(100)
        System.gc()
        mb = afterGcMb
      }
      gcS += gcSeconds - gc0
      peakMb = math.max(peakMb, mb)
      samples += 1
      spentS += secs(t0)
    }
    def record(res: Result): Unit = {
      res.values("live_heap_mb") = peakMb
      res.values("heap_samples") = samples
      res.values("heap_sample_s") = spentS
    }
  }

  /** The result file's JSON codec (Jackson with Scala collections). */
  val json: com.fasterxml.jackson.databind.ObjectMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, traceArg, out) = args
    val trace = traceArg == "1"
    graft.LogProfiles.quietBench()
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.install(spark)
    val sessionS = (System.currentTimeMillis() - startMs) / 1e3
    val res = new Result
    res.values("cores") = cores
    res.values("session_s") = sessionS
    try {
      workload match {
        case "refresh-daily" => refreshDaily(spark, inputs, work, trace, res)
        case "serve-mix" => Serve.run(spark, inputs, work, trace, res)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.checks += (("run_completed", false, s"${e.getClass.getName}: ${e.getMessage}"))
    }
    res.values("jvm_s") = (System.currentTimeMillis() - startMs) / 1e3
    val body = Map[String, Any](
      "values" -> res.values,
      "samples" -> res.samples.map { case (k, v) => k -> v.toSeq },
      "counts" -> res.counts.toSeq,
      "checks" -> res.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "trace" -> (if (trace) Trace.data else null))
    json.writeValue(new java.io.File(out), body)
    spark.stop()
  }

  def listingOf(spark: SparkSession, inputs: String, c: Int): DataFrame =
    spark.read.parquet(f"$inputs/refresh/cycle_$c%04d/listing.parquet")
  def contentOf(spark: SparkSession, inputs: String, c: Int): DataFrame =
    spark.read.parquet(f"$inputs/refresh/cycle_$c%04d/content.parquet")

  /** Refresh cycles in the inputs: cycle 0 (initial load), then the timed
    * incremental cycles. */
  def cyclesIn(inputs: String): Int =
    new java.io.File(s"$inputs/refresh").list().count(_.startsWith("cycle_"))

  /** In a traced run every other timed unit runs untraced; samples of the
    * traced units carry a `traced_` prefix so both halves can be compared
    * (the tracing overhead) and only traced units feed layer metrics. */
  def unitKey(name: String, traced: Boolean): String =
    if (traced) s"traced_$name" else name

  /** Outstanding staged frames after a unit (`ops.Checkpoints`). */
  def recordStaging(res: Result, traced: Boolean): Unit = if (traced) {
    res.add("staged_frames", graft.ops.Checkpoints.stagedCount)
    res.add("pending_transients", graft.ops.Checkpoints.transientCount)
  }

  /** Build a refresh state through cycles `0 until n` (cycle 0 is the
    * initial load) into a fresh directory. Returns the summed wall time of
    * the cycles. */
  def buildState(spark: SparkSession, inputs: String, dir: String,
      n: Int): (Refresh, Enrich, Double) = {
    delete(spark, dir)
    val en = new Enrich(spark, s"$dir/enrich_cache")
    val r = new Refresh(spark, dir, en.enricher)
    var spent = 0.0
    (0 until n).foreach { c =>
      spent += timed(r.run(c, listingOf(spark, inputs, c), contentOf(spark, inputs, c)))._2
    }
    (r, en, spent)
  }

  def refreshDaily(spark: SparkSession, inputs: String, work: String,
      trace: Boolean, res: Result): Unit = {
    val sessionS = res.values("session_s").asInstanceOf[Double]
    // set-up: the session and the initial full load (cycle 0), which warms
    // every stage but the incremental merges; those warm up inside the
    // timed cycles, the same way on every run
    val (r, en, built) = buildState(spark, inputs, s"$work/state", 1)
    res.values("setup_s") = sessionS + built
    val gc0 = gcSeconds
    val req0 = en.requestCount
    val miss0 = en.missCount
    val heap = new HeapPeak
    r.afterStage = () => Trace.span("check")(heap.sample())
    val last = cyclesIn(inputs) - 1
    val t0 = System.nanoTime()
    // the same cycles on every run: cycles 2, 4, ... traced in a traced run
    (1 to last).foreach { c =>
      val traced = trace && c % 2 == 0
      Trace.set(spark, traced)
      val sampling0 = heap.spentS
      val (_, wall) = timed(r.run(c, listingOf(spark, inputs, c), contentOf(spark, inputs, c)))
      res.add(unitKey("cycle_s", traced), wall - (heap.spentS - sampling0))
      Trace.set(spark, false)
      recordStaging(res, traced)
      if (c >= 2) delete(spark, r.stageDir(c - 2))
    }
    r.afterStage = () => ()
    res.values("measure_s") = secs(t0)
    res.values("gc_s") = gcSeconds - gc0 - heap.gcS
    res.values("enrich_requests") = en.requestCount - req0
    res.values("enrich_misses") = en.missCount - miss0
    heap.record(res)
    // conservation counts of the last timed cycle (the cycles before it are
    // covered by the comparison with the from-scratch rebuild below)
    res.counts += Checks.cycleCounts(spark, r, last, listingOf(spark, inputs, last),
      contentOf(spark, inputs, last))
    val schemaFrom = r.stageDir(last) + "/stage05_export"
    val (store, live) = Checks.storeRatio(spark, r, schemaFrom)
    res.values("store_bytes") = store
    res.values("live_bytes") = live
    res.values("stale_vectors") = Checks.indexIds(spark, r.annDir).select("vec_id").distinct()
      .join(Checks.liveVecIds(spark, r, schemaFrom), Seq("vec_id"), "left_anti").count()
    // the from-scratch rebuild of the final inputs: the correctness
    // reference, and (timed, traced in a traced run) the full-refresh
    // profile of the same corpus
    val (fl, fc) = Checks.finalInputs(spark, inputs, last)
    val scr = new Refresh(spark, s"$work/scratch",
      new Enrich(spark, s"$work/scratch/enrich_cache").enricher)
    Trace.set(spark, trace)
    res.values("rebuild_full_s") = timed(Trace.span("rebuild")(scr.run(0, fl, fc)))._2
    Trace.set(spark, false)
    res.checks ++= Checks.compareToScratch(spark, r, scr, last)
  }
}
