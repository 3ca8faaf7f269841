package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Dev profiling CLI over the registered queries (`SparkEntry.queries`),
  * one session per run:
  *
  * {{{
  * runMain graft.Profile split <q,...> [reps=3] [sfDir]
  * runMain graft.Profile jobs  <q,...> [sfDir]
  * runMain graft.Profile reps  <n> <q,...> [sfDir]
  * runMain graft.Profile plan  [outDir suffix q,...] [sfDir]
  * }}}
  *
  *  - `split`: each rep's wall time split into construction (building
  *    the DataFrame), planning (through `executedPlan`) and execution
  *    (the noop action): says whether a slow query is driver-bound or
  *    computing. Reps after the first are steady-state.
  *  - `jobs`: the Spark jobs (driver barriers) each query launches, and
  *    on stderr which SQL execution launched them.
  *  - `reps`: one cold and `n` steady timed runs per query under the
  *    `graft.Bench` methodology (noop sink, full materialization).
  *  - `plan`: `explain("formatted")`. Without a list, every registered
  *    query into `PLANS.md` (the file `PlansSyncSpec` checks); with a
  *    list, `<outDir>/<q>_<suffix>.txt` per query.
  *
  * `sfDir` defaults to `$SPARK_GRAFT_SF_DIR`, else sf0.1. `PLANS.md` is
  * generated at sf0.001 on 4 cores (as the `Verify` gate runs), every
  * other mode on 32 cores; `SPARK_GRAFT_CPUS` overrides either. Results
  * go to stdout as one JSON line each. */
object Profile {

  sealed trait Command { def defaultCpus: Int = 32 }
  final case class Split(names: Seq[String], reps: Int, sfDir: String)
      extends Command
  final case class Jobs(names: Seq[String], sfDir: String) extends Command
  final case class Reps(reps: Int, names: Seq[String], sfDir: String)
      extends Command
  /** `perQuery` = (outDir, suffix, queries); None writes PLANS.md. */
  final case class Plan(perQuery: Option[(String, String, Seq[String])],
      sfDir: String) extends Command {
    override def defaultCpus: Int = if (perQuery.isEmpty) 4 else 32
  }

  private val Usage = "usage: Profile split <q,...> [reps] [sfDir] | " +
    "jobs <q,...> [sfDir] | reps <n> <q,...> [sfDir] | " +
    "plan [outDir suffix q,...] [sfDir]"

  private def bad(msg: String): Nothing =
    throw new IllegalArgumentException(s"$msg; $Usage")

  /** Parse and validate a command line (no session needed): every bad
    * argument fails here with an IllegalArgumentException naming it. */
  def parse(args: Seq[String]): Command = {
    val mode = args.headOption.getOrElse(bad("missing mode"))
    val rest = args.drop(1)
    def maxArgs(n: Int): Unit =
      if (rest.size > n) bad(s"$mode: unexpected argument '${rest(n)}'")
    def queries(i: Int): Seq[String] = {
      val names = rest.lift(i).map(_.split(',').toSeq.filter(_.nonEmpty))
        .filter(_.nonEmpty).getOrElse(bad(s"$mode: missing query list"))
      val known = SparkEntry.queries.keySet
      names.find(n => !known(n)).foreach(n => bad(s"unknown query '$n'"))
      names
    }
    def count(i: Int, default: => Int): Int = rest.lift(i) match {
      case None => default
      case Some(s) => s.toIntOption.filter(_ > 0)
        .getOrElse(bad(s"$mode: rep count '$s' is not a positive integer"))
    }
    def sfDir(i: Int, default: String): String = rest.lift(i)
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(default)
    val sf01 = "/root/testdata/sf0.1"
    mode match {
      case "split" => maxArgs(3); Split(queries(0), count(1, 3), sfDir(2, sf01))
      case "jobs" => maxArgs(2); Jobs(queries(0), sfDir(1, sf01))
      case "reps" =>
        maxArgs(3)
        Reps(count(0, bad("reps: missing rep count")), queries(1), sfDir(2, sf01))
      case "plan" if rest.size <= 1 =>
        Plan(None, rest.headOption.getOrElse("/root/testdata/sf0.001"))
      case "plan" =>
        maxArgs(4)
        Plan(Some((rest(0), rest(1), queries(2))), sfDir(3, sf01))
      case other => bad(s"unknown mode '$other'")
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One rep of `split`, in nanoseconds: the three phases are
    * consecutive intervals, so they sum to `totalNs` exactly. */
  final case class SplitRecord(query: String, rep: Int, constructNs: Long,
      planNs: Long, execNs: Long, totalNs: Long)

  def split(spark: SparkSession, name: String, reps: Int,
      sfDir: String): Seq[SplitRecord] = {
    val fn = SparkEntry.queries(name)
    (0 until reps).map { rep =>
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      noop(df)
      val t3 = System.nanoTime()
      SplitRecord(name, rep, t1 - t0, t2 - t1, t3 - t2, t3 - t0)
    }
  }

  /** One SQL execution of a counted query: its call site, wall time,
    * the jobs it launched and the query stages of its final plan. */
  final case class Execution(id: Long, callSite: String, ms: Long,
      jobs: Int, shuffleStages: Int, broadcastStages: Int, reused: Int)
  /** `jobs` counts every job of the query, also those launched outside
    * any SQL execution (plain RDD actions), which `executions` omits. */
  final case class JobCount(query: String, jobs: Int,
      executions: Seq[Execution])

  /** Run one registered query to the noop sink and count the jobs it
    * launches ([[countJobsOf]]). */
  def countJobs(spark: SparkSession, name: String, sfDir: String): JobCount = {
    val fn = SparkEntry.queries(name)
    countJobsOf(spark, name)(noop(fn(spark, sfDir)))
  }

  /** Run `body` and count the jobs it launches, under `label`. Counting
    * is scoped to a per-call job group, so other
    * work on a shared session is not counted: jobs and SQL executions
    * started from this thread carry the group id, and AQE's stage
    * materializations inherit it (Spark copies the submitting thread's
    * local properties into them). The listener bus is async, so the
    * counters are read once they are stable for three consecutive
    * 200 ms windows, which a fixed sleep undercounts on a loaded host. */
  def countJobsOf(spark: SparkSession, label: String)(body: => Unit)
      : JobCount = {
    val group = s"graft-jobcount-$label"
    val jobs = new AtomicInteger(0)
    val jobsByExec = new ConcurrentHashMap[Long, Integer]()
    val starts = new ConcurrentHashMap[Long, SparkListenerSQLExecutionStart]()
    val plans = new ConcurrentHashMap[Long, SparkPlanInfo]()
    val ends = new ConcurrentHashMap[Long, java.lang.Long]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties)
          .filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach { p =>
            jobs.incrementAndGet()
            Option(p.getProperty("spark.sql.execution.id"))
              .foreach(id => jobsByExec.merge(id.toLong, 1, (a, b) => a + b))
          }
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart if e.jobGroupId.contains(group) =>
          starts.put(e.executionId, e)
          plans.putIfAbsent(e.executionId, e.sparkPlanInfo)
        case e: SparkListenerSQLAdaptiveExecutionUpdate
            if starts.containsKey(e.executionId) =>
          plans.put(e.executionId, e.sparkPlanInfo)
        case e: SparkListenerSQLExecutionEnd if starts.containsKey(e.executionId) =>
          ends.put(e.executionId, e.time)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // no job description: executions then carry their call site
    spark.sparkContext.setJobGroup(group, null)
    try {
      body
      var stable = 0
      var last = (-1, -1)
      while (stable < 3) {
        Thread.sleep(200)
        val now = (jobs.get(), ends.size)
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      def nodes(p: SparkPlanInfo): Seq[String] =
        p.nodeName +: p.children.flatMap(nodes)
      val executions = starts.asScala.toSeq.sortBy(_._1).map { case (id, st) =>
        val names = nodes(plans.get(id))
        Execution(id, st.description,
          Option(ends.get(id)).map(_ - st.time).getOrElse(-1L),
          Option(jobsByExec.get(id)).map(_.intValue).getOrElse(0),
          names.count(_ == "ShuffleQueryStage"),
          names.count(_ == "BroadcastQueryStage"),
          names.count(n => n == "ReusedExchange" || n == "TableCacheQueryStage"))
      }
      JobCount(label, last._1, executions)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** One cold run, then `steadyS` (seconds) of the steady reps. */
  final case class RepsRecord(query: String, coldS: Double,
      steadyS: Seq[Double]) {
    def medianS: Double = steadyS.sorted.apply(steadyS.size / 2)
    def minS: Double = steadyS.min
  }

  def reps(spark: SparkSession, name: String, n: Int,
      sfDir: String): RepsRecord = {
    val fn = SparkEntry.queries(name)
    val times = (0 to n).map { _ =>
      val t0 = System.nanoTime()
      noop(fn(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }
    RepsRecord(name, times.head, times.tail)
  }

  def plan(spark: SparkSession, name: String, sfDir: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(FormattedMode)

  /** Locale-pinned: f"%.3f" would emit comma decimals (invalid JSON)
    * under a comma-decimal default locale. */
  private def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def run(spark: SparkSession, cmd: Command): Unit = cmd match {
    case Split(names, n, sfDir) =>
      for (name <- names; r <- split(spark, name, n, sfDir)) {
        def s(ns: Long) = f3(ns / 1e9)
        println(s"""{"query":"$name","rep":${r.rep},""" +
          s""""construct":${s(r.constructNs)},"plan":${s(r.planNs)},""" +
          s""""exec":${s(r.execNs)},"total":${s(r.totalNs)}}""")
      }
    case Jobs(names, sfDir) =>
      names.foreach { name =>
        val c = countJobs(spark, name, sfDir)
        println(s"""{"query":"$name","sf":"$sfDir","jobs":${c.jobs}}""")
        c.executions.foreach { e =>
          System.err.println(f"[jobs] exec=${e.id}%-4d ${e.callSite}%-40s " +
            f"ms=${e.ms}%-6d jobs=${e.jobs}%-3d shuffleStages=" +
            f"${e.shuffleStages}%-3d bcastStages=${e.broadcastStages}%-3d " +
            f"reused=${e.reused}%-3d")
        }
      }
    case Reps(n, names, sfDir) =>
      val records = names.map { name =>
        val r = reps(spark, name, n, sfDir)
        println(s"""{"query":"$name","cold":${f3(r.coldS)},""" +
          s""""steady":[${r.steadyS.map(f3).mkString(",")}],""" +
          s""""median":${f3(r.medianS)},"min":${f3(r.minS)}}""")
        r
      }
      println(s"""{"set_total_median":${f3(records.map(_.medianS).sum)},""" +
        s""""sf":"$sfDir","reps":$n}""")
    case Plan(None, sfDir) =>
      val sb = new StringBuilder
      sb.append("# PLANS — physical plans of every registered query\n\n")
      sb.append("Generated by `runMain graft.Profile plan` (explain format: formatted).\n")
      sb.append("Review checklist per query: filters/projections pushed into the\n")
      sb.append("parquet scan (PushedFilters/ReadSchema), dimension joins broadcast,\n")
      sb.append("aggregates partial (HashAggregate x2), WholeStageCodegen spans wide.\n\n")
      SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
        sb.append(s"## $name\n\n```\n").append(plan(spark, name, sfDir))
          .append("\n```\n\n")
      }
      Files.writeString(Paths.get("PLANS.md"), sb.toString)
      println("[plan] wrote PLANS.md")
    case Plan(Some((outDir, suffix, names)), sfDir) =>
      Files.createDirectories(Paths.get(outDir))
      names.foreach { name =>
        val out = Paths.get(outDir, s"${name}_$suffix.txt")
        Files.writeString(out, plan(spark, name, sfDir))
        println(s"[plan] wrote $out")
      }
  }

  def main(args: Array[String]): Unit = {
    LogProfiles.quietBench()
    val cmd = parse(args.toSeq)
    val spark = LocalSession.create(cmd.defaultCpus)
    try run(spark, cmd) finally spark.stop()
  }
}
