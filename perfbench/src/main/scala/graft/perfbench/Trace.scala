package graft.perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run.
  *
  * A span is (id, parent, name, op id, start, end) around one layer call.
  * The benchmark drives the engine from one client thread, so the innermost
  * open span is a single variable, also set as a job-local property so the
  * listener attributes each job (and its tasks) to the span that submitted
  * it. Nothing is written
  * until the run ends: spans and task records stay in memory, then
  * [[Trace.data]] hands them to the result file.
  */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, op: Long,
      startMs: Double, endMs: Double)
  final case class Job(id: Int, span: Int, startMs: Long, endMs: Long,
      callSite: String, nStages: Int)
  final case class Task(span: Int, stage: Int, launchMs: Long, finishMs: Long,
      runMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      failed: Boolean)

  @volatile var enabled = false
  @volatile private var current = 0
  private var sc: org.apache.spark.SparkContext = null
  private val SpanKey = "perfbench.span"
  private var nextId = 1
  private val spans = ArrayBuffer.empty[Span]
  private val jobs = ArrayBuffer.empty[Job]
  private val tasks = ArrayBuffer.empty[Task]
  private val jobSpan = scala.collection.mutable.HashMap.empty[Int, (Int, Long, String, Int)]
  private val stageSpan = scala.collection.mutable.HashMap.empty[Int, Int]

  // epoch-ms clock with nanosecond resolution: spans and Spark's task
  // timestamps (epoch ms) share one time axis
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Switch tracing on or off between timed units. Off, neither spans nor
    * the listener cost anything, so untraced units time the bare engine. */
  def set(spark: org.apache.spark.sql.SparkSession, on: Boolean): Unit =
    if (on != enabled) {
      sc = spark.sparkContext
      if (on) sc.addSparkListener(Listener)
      else {
        org.apache.spark.BenchAccess.drainListeners(sc)
        sc.removeSparkListener(Listener)
      }
      enabled = on
    }

  def span[A](name: String, op: Long = -1)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = current
      val t0 = nowMs
      current = id
      sc.setLocalProperty(SpanKey, id.toString)
      try f
      finally {
        val t1 = nowMs
        current = parent
        sc.setLocalProperty(SpanKey, parent.toString)
        spans.synchronized { spans += Span(id, parent, name, op, t0, t1) }
      }
    }

  /** Records jobs and tasks, each tagged with the span open at job start. */
  object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // the result stage (highest id) is named after the job's call site,
      // e.g. "parquet at Tables.scala:33" for a schema-inference job
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      // the submitting thread's span travels with the job's properties
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(current)
      jobSpan(e.jobId) = (sp, e.time, site, e.stageInfos.size)
      e.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = sp)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (sp, t0, site, n) =>
        jobs += Job(e.jobId, sp, t0, e.time, site, n)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      tasks += Task(stageSpan.getOrElse(e.stageId, 0), e.stageId,
        i.launchTime, i.finishTime,
        m.map(_.executorRunTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(x => x.shuffleReadMetrics.remoteBytesRead +
          x.shuffleReadMetrics.localBytesRead).getOrElse(0L),
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
        i.failed)
    }
  }

  /** Spans, jobs and tasks as compact arrays for the result file. */
  def data: Map[String, Seq[Seq[Any]]] = Listener.synchronized {
    Map(
      "spans" -> spans.map(s => Seq(s.id, s.parent, s.name, s.op, s.startMs, s.endMs)).toSeq,
      "jobs" -> jobs.map(j => Seq(j.id, j.span, j.startMs, j.endMs, j.callSite, j.nStages)).toSeq,
      "tasks" -> tasks.map(t => Seq(t.span, t.stage, t.launchMs, t.finishMs, t.runMs,
        t.shuffleWrite, t.shuffleRead, t.spill, if (t.failed) 1 else 0)).toSeq)
  }
}
