package wikibench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.wikibench.Bus

/** Work Spark reports for one span. */
final class Counters {
  var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var runMs = 0L
  var shuffleBytes = 0L; var inputBytes = 0L; var inputRecords = 0L
  var outputBytes = 0L; var planNs = 0L; var queries = 0L; var filesRead = 0L

  def fields: Seq[(String, Double)] = Seq[(String, Double)](
    "jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble, "cpu_ms" -> cpuNs / 1e6,
    "run_ms" -> runMs.toDouble, "shuffle_bytes" -> shuffleBytes.toDouble,
    "input_bytes" -> inputBytes.toDouble, "input_records" -> inputRecords.toDouble,
    "output_bytes" -> outputBytes.toDouble, "plan_ms" -> planNs / 1e6,
    "queries" -> queries.toDouble, "files_read" -> filesRead.toDouble)
}

/** One traced interval. A call span is opened by the benchmark around a
  * public verb; each Spark job the call runs becomes a child span named
  * by the call site Spark records for the job's query (or, for a job
  * outside any query, for its last stage).
  */
final class Span(val id: Int, val name: String, val parent: Int,
                 val startMs: Long) {
  var endMs: Long = startMs
  var wallNs: Long = 0L
  val counters = new Counters
  def durationMs: Double = if (wallNs > 0) wallNs / 1e6 else (endMs - startMs).toDouble
}

/** The outside tracer: a SparkListener plus a QueryExecutionListener,
  * installed only for the traced run. The benchmark has one client
  * thread, so at most one call span is open; the listener bus is drained
  * when a span opens and when it closes, so every event a call posted is
  * attributed to that call. Each job also carries the span id as a local
  * property; a job whose property names another span (a pooled engine
  * thread that inherited a stale property) still counts toward the open
  * span and is tallied in `mistagged`.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobSpans = mutable.HashMap.empty[Int, Span]
  private val stageSpans = mutable.HashMap.empty[Int, (Span, Span)]
  private val querySites = mutable.HashMap.empty[String, String]
  private var current: Span = _
  private var nextId = 0
  @volatile var mistagged = 0L

  private val PropertyKey = "wikibench.span"

  def install(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    Bus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def open(name: String): Span = {
    Bus.drain(sc)
    val s = synchronized {
      val s = new Span(nextId, name, -1, System.currentTimeMillis())
      nextId += 1; spans += s; current = s; s
    }
    sc.setLocalProperty(PropertyKey, s.id.toString)
    s
  }

  def close(s: Span, wallNs: Long): Unit = {
    val end = System.currentTimeMillis()
    Bus.drain(sc)
    sc.setLocalProperty(PropertyKey, null)
    synchronized { s.endMs = end; s.wallNs = wallNs; current = null }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case q: SparkListenerSQLExecutionStart =>
      synchronized { querySites(q.executionId.toString) = q.description }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (current != null) {
      val props = Option(e.properties)
      if (!props.map(_.getProperty(PropertyKey)).contains(current.id.toString)) mistagged += 1
      val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(querySites.get)
        .getOrElse(if (e.stageInfos.isEmpty) "job" else e.stageInfos.maxBy(_.stageId).name)
      val child = new Span(nextId, site, current.id, e.time)
      nextId += 1; spans += child
      jobSpans(e.jobId) = child
      e.stageIds.foreach(id => stageSpans(id) = (current, child))
      current.counters.jobs += 1
      child.counters.jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpans.get(e.stageId).foreach { case (top, child) =>
      val m = e.taskMetrics
      Seq(top.counters, child.counters).foreach { c =>
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.runMs += m.executorRunTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
    val files = collect(qe.executedPlan) { case p if p.metrics.contains("numFiles") =>
      p.metrics("numFiles").value }.sum
    synchronized {
      if (current != null) {
        current.counters.planNs += plan * 1000000L
        current.counters.queries += 1
        current.counters.filesRead += files
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Call spans (the roots) with the given name, in order. */
  def calls(name: String): Seq[Span] = synchronized {
    spans.filter(s => s.parent < 0 && s.name == name).toSeq
  }

  /** Span duration minus the part of it that its child spans cover. */
  def selfMs(s: Span): Double = synchronized {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var upTo = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, upTo)
      if (b > from) covered += b - from
      upTo = math.max(upTo, b)
    }
    math.max(0.0, (s.endMs - s.startMs - covered).toDouble)
  }

  /** Writes every span, one JSON object a line. */
  def write(path: java.nio.file.Path): Unit = synchronized {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val fields = Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "start_ms" -> s.startMs.toString,
        "end_ms" -> s.endMs.toString, "self_ms" -> Json.num(selfMs(s))) ++
        s.counters.fields.map { case (k, v) => k -> Json.num(v) }
      fields.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
