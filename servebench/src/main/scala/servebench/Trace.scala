package servebench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A span of the traced run: `rid` is the request it belongs to (all
  * spans of one request share it), `parent` the enclosing span's name.
  * Times are epoch nanoseconds; Spark's own events have millisecond
  * resolution. */
final case class Span(rid: String, name: String, parent: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span store plus the Spark listener that feeds it. A request
  * is tied to its Spark work by a job tag (`servebench-req-<rid>`) set on
  * the serving thread: Spark copies it into the jobs and SQL executions
  * started by that thread and by the query thread it spawns. */
final class Trace extends SparkListener {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + offsetNs

  val spans = new ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = spans.add(s)

  import Trace._

  val jobs = TrieMap.empty[Int, Job]
  val stageJob = TrieMap.empty[Int, Int]
  val stageSpans = TrieMap.empty[Int, (Long, Long)]
  val tasks = TrieMap.empty[Int, Tasks]
  val execs = TrieMap.empty[Long, Exec]

  private def ridOf(tags: Iterable[String]): String =
    tags.collectFirst { case t if t.startsWith(Trace.TagPrefix) => t.stripPrefix(Trace.TagPrefix) }
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).getOrElse(-1L)
    jobs(e.jobId) = Job(ridOf(tags), exec, e.time, e.stageIds)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageSpans(i.stageId) = (s, c)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tasks.getOrElseUpdate(e.stageId, new Tasks)
    val m = e.taskMetrics
    t.n += 1
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.outBytes += m.outputMetrics.bytesWritten
      val info = e.taskInfo
      t.schedMs += math.max(0L, info.finishTime - info.launchTime - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      execs(s.executionId) = Exec(s.executionId, ridOf(s.jobTags), s.time)
    case e: SparkListenerSQLExecutionEnd =>
      execs.get(e.executionId).foreach { x =>
        x.endMs = e.time
        val phases = org.apache.spark.sql.servebench.SparkAccess.phases(e)
        x.analyzeMs = phases.getOrElse("analysis", 0L)
        x.optimizeMs = phases.getOrElse("optimization", 0L)
        x.planMs = phases.getOrElse("planning", 0L)
      }
    case _ =>
  }

  /** Spark work of each request, once the bus has drained. */
  def workByRequest(): Map[String, Work] = {
    val j = jobs.values.filter(_.rid.nonEmpty).groupBy(_.rid)
    val x = execs.values.filter(_.rid.nonEmpty).groupBy(_.rid)
    (j.keySet ++ x.keySet).map { rid =>
      val js = j.getOrElse(rid, Nil).toSeq
      rid -> Work(x.getOrElse(rid, Nil).toSeq, js, js.flatMap(_.stages).flatMap(tasks.get))
    }.toMap
  }

  /** Write every span and Spark record as JSON lines. */
  def dump(path: java.nio.file.Path): Unit = {
    val out = new java.io.PrintWriter(java.nio.file.Files.newBufferedWriter(path))
    try {
      spans.asScala.foreach(s => out.println(
        s"""{"rid":"${s.rid}","name":"${s.name}","parent":"${s.parent}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""))
      jobs.foreach { case (id, jb) =>
        out.println(s"""{"rid":"${jb.rid}","name":"spark.job","parent":"spark.query","job":$id,""" +
          s""""start_ns":${jb.startMs * 1000000L},"end_ns":${jb.endMs * 1000000L}}""")
      }
      stageSpans.foreach { case (id, (s, e)) =>
        val rid = stageJob.get(id).flatMap(jobs.get).map(_.rid).getOrElse("")
        out.println(s"""{"rid":"$rid","name":"spark.stage","parent":"spark.job","stage":$id,""" +
          s""""start_ns":${s * 1000000L},"end_ns":${e * 1000000L}}""")
      }
      execs.foreach { case (id, x) =>
        out.println(s"""{"rid":"${x.rid}","name":"spark.query","parent":"mcp.handle","execution":$id,""" +
          s""""start_ns":${x.startMs * 1000000L},"end_ns":${x.endMs * 1000000L}}""")
      }
    } finally out.close()
  }
}

object Trace {
  val TagPrefix = "servebench-req-"

  final case class Job(rid: String, execId: Long, startMs: Long, stages: Seq[Int], var endMs: Long = -1)
  final case class Exec(id: Long, rid: String, startMs: Long, var endMs: Long = -1,
      var analyzeMs: Long = 0, var optimizeMs: Long = 0, var planMs: Long = 0)
  final class Tasks {
    var n = 0L; var runMs = 0L; var cpuNs = 0L; var schedMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var outBytes = 0L
  }
  final case class Work(execs: Seq[Exec], jobs: Seq[Job], tasks: Seq[Tasks])

  /** Total length of the union of [start, end) intervals. */
  def unionMs(intervals: Seq[(Long, Long)]): Double = {
    val sorted = intervals.filter(i => i._2 > i._1).sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
