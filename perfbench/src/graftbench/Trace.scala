package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The traced run's record: every Spark job, stage and task as a
  * listener sees them, plus the spans the benchmark opens around its
  * calls into the engine. Kept in memory; `writeSpans` writes them out
  * once the run ends. All times are epoch milliseconds. */
final class Trace extends SparkListener {
  import Trace._

  private val jobList = mutable.ArrayBuffer.empty[Job]
  private val openJobs = mutable.Map.empty[Int, Job]
  private val stageList = mutable.ArrayBuffer.empty[Long]
  private val taskList = mutable.ArrayBuffer.empty[Task]
  private val spanList = mutable.ArrayBuffer.empty[Span]

  /** Module of each SQL execution's action. Jobs the execution submits
    * from helper threads (AQE stages, broadcasts) have no engine frame
    * in their own call site and are charged to the action's module. */
  private val executionModule = mutable.Map.empty[Long, Option[String]]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executionModule(s.executionId) = Stats.module(s.details); ()
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage is created last, so it carries this job's call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))).map(_.toLong)
    val module = Stats.module(site)
      .orElse(execution.flatMap(executionModule.get).flatten)
    val j = Job(e.jobId, e.time, e.time, module)
    openJobs(e.jobId) = j
    jobList += j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageList += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      taskList += Task(e.taskInfo.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def span(s: Span): Unit = synchronized { spanList += s; () }

  def jobs: Seq[Job] = synchronized(jobList.toList)

  /** Engine totals over the jobs that start, and the stages and tasks
    * that finish, inside [from, to]. */
  def layers(from: Long, to: Long): SparkLayers = synchronized {
    val js = jobList.filter(j => j.start >= from && j.start <= to).toList
    val ts = taskList.filter(t => t.finish >= from && t.finish <= to)
    SparkLayers(
      jobs = js.size,
      stages = stageList.count(t => t >= from && t <= to),
      tasks = ts.size,
      jobWallMs = Stats.unionLength(js.map(j => (j.start, j.end))),
      taskRunMs = ts.map(_.runMs).sum,
      taskCpuNs = ts.map(_.cpuNs).sum,
      gcMs = ts.map(_.gcMs).sum,
      inputBytes = ts.map(_.inBytes).sum,
      recordsRead = ts.map(_.inRecords).sum,
      shuffleWrite = ts.map(_.shuffleWrite).sum,
      shuffleRead = ts.map(_.shuffleRead).sum,
      spill = ts.map(_.spill).sum)
  }

  /** Writes at most `cap` spans as JSON lines, followed by one line
    * counting the spans left out, so the file stays bounded whatever
    * the query or batch count. `owner` gives each job the id of the
    * query run or micro-batch it ran in, and its parent span. */
  def writeSpans(path: java.nio.file.Path, cap: Int,
      owner: Job => (String, String)): Unit = synchronized {
    val jobSpans = jobList.map { j =>
      val (id, parent) = owner(j)
      Span(id, s"job:${j.module.getOrElse("-")}", j.start, j.end, parent)
    }
    val all = spanList ++ jobSpans
    val lines = all.take(cap).map(_.json) :+
      s"""{"spans":${all.size},"written":${math.min(cap, all.size)}}"""
    java.nio.file.Files.write(path,
      (lines.mkString("\n") + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }
}

object Trace {
  final case class Job(id: Int, start: Long, var end: Long, module: Option[String])
  final case class Task(finish: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      inBytes: Long, inRecords: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long)

  /** One timed interval; `id` is shared by the spans of one query run
    * or micro-batch, `parent` names the enclosing span as `id/name`. */
  final case class Span(id: String, name: String, start: Long, end: Long,
      parent: String) {
    def json: String =
      s"""{"id":"$id","name":"$name","start":$start,"end":$end,"parent":"$parent"}"""
  }

  final case class SparkLayers(jobs: Int, stages: Int, tasks: Int,
      jobWallMs: Long, taskRunMs: Long, taskCpuNs: Long, gcMs: Long,
      inputBytes: Long, recordsRead: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long)
}
