package graft.pipebench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.json4s._

/** Raw trace of the jobs, stages and SQL executions that run while it is
  * enabled. Nothing is attributed here: each job keeps its execution id
  * and the `graft.` frames of its result-stage call site, each execution
  * the `graft.` frames of its start-event call site and the node counts
  * of its latest (adaptive) plan. `layers.py` applies the attribution
  * rule to the dump.
  */
final class Recorder extends SparkListener {
  @volatile var enabled = false
  /** Jobs started since registration, counted whether or not enabled. */
  val jobsStarted = new java.util.concurrent.atomic.AtomicLong

  override def onJobStart(ev: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    if (enabled) record(ev)
  }

  final class Job(val id: Int, val start: Long, val execId: Long,
      val frames: Seq[String]) {
    var end = -1L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var outputBytes = 0L
  }
  final class Exec(val id: Long, val frames: Seq[String]) {
    var exchanges = 0
    var sortMergeJoins = 0
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val stageOwner = mutable.HashMap.empty[Int, Job]

  private def graftFrames(callSite: String): Seq[String] =
    Option(callSite).toSeq.flatMap(_.split("\n")).map(_.trim)
      .filter(_.startsWith("graft."))

  private def countNodes(p: SparkPlanInfo, name: String): Int =
    (if (p.nodeName == name) 1 else 0) + p.children.map(countNodes(_, name)).sum

  private def setPlan(e: Exec, plan: SparkPlanInfo): Unit = {
    e.exchanges = countNodes(plan, "Exchange")
    e.sortMergeJoins = countNodes(plan, "SortMergeJoin")
  }

  private def record(ev: SparkListenerJobStart): Unit = synchronized {
    val execId = Option(ev.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val resultStage = ev.stageInfos.maxByOption(_.stageId)
    val job = new Job(ev.jobId, ev.time, execId,
      resultStage.map(s => graftFrames(s.details)).getOrElse(Nil))
    jobs(ev.jobId) = job
    ev.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = job)
  }

  override def onJobEnd(ev: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(ev.jobId).foreach(_.end = ev.time)
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = synchronized {
    val si = ev.stageInfo
    stageOwner.get(si.stageId).foreach { j =>
      val m = si.taskMetrics
      j.tasks += si.numTasks
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
    case e: SparkListenerSQLExecutionStart if enabled => synchronized {
      val x = new Exec(e.executionId, graftFrames(e.details))
      setPlan(x, e.sparkPlanInfo)
      execs(e.executionId) = x
    }
    case e: SparkListenerSQLAdaptiveExecutionUpdate => synchronized {
      execs.get(e.executionId).foreach(setPlan(_, e.sparkPlanInfo))
    }
    case _ => ()
  }

  def toJson: JValue = synchronized {
    def frames(fs: Seq[String]) = JArray(fs.map(JString(_)).toList)
    JObject(
      "jobs" -> JArray(jobs.values.toList.map(j => JObject(
        "id" -> JLong(j.id), "start_ms" -> JLong(j.start),
        "end_ms" -> JLong(j.end), "exec_id" -> JLong(j.execId),
        "frames" -> frames(j.frames), "tasks" -> JLong(j.tasks),
        "cpu_ns" -> JLong(j.cpuNs), "gc_ms" -> JLong(j.gcMs),
        "input_bytes" -> JLong(j.inputBytes),
        "shuffle_write_bytes" -> JLong(j.shuffleWriteBytes),
        "spill_bytes" -> JLong(j.spillBytes),
        "output_bytes" -> JLong(j.outputBytes)))),
      "execs" -> JArray(execs.values.toList.map(x => JObject(
        "id" -> JLong(x.id), "frames" -> frames(x.frames),
        "exchanges" -> JLong(x.exchanges),
        "sort_merge_joins" -> JLong(x.sortMergeJoins)))))
  }
}

object Recorder {

  /** Structured Streaming pins every job of a query to the call site of
    * its `start()` (the `callSite.short`/`callSite.long` local properties
    * of the stream thread), so each job run inside `foreachBatch` would
    * carry `Pipeline.crawl`'s call site whatever module ran it. Installed
    * as an analysis check in traced runs, which Spark invokes on the
    * thread that builds each Dataset, this drops the pin on a stream
    * thread, so Spark records each job's and execution's real call site.
    */
  def unpinStreamCallSite(sc: SparkContext): Unit =
    if (sc.getLocalProperty("sql.streaming.queryId") != null &&
        sc.getLocalProperty("callSite.long") != null) {
      sc.setLocalProperty("callSite.short", null)
      sc.setLocalProperty("callSite.long", null)
    }
}
