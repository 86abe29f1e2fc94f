package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records every Spark job, completed stage and query execution through
  * Spark's public listener APIs, so a run can be split across layers
  * without changing graft. Jobs keep their job group (the HTTP service
  * puts a `/sql` request's jobs in `graft-http-<tag>`) and SQL
  * execution id; stages keep their task metrics; executions keep their
  * Catalyst phase times. `json` renders everything for the caller to
  * attribute.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Harness.str
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val execs = new ConcurrentLinkedQueue[Exec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, Job(e.jobId, prop("spark.jobGroup.id"),
      prop("spark.sql.execution.id"), e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    stages.add(Stage(i.stageId, stageJob.getOrDefault(i.stageId, -1), i.numTasks,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.executorCpuTime / 1000000L).getOrElse(0L),
      m.map(_.jvmGCTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    execs.add(Exec(qe.id, ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def json: String = {
    val js = jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
      s"""{"id":${j.id},"group":${str(j.group)},"exec":${str(j.exec)},""" +
        s""""start":${j.start},"end":${j.end},"stages":${j.stages.mkString("[", ",", "]")}}""")
    val ss = stages.asScala.toSeq.map(s =>
      s"""{"id":${s.id},"job":${s.job},"tasks":${s.tasks},"run_ms":${s.runMs},""" +
        s""""cpu_ms":${s.cpuMs},"gc_ms":${s.gcMs},"shuffle_write":${s.shuffleWrite},""" +
        s""""shuffle_read":${s.shuffleRead},"spill":${s.spill}}""")
    val es = execs.asScala.toSeq.map(x =>
      s"""{"id":${x.id},"analysis":${x.analysis},"optimization":${x.optimization},""" +
        s""""planning":${x.planning}}""")
    s"""{"jobs":${js.mkString("[", ",", "]")},"stages":${ss.mkString("[", ",", "]")},""" +
      s""""execs":${es.mkString("[", ",", "]")}}"""
  }
}

object Tracer {
  private final case class Job(id: Int, group: String, exec: String,
      start: Long, stages: Seq[Int]) { @volatile var end: Long = -1L }
  private final case class Stage(id: Int, job: Int, tasks: Int, runMs: Long,
      cpuMs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long)
  private final case class Exec(id: Long, analysis: Long, optimization: Long,
      planning: Long)
}
