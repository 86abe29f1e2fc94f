package graft.tools

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

/** The profiling tools' one stage listener: per labelled phase, the
  * wall time, the jobs, a record per completed stage and the Janino
  * compiles (generated classes that missed Spark's code cache).
  *
  * A phase owns the jobs whose job description is its label — the
  * description is a thread-local Spark property, so jobs that other
  * threads run meanwhile are not counted — and the stages of those
  * jobs. The listener bus is drained before `phase` returns, so its
  * record is complete: no sleep guesses how long the events take.
  * Compiles are counted JVM-wide (Spark keeps one counter), so a phase
  * also counts what other threads compile meanwhile.
  */
final class StageMeter private (spark: SparkSession) extends SparkListener {
  import StageMeter._

  @volatile private var label: String = null
  private var jobs = 0
  private val stageIds = mutable.Set.empty[Int]
  private val stages = mutable.ArrayBuffer.empty[Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (label != null && Option(e.properties).exists(_.getProperty(JobDescription) == label))
      synchronized { jobs += 1; stageIds ++= e.stageIds }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (stageIds(i.stageId))
      stages += Stage(i.stageId, i.name, i.numTasks, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Run `f` as the phase `label` (its job description). Phases run
    * one at a time per meter.
    */
  def phase(label: String)(f: => Any): Phase = {
    val sc = spark.sparkContext
    val previous = sc.getLocalProperty(JobDescription)
    synchronized { jobs = 0; stageIds.clear(); stages.clear() }
    this.label = label
    sc.setJobDescription(label)
    val c0 = compileCount
    val t0 = System.nanoTime()
    try f finally sc.setJobDescription(previous)
    val wall = (System.nanoTime() - t0) / 1e9
    val compiles = compileCount - c0
    GraftSqlBridge.drainListenerBus(spark)
    this.label = null
    synchronized { Phase(label, wall, jobs, stages.toSeq, compiles) }
  }

  /** One warm-up phase, then `reps` timed phases; [[Best.min]] is the
    * fastest timed one (the warm-up never counts).
    */
  def best(label: String, reps: Int)(f: => Any): Best = {
    require(reps >= 1, s"best needs at least one timed rep, got $reps")
    val warm = phase(s"$label (warm)")(f)
    Best(warm, (1 to reps).map(i => phase(s"$label (rep $i)")(f)))
  }
}

object StageMeter {
  /** The local property `SparkContext.setJobDescription` sets. */
  private val JobDescription = "spark.job.description"

  /** Janino compiles so far in this JVM: one timing sample per compile. */
  def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `runMs` is summed executorRunTime; `spill` is memory + disk. */
  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)

  /** `compiles` is [[compileCount]]'s rise over the phase. */
  final case class Phase(label: String, wall: Double, jobs: Int, stages: Seq[Stage],
      compiles: Long) {
    def tasks: Int = stages.map(_.tasks).sum
    def runMs: Long = stages.map(_.runMs).sum
    def shuffleRead: Long = stages.map(_.shuffleRead).sum
    def shuffleWrite: Long = stages.map(_.shuffleWrite).sum
    def spill: Long = stages.map(_.spill).sum
  }

  final case class Best(warm: Phase, reps: Seq[Phase]) {
    def min: Phase = reps.minBy(_.wall)
  }

  /** A meter listening on `spark`'s context. */
  def apply(spark: SparkSession): StageMeter = {
    val m = new StageMeter(spark)
    spark.sparkContext.addSparkListener(m)
    m
  }
}
