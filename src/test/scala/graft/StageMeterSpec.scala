package graft

import java.util.concurrent.Executors

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.scalatest.BeforeAndAfterAll

import graft.tools.StageMeter

/** The tools' one stage listener: a phase reads exactly the jobs,
  * stages, tasks and Janino compiles its body ran, complete by the
  * time `phase` returns (the listener bus is drained, not slept on).
  */
class StageMeterSpec extends SparkSpecBase with BeforeAndAfterAll {
  private lazy val meter = StageMeter(spark)
  private def sc = spark.sparkContext

  override def afterAll(): Unit = {
    sc.removeSparkListener(meter)
    super.afterAll()
  }

  test("a 3-partition count reads 1 job, 1 stage, 3 tasks") {
    val p = meter.phase("count")(sc.parallelize(1 to 100, 3).count())
    assert(p.label == "count")
    assert(p.jobs == 1)
    assert(p.stages.size == 1)
    assert(p.tasks == 3)
    assert(p.shuffleWrite == 0 && p.shuffleRead == 0)
  }

  test("a repartition(2) action reads 2 stages; shuffle write == read > 0") {
    val p = meter.phase("repartition")(
      sc.parallelize(1 to 1000, 4).repartition(2).count())
    assert(p.jobs == 1)
    assert(p.stages.size == 2)
    assert(p.tasks == 4 + 2)
    assert(p.shuffleWrite > 0)
    assert(p.shuffleWrite == p.shuffleRead)
  }

  test("20 back-to-back phases each read exactly their own job, behind a slow listener") {
    // a slow listener holds up the bus the meter shares, so the events
    // of a phase arrive well after its action returns; only a drain
    // (not a fixed sleep) makes every phase's record complete
    val slow = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Thread.sleep(25)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Thread.sleep(25)
    }
    sc.addSparkListener(slow)
    val ps =
      try (1 to 20).map(i => meter.phase(s"b2b $i")(sc.parallelize(1 to 10, 2).count()))
      finally sc.removeSparkListener(slow)
    ps.foreach { p =>
      assert(p.jobs == 1, p.label)
      assert(p.stages.size == 1, p.label)
      assert(p.tasks == 2, p.label)
    }
  }

  test("jobs another thread runs during a phase are not the phase's") {
    val other = Executors.newSingleThreadExecutor()
    try {
      // the pool thread exists (and has no job description) before
      // the phase starts
      other.submit(new Runnable { def run(): Unit = () }).get()
      val p = meter.phase("own") {
        other.submit(new Runnable {
          def run(): Unit = sc.parallelize(1 to 10, 5).count()
        }).get()
        sc.parallelize(1 to 10, 2).count()
      }
      assert(p.jobs == 1)
      assert(p.tasks == 2)
    } finally other.shutdown()
  }

  test("a phase counts the Janino compiles its body runs; a code-cache hit counts none") {
    // a constant never seen before in a projection is new generated
    // source; the same statement again is served from Spark's code cache
    val c = System.nanoTime()
    def stmt() = spark.range(5).selectExpr(s"id + $c AS x").collect()
    val cold = meter.phase("cold")(stmt())
    val warm = meter.phase("warm")(stmt())
    assert(cold.compiles >= 1, s"cold phase counted ${cold.compiles} compiles")
    assert(warm.compiles == 0, s"warm phase counted ${warm.compiles} compiles")
    assert(cold.jobs == 1 && warm.jobs == 1)
  }

  test("best: one warm-up, then the minimum of the timed reps") {
    val b = meter.best("best", reps = 3)(sc.parallelize(1 to 10, 2).count())
    assert(b.warm.label == "best (warm)")
    assert(b.reps.map(_.label) == (1 to 3).map(i => s"best (rep $i)"))
    assert(b.min.wall == b.reps.map(_.wall).min)
    assert((b.warm +: b.reps).forall(_.jobs == 1))
  }
}
