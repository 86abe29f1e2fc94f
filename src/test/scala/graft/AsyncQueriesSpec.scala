package graft

import graft.service.{QueryService, Statements}
import graft.service.Statements.Request

/** The statement runner: its async job plane, and the one cancel path
  * it shares with statements run on the caller's thread.
  */
class AsyncQueriesSpec extends SparkSpecBase {

  private lazy val service = new QueryService(spark)
  private val slowSql = "SELECT max(id) AS s FROM range(2000000000000)"

  private def awaitStatus(aq: Statements, id: String, want: String,
      timeoutMs: Long = 60000): String = {
    val deadline = System.currentTimeMillis + timeoutMs
    var st = aq.status(id)._1
    while (st != want && System.currentTimeMillis < deadline) {
      Thread.sleep(50)
      st = aq.status(id)._1
    }
    st
  }

  test("cancel before start: a queued job never runs and lands as failed") {
    val aq = new Statements(service, maxConcurrent = 1)
    try {
      val running = aq.submit(Request(slowSql))
      val queued = aq.submit(Request("SELECT 1 AS one")) // behind the slow job, not started
      // the queued job has no Spark jobs yet — cancel must still take
      aq.cancel(queued)
      aq.cancel(running)
      assert(awaitStatus(aq, queued, "failed") == "failed")
      val (_, _, err) = aq.status(queued)
      assert(err.exists(_.contains("cancelled")), err.toString)
      assert(awaitStatus(aq, running, "failed") == "failed")
    } finally aq.shutdown()
  }

  test("admission bound sheds; finished jobs free slots; results page") {
    val aq = new Statements(service, maxConcurrent = 1)
    try {
      // bound = maxConcurrent * 4 = 4 unfinished jobs
      val ids = (1 to 4).map(_ => aq.submit(Request(slowSql)))
      intercept[Statements.TooManyJobsException] { aq.submit(Request("SELECT 1 AS one")) }
      ids.foreach(aq.cancel)
      ids.foreach(id => assert(awaitStatus(aq, id, "failed") == "failed"))
      // slots freed: a small query now runs to done and pages correctly
      val ok = aq.submit(Request("SELECT id FROM range(10) ORDER BY id"))
      assert(awaitStatus(aq, ok, "done") == "done")
      assert(aq.result(ok, offset = 8, limit = 5).get.size == 2)
      intercept[IllegalArgumentException] { aq.result(ok, offset = -1) }
    } finally aq.shutdown()
  }

  test("onComplete fires exactly once per job — on done, failed, and cancelled") {
    val aq = new Statements(service, maxConcurrent = 1)
    try {
      val fired = new java.util.concurrent.atomic.AtomicInteger(0)
      val done = aq.submit(Request("SELECT 1 AS one"), onComplete = () => { fired.incrementAndGet(); () })
      assert(awaitStatus(aq, done, "done") == "done")
      // the hook may run a hair after the state flips; wait for it
      val deadline = System.currentTimeMillis + 10000
      while (fired.get < 1 && System.currentTimeMillis < deadline) Thread.sleep(20)
      assert(fired.get == 1, s"done job must fire onComplete once, got ${fired.get}")
      val bad = aq.submit(Request("SELECT FROM definitely_not_a_table !!!"),
        onComplete = () => { fired.incrementAndGet(); () })
      assert(awaitStatus(aq, bad, "failed") == "failed")
      val d2 = System.currentTimeMillis + 10000
      while (fired.get < 2 && System.currentTimeMillis < d2) Thread.sleep(20)
      assert(fired.get == 2, s"failed job must fire onComplete once, got ${fired.get}")
      val slow = aq.submit(Request(slowSql), onComplete = () => { fired.incrementAndGet(); () })
      aq.cancel(slow)
      assert(awaitStatus(aq, slow, "failed") == "failed")
      val d3 = System.currentTimeMillis + 10000
      while (fired.get < 3 && System.currentTimeMillis < d3) Thread.sleep(20)
      assert(fired.get == 3, s"cancelled job must fire onComplete once, got ${fired.get}")
    } finally aq.shutdown()
  }

  test("a cancel landing after a caller-thread statement registers, before its first job, kills that job") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val runner = new Statements(service)
    val ex = Executors.newSingleThreadExecutor()
    try {
      val registered = new CountDownLatch(1)
      val cancelled = new CountDownLatch(1)
      val f = ex.submit[scala.util.Try[Seq[String]]](() => scala.util.Try(
        runner.run(tag = Some("pre-job"), timeoutMs = 0) {
          registered.countDown()
          cancelled.await()
          service.sqlJson(slowSql)
        }))
      assert(registered.await(30, TimeUnit.SECONDS))
      // no Spark job exists yet: only the flag and the reaper can act
      runner.cancelTag("pre-job")
      cancelled.countDown()
      val r = f.get(60, TimeUnit.SECONDS)
      assert(r.isFailure && r.failed.get.toString.toLowerCase.contains("cancel"), r.toString)
      val sc = spark.sparkContext
      val jobs = sc.statusTracker.getJobIdsForGroup("graft-http-pre-job")
      assert(jobs.nonEmpty, "the statement's job never registered")
      val deadline = System.currentTimeMillis + 30000
      def running = jobs.exists(id => sc.statusTracker.getJobInfo(id)
        .exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING))
      while (running && System.currentTimeMillis < deadline) Thread.sleep(50)
      assert(!running, "the reaped job is still running")
    } finally { ex.shutdownNow(); runner.shutdown() }
  }
}
